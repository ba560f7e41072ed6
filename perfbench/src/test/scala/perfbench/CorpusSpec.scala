package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import graft.GraftSession.rmTree
import graft.pipeline.DefParser
import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  private val shape = Main.wide

  private def tree(dir: File): Map[String, Seq[Byte]] = {
    val root = dir.toPath
    Files.walk(root).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  private def withDirs(n: Int)(body: Seq[File] => Unit): Unit = {
    val dirs = Seq.fill(n)(Files.createTempDirectory("perfbench-corpus").toFile)
    try body(dirs) finally dirs.foreach(rmTree)
  }

  test("the same seed writes byte-identical files") {
    withDirs(2) { case Seq(a, b) =>
      Corpus.write(a, shape, 7L)
      Corpus.write(b, shape, 7L)
      val (ta, tb) = (tree(a), tree(b))
      assert(ta.keySet == tb.keySet)
      ta.keys.foreach(k => assert(ta(k) == tb(k), s"$k differs"))
    }
  }

  test("another seed writes another corpus") {
    withDirs(2) { case Seq(a, b) =>
      Corpus.write(a, shape, 7L)
      Corpus.write(b, shape, 8L)
      assert(tree(a)("input.txt") != tree(b)("input.txt"))
    }
  }

  /** Probe → sample → value, read back from the expression files. */
  private def values(dir: File, exp: Corpus.Expected): Map[String, Map[String, Double]] = {
    val config = DefParser.parseFile(exp.defFile.getPath)
    val cells = for {
      s <- config.samples
      path <- s.files.values
      line <- Files.readAllLines(new File(dir, path).toPath).toArray(Array.empty[String]).drop(1)
    } yield { val f = line.split("\t"); (f(0), s.name, f(1).toDouble) }
    cells.groupBy(_._1).map { case (p, cs) => p -> cs.map(c => c._2 -> c._3).toMap }
  }

  /** Pearson r over the samples both probes have. */
  private def pearson(a: Map[String, Double], b: Map[String, Double]): Double = {
    val common = a.keySet.intersect(b.keySet).toSeq
    val (x, y) = (common.map(a), common.map(b))
    val (mx, my) = (x.sum / x.size, y.sum / y.size)
    val sxy = x.zip(y).map { case (u, v) => (u - mx) * (v - my) }.sum
    sxy / math.sqrt(x.map(u => (u - mx) * (u - mx)).sum * y.map(v => (v - my) * (v - my)).sum)
  }

  test("probes correlate above the threshold within a block and below it across blocks") {
    for (seed <- 1L to 3L) withDirs(1) { case Seq(dir) =>
      val exp = Corpus.write(dir, shape, seed)
      val v = values(dir, exp)
      assert(v.size == exp.nProbes)
      // probes of one type in name order; block = position / blockSize
      val blocks = shape.types.flatMap { t =>
        (0 until t.probes).map(i => (t.probeName(i), s"${t.name}-${i / shape.blockSize}"))
      }
      assert(blocks.map(_._2).distinct.size == exp.nBlocks)
      val byBlock = blocks.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1) }
      byBlock.values.foreach { ps =>
        for (a <- ps; b <- ps if a < b) assert(pearson(v(a), v(b)) > 0.95, s"seed $seed: $a ~ $b")
      }
      // one probe per block stands for it: within-block r is ~0.99
      val reps = byBlock.values.map(_.head).toIndexedSeq
      val worst = (for (i <- reps.indices; j <- i + 1 until reps.size)
        yield math.abs(pearson(v(reps(i)), v(reps(j))))).max
      assert(worst < shape.threshold - 0.05, s"seed $seed: blocks correlate up to $worst")
    }
  }

  test("DefParser.parseFile accepts the corpus as planted") {
    withDirs(1) { case Seq(dir) =>
      val exp = Corpus.write(dir, shape, 3L)
      val config = DefParser.parseFile(exp.defFile.getPath)
      assert(config.samples.size == shape.nSamples)
      assert(config.predicting.map(_.name).sorted == exp.predictive)
      assert(config.training.size == shape.nTrain)
      assert(config.training.count(_.tumorous) == shape.nTumorTrain)
      config.training.foreach(s => assert(s.tumorous == exp.tumorous(s.name)))
      assert(config.sampleTypes == shape.types.map(_.name))
      assert(config.pcThreshold.contains(shape.threshold))
      assert(config.outputPath.contains("out/pred_%s%"))
      assert(config.samples.map(_.files.size).sum == exp.files)
      assert(exp.files == shape.nSamples * shape.types.size - shape.samplesMissingAType)
      config.samples.flatMap(_.files.values).foreach(p => assert(new File(dir, p).isFile, p))
    }
  }
}
