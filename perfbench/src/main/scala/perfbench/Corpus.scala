package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Seeded LUAD corpus generator in the reference input formats.
  *
  * Writes a definition file (`def` grammar, tab-separated) and one
  * 4-column TSV expression file with a header per (sample, type). Each
  * sample carries a planted class; probes come in correlated blocks, so
  * the Pearson/connected-components filter keeps one probe per block.
  * A fraction of the blocks also carry the class signal, so the SVM has
  * something to learn. Every path inside the definition file is relative
  * (expression files to the definition file's directory, the output
  * sink to the working directory), so the same seed gives byte-identical
  * files wherever they are written.
  */
object Corpus {

  /** One sample-type: its name, probe count and TSV header. */
  final case class SampleType(name: String, probes: Int, header: String, probeName: Int => String)

  final case class Shape(
      nTrain: Int,
      nTumorTrain: Int,
      nPredict: Int,
      types: Seq[SampleType],
      blockSize: Int,
      informativeEvery: Int, // every k-th block carries the class signal
      // class shift of an informative block's factor; it also correlates
      // informative blocks with each other (r ≈ signal² / (1 + signal²)),
      // which must stay far below the threshold so blocks never merge
      signal: Double,
      missingFrac: Double, // share of cells left out of the files
      samplesMissingAType: Int, // samples with no file for one type
      threshold: Double,
      accuracyFloor: Double, // prediction accuracy the planted signal supports
  ) {
    def nSamples: Int = nTrain + nPredict
    def nProbes: Int = types.map(_.probes).sum
  }

  final case class Expected(
      defFile: File,
      nProbes: Long,
      nBlocks: Long, // probes left by the filter: one per planted block
      tumorous: Map[String, Boolean], // planted class of every sample
      predictive: Seq[String], // sorted
      files: Int,
      fileRows: Long, // lines over all expression files, headers included
  )

  val mirna: Int => SampleType = n =>
    SampleType("mirna", n, "miRNA_ID\tread_count\treads_per_million_miRNA_mapped\tcross-mapped",
      i => f"hsa-mir-$i%05d")
  val rna: Int => SampleType = n =>
    SampleType("rna", n, "gene\traw_counts\tmedian_length_normalized\tRPKM",
      i => f"G$i%05d|${100000 + i * 7}%d")

  /** Block id of every probe, across types: blocks never straddle a type. */
  private def blocksOf(shape: Shape): (Array[Int], Int) = {
    val out = new Array[Int](shape.nProbes)
    var next = 0
    var p = 0
    shape.types.foreach { t =>
      val nb = (t.probes + shape.blockSize - 1) / shape.blockSize
      (0 until t.probes).foreach { i => out(p + i) = next + i / shape.blockSize }
      p += t.probes
      next += nb
    }
    (out, next)
  }

  private def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  def write(dir: File, shape: Shape, seed: Long): Expected = {
    val rnd = new java.util.Random(seed)
    val n = shape.nSamples
    val names = (0 until n).map(i => f"S$i%05d")
    // roles and classes drawn by the seed; training tumour count fixed
    val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(names.indices.toVector)
    val trainIdx = order.take(shape.nTrain)
    val predictIdx = order.drop(shape.nTrain)
    val tumorous = new Array[Boolean](n)
    trainIdx.take(shape.nTumorTrain).foreach(tumorous(_) = true)
    predictIdx.foreach(i => tumorous(i) = rnd.nextBoolean())

    val (blockOf, nBlocks) = blocksOf(shape)
    // per (block, sample) latent factor; informative blocks shift by class
    val factor = Array.tabulate(nBlocks, n) { (b, s) =>
      val shift =
        if (b % shape.informativeEvery == 0) (if (tumorous(s)) shape.signal else -shape.signal)
        else 0.0
      rnd.nextGaussian() + shift
    }
    val base = Array.fill(shape.nProbes)(200.0 + 800.0 * rnd.nextDouble())
    val scale = Array.fill(shape.nProbes)(20.0 + 30.0 * rnd.nextDouble())

    // samples lacking one type file: never the first sample, so every
    // probe stays observed somewhere and the probe count is exact
    val lacking: Map[Int, Int] =
      if (shape.types.size < 2) Map.empty
      else
        rnd.ints(0, n).distinct().filter(_ != 0).limit(shape.samplesMissingAType.toLong)
          .toArray.map(s => s -> rnd.nextInt(shape.types.size)).toMap

    dir.mkdirs()
    var files = 0
    var fileRows = 0L
    val attach = Vector.newBuilder[String]
    var p0 = 0
    shape.types.zipWithIndex.foreach { case (t, ti) =>
      new File(dir, t.name).mkdirs()
      (0 until n).foreach { s =>
        if (!lacking.get(s).contains(ti)) {
          val rel = s"${t.name}/${names(s)}.tsv"
          val w = Files.newBufferedWriter(new File(dir, rel).toPath, StandardCharsets.UTF_8)
          try {
            w.write(t.header); w.write('\n')
            fileRows += 1
            (0 until t.probes).foreach { i =>
              val p = p0 + i
              val v = base(p) + scale(p) * (factor(blockOf(p))(s) + 0.1 * rnd.nextGaussian())
              val drop = s != 0 && rnd.nextDouble() < shape.missingFrac
              if (!drop) {
                writeRow(w, t.probeName(i), v)
                fileRows += 1
              }
            }
          } finally w.close()
          files += 1
          attach += s"${t.name}\t${names(s)}\t$rel"
        }
      }
      p0 += t.probes
    }

    val lines = Vector.newBuilder[String]
    lines += s"# perfbench corpus: $n samples, ${shape.nProbes} probes, seed $seed"
    lines += "def\toutput\tout/pred_%s%"
    lines += s"def\tpc-threshold\t${shape.threshold}"
    shape.types.foreach(t => lines += s"def\tsample-type\t${t.name}")
    trainIdx.sorted.foreach(i => lines += s"def\tsample\t${names(i)}")
    predictIdx.sorted.foreach(i => lines += s"def\tpredictive\t${names(i)}")
    trainIdx.sorted.foreach { i =>
      lines += s"diagnosis\t${names(i)}\t${if (tumorous(i)) "TN" else "NT"}"
    }
    lines ++= attach.result()
    val defFile = new File(dir, "input.txt")
    Files.write(defFile.toPath, lines.result().mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

    val expected = Expected(
      defFile = defFile,
      nProbes = shape.nProbes.toLong,
      nBlocks = nBlocks.toLong,
      tumorous = names.indices.map(i => names(i) -> tumorous(i)).toMap,
      predictive = predictIdx.map(names).sorted,
      files = files,
      fileRows = fileRows,
    )
    // the planted truth, beside the corpus, for anyone reading a run
    val predictive = predictIdx.toSet
    val exp = Vector(
      s"probes_before\t${expected.nProbes}",
      s"blocks\t${expected.nBlocks}",
      s"files\t$files",
      s"file_rows\t$fileRows",
    ) ++ names.indices.map { i =>
      s"label\t${names(i)}\t${if (tumorous(i)) "1.0" else "-1.0"}\t" +
        (if (predictive(i)) "predictive" else "training")
    }
    Files.write(new File(dir, "expected.tsv").toPath,
      exp.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    expected
  }

  private def writeRow(w: BufferedWriter, probe: String, v: Double): Unit = {
    w.write(probe); w.write('\t')
    w.write(fmt(v)); w.write('\t')
    w.write(fmt(v * 0.37)); w.write('\t')
    w.write("N\n")
  }
}
