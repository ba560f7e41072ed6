package graft.streaming

import graft.SparkSpec
import graft.pipeline.{DefParser, Ingest, Svm}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** The LUAD pipeline's streaming deployment: train on the batch path,
  * then score expression files as they land in a drop directory —
  * file-source stream → per-batch COO assembly → dictionary encode →
  * feature vectors → LinearSVC transform via foreachBatch. The file
  * source delivers whole files per micro-batch, so a sample's rows
  * never split across batches and per-batch vector assembly is safe.
  */
class StreamingScoringSpec extends SparkSpec {

  private def writeSample(dir: Path, name: String, nProbes: Int, base: Double, rnd: scala.util.Random): Unit = {
    val sb = new StringBuilder("probe_id\traw_count\n")
    (0 until nProbes).foreach { p =>
      val v = if (p == 0) base + rnd.nextGaussian() * 0.2 else rnd.nextGaussian()
      sb ++= f"p$p%03d\t$v%.6f\n"
    }
    Files.writeString(dir.resolve(s"$name.expr.txt"), sb.toString)
  }

  test("stream of expression files scored with the batch-trained SVM") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(8)
    val nProbes = 6

    // --- batch side: train on 10 labeled samples
    val trainDir = Files.createTempDirectory("graft_train")
    Files.createDirectories(trainDir.resolve("expr"))
    val defLines = new StringBuilder("def\tsample-type\texpr\n")
    (0 until 10).foreach { i =>
      val n = f"TR-$i%02d"
      defLines ++= s"def\tsample\t$n\n"
      if (i % 2 == 0) defLines ++= s"diagnosis\t$n\tTN\n"
      defLines ++= s"expr\t$n\texpr/$n.expr.txt\n"
      writeSample(trainDir.resolve("expr"), n, nProbes, if (i % 2 == 0) 8.0 else -8.0, rnd)
    }
    Files.writeString(trainDir.resolve("input.txt"), defLines.toString)
    val config = DefParser.parseFile(s"$trainDir/input.txt")
    val ing = Ingest.ingest(s, trainDir.toString, config)
    val features = Svm.assembleFeatures(ing.matrix)
    val labels = config.training.map(sp => (sp.name, sp.tumorous)).toDF("sample_name", "tumorous")
      .join(ing.sampleDict, "sample_name").select("sample", "tumorous")
    val model = Svm.train(s, features, labels, Svm.SvmParams(maxIter = 20))
    val probeDict = ing.probeNames.toSeq.zipWithIndex.toDF("probe_name", "probe")

    // --- streaming side: new unlabeled samples dropped into a directory
    val dropDir = Files.createTempDirectory("graft_drop")
    val scored = scala.collection.mutable.Map.empty[String, Double]
    val stream = Streams.expressionFileStream(s, dropDir.toString)
      .withColumn(
        "sample_name", regexp_extract(col("file"), "([^/]+)\\.expr\\.txt", 1))
    val query = Streams.scoreStream(
      stream,
      score = (batch: DataFrame) => {
        if (batch.isEmpty) batch.sparkSession.emptyDataFrame
        else {
          // dictionary-encode with the TRAINING probe dict; a dense
          // per-batch sample id is enough for vector assembly
          val names = batch.select("sample_name").distinct()
            .orderBy("sample_name").collect().map(_.getString(0))
          val nameDf = names.zipWithIndex.toSeq.toDF("sample_name", "sample")
          val m = batch
            .join(broadcast(probeDict), "probe_name")
            .join(broadcast(nameDf), "sample_name")
            .select(col("sample"), col("probe"), col("value"))
          val f = Svm.assembleFeatures(m)
          Svm.predict(model, f)
            .join(broadcast(nameDf), "sample")
            .select("sample_name", "prediction")
        }
      },
      sink = (preds, _) =>
        if (!preds.isEmpty) scored.synchronized {
          preds.collect().foreach(r => scored(r.getString(0)) = r.getDouble(1))
        },
    ).start()
    try {
      (0 until 6).foreach { i =>
        writeSample(dropDir, f"LIVE-$i%02d", nProbes, if (i % 2 == 0) 8.0 else -8.0, rnd)
      }
      query.processAllAvailable()
      // second wave — the stream keeps scoring as files land
      (6 until 8).foreach { i =>
        writeSample(dropDir, f"LIVE-$i%02d", nProbes, if (i % 2 == 0) 8.0 else -8.0, rnd)
      }
      query.processAllAvailable()
      assert(scored.size == 8, scored)
      (0 until 8).foreach { i =>
        val expected = if (i % 2 == 0) 1.0 else -1.0
        assert(scored(f"LIVE-$i%02d") == expected, f"LIVE-$i%02d → ${scored(f"LIVE-$i%02d")}")
      }
    } finally query.stop()
  }
}
