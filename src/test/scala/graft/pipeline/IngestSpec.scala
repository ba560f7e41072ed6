package graft.pipeline

import graft.SparkSpec
import java.nio.file.{Files, Path}

/** Ingest + end-to-end pipeline over a synthetic mini-corpus written in
  * the reference's file format (TSV expression files with a header
  * line, definition file driving the registry).
  */
class IngestSpec extends SparkSpec {

  private def writeCorpus(dir: Path, nTrain: Int, nPredict: Int, nProbes: Int): String = {
    val rnd = new scala.util.Random(9)
    Files.createDirectories(dir.resolve("expr"))
    val names = (0 until nTrain).map(i => f"TRAIN-$i%02d") ++
      (0 until nPredict).map(i => f"PRED-$i%02d")
    val defLines = new StringBuilder
    defLines ++= "# synthetic corpus\n"
    names.take(nTrain).foreach(n => defLines ++= s"def\tsample\t$n\n")
    names.drop(nTrain).foreach(n => defLines ++= s"def\tpredictive\t$n\n")
    defLines ++= "def\tsample-type\texpr\n"
    defLines ++= "def\tpc-threshold\tnone\n"
    names.zipWithIndex.foreach { case (n, i) =>
      // tumorous ⇔ even index; signal probe p000 separates classes
      if (i % 2 == 0 && i < nTrain) defLines ++= s"diagnosis\t$n\tTN\n"
      val f = s"expr/$n.expr.txt"
      defLines ++= s"expr\t$n\t$f\n"
      val sb = new StringBuilder("probe_id\traw_count\textra_col\n")
      val base = if (i % 2 == 0) 8.0 else -8.0
      (0 until nProbes).foreach { p =>
        val v = if (p == 0) base + rnd.nextGaussian() * 0.2 else rnd.nextGaussian()
        sb ++= f"p$p%03d\t$v%.6f\tN\n"
      }
      // a malformed row — must be dropped leniently
      sb ++= "truncated_row_no_value\n"
      Files.writeString(dir.resolve(f), sb.toString)
    }
    Files.writeString(dir.resolve("input.txt"), defLines.toString)
    dir.toString
  }

  test("ingest: lenient parse, deterministic sorted dictionaries, full COO") {
    val dir = Files.createTempDirectory("graft_corpus")
    val base = writeCorpus(dir, nTrain = 6, nPredict = 2, nProbes = 5)
    val config = DefParser.parseFile(s"$base/input.txt")
    assert(config.samples.size == 8)

    val r = Ingest.ingest(spark, base, config)
    // 8 samples × 5 probes; header + malformed rows dropped
    assert(r.matrix.count() == 40)
    val probes = r.probeDict.orderBy("probe").collect().map(_.getString(0)).toSeq
    assert(probes == Seq("p000", "p001", "p002", "p003", "p004")) // sorted ids
    val samples = r.sampleDict.orderBy("sample").collect().map(_.getString(0)).toSeq
    assert(samples == samples.sorted)
    // re-running yields identical dictionaries (determinism, quirk Q3)
    val r2 = Ingest.ingest(spark, base, config)
    assert(
      r2.probeDict.orderBy("probe").collect().toSeq ==
        r.probeDict.orderBy("probe").collect().toSeq)
  }

  test("a HEADERLESS expression file keeps its first data row (faithful leniency)") {
    // the reference drops rows only when the VALUE fails the Double
    // parse (lenient=true); a Spark header=true read ate the first
    // DATA row of a headerless export — an observed cell silently
    // became a missing one for ALS to fabricate (red against the old
    // formulation). A headered file must read identically either way.
    val dir = Files.createTempDirectory("graft_headerless")
    Files.writeString(dir.resolve("nohdr.txt"),
      "p000\t1.5\np001\t2.5\n")
    Files.writeString(dir.resolve("hdr.txt"),
      "probe_id\traw_count\np000\t1.5\np001\t2.5\n")
    def rows(f: String) = Ingest
      .readType(spark, dir.toString, Map(f -> "S1"))
      .orderBy("probe_name")
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    val want = Seq(("p000", 1.5), ("p001", 2.5))
    assert(rows("nohdr.txt") == want, "headerless file lost a data row")
    assert(rows("hdr.txt") == want, "header line not dropped leniently")
  }

  test("typed Dataset[MatrixEntry] view supports typed transforms") {
    val s = spark; import s.implicits._
    val df = Seq((0, 1, 2.5), (1, 0, 3.5)).toDF("sample", "probe", "value")
    val ds = Ingest.typed(df)
    assert(ds.filter(_.value > 3.0).map(_.sample).collect().toSeq == Seq(1))
    assert(ds.orderBy("sample", "probe").head() == Ingest.MatrixEntry(0, 1, 2.5))
  }

  test("end-to-end pipeline on separable mini-corpus: correct ±1 predictions (P4)") {
    val dir = Files.createTempDirectory("graft_corpus_e2e")
    val base = writeCorpus(dir, nTrain = 12, nPredict = 6, nProbes = 8)
    val config = DefParser.parseFile(s"$base/input.txt")
    assert(config.pcThreshold.isEmpty) // `none` in def file

    val result = LuadPipeline.run(
      spark, base, config,
      Completion.AlsParams(rank = 3, maxIter = 3, numBlocks = 2),
      Svm.SvmParams(maxIter = 20))
    val preds = result.predictions.collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(preds.size == 6)
    assert(preds.values.forall(p => p == 1.0 || p == -1.0))
    preds.foreach { case (name, p) =>
      val idx = name.split("-")(1).toInt + 12 // PRED-i is sample 12+i
      assert(p == (if (idx % 2 == 0) 1.0 else -1.0), s"$name")
    }
    // matrix was already complete → no probes dropped (threshold none)
    assert(result.nProbesBefore == 8 && result.nProbesAfter == 8)
  }

  test("a registered sample with zero parseable rows fails the run loudly") {
    // r15 pipeline review: such a sample previously VANISHED — no
    // matrix rows, nothing fabricated by completion, the training join
    // shrank, and the run exited 0 with N-1 predictions
    val dir = Files.createTempDirectory("graft_corpus_empty")
    val base = writeCorpus(dir, nTrain = 8, nPredict = 4, nProbes = 6)
    // overwrite one predictive sample's file with header-only content:
    // every row fails the lenient parse
    Files.writeString(dir.resolve("expr/PRED-01.expr.txt"), "probe_id\traw_count\textra\n")
    val config = DefParser.parseFile(s"$base/input.txt")
    val ex = intercept[IllegalArgumentException] {
      LuadPipeline.run(
        spark, base, config,
        Completion.AlsParams(rank = 2, maxIter = 2, numBlocks = 2),
        Svm.SvmParams(maxIter = 5))
    }
    assert(ex.getMessage.contains("PRED-01") &&
      ex.getMessage.contains("zero parseable"), ex.getMessage)
  }

  /** The mini-corpus with probe p005 rewritten to mirror p000 exactly
    * (an |r| = 1 edge), at pc-threshold 0.99.
    */
  private def mirroredCorpus(name: String): (String, DefParser.PipelineConfig) = {
    val dir = Files.createTempDirectory(name)
    val base = writeCorpus(dir, nTrain = 12, nPredict = 4, nProbes = 6)
    val config0 = DefParser.parseFile(s"$base/input.txt")
    config0.samples.foreach { sspec =>
      val f = dir.resolve(sspec.files("expr"))
      val lines = Files.readAllLines(f)
      val byProbe = lines.toArray.map(_.toString).collect {
        case l if l.startsWith("p") => l.split("\t")(0) -> l.split("\t")(1)
      }.toMap
      val patched = lines.toArray.map(_.toString).map { l =>
        if (l.startsWith("p005")) s"p005\t${byProbe("p000")}\tN" else l
      }
      Files.writeString(f, patched.mkString("\n"))
    }
    (base, config0.copy(pcThreshold = Some(0.99)))
  }

  private def runMini(base: String, config: DefParser.PipelineConfig) =
    LuadPipeline.run(
      spark, base, config,
      Completion.AlsParams(rank = 3, maxIter = 3, numBlocks = 2),
      Svm.SvmParams(maxIter = 20))

  test("end-to-end with pc-threshold: correlated probes collapse to representatives") {
    val (base, config) = mirroredCorpus("graft_corpus_thr")
    val result = runMini(base, config)
    assert(result.nProbesBefore == 6)
    assert(result.nProbesAfter == 5) // p005 merged into p000's component
    assert(result.predictions.count() == 4)
  }

  test("a dense-path run starts no GraphX and no zipWithIndex job; the relational path agrees") {
    val (base, config) = mirroredCorpus("graft_corpus_jobs")
    def predictions(r: LuadPipeline.Result) =
      r.predictions.collect().map(row => row.getString(0) -> row.getDouble(1)).toMap
    assert(Network.useDense(spark, config.samples.size.toLong, 6L))
    val (dense, denseJobs) = graft.JobStacks(spark)(runMini(base, config))
    assert(denseJobs.exists(_.contains("denseSurvivors")), "the fused kernel did not run")
    for (code <- Seq("org.apache.spark.graphx", "zipWithIndex", "pearsonEdges",
        "connectedComponents", "filterRelational"))
      assert(!denseJobs.exists(_.contains(code)), s"dense-path run started a job in $code")

    // the same run forced onto the relational path (a zero driver
    // budget) — which the listener must see running GraphX
    spark.conf.set("spark.graft.pearson.maxDenseBytes", "0")
    val (relational, relationalJobs) =
      try graft.JobStacks(spark)(runMini(base, config))
      finally spark.conf.unset("spark.graft.pearson.maxDenseBytes")
    assert(relationalJobs.exists(_.contains("org.apache.spark.graphx")))
    assert(relational.nProbesAfter == dense.nProbesAfter)
    assert(predictions(relational) == predictions(dense))
    // and it sees a zipWithIndex job when one runs
    val (_, zipJobs) = graft.JobStacks(spark)(spark.sparkContext.parallelize(1 to 4, 2).zipWithIndex().count())
    assert(zipJobs.exists(_.contains("zipWithIndex")))
  }

  test("a sample-type with more files than Spark's default listing threshold tags every row") {
    // 40 files (Spark lists more than 32 explicit paths in a job by
    // default); value = 100 × sample index + probe index identifies the
    // file each row came from. Two probe names order differently in
    // UTF-8 bytes (Spark) and UTF-16 units (Java).
    val dir = Files.createTempDirectory("graft_corpus_wide")
    val probeNames = Seq("p\uFF01", "p\uD83D\uDE00", "pb", "pa", "p0")
    val names = (0 until 40).map(i => f"S-$i%02d")
    val defLines = new StringBuilder("def\tsample-type\texpr\ndef\tpc-threshold\tnone\n")
    names.zipWithIndex.foreach { case (n, i) =>
      defLines ++= s"def\t${if (i < 30) "sample" else "predictive"}\t$n\n"
      if (i % 2 == 0) defLines ++= s"diagnosis\t$n\tTN\n"
      defLines ++= s"expr\t$n\t$n.txt\n"
      Files.writeString(dir.resolve(s"$n.txt"), probeNames.zipWithIndex
        .map { case (p, k) => s"$p\t${100 * i + k}\n" }.mkString("probe\tvalue\n", "", ""))
    }
    Files.writeString(dir.resolve("input.txt"), defLines.toString)
    val base = dir.toString
    val config = DefParser.parseFile(s"$base/input.txt")

    def decoded(r: Ingest.IngestResult) = r.matrix
      .join(r.sampleDict, "sample").join(r.probeDict, "probe")
      .select("sample_name", "probe_name", "value")
      .collect().map(row => (row.getString(0), row.getString(1), row.getDouble(2))).toSet
    val expected = (for {
      (n, i) <- names.zipWithIndex; (p, k) <- probeNames.zipWithIndex
    } yield (n, p, 100.0 * i + k)).toSet
    val listingKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    // with an explicit schema, the only job the scan's construction
    // can start is the distributed file listing
    val listing = "csv at Ingest.scala"

    // listed on the driver at the session's threshold ...
    val (r, jobs) = graft.JobStacks(spark)(Ingest.ingest(spark, base, config))
    assert(!jobs.exists(_.startsWith(listing)), "listing ran as a Spark job")
    assert(decoded(r) == expected)
    // ... and in a Spark job above a lowered one, with the same rows
    val threshold = spark.conf.get(listingKey)
    spark.conf.set(listingKey, "8")
    val (rDistributed, jobsDistributed) =
      try graft.JobStacks(spark)(Ingest.ingest(spark, base, config))
      finally spark.conf.set(listingKey, threshold)
    assert(jobsDistributed.exists(_.startsWith(listing)))
    assert(decoded(rDistributed) == expected)

    // probe ids: the dense range 0..P-1 in Spark's string order
    val dict = r.probeDict.orderBy("probe").collect().map(row => (row.getString(0), row.getInt(1)))
    assert(dict.map(_._2).toSeq == probeNames.indices)
    assert(dict.map(_._1).toSeq ==
      r.probeDict.orderBy("probe_name").collect().map(_.getString(0)).toSeq)
    assert(dict.map(_._1).toSeq == Seq("p0", "pa", "pb", "p\uFF01", "p\uD83D\uDE00"))
    assert(r.nProbes == probeNames.size)

    val result = LuadPipeline.run(
      spark, base, config,
      Completion.AlsParams(rank = 2, maxIter = 2, numBlocks = 2),
      Svm.SvmParams(maxIter = 5))
    assert(result.nProbesBefore == r.nProbes && result.nProbesAfter == r.nProbes)
    assert(result.predictions.count() == 10)
  }
}
