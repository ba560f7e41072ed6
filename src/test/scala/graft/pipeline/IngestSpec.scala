package graft.pipeline

import graft.SparkSpec
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution

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
    assert(r.probeNames.toSeq == Seq("p000", "p001", "p002", "p003", "p004")) // sorted ids
    val samples = r.sampleDict.orderBy("sample").collect().map(_.getString(0)).toSeq
    assert(samples == samples.sorted)
    // re-running yields identical dictionaries (determinism, quirk Q3)
    val r2 = Ingest.ingest(spark, base, config)
    assert(r2.probeNames.toSeq == r.probeNames.toSeq)
  }

  test("a HEADERLESS expression file keeps its first data row (faithful leniency)") {
    // the reference drops rows only when the VALUE fails the Double
    // parse (lenient=true); a Spark header=true read ate the first
    // DATA row of a headerless export — an observed cell silently
    // became a missing one for ALS to fabricate (red against the old
    // formulation). A headered file must read identically either way,
    // in both regimes.
    val dir = Files.createTempDirectory("graft_headerless")
    Files.writeString(dir.resolve("nohdr.txt"),
      "p000\t1.5\np001\t2.5\n")
    Files.writeString(dir.resolve("hdr.txt"),
      "probe_id\traw_count\np000\t1.5\np001\t2.5\n")
    def config(f: String) = DefParser.PipelineConfig(
      Seq(DefParser.SampleSpec("S1", predictive = false, tumorous = false, Map("expr" -> f))), Seq("expr"), None, None)
    def relational(f: String) = {
      val r = Ingest.ingest(spark, dir.toString, config(f))
      r.matrix.collect().map(row => (r.probeNames(row.getInt(1)), row.getDouble(2))).sorted.toSeq
    }
    def dense(f: String) = {
      val d = Ingest.ingestDense(spark, dir.toString, config(f), Long.MaxValue).get
      (for (i <- d.observed.probes.indices; v <- d.observed.values(i))
        yield (d.probeNames(d.observed.probes(i)), v)).sorted
    }
    val want = Seq(("p000", 1.5), ("p001", 2.5))
    for (rows <- Seq(relational _, dense _)) {
      assert(rows("nohdr.txt") == want, "headerless file lost a data row")
      assert(rows("hdr.txt") == want, "header line not dropped leniently")
    }
  }

  test("a base dir with . or .. segments ingests the same matrix as the plain dir") {
    // Spark reports scanned files by their normalized path; an
    // un-normalized base (`./input.txt` gives `<cwd>/.`) once failed
    // every row with "cannot map scanned file back to a sample"
    val dir = Files.createTempDirectory("graft_corpus_dots")
    val base = writeCorpus(dir, nTrain = 4, nPredict = 2, nProbes = 3)
    Files.createDirectories(dir.resolve("sub"))
    val config = DefParser.parseFile(s"$base/input.txt")
    def cells(b: String) = Ingest.ingest(spark, b, config).matrix
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).sorted.toSeq
    val want = cells(base)
    assert(want.size == 6 * 3)
    assert(cells(s"$base/.") == want)
    assert(cells(s"$base/sub/..") == want)
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
    for (ex <- failuresInBothRegimes(base, config))
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
    assert(Network.fitsDense(config.samples.size.toLong, 6L, Network.maxDenseBytes(spark)))
    val (dense, denseJobs) = graft.JobStacks(spark)(runMini(base, config))
    // the fused kernel runs on driver threads: it merged p005 into p000
    assert(dense.nProbesAfter == 5, "the network filter did not run")
    for (code <- Seq("org.apache.spark.graphx", "zipWithIndex", "pearsonEdges",
        "connectedComponents", "panelSurvivors", "denseSurvivors"))
      assert(!denseJobs.exists(_.contains(code)), s"dense-path run started a job in $code")

    // the same run forced onto the relational path (a zero driver
    // budget) — which the listener must see running the panel-pair job,
    // and no GraphX or self-join job
    spark.conf.set("spark.graft.pearson.maxDenseBytes", "0")
    val (relational, relationalJobs) =
      try graft.JobStacks(spark)(runMini(base, config))
      finally spark.conf.unset("spark.graft.pearson.maxDenseBytes")
    assert(relationalJobs.exists(_.contains("panelSurvivors")))
    for (code <- Seq("org.apache.spark.graphx", "pearsonEdges", "connectedComponents"))
      assert(!relationalJobs.exists(_.contains(code)), s"relational run started a job in $code")
    assert(relational.nProbesAfter == dense.nProbesAfter)
    assert(predictions(relational) == predictions(dense))
    // and it sees a zipWithIndex job when one runs
    val (_, zipJobs) = graft.JobStacks(spark)(spark.sparkContext.parallelize(1 to 4, 2).zipWithIndex().count())
    assert(zipJobs.exists(_.contains("zipWithIndex")))
  }

  test("a dense-regime run starts no ALS, LinearSVC or GraphX job; forced relational it runs them and agrees") {
    val (base, config) = mirroredCorpus("graft_corpus_replicas")
    // drop a few cells (never p000 or its mirror p005), so completion
    // has missing cells to fill on both paths
    Seq("TRAIN-01" -> "p001", "TRAIN-04" -> "p003", "PRED-02" -> "p002", "TRAIN-07" -> "p004").foreach {
      case (sample, probe) =>
        val f = Path.of(base, s"expr/$sample.expr.txt")
        Files.writeString(f, Files.readAllLines(f).toArray.map(_.toString)
          .filterNot(_.startsWith(probe)).mkString("\n"))
    }
    def predictions(r: LuadPipeline.Result) =
      r.predictions.collect().map(row => row.getString(0) -> row.getDouble(1)).toMap
    val mlCode = Seq("recommendation.ALS", "LinearSVC", "RDDLossFunction", "treeAggregate")

    val (dense, denseJobs) = graft.JobStacks(spark)(runMini(base, config))
    for (code <- mlCode :+ "graphx")
      assert(!denseJobs.exists(_.contains(code)), s"dense-regime run started a job in $code")
    spark.conf.set("spark.graft.pearson.maxDenseBytes", "0")
    val (relational, relationalJobs) =
      try graft.JobStacks(spark)(runMini(base, config))
      finally spark.conf.unset("spark.graft.pearson.maxDenseBytes")
    for (code <- mlCode)
      assert(relationalJobs.exists(_.contains(code)), s"relational run started no job in $code")
    // both regimes find components with the same kernel, not GraphX
    assert(!relationalJobs.exists(_.contains("graphx")), "relational run started a GraphX job")
    assert(dense.nProbesAfter == 5 && relational.nProbesAfter == dense.nProbesAfter)
    assert(predictions(dense).size == 4)
    assert(predictions(relational) == predictions(dense))
  }

  /** A two-type mini-corpus: mirna probes m0-m5 and rna probes r0-r5 in
    * six correlated pairs (one pair carries the class signal), so the
    * 0.8 pc-threshold merges each pair; the sample the seed picks
    * registers no rna file, so completion fills a whole type of it.
    */
  private def twoTypeCorpus(seed: Long): (String, DefParser.PipelineConfig) = {
    val rnd = new scala.util.Random(seed)
    val dir = Files.createTempDirectory(s"graft_corpus_two_type_$seed")
    val names = (0 until 12).map(i => f"TRAIN-$i%02d") ++ (0 until 4).map(i => f"PRED-$i%02d")
    val lacking = names(rnd.nextInt(names.size))
    // per (pair, sample) factor; pair 0 shifts by class (tumorous ⇔ even index)
    val factor = Array.tabulate(6, names.size) { (b, i) =>
      rnd.nextGaussian() + (if (b != 0) 0.0 else if (i % 2 == 0) 3.0 else -3.0)
    }
    val defLines = new StringBuilder("def\tsample-type\tmirna\ndef\tsample-type\trna\ndef\tpc-threshold\t0.8\n")
    for ((n, i) <- names.zipWithIndex) {
      defLines ++= s"def\t${if (i < 12) "sample" else "predictive"}\t$n\n"
      if (i % 2 == 0 && i < 12) defLines ++= s"diagnosis\t$n\tTN\n"
      for ((t, first) <- Seq("mirna" -> 0, "rna" -> 3) if !(t == "rna" && n == lacking)) {
        Files.createDirectories(dir.resolve(t))
        val rows = (0 until 6).map { k =>
          val b = first + k / 2
          val v = 10.0 * b + 2.0 * (factor(b)(i) + 0.05 * rnd.nextGaussian())
          s"${t.head}$k\t" + String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
        }
        Files.writeString(dir.resolve(s"$t/$n.txt"), rows.mkString("probe\tvalue\n", "\n", "\n"))
        defLines ++= s"$t\t$n\t$t/$n.txt\n"
      }
    }
    Files.writeString(dir.resolve("input.txt"), defLines.toString)
    (dir.toString, DefParser.parseFile(s"$dir/input.txt"))
  }

  test("both regimes give identical predictions and n_probes_after on two-type corpora with a missing type") {
    // fixed seeds, chosen before the first run
    for (seed <- Seq(11L, 12L, 13L)) {
      val (base, config) = twoTypeCorpus(seed)
      assert(Network.fitsDense(config.samples.size.toLong, 12L, Network.maxDenseBytes(spark)))
      def predictions(r: LuadPipeline.Result) =
        r.predictions.collect().map(row => row.getString(0) -> row.getDouble(1)).toMap
      val dense = runMini(base, config)
      spark.conf.set("spark.graft.pearson.maxDenseBytes", "0")
      val relational =
        try runMini(base, config)
        finally spark.conf.unset("spark.graft.pearson.maxDenseBytes")
      assert(dense.nProbesBefore == 12 && relational.nProbesBefore == 12, s"seed $seed")
      assert(dense.nProbesAfter < 12, s"seed $seed: the threshold merged no probe")
      assert(relational.nProbesAfter == dense.nProbesAfter, s"seed $seed")
      assert(predictions(dense).size == 4, s"seed $seed")
      assert(predictions(relational) == predictions(dense), s"seed $seed")
    }
  }

  test("both regimes agree on a 62-sample, 1,024-probe two-type corpus whose correlated blocks cross panels") {
    // the reference cohort's 40 training and 22 predictive samples over
    // 256 mirna and 768 rna probes, ~1% of cells missing; 24 planted
    // blocks of 2-6 probes drawn over both types, block 0 carrying the
    // class (tumorous ⇔ even index), every other probe independent noise
    val rnd = new scala.util.Random(31)
    val dir = Files.createTempDirectory("graft_corpus_panels")
    val names = (0 until 40).map(i => f"TRAIN-$i%02d") ++ (0 until 22).map(i => f"PRED-$i%02d")
    // probe ids follow the sorted names: m0000-m0255 are 0-255, r0000-r0767 256-1023
    val probes = (0 until 256).map(k => "mirna" -> f"m$k%04d") ++ (0 until 768).map(k => "rna" -> f"r$k%04d")
    val members = rnd.shuffle(probes.indices.toList).iterator
    val blocks = Seq.fill(24)(Seq.fill(2 + rnd.nextInt(5))(members.next()))
    val blockOf = blocks.zipWithIndex.flatMap { case (ps, b) => ps.map(_ -> b) }.toMap
    val factor = Array.tabulate(blocks.size, names.size) { (b, i) =>
      rnd.nextGaussian() + (if (b != 0) 0.0 else if (i % 2 == 0) 3.0 else -3.0)
    }
    // centred values: a filled cell lands near its probe's mean, so a
    // block's |r| stays far above the threshold in both regimes
    val scale = Array.fill(probes.size)(rnd.nextDouble() + 1.0)
    val defLines = new StringBuilder("def\tsample-type\tmirna\ndef\tsample-type\trna\ndef\tpc-threshold\t0.8\n")
    for ((n, i) <- names.zipWithIndex) {
      defLines ++= s"def\t${if (i < 40) "sample" else "predictive"}\t$n\n"
      if (i % 2 == 0 && i < 40) defLines ++= s"diagnosis\t$n\tTN\n"
      for (t <- Seq("mirna", "rna")) {
        Files.createDirectories(dir.resolve(t))
        val rows = probes.indices.filter(p => probes(p)._1 == t && rnd.nextDouble() >= 0.01).map { p =>
          val v = blockOf.get(p).fold(rnd.nextGaussian())(b => scale(p) * factor(b)(i) + 0.1 * rnd.nextGaussian())
          s"${probes(p)._2}\t" + String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
        }
        Files.writeString(dir.resolve(s"$t/$n.txt"), rows.mkString("probe\tvalue\n", "\n", "\n"))
        defLines ++= s"$t\t$n\t$t/$n.txt\n"
      }
    }
    Files.writeString(dir.resolve("input.txt"), defLines.toString)
    val config = DefParser.parseFile(s"$dir/input.txt")
    val panels = Network.panelCount(spark.sparkContext.defaultParallelism, 62L * 1024)
    assert(panels > 1 && blocks.count(_.map(_ % panels).distinct.size > 1) > blocks.size / 2)
    assert(Network.fitsDense(62L, 1024L, Network.maxDenseBytes(spark)))

    def predictions(r: LuadPipeline.Result) =
      r.predictions.collect().map(row => row.getString(0) -> row.getDouble(1)).toMap
    val dense = runMini(dir.toString, config)
    spark.conf.set("spark.graft.pearson.maxDenseBytes", "0")
    val relational =
      try runMini(dir.toString, config)
      finally spark.conf.unset("spark.graft.pearson.maxDenseBytes")
    assert(dense.nProbesBefore == 1024 && relational.nProbesBefore == 1024)
    // each planted block collapses to one representative, nothing else merges
    assert(dense.nProbesAfter == 1024 - blocks.map(_.size - 1).sum)
    assert(relational.nProbesAfter == dense.nProbesAfter)
    assert(predictions(dense).size == 22)
    assert(predictions(relational) == predictions(dense))
  }

  test("a training set of one class fails the run, naming the class counts") {
    val dir = Files.createTempDirectory("graft_corpus_one_class")
    val base = writeCorpus(dir, nTrain = 6, nPredict = 2, nProbes = 4)
    val config = DefParser.parseFile(s"$base/input.txt")
    for (tumorous <- Seq(true, false)) {
      val oneClass = config.copy(samples = config.samples.map(s => if (s.predictive) s else s.copy(tumorous = tumorous)))
      val e = intercept[IllegalArgumentException](runMini(base, oneClass))
      val counts = if (tumorous) "6 tumorous and 0 normal" else "0 tumorous and 6 normal"
      assert(e.getMessage.contains(counts), e.getMessage)
    }
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

    def decoded(r: Ingest.IngestResult) = r.matrix.collect()
      .map(row => (r.sampleNames(row.getInt(0)), r.probeNames(row.getInt(1)), row.getDouble(2))).toSet
    val expected = (for {
      (n, i) <- names.zipWithIndex; (p, k) <- probeNames.zipWithIndex
    } yield (n, p, 100.0 * i + k)).toSet
    // the reader tasks open the registered files themselves, so no job
    // starts while a Spark file source is built (a distributed listing
    // job's stack runs through `DataFrameReader.csv`)
    val (r, jobs) = graft.JobStacks(spark)(Ingest.ingest(spark, base, config))
    assert(!jobs.exists(_.contains("DataFrameReader")), "listing ran as a Spark job")
    assert(decoded(r) == expected)

    // probe ids: the dense range 0..P-1 in Spark's string order
    val s = spark; import s.implicits._
    assert(r.probeNames.toSeq ==
      r.probeNames.toSeq.toDF("probe_name").orderBy("probe_name").collect().map(_.getString(0)).toSeq)
    assert(r.probeNames.toSeq == Seq("p0", "pa", "pb", "p\uFF01", "p\uD83D\uDE00"))

    val result = LuadPipeline.run(
      spark, base, config,
      Completion.AlsParams(rank = 2, maxIter = 2, numBlocks = 2),
      Svm.SvmParams(maxIter = 5))
    assert(result.nProbesBefore == probeNames.size && result.nProbesAfter == probeNames.size)
    assert(result.predictions.count() == 10)
  }

  /** What `body` made Spark do, from a listener: the jobs that read
    * the expression files (a stage over `Ingest`'s reader tasks), the
    * finished tasks of those stages, and every stage's stack
    * (`graft.JobStacks`).
    */
  private final case class Work(
      readingJobs: Int,
      readingTasks: Int,
      stacks: Seq[String],
      jobs: Int, // every job `body` started
      sqlJobs: Int, // those started by a Spark SQL execution
  )

  private def work[T](body: => T): (T, Work) = {
    val readingStages = ConcurrentHashMap.newKeySet[Int]
    val readingJobs = ConcurrentHashMap.newKeySet[Int]
    val readingTasks = new AtomicInteger
    val (jobs, sqlJobs) = (new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        for (st <- e.stageInfos if st.rddInfos.exists(_.callSite.startsWith("parallelize at Ingest.scala"))) {
          readingStages.add(st.stageId); readingJobs.add(e.jobId)
        }
        val props = Option(e.properties)
        if (!props.flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith(graft.JobStacks.MarkerPrefix))) {
          jobs.incrementAndGet()
          if (props.exists(_.getProperty(SQLExecution.EXECUTION_ID_KEY) != null)) sqlJobs.incrementAndGet()
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        if (e.reason == Success && readingStages.contains(e.stageId)) readingTasks.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // JobStacks returns once the listener bus has delivered every event
    // of `body`, to this listener too (both sit on the shared queue)
    val (result, stacks) =
      try graft.JobStacks(spark)(body)
      finally spark.sparkContext.removeSparkListener(listener)
    (result, Work(readingJobs.size, readingTasks.get, stacks, jobs.get, sqlJobs.get))
  }

  private def predictions(r: LuadPipeline.Result) =
    r.predictions.collect().map(row => row.getString(0) -> row.getDouble(1)).toMap

  private def withBudget[T](maxBytes: Long)(body: => T): T = {
    spark.conf.set("spark.graft.pearson.maxDenseBytes", maxBytes.toString)
    try body
    finally spark.conf.unset("spark.graft.pearson.maxDenseBytes")
  }

  test("a dense-regime run and its sink start no Spark job") {
    val dir = Files.createTempDirectory("graft_corpus_no_job")
    val base = writeCorpus(dir, nTrain = 8, nPredict = 4, nProbes = 6)
    val config = DefParser.parseFile(s"$base/input.txt")
    assert(Network.fitsDense(config.samples.size.toLong, 6L, Network.maxDenseBytes(spark)))
    def runAndWrite(base: String, config: DefParser.PipelineConfig) = work {
      val r = runMini(base, config)
      LuadPipeline.writeOutput(r.predictions, Some(s"$base/out"))
      r
    }
    // run + sink at pc-threshold none: the reader tasks run on driver
    // threads and the sink is written from the driver
    val (result, w) = runAndWrite(base, config)
    assert(result.nProbesAfter == 6 && predictions(result).size == 4)
    assert(w.jobs == 0 && w.sqlJobs == 0, s"${w.jobs} job(s), ${w.sqlJobs} from SQL executions")
    // with a threshold too: the network kernel runs on driver threads
    val (thrBase, thrConfig) = mirroredCorpus("graft_corpus_threshold_jobs")
    val (thrResult, tw) = runAndWrite(thrBase, thrConfig)
    assert(thrResult.nProbesAfter == 5, "the network filter did not run")
    assert(tw.jobs == 0 && tw.sqlJobs == 0, s"${tw.jobs} job(s), ${tw.sqlJobs} from SQL executions")
  }

  /** `body` with every file of the corpus its own reader task. */
  private def oneFilePerTask[T](body: => T): T = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try body
    finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  /** What `body` returns, and how many files it opened through the
    * `file:` file system (bound to `CountingRawFs` meanwhile).
    */
  private def countingOpens[T](body: => T): (T, Int) = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val binding = Seq("fs.file.impl" -> classOf[CountingRawFs].getName, "fs.file.impl.disable.cache" -> "true")
    val saved = binding.map { case (k, _) => k -> Option(hadoop.get(k)) }
    val before = CountingRawFs.opens.get
    binding.foreach { case (k, v) => hadoop.set(k, v) }
    val r =
      try body
      finally saved.foreach { case (k, v) => v.fold(hadoop.unset(k))(hadoop.set(k, _)) }
    (r, CountingRawFs.opens.get - before)
  }

  test("the dense gate at the footprint of the corpus runs dense, one byte below it relational, with the same output") {
    val (base, config) = twoTypeCorpus(14L)
    val (nS, nP) = (config.samples.size.toLong, 12L)
    val nFiles = config.samples.map(_.files.size).sum
    val footprint = Network.denseFootprintBytes(nS, nP)
    assert(withBudget(footprint)(Network.fitsDense(nS, nP, Network.maxDenseBytes(spark))))
    assert(!withBudget(footprint - 1)(Network.fitsDense(nS, nP, Network.maxDenseBytes(spark))))
    // one file a task: at the footprint the dense read opens every file
    // once; one byte less (one probe fits, so the read starts) the gate
    // closes once the probes seen overflow, and no thread claims a task
    // after that
    val (fits, all) = oneFilePerTask(countingOpens(Ingest.ingestDense(spark, base, config, footprint)))
    assert(fits.isDefined && all == nFiles, s"$all of $nFiles files opened")
    val (over, some) = oneFilePerTask(countingOpens(Ingest.ingestDense(spark, base, config, footprint - 1)))
    assert(over.isEmpty && some < nFiles, s"$some of $nFiles files opened: no in-flight gate")

    val (dense, dw) = withBudget(footprint)(work(runMini(base, config)))
    assert(!dw.stacks.exists(_.contains("panelSurvivors")), "the dense budget ran the relational regime")
    val (relational, rw) = withBudget(footprint - 1)(work(runMini(base, config)))
    assert(rw.stacks.exists(_.contains("panelSurvivors")), "one byte below the footprint ran dense")
    assert(dense.nProbesBefore == nP && relational.nProbesBefore == nP)
    assert(relational.nProbesAfter == dense.nProbesAfter)
    assert(predictions(dense).size == 4 && predictions(relational) == predictions(dense))
  }

  test("a base dir with a space and a non-ASCII character ingests the same cells in both regimes") {
    val dir = Files.createTempDirectory("graft corpus \u00e9\u6f22")
    val base = writeCorpus(dir, nTrain = 4, nPredict = 2, nProbes = 3)
    val config = DefParser.parseFile(s"$base/input.txt")
    val d = Ingest.ingestDense(spark, base, config, Long.MaxValue).get
    val names = Ingest.sampleNames(config)
    val denseCells = (for {
      p <- d.observed.probes.indices; k <- d.observed.samples(p).indices
    } yield (names(d.observed.samples(p)(k)), d.probeNames(p), d.observed.values(p)(k))).toSet
    val r = Ingest.ingest(spark, base, config)
    val relationalCells = r.matrix.collect()
      .map(row => (r.sampleNames(row.getInt(0)), r.probeNames(row.getInt(1)), row.getDouble(2))).toSet
    assert(denseCells.size == 6 * 3)
    assert(relationalCells == denseCells)
    assert(d.rowsDropped == r.rowsDropped)
  }

  /** The failure of `runMini` in the dense regime, then forced relational. */
  private def failuresInBothRegimes(base: String, config: DefParser.PipelineConfig) =
    Seq(intercept[IllegalArgumentException](runMini(base, config)),
      intercept[IllegalArgumentException](withBudget(0)(runMini(base, config))))

  test("a probe listed twice in one file fails the run, naming the probe, the sample and the file") {
    val dir = Files.createTempDirectory("graft_corpus_dup_row")
    val base = writeCorpus(dir, nTrain = 6, nPredict = 2, nProbes = 4)
    val f = dir.resolve("expr/TRAIN-03.expr.txt")
    Files.writeString(f, Files.readString(f) + "p002\t0.5\tN\n")
    val config = DefParser.parseFile(s"$base/input.txt")
    for (e <- failuresInBothRegimes(base, config); part <- Seq("'p002'", "'TRAIN-03'", "expr/TRAIN-03.expr.txt"))
      assert(e.getMessage.contains(part), e.getMessage)
  }

  test("a probe name in both type files of one sample fails the run, naming the probe, the sample and both files") {
    val (base, config) = twoTypeCorpus(15L)
    val sample = config.samples.find(_.files.size == 2).get.name
    val rna = Path.of(base, s"rna/$sample.txt")
    Files.writeString(rna, Files.readString(rna) + "m1\t3.25\n")
    val files = s"(file(s): mirna/$sample.txt, rna/$sample.txt)" // sorted
    for (e <- failuresInBothRegimes(base, config); part <- Seq("'m1'", s"'$sample'", files))
      assert(e.getMessage.contains(part), e.getMessage)
  }

  test("a base dir the JVM cannot encode as a path fails naming the dir and the file-name encoding") {
    val dir = Files.createTempDirectory("graft_corpus_unencodable")
    val base = writeCorpus(dir, nTrain = 4, nPredict = 2, nProbes = 3)
    val config = DefParser.parseFile(s"$base/input.txt")
    // a lone surrogate has no encoding in any charset
    val e = intercept[IllegalArgumentException](runMini(s"$base/\uD800", config))
    for (part <- Seq("base dir", "sun.jnu.encoding", "UTF-8 locale"))
      assert(e.getMessage.contains(part), e.getMessage)
  }

  test("rows_dropped counts the header, malformed and NA rows the lenient parse drops, in both regimes") {
    val dir = Files.createTempDirectory("graft_corpus_dropped")
    val base = writeCorpus(dir, nTrain = 6, nPredict = 2, nProbes = 4)
    val f = dir.resolve("expr/PRED-00.expr.txt")
    Files.writeString(f, Files.readString(f).replaceFirst("p003\t[^\t]*\t", "p003\tNA\t"))
    val config = DefParser.parseFile(s"$base/input.txt")
    // per file: the header line and the truncated row; plus the NA
    val want = 8 * 2 + 1
    assert(runMini(base, config).rowsDropped == want)
    assert(withBudget(0)(runMini(base, config)).rowsDropped == want)
  }

  test("a non-finite value fails the run, naming the probe, the sample and the file, in both regimes") {
    // a NaN once passed the lenient cast, entered the matrix and turned
    // every prediction of the run into -1.0 with exit code 0
    val dir = Files.createTempDirectory("graft_corpus_nan")
    val base = writeCorpus(dir, nTrain = 6, nPredict = 2, nProbes = 4)
    val f = dir.resolve("expr/TRAIN-02.expr.txt")
    Files.writeString(f, Files.readString(f).replaceFirst("p001\t[^\t]*\t", "p001\tNaN\t"))
    val config = DefParser.parseFile(s"$base/input.txt")
    for (e <- failuresInBothRegimes(base, config); part <- Seq("'NaN'", "'p001'", "'TRAIN-02'", "expr/TRAIN-02.expr.txt"))
      assert(e.getMessage.contains(part), e.getMessage)
  }

  test("a missing registered file fails the run, naming the sample, the type and the file, in both regimes") {
    val dir = Files.createTempDirectory("graft_corpus_missing")
    val base = writeCorpus(dir, nTrain = 6, nPredict = 2, nProbes = 4)
    val config = DefParser.parseFile(s"$base/input.txt")
    Files.delete(dir.resolve("expr/PRED-01.expr.txt"))
    for (e <- failuresInBothRegimes(base, config); part <- Seq("'PRED-01'", "expr file", "expr/PRED-01.expr.txt"))
      assert(e.getMessage.contains(part), e.getMessage)
  }

  test("the line rule: an unterminated quote runs to the end of the line; every non-finite spelling fails") {
    val rule = new Ingest.LineRule
    // a rule's first line keeps its byte-order mark (the tokenizer would
    // drop it from whichever line it saw first)
    assert(rule("\uFEFFq\t9", "f") == Ingest.Cell("\uFEFFq", 9.0))
    // an unterminated quoted name swallows the rest of the line, so the
    // row has no value and is dropped; an unterminated quoted value is
    // read (as Spark's CSV source read both)
    assert(rule("\"p\t1.5", "f") == Ingest.Dropped)
    assert(rule("p\t\"1.5", "f") == Ingest.Cell("p", 1.5))
    assert(rule(" \t ", "f") == Ingest.NoRecord)
    for (v <- Seq("NaN", "-NaN", "Infinity", "+Infinity", "-Infinity", "inf", "-INF", " nan ", "1e400", "-1e400")) {
      val e = intercept[IllegalArgumentException](rule(s"pX\t$v", "sample 'S' (expr file x.txt)"))
      for (part <- Seq("'pX'", "'S'", "x.txt")) assert(e.getMessage.contains(part), e.getMessage)
    }
  }

  test("the reader job cuts each share of the files into tasks of at most maxPartitionBytes") {
    val dir = Files.createTempDirectory("graft_corpus_task_bound")
    val base = writeCorpus(dir, nTrain = 8, nPredict = 4, nProbes = 6)
    val config = DefParser.parseFile(s"$base/input.txt")
    def cells(d: Ingest.DenseIngest) = (for (p <- d.observed.probes.indices; k <- d.observed.samples(p).indices)
      yield (d.observed.samples(p)(k), d.probeNames(p), d.observed.values(p)(k))).toSet
    // 12 files dealt over the session's 4 cores: 4 tasks of 3 files
    assert(spark.sparkContext.defaultParallelism == 4)
    val (_, ww) = work(Ingest.ingest(spark, base, config))
    assert(ww.readingJobs == 1 && ww.readingTasks == 4, s"${ww.readingTasks} reader task(s)")
    val whole = Ingest.ingestDense(spark, base, config, Long.MaxValue).get
    // every file over the bound: one task per file, in the same one job
    val (_, cw) = oneFilePerTask(work(Ingest.ingest(spark, base, config)))
    assert(cw.readingJobs == 1 && cw.readingTasks == 12, s"${cw.readingTasks} reader task(s)")
    // the dense regime reads the same tasks on driver threads
    val cut = oneFilePerTask(Ingest.ingestDense(spark, base, config, Long.MaxValue).get)
    assert(cells(cut) == cells(whole) && cells(whole).size == 12 * 6)
    assert(cut.rowsDropped == whole.rowsDropped)
  }

  test("a failed reader task stops the dense read: no thread claims a task after it") {
    val dir = Files.createTempDirectory("graft_corpus_failed_task")
    val base = writeCorpus(dir, nTrain = 150, nPredict = 50, nProbes = 2)
    // the path-first file is the first task's: its first row fails
    val f = dir.resolve("expr/PRED-00.expr.txt")
    Files.writeString(f, "p000\tNaN\n" + Files.readString(f))
    val config = DefParser.parseFile(s"$base/input.txt")
    val (e, opened) = oneFilePerTask(countingOpens(
      intercept[IllegalArgumentException](Ingest.ingestDense(spark, base, config, Long.MaxValue))))
    for (part <- Seq("'NaN'", "'p000'", "'PRED-00'", "expr/PRED-00.expr.txt"))
      assert(e.getMessage.contains(part), e.getMessage)
    assert(opened < 200, s"all $opened files opened after a task failed")
  }

  /** One expression file's bytes, each line an edge of the lenient rule:
    * a first row behind a byte-order mark, the header, `NA`, an empty
    * value, a name-only line, an empty name, `1,5`, `1_000`, blank and
    * whitespace-only lines, padded values and names, quoted fields (one
    * holding a tab, one an escaped quote), CRLF and CR line ends, extra
    * columns, Java's number spellings, an invalid byte, a byte-order
    * mark mid-file, `#`, quotes left open or followed by text.
    */
  private val edgeBytes: Array[Byte] = {
    val lines = Seq("\uFEFFfirst\t0.5", "probe\tvalue", "a\tNA", "b\t", "c", "\t1.0", "d\t1,5", "e\t1_000", "", "   ",
      "\t ", "f\t 2.5 ", " S \t3", "g\t\"3.5\"", "\"F\tG\"\t4.5", "\"q\\\"x\"\t5", "h\t6\r", "i\t7\tx\ty", "j\t1d",
      "k\t0x1p3", "l\t+9", "m\t.5", "n\t5.", "o\t7e2", "\uFEFFq\t9", "#c\t10", "\"open\t11", "w\t\"12", "\"ab\"c\t13",
      "x\"y\t14", "\"a\\\\b\"\t15", "rr\t\t1.0", "mm\t\"1.5\"x", "cr1\t1\rcr2\t2")
    val invalid = Array('p'.toByte, 0xFF.toByte, '\t'.toByte, '8'.toByte)
    (lines.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)) :+ invalid).flatMap(_ :+ '\n'.toByte).toArray
  }

  test("the lenient line rule reads what Spark's CSV source and try_cast read, in both regimes and the stream") {
    val dir = Files.createTempDirectory("graft_corpus_edges")
    Files.write(dir.resolve("plain.txt"), edgeBytes)
    scala.util.Using.resource(new java.util.zip.GZIPOutputStream(Files.newOutputStream(dir.resolve("packed.txt.gz"))))(
      _.write(edgeBytes))
    val files = Seq("S1" -> "plain.txt", "S2" -> "packed.txt.gz")
    // the oracle: Spark's CSV source, then try_cast, as ingest read the
    // files before its reader tasks
    val oracle = files.map { case (sample, f) =>
      val rows = spark.read.options(Map("sep" -> "\t", "header" -> "false"))
        .schema("probe_name STRING, raw_value STRING").csv(dir.resolve(f).toString)
        .selectExpr("probe_name", "try_cast(raw_value AS DOUBLE)").collect()
      val kept = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map(r => (sample, r.getString(0), r.getDouble(1)))
      (kept.toSet, rows.length - kept.length)
    }
    val want = oracle.flatMap(_._1).toSet
    val wantDropped = oracle.map(_._2).sum
    for (cell <- Seq(("S1", "first", 0.5), ("S2", "F\tG", 4.5), ("S1", "q\"x", 5.0), ("S1", " S ", 3.0),
        ("S2", "\uFEFFq", 9.0), ("S1", "p\uFFFD", 8.0), ("S1", "cr2", 2.0), ("S2", "w", 12.0)))
      assert(want(cell), s"the oracle no longer reads $cell")
    assert(want.size == 2 * 23 && wantDropped == 2 * 10, s"${want.size} cells, $wantDropped dropped")

    val config = DefParser.PipelineConfig(
      files.map { case (s, f) => DefParser.SampleSpec(s, predictive = false, tumorous = false, Map("expr" -> f)) },
      Seq("expr"), None, None)
    val r = Ingest.ingest(spark, dir.toString, config)
    val relational = r.matrix.collect()
      .map(row => (r.sampleNames(row.getInt(0)), r.probeNames(row.getInt(1)), row.getDouble(2))).toSet
    val d = Ingest.ingestDense(spark, dir.toString, config, Long.MaxValue).get
    val dense = (for (p <- d.observed.probes.indices; k <- d.observed.samples(p).indices) yield
      (r.sampleNames(d.observed.samples(p)(k)), d.probeNames(d.observed.probes(p)), d.observed.values(p)(k))).toSet
    assert(relational == want, s"relational: ${relational.diff(want)} read, ${want.diff(relational)} missed")
    assert(dense == want, s"dense: ${dense.diff(want)} read, ${want.diff(dense)} missed")
    assert(r.rowsDropped == wantDropped && d.rowsDropped == wantDropped)

    val q = graft.streaming.Streams.expressionFileStream(spark, dir.toString)
      .writeStream.format("memory").queryName("ingest_edges").outputMode("append").start()
    val streamed =
      try {
        q.processAllAvailable()
        spark.table("ingest_edges").collect()
          .map(row => (if (row.getString(0).endsWith(".gz")) "S2" else "S1", row.getString(1), row.getDouble(2))).toSet
      } finally q.stop()
    assert(streamed == want, s"stream: ${streamed.diff(want)} read, ${want.diff(streamed)} missed")
  }
}
