package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one JVM, one closed loop.
  *
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <benchDir>`,
  * run with the working directory the run may write in. Prints the
  * result as one JSON line prefixed with `PERFBENCH_RESULT `.
  */
object Main {

  /** Sessions built per run; set-up time takes their median. */
  val SessionBuilds = 3

  /** Operations in the untimed warm-up: the first in a fresh JVM costs two
    * to three later ones, the second is still about 10% slower than steady.
    */
  val WarmUps = 2

  /** The reference corpus's shape (62 samples: 40 training with 24
    * tumorous, 22 predictive; mirna and rna types; ~1% of cells missing;
    * a few samples without one type file), rna scaled to 1,000 probes.
    */
  val wide: Corpus.Shape = Corpus.Shape(
    nTrain = 40, nTumorTrain = 24, nPredict = 22,
    types = Seq(Corpus.mirna(1046), Corpus.rna(1000)),
    blockSize = 6, informativeEvery = 4, signal = 0.5,
    missingFrac = 0.01, samplesMissingAType = 3,
    threshold = 0.8, accuracyFloor = 0.75)

  val endToEnd: Seq[(String, String)] = Seq(
    "op_p50_s" -> "s", "ops_per_s" -> "1/s",
    "setup_s" -> "s", "heap_retained_mb" -> "MB")

  val perLayer: Seq[(String, String)] = {
    def c(names: String*) = names.map(_ -> "count")
    Seq("DefParser.wall_s" -> "s") ++ c("DefParser.lines") ++
      Seq("Ingest.wall_s" -> "s", "Ingest.task_s" -> "s", "Ingest.idle_frac" -> "ratio") ++
      c("Ingest.files", "Ingest.rows_read", "Ingest.cells") ++ Seq("Ingest.kept_ratio" -> "ratio") ++
      Seq("Completion.wall_s" -> "s", "Completion.task_s" -> "s", "Completion.idle_frac" -> "ratio") ++
      c("Completion.missing_cells") ++
      Seq("Completion.missing_ratio" -> "ratio", "Completion.shuffle_mb" -> "MB") ++
      Seq("Network.wall_s", "Network.pearson_s", "Network.cc_s", "Network.task_s").map(_ -> "s") ++
      Seq("Network.idle_frac" -> "ratio") ++ c("Network.pairs", "Network.edges") ++
      Seq("Network.edge_ratio" -> "ratio") ++ c("Network.probes_after") ++
      Seq("Network.shuffle_mb" -> "MB") ++
      Seq("Svm.assemble_s", "Svm.train_s", "Svm.predict_s", "Svm.task_s").map(_ -> "s") ++
      Seq("Svm.idle_frac" -> "ratio") ++ c("Svm.features", "Svm.train_rows") ++
      Seq("LuadPipeline.self_s" -> "s", "LuadPipeline.output_s" -> "s") ++
      c("LuadPipeline.output_rows", "spark.jobs", "spark.stages", "spark.tasks", "spark.task_failures") ++
      Seq("spark.spill_mb" -> "MB", "spark.gc_s" -> "s") ++
      Ops.modules.map(_._1).flatMap { m =>
        Seq(s"ops.$m.wall_s" -> "s", s"ops.$m.plan_s" -> "s", s"ops.$m.task_s" -> "s",
          s"ops.$m.idle_frac" -> "ratio", s"ops.$m.failed" -> "count")
      } ++ Seq("trace_overhead_s" -> "s")
  }

  def sparkMetrics(w: Trace.Work): Map[String, Double] = Map(
    "spark.jobs" -> w.jobs.toDouble, "spark.stages" -> w.stages.toDouble,
    "spark.tasks" -> w.tasks.toDouble, "spark.task_failures" -> w.taskFailures.toDouble,
    "spark.spill_mb" -> w.spillBytes / (1024.0 * 1024.0), "spark.gc_s" -> w.gcS)

  /** What a workload run measured. */
  final case class Run(
      attempted: Int,
      problems: Seq[String], // one per failed operation or check
      failedOps: Int,
      metrics: Map[String, Double],
  )

  def main(args: Array[String]): Unit = {
    require(args.length == 5, "usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <benchDir>")
    val Array(workload, seedS, secondsS, traceS, benchDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val work = new File(".").getAbsoluteFile.getParentFile
    val cores = Runtime.getRuntime.availableProcessors()

    val run = workload match {
      case "luad_wide" => luad(seed, seconds, traced, work, cores)
      case "ops_sf0.01" => ops(new File(benchDir), seed, seconds, traced, cores)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    System.err.println(f"[perfbench] attempted ${run.attempted}, failed ${run.failedOps}")
    run.problems.take(20).foreach(p => System.err.println(s"[perfbench] FAILED $p"))
    val units = (if (traced) perLayer else endToEnd).toMap
    val missing = units.keySet -- run.metrics.keySet
    require(missing.isEmpty, s"metrics not measured: ${missing.toSeq.sorted.mkString(", ")}")
    val metrics = (if (traced) perLayer else endToEnd).map { case (n, u) =>
      val v = run.metrics(n)
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n":{"value":${BigDecimal(v).bigDecimal.toPlainString},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${run.problems.isEmpty},"attempted":${run.attempted},""" +
      s""""failed":${run.failedOps},"metrics":$metrics}""")
    SparkSession.getActiveSession.foreach(_.stop())
  }

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median of every key over several traced runs; absent keys are 0. */
  private def medianMetrics(runs: Seq[Map[String, Double]]): Map[String, Double] =
    perLayer.map(_._1).map(k => k -> median(runs.map(_.getOrElse(k, 0.0)))).toMap

  /** Builds the session `SessionBuilds` times (stopping the earlier
    * ones), then runs the `WarmUps` operations on the last. Set-up time is
    * the median build plus the warm-up; the warm-up is too costly to
    * repeat inside a run.
    */
  private def setUp(cores: Int)(warmUp: SparkSession => Unit): (SparkSession, Double) = {
    var spark: SparkSession = null
    val builds = (1 to SessionBuilds).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores, cores)
      elapsed(t0)
    }
    val t0 = System.nanoTime()
    (1 to WarmUps).foreach(_ => warmUp(spark))
    val warm = elapsed(t0)
    Heap.retainedMb() // let the warm-up's garbage and Spark blocks go first
    System.err.println(f"[perfbench] session builds ${builds.map(b => f"$b%.2f").mkString(" ")} s, warm-up $warm%.2f s")
    (spark, median(builds) + warm)
  }

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Closed loop: the next operation starts when the last one finished;
    * at least one, then until `window` seconds have passed. A full
    * collection after each operation (outside its timing) starts every
    * operation from the same heap and gives the heap it retained.
    */
  private def loop[T](window: Double)(op: => T): (Seq[T], Seq[Double]) = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[(T, Double)]
    var n = 0
    while (n == 0 || elapsed(t0) < window) { out += ((op, Heap.retainedMb())); n += 1 }
    out.result().unzip
  }

  private def luad(seed: Long, seconds: Double, traced: Boolean, work: File, cores: Int): Run = {
    val corpus = Corpus.write(new File(work, "corpus"), wide, seed)
    val job = new Luad(corpus, new File(work, "out"))
    val problems = Seq.newBuilder[String]
    var failed = 0
    def checked(o: Luad.Outcome): Luad.Outcome = {
      val p = job.check(o, wide)
      if (p.nonEmpty) { failed += 1; problems ++= p }
      o
    }
    val (spark, setupS) = setUp(cores) { s =>
      problems ++= job.check(job.runOnce(s), wide).map("warm-up: " + _)
    }

    if (!traced) {
      val (plain, heap) = loop(seconds)(checked(job.runOnce(spark)))
      val walls = plain.map(_.seconds)
      System.err.println(s"[perfbench] run walls ${walls.map(w => f"$w%.2f").mkString(" ")} s, " +
        s"accuracy ${plain.map(o => f"${job.accuracy(o)}%.3f").mkString(" ")}")
      Run(plain.size, problems.result(), failed, Map(
        "op_p50_s" -> median(walls),
        "ops_per_s" -> plain.size / walls.sum,
        "setup_s" -> setupS,
        "heap_retained_mb" -> heap.head))
    } else {
      // untraced and traced runs alternate, from the same heap state
      val (pairs, _) = loop(seconds) {
        val plain = checked(job.runOnce(spark))
        Heap.retainedMb()
        val trace = new Trace(spark.sparkContext)
        trace.start()
        val (o, metrics) = job.runTraced(spark, trace, cores)
        checked(o)
        if (o.predictions != plain.predictions) {
          failed += 1
          problems += "traced run's predictions differ from the untraced run's"
        }
        (plain.seconds, o.seconds, metrics)
      }
      Files.write(new File(work, "trace.json").toPath, job.lastSpans.getBytes(StandardCharsets.UTF_8))
      Run(2 * pairs.size, problems.result(), failed,
        medianMetrics(pairs.map(_._3)) +
          ("trace_overhead_s" -> (median(pairs.map(_._2)) - median(pairs.map(_._1)))))
    }
  }

  private def ops(benchDir: File, seed: Long, seconds: Double, traced: Boolean, cores: Int): Run = {
    val dir = new File(benchDir, "data/sf0.01").getAbsolutePath
    val queries = Ops.selection(Ops.readGolden(new File(benchDir, "golden/ops_sf0.01_rows.tsv")))
    val rnd = new scala.util.Random(seed)
    val problems = Seq.newBuilder[String]
    val (spark, setupS) = setUp(cores) { s =>
      queries.foreach(q => Ops.runQuery(s, dir, q, None).error.foreach(e => problems += s"warm-up: $e"))
    }
    def pass(trace: Option[Trace]): Seq[Ops.Timing] =
      rnd.shuffle(queries).map(q => Ops.runQuery(spark, dir, q, trace))

    if (!traced) {
      // whole passes: every run times the same queries, in seeded orders
      val (passes, heap) = loop(seconds)(pass(None))
      val walls = passes.map(_.map(_.seconds).sum)
      System.err.println(s"[perfbench] pass walls ${walls.map(w => f"$w%.2f").mkString(" ")} s")
      val timings = passes.flatten
      val errors = timings.flatMap(_.error)
      Run(timings.size, problems.result() ++ errors, errors.size, Map(
        "op_p50_s" -> median(walls),
        "ops_per_s" -> timings.size / walls.sum,
        "setup_s" -> setupS,
        "heap_retained_mb" -> heap.head))
    } else {
      // whole passes, so every module is traced; untraced and traced
      // passes alternate, from the same heap state
      val (pairs, _) = loop(seconds) {
        val plain = pass(None)
        Heap.retainedMb()
        val trace = new Trace(spark.sparkContext)
        trace.start()
        val ts = pass(Some(trace))
        val spans = trace.finish()
        val all = new Trace.Work
        spans.foreach(s => all += s.work)
        all += trace.listener.unattributed
        (plain, ts, Ops.layerMetrics(ts, spans, cores) ++ sparkMetrics(all))
      }
      val timings = pairs.flatMap(p => p._1 ++ p._2)
      val errors = timings.flatMap(_.error)
      def passWall(p: Seq[Ops.Timing]): Double = p.map(_.seconds).sum
      Run(timings.size, problems.result() ++ errors, errors.size,
        medianMetrics(pairs.map(_._3)) +
          ("trace_overhead_s" -> (median(pairs.map(p => passWall(p._2))) - median(pairs.map(p => passWall(p._1))))))
    }
  }
}

/** Heap a session keeps between operations: in use right after a full
  * collection that follows an operation (cached data, plans, leaks).
  */
object Heap {
  def retainedMb(): Double = {
    // the first collection lets Spark's ContextCleaner drop the blocks of
    // unreachable RDDs and broadcasts; the second collects what it freed
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
