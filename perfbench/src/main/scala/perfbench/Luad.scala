package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.pipeline._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The LUAD batch job as a user runs it: definition file → parse →
  * `LuadPipeline.run` → `writeOutput`, one run in flight at a time.
  */
final class Luad(corpus: Corpus.Expected, sinkDir: File) {
  import Luad.Outcome

  private val baseDir = corpus.defFile.getAbsoluteFile.getParent

  /** One untraced pipeline run; the wall covers parse to finished sink. */
  def runOnce(spark: SparkSession): Outcome = {
    val t0 = System.nanoTime()
    val config = DefParser.parseFile(corpus.defFile.getPath)
    val result = LuadPipeline.run(spark, baseDir, config)
    LuadPipeline.writeOutput(result.predictions, config.outputPath)
    val seconds = (System.nanoTime() - t0) / 1e9
    result.predictions.unpersist()
    Outcome(seconds, readSink(), result.nProbesBefore, result.nProbesAfter)
  }

  /** The sink's rows (every part file of the one output directory), which
    * are then removed so the next run finds an empty sink.
    */
  private def readSink(): Map[String, Double] = {
    val outs = Option(sinkDir.listFiles()).getOrElse(Array.empty[File])
    require(outs.length == 1, s"expected one output directory in $sinkDir, found ${outs.length}")
    val rows = outs.head.listFiles().toSeq
      .filter(f => f.getName.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f.toPath, StandardCharsets.UTF_8).toArray(Array.empty[String]))
    graft.GraftSession.rmTree(outs.head)
    val parsed = rows.map { r =>
      r.split("\t") match {
        case Array(name, label) => name -> label.toDouble
        case _ => throw new IllegalStateException(s"malformed sink row: '$r'")
      }
    }
    require(parsed.map(_._1).distinct.size == parsed.size, "sink holds a sample twice")
    parsed.toMap
  }

  /** Share of predictive samples labelled with their planted class. */
  def accuracy(o: Outcome): Double =
    corpus.predictive.count { s =>
      o.predictions.get(s).contains(if (corpus.tumorous(s)) 1.0 else -1.0)
    }.toDouble / corpus.predictive.size

  /** The probe count after the filter in the first checked run. */
  private var firstAfter: Option[Long] = None

  /** Failed checks of one run; empty when the output is correct.
    *
    * The probe count after the filter must be the same on every run and
    * near the planted block count: ALS fills the cells of a sample that
    * lacks a whole type from a rank-10 model, and such filled values can
    * split a block (seed 102 keeps 343 probes of 342 blocks), so the count
    * may exceed the blocks by up to 1%.
    */
  def check(o: Outcome, shape: Corpus.Shape): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (o.predictions.keySet != corpus.predictive.toSet)
      problems += s"sink holds ${o.predictions.size} samples, not the ${corpus.predictive.size} predictive ones"
    val bad = o.predictions.filter { case (_, v) => v != 1.0 && v != -1.0 }
    if (bad.nonEmpty) problems += s"labels other than ±1.0: ${bad.take(3)}"
    if (o.nProbesBefore != corpus.nProbes)
      problems += s"n_probes_before ${o.nProbesBefore} != generated ${corpus.nProbes}"
    if (o.nProbesAfter < corpus.nBlocks || o.nProbesAfter > corpus.nBlocks * 1.01)
      problems += s"n_probes_after ${o.nProbesAfter} is not within 1% above the ${corpus.nBlocks} planted blocks"
    firstAfter.filter(_ != o.nProbesAfter)
      .foreach(a => problems += s"n_probes_after ${o.nProbesAfter} differs from the first run's $a")
    if (firstAfter.isEmpty) firstAfter = Some(o.nProbesAfter)
    val acc = accuracy(o)
    if (acc < shape.accuracyFloor)
      problems += f"accuracy $acc%.3f below the floor ${shape.accuracyFloor}%.2f"
    problems.result()
  }

  /** The same job with a span around every module call, in the order
    * `LuadPipeline.run` makes them; each layer's result is forced at its
    * span boundary. Returns the outcome and the per-layer metrics.
    */
  def runTraced(spark: SparkSession, trace: Trace, cores: Int): (Outcome, Map[String, Double]) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    var ingest: Ingest.IngestResult = null
    var matrix: DataFrame = null
    var completed: DataFrame = null
    var filtered: DataFrame = null
    var features: DataFrame = null
    var decoded: DataFrame = null
    var nBefore, nAfter, nEdges = 0L
    var nSamples = 0L
    var covered = Set.empty[Int]
    var dense = false
    var config: DefParser.PipelineConfig = null

    trace.span("LuadPipeline") {
      config = trace.span("DefParser")(DefParser.parseFile(corpus.defFile.getPath))
      trace.span("Ingest") {
        ingest = Ingest.ingest(spark, baseDir, config)
        matrix = ingest.matrix.persist(StorageLevel.MEMORY_AND_DISK)
        covered = matrix.select("sample").distinct().collect().map(_.getInt(0)).toSet
        nBefore = matrix.select("probe").distinct().count()
      }
      nSamples = covered.size.toLong
      val uncovered = ingest.sampleDict.collect().filterNot(r => covered(r.getAs[Int]("sample")))
      require(uncovered.isEmpty, s"registered samples with no matrix rows: ${uncovered.mkString(", ")}")
      val cards = Some((nSamples, nBefore))
      trace.span("Completion") {
        completed = Completion.complete(spark, matrix, Completion.AlsParams(), cards)
          .persist(StorageLevel.MEMORY_AND_DISK)
        completed.count()
      }
      trace.span("Network") {
        // Network.apply's gate and steps, split so each gets its own span
        val t = config.pcThreshold.get
        val maxBytes = spark.conf.getOption("spark.graft.pearson.maxDenseBytes")
          .map(_.toLong).getOrElse(Network.DefaultMaxDenseBytes)
        dense = nSamples <= 10000 && Network.denseFootprintBytes(nSamples, nBefore) <= maxBytes
        val edges = trace.span("Network.pearson") {
          val e = (if (dense) Network.pearsonEdgesDense(spark, completed, t)
                   else Network.pearsonEdges(completed, t)).localCheckpoint()
          nEdges = e.count()
          e
        }
        val comps = trace.span("Network.cc") {
          val c = Network.connectedComponents(spark, edges)
          c.count()
          c
        }
        filtered = Network.filterMatrix(completed, comps).persist(StorageLevel.MEMORY_AND_DISK)
        filtered.count()
      }
      nAfter = filtered.select("probe").distinct().count()
      features = trace.span("Svm.assemble") {
        val f = Svm.assembleFeatures(filtered).persist(StorageLevel.MEMORY_AND_DISK)
        f.count()
        f
      }
      val sampleDict = ingest.sampleDict
      val labels = config.training
        .map(s => (s.name, s.tumorous)).toDF("sample_name", "tumorous")
        .join(sampleDict, "sample_name")
        .select("sample", "tumorous")
      val predictIds = config.predicting.map(_.name).toDF("sample_name")
        .join(sampleDict, "sample_name")
        .select("sample")
      val model = trace.span("Svm.train")(Svm.train(spark, features, labels, Svm.SvmParams()))
      decoded = trace.span("Svm.predict") {
        val toScore = features.join(broadcast(predictIds), Seq("sample"), "left_semi")
        val d = Svm.predict(model, toScore)
          .join(broadcast(sampleDict), Seq("sample"), "left")
          .select(coalesce(col("sample_name"), lit("Unknown")).as("sample_name"), col("prediction"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        d.count()
        d
      }
      trace.span("Output")(LuadPipeline.writeOutput(decoded, config.outputPath))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val spans = trace.finish()

    // counts read after the traced wall, from the still-persisted frames
    val cells = matrix.count()
    val completedCells = completed.count()
    val pairs =
      if (dense) nBefore * (nBefore - 1) / 2
      else completed.groupBy("sample").count().as[(Int, Long)].collect()
        .map { case (_, c) => c * (c - 1) / 2 }.sum
    val outputRows = decoded.count()
    Seq(matrix, completed, filtered, features, decoded).foreach(_.unpersist())

    val outcome = Outcome(wall, readSink(), nBefore, nAfter)
    def named(n: String): Seq[Trace.Span] = spans.filter(_.name == n)
    def secs(n: String): Double = named(n).map(_.seconds).sum
    def work(ns: String*): Trace.Work = {
      val w = new Trace.Work
      ns.flatMap(named).foreach(s => w += Trace.subtreeWork(s, spans))
      w
    }
    def idle(task: Double, wallS: Double): Double =
      if (wallS <= 0) 0.0 else 1.0 - task / (wallS * cores)
    val root = named("LuadPipeline").head
    val selfSum = spans.map(s => Trace.selfSeconds(s, spans)).sum
    require(math.abs(selfSum - root.seconds) < 1e-6,
      s"span self times sum to $selfSum s, not the traced wall ${root.seconds} s")
    val all = work("LuadPipeline")
    all += trace.listener.unattributed
    val mb = 1024.0 * 1024.0
    val w = Map(
      "Ingest" -> work("Ingest"), "Completion" -> work("Completion"),
      "Network" -> work("Network"), "Svm" -> work("Svm.assemble", "Svm.train", "Svm.predict"))
    val svmWall = secs("Svm.assemble") + secs("Svm.train") + secs("Svm.predict")
    val metrics = Map(
      "DefParser.wall_s" -> secs("DefParser"),
      "DefParser.lines" -> Files.readAllLines(corpus.defFile.toPath).size.toDouble,
      "Ingest.wall_s" -> secs("Ingest"),
      "Ingest.task_s" -> w("Ingest").runS,
      "Ingest.idle_frac" -> idle(w("Ingest").runS, secs("Ingest")),
      "Ingest.files" -> corpus.files.toDouble,
      "Ingest.rows_read" -> corpus.fileRows.toDouble,
      "Ingest.cells" -> cells.toDouble,
      "Ingest.kept_ratio" -> cells.toDouble / corpus.fileRows,
      "Completion.wall_s" -> secs("Completion"),
      "Completion.task_s" -> w("Completion").runS,
      "Completion.idle_frac" -> idle(w("Completion").runS, secs("Completion")),
      "Completion.missing_cells" -> (completedCells - cells).toDouble,
      "Completion.missing_ratio" -> (completedCells - cells).toDouble / (nSamples * nBefore),
      "Completion.shuffle_mb" -> w("Completion").shuffleBytes / mb,
      "Network.wall_s" -> secs("Network"),
      "Network.pearson_s" -> secs("Network.pearson"),
      "Network.cc_s" -> secs("Network.cc"),
      "Network.task_s" -> w("Network").runS,
      "Network.idle_frac" -> idle(w("Network").runS, secs("Network")),
      "Network.pairs" -> pairs.toDouble,
      "Network.edges" -> nEdges.toDouble,
      "Network.edge_ratio" -> (if (pairs == 0) 0.0 else nEdges.toDouble / pairs),
      "Network.probes_after" -> nAfter.toDouble,
      "Network.shuffle_mb" -> w("Network").shuffleBytes / mb,
      "Svm.assemble_s" -> secs("Svm.assemble"),
      "Svm.train_s" -> secs("Svm.train"),
      "Svm.predict_s" -> secs("Svm.predict"),
      "Svm.task_s" -> w("Svm").runS,
      "Svm.idle_frac" -> idle(w("Svm").runS, svmWall),
      "Svm.features" -> nAfter.toDouble,
      "Svm.train_rows" -> config.training.size.toDouble,
      "LuadPipeline.self_s" -> Trace.selfSeconds(root, spans),
      "LuadPipeline.output_s" -> secs("Output"),
      "LuadPipeline.output_rows" -> outputRows.toDouble,
    ) ++ Main.sparkMetrics(all)
    lastSpans = Trace.toJson(spans, t0)
    (outcome, metrics)
  }

  /** The most recent traced run's spans, as JSON. */
  var lastSpans: String = "[]"
}

object Luad {
  final case class Outcome(
      seconds: Double,
      predictions: Map[String, Double],
      nProbesBefore: Long,
      nProbesAfter: Long,
  )
}
