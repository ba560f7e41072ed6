package graft.pipeline

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end LUAD pipeline (reference `PipeLine.scala:7-42`):
  * definition file → ingest → ALS completion → optional Pearson/CC
  * probe filter → SVM train → predict → name-decoded output.
  *
  * Differences from the reference, all deliberate (SURVEY §4.1
  * anti-patterns): the matrix reaches the driver only in the
  * budget-gated dense regime (`Network.useDense`), where the ingested
  * matrix is read once and every later step runs on the driver arrays
  * — never re-parallelized as a matrix; in the relational regime shared
  * subtrees are persisted instead of recomputed per action; everything
  * is a pure function of (SparkSession, config).
  */
object LuadPipeline {

  final case class Result(
      predictions: DataFrame, // (sample_name STRING, prediction DOUBLE)
      nProbesBefore: Long,
      nProbesAfter: Long,
  )

  /** Wall-time one pipeline phase to stderr (profiling aid; per-module
    * timing is `perfbench/run.py --trace 1`).
    */
  private def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(f"[graft] phase $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  def run(
      spark: SparkSession,
      baseDir: String,
      config: DefParser.PipelineConfig,
      alsParams: Completion.AlsParams = Completion.AlsParams(),
      svmParams: Svm.SvmParams = Svm.SvmParams(),
  ): Result = {
    // a one-class training set is no classifier: LinearSVC fails deep
    // inside on all-normal labels but fits a constant +1 model on
    // all-tumorous ones — reject both before any work
    val nTumorous = config.training.count(_.tumorous)
    require(nTumorous > 0 && nTumorous < config.training.size,
      s"training set needs both classes: $nTumorous tumorous and " +
        s"${config.training.size - nTumorous} normal sample(s)")

    val ing = Ingest.ingest(spark, baseDir, config)
    // sample dictionary (id → name): registry-sized, built on the driver
    val sampleNames = ing.sampleDict.collect()
      .map(r => r.getAs[Int]("sample") -> r.getAs[String]("sample_name")).toMap
    // the coverage guard below makes the registered samples the covered
    // ones, so the gate needs no pass over the matrix
    if (Network.useDense(spark, sampleNames.size.toLong, ing.nProbes))
      runDense(spark, ing, sampleNames, config, alsParams, svmParams)
    else runRelational(spark, ing, sampleNames, config, alsParams, svmParams)
  }

  /** Loud coverage guard (r15 pipeline review): a registered sample
    * whose file(s) yield ZERO parseable rows (empty export, all values
    * failing the lenient cast) would otherwise vanish silently — no
    * matrix rows, nothing fabricated by completion, the training join
    * shrinks, and the run exits 0 with N-1 predictions.
    */
  private def requireCovered(sampleNames: Map[Int, String], covered: Int => Boolean): Unit = {
    val uncovered = sampleNames.toSeq.sorted.collect { case (id, name) if !covered(id) => name }
    require(uncovered.isEmpty,
      s"registered sample(s) with zero parseable matrix rows: " +
        s"${uncovered.mkString(", ")} — empty or fully unparseable file?")
  }

  /** Dense regime: the ingested matrix is collected once, and
    * completion, the network filter, training and prediction run on the
    * driver arrays — replicas of ml-ALS and LinearSVC (`completeDense`,
    * `trainDense`) plus one `denseSurvivors` pass. The predictions are a
    * local frame.
    */
  private def runDense(
      spark: SparkSession,
      ing: Ingest.IngestResult,
      sampleNames: Map[Int, String],
      config: DefParser.PipelineConfig,
      alsParams: Completion.AlsParams,
      svmParams: Svm.SvmParams,
  ): Result = {
    import spark.implicits._
    val observed = timed("ingest-materialize")(Completion.collectObserved(spark, ing.matrix))
    val covered = new java.util.BitSet
    observed.samples.foreach(_.foreach(covered.set))
    requireCovered(sampleNames, covered.get)
    val completed = timed("als-completion")(
      Completion.completeDense(observed, alsParams, spark.sparkContext.defaultParallelism))
    val keep = timed("network-and-assembly")(config.pcThreshold
      .fold(completed.probes.indices.toArray)(Network.denseSurvivors(spark, completed.values, _)))
    val rows = Svm.denseRows(keep.map(completed.values))
    val rowOf = completed.samples.zip(rows).toMap
    val sampleIds = sampleNames.map(_.swap)
    val training = config.training.flatMap(s => sampleIds.get(s.name).map(_ -> s.tumorous)).sortBy(_._1)
    val model = timed("svm-train")(
      Svm.trainDense(training.map(t => rowOf(t._1)).toArray, training.map(_._2).toArray, svmParams))
    val preds = config.predicting.flatMap(s => sampleIds.get(s.name))
      .map(id => (sampleNames(id), Svm.predictDense(model, rowOf(id))))
    Result(preds.toDF("sample_name", "prediction"), ing.nProbes, keep.length.toLong)
  }

  /** Relational regime: ml-ALS, the Pearson self-join → GraphX → filter
    * join, Spark-side assembly and LinearSVC, with shared subtrees
    * persisted.
    */
  private def runRelational(
      spark: SparkSession,
      ing: Ingest.IngestResult,
      sampleNames: Map[Int, String],
      config: DefParser.PipelineConfig,
      alsParams: Completion.AlsParams,
      svmParams: Svm.SvmParams,
  ): Result = {
    import spark.implicits._
    val matrix = ing.matrix.persist(StorageLevel.MEMORY_AND_DISK)
    val coveredSamples = timed("ingest-materialize") {
      matrix.select("sample").distinct().collect().map(_.getInt(0)).toSet
    }
    requireCovered(sampleNames, coveredSamples)
    val nBefore = ing.nProbes
    val cards = Some((coveredSamples.size.toLong, nBefore))

    val completed = timed("als-completion") {
      val c = Completion.complete(spark, matrix, alsParams, cards)
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count() // materialize inside the timed span
      c
    }
    // completion fabricates cells only for the OBSERVED sample × probe
    // grid, so the distinct sets — and `cards` — are unchanged by it

    // network filter + feature assembly: Pearson self-join → GraphX →
    // filter join → Spark-side assembly, whose vectors all have one
    // length (its probe_sig guard) — the survivor count
    val (features, nAfter) = timed("network-and-assembly") {
      val filtered = config.pcThreshold.fold(completed)(Network.filterRelational(spark, completed, _))
      val f = Svm.assembleFeatures(filtered)
      (f, f.select("features").head().getAs[Vector](0).size.toLong)
    }

    // training labels / prediction ids via the sample dictionary (F1/F2)
    val sampleDict = ing.sampleDict
    val labels = config.training
      .map(s => (s.name, s.tumorous)).toDF("sample_name", "tumorous")
      .join(sampleDict, "sample_name")
      .select("sample", "tumorous")
    val predictIds = config.predicting.map(_.name).toDF("sample_name")
      .join(sampleDict, "sample_name")
      .select("sample")

    val model = timed("svm-train")(Svm.train(spark, features, labels, svmParams))
    val toScore = features.join(broadcast(predictIds), Seq("sample"), "left_semi")
    val preds = Svm.predict(model, toScore)

    // P5 reverse decode: id → name; the reference emits "Unknown" for
    // unmapped ids (`PipeLine.scala:30`) — impossible here by
    // construction, kept as coalesce for the same output contract.
    val decoded = preds
      .join(broadcast(sampleDict), Seq("sample"), "left")
      .select(
        coalesce(col("sample_name"), lit("Unknown")).as("sample_name"),
        col("prediction"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    decoded.count() // materialize so every upstream block can be freed

    matrix.unpersist(); completed.unpersist()
    Result(decoded, nBefore, nAfter)
  }

  /** Output sink (K1/K2, `PipeLine.scala:33-38`): stdout when no output
    * path, else tab-separated part files with `%s%` replaced by epoch
    * millis. `parts` caps the part-file count — the reference writes
    * 8-way (`PipeLine.scala:36-37`, artifact `output/text.txt/1..8`)
    * and so does this by default; a single-task coalesce(1) write
    * would serialize the whole sink through one core the moment the
    * output is large. coalesce (not repartition): no shuffle, and it
    * can only lower the partition count — a small result that already
    * sits in fewer partitions stays as-is.
    */
  def writeOutput(
      result: DataFrame,
      outputPath: Option[String],
      parts: Int = 8,
  ): Unit =
    outputPath match {
      case None => result.collect().foreach(r => println(s"${r.get(0)}\t${r.get(1)}"))
      case Some(p) =>
        val path = p.replace("%s%", System.currentTimeMillis().toString)
        result.coalesce(parts).write.mode("overwrite").option("sep", "\t").csv(path)
    }

  /** CLI mirroring the reference driver: args(0) = definition file.
    *
    * Emits one `luad_e2e` JSON line on stderr (stdout belongs to the
    * print sink): `pipeline_s` is the in-JVM pipeline wall (parse → run
    * → sink), `session_s` is Spark-session construction.
    */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: LuadPipeline <definition-file> — args(0) must be the def-file path")
    val defFile = args(0)
    val baseDir = new java.io.File(defFile).getAbsoluteFile.getParent
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.fromEnv()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    val config = DefParser.parseFile(defFile)
    val result = run(spark, baseDir, config)
    writeOutput(result.predictions, config.outputPath)
    val pipelineS = (System.nanoTime() - t1) / 1e9
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    System.err.println(
      s"""{"metric":"luad_e2e","pipeline_s":${r3(pipelineS)},"session_s":${r3(sessionS)},""" +
        s""""n_probes_before":${result.nProbesBefore},"n_probes_after":${result.nProbesAfter}}""")
    spark.stop()
  }
}
