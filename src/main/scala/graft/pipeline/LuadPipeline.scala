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
  * anti-patterns): shared subtrees are persisted instead of recomputed
  * per action; the completed matrix reaches the driver only in the
  * budget-gated dense regime (`Network.useDense`), where it is read
  * once and never re-parallelized as a matrix; everything is a pure
  * function of (SparkSession, config).
  */
object LuadPipeline {

  final case class Result(
      predictions: DataFrame, // (sample_name STRING, prediction DOUBLE)
      nProbesBefore: Long,
      nProbesAfter: Long,
  )

  /** Wall-time one pipeline phase to stderr (profiling aid — the e2e
    * budget is tracked per-round).
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
    import spark.implicits._

    val ing = Ingest.ingest(spark, baseDir, config)
    val matrix = ing.matrix.persist(StorageLevel.MEMORY_AND_DISK)

    // ONE cardinality pass over the ingested matrix, reused by the
    // coverage guard here, the ALS block sizing, and the dense-path
    // gate; the probe count is the dictionary's size, which ingest
    // already knows
    val coveredSamples = timed("ingest-materialize") {
      matrix.select("sample").distinct().collect().map(_.getInt(0)).toSet
    }
    val nBefore = ing.nProbes
    val nSamples = coveredSamples.size.toLong
    val cards = Some((nSamples, nBefore))

    // loud coverage guard (r15 pipeline review): a registered sample
    // whose file(s) yield ZERO parseable rows (empty export, all
    // values failing the lenient cast) would otherwise vanish
    // silently — no matrix rows, nothing fabricated by completion, the
    // training join shrinks, and the run exits 0 with N-1 predictions
    val uncovered = ing.sampleDict.collect()
      .filter(r => !coveredSamples.contains(r.getAs[Int]("sample")))
      .map(_.getAs[String]("sample_name"))
    require(uncovered.isEmpty,
      s"registered sample(s) with zero parseable matrix rows: " +
        s"${uncovered.mkString(", ")} — empty or fully unparseable file?")

    val completed = timed("als-completion") {
      val c = Completion.complete(spark, matrix, alsParams, cards)
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count() // materialize inside the timed span
      c
    }
    // completion fabricates cells only for the OBSERVED sample × probe
    // grid, so the distinct sets — and `cards` — are unchanged by it

    // network filter + feature assembly. Dense regime: one collect and
    // one kernel pass, vectors built on the driver. Relational: Pearson
    // self-join → GraphX → filter join → Spark-side assembly, whose
    // vectors all have one length (its probe_sig guard) — the survivor
    // count.
    val (features, nAfter) = timed("network-and-assembly") {
      if (Network.useDense(spark, nSamples, nBefore))
        Network.denseFeatures(spark, completed, config.pcThreshold)
      else {
        val filtered = config.pcThreshold.fold(completed)(Network.filterRelational(spark, completed, _))
        val f = Svm.assembleFeatures(filtered)
        (f, f.select("features").head().getAs[Vector](0).size.toLong)
      }
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
    * Emits one `luad_e2e` JSON line (stderr — stdout belongs to the K1
    * print sink) carrying the same effective-cores calibration + drift
    * normalization as the bench mains (VERDICT r13 #3, executed r15):
    * the e2e wall crept 50.4 → 106 s over five rounds with each
    * reading adjudicated against host load in PROSE; the runner now
    * measures the load around the run and emits the normalized wall
    * itself. `pipeline_s` is the in-JVM pipeline wall (parse → run →
    * sink); `session_s` is Spark-session construction; sbt/JVM startup
    * stays outside the JVM's reach — historical BASELINE rows quote
    * the full sbt wall, so cross-round rows should compare
    * pipeline_s + session_s and note the ~25 s fixed sbt cost
    * separately. Normalization and cal_stable semantics are exactly
    * Bench's (normalized = raw × eff/nominal; spread over threshold →
    * read raw); since r19 the line carries BOTH instruments — the
    * bracket-only historical columns (*_2s, pipeline_normalized_s)
    * and the three-sample robust-spread columns (see the main body).
    */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: LuadPipeline <definition-file> — args(0) must be the def-file path")
    val defFile = args(0)
    val baseDir = new java.io.File(defFile).getAbsoluteFile.getParent
    val nominal = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").trim.toIntOption.getOrElse(32)
    val calPre = graft.Bench.effectiveCores(nominal)
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.fromEnv()
    val sessionS = (System.nanoTime() - t0) / 1e9
    // a third calibration sample BETWEEN session construction and the
    // pipeline wall (VERDICT r18 #4): it sits OUTSIDE both timed
    // windows, so the e2e walls are unperturbed — unlike Bench, whose
    // totals are sums of per-query times, this main's metric IS a
    // wall, so probing INSIDE it would inflate the thing measured.
    // Three samples spanning ~50 s catch the ~30 s-timescale churn
    // the two brackets alone were blind to.
    val calMid = graft.Bench.effectiveCores(nominal)
    val t1 = System.nanoTime()
    val config = DefParser.parseFile(defFile)
    val result = run(spark, baseDir, config)
    writeOutput(result.predictions, config.outputPath)
    val pipelineS = (System.nanoTime() - t1) / 1e9
    val calPost = graft.Bench.effectiveCores(nominal)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def r1(v: Double): Double = math.rint(v * 10) / 10
    // normalization formula + cal_stable threshold are Bench's, by
    // construction (shared Calibration), not by parallel maintenance.
    // TWO instruments side by side (r19): `c2` is the bracket-only
    // historical formula — pipeline_normalized_s and the *_2s fields
    // keep the exact meaning every recorded creep-watch row was
    // adjudicated under — while `c` folds the mid probe through the
    // robust spread (the r19 instrument; its cal_stable gates at the
    // n-aware Calibration.robustThresholdFor(3) ≈ 0.159 since r20 —
    // at n=3 the quantile gap degenerates to 0.8×range, so the flat
    // 0.30 gate was materially looser than the two-sample gate it
    // replaced, ADVICE r19 #2); cross-round rows compare like with
    // like and the new columns take over once anchored.
    val c2 = graft.Bench.Calibration(calPre._1, calPost._1, nominal)
    val c = graft.Bench.Calibration(calPre._1, calPost._1, nominal, Seq(calMid._1))
    System.err.println(
      s"""{"metric":"luad_e2e","pipeline_s":${r3(pipelineS)},""" +
        s""""pipeline_normalized_s":${r3(c2.normalize(pipelineS))},""" +
        s""""pipeline_normalized_all_s":${r3(c.normalize(pipelineS))},""" +
        s""""session_s":${r3(sessionS)},""" +
        s""""n_probes_before":${result.nProbesBefore},"n_probes_after":${result.nProbesAfter},""" +
        s""""effective_cores":{"pre":${r1(calPre._1)},"mid":${r1(calMid._1)},"post":${r1(calPost._1)}},""" +
        s""""cal_spread_2s":${r3(c2.spread)},"cal_stable_2s":${c2.stable},""" +
        s""""cal_spread":${r3(c.spread)},"cal_stable":${c.stable},""" +
        s""""load_factor":${r3(c.loadFactor)}}""")
    spark.stop()
  }
}
