package graft.pipeline

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, OWLQN}
import dev.ludovic.netlib.blas.JavaBLAS
import org.apache.spark.ml.classification.{GraftSvmBridge, LinearSVC, LinearSVCModel}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Feature assembly + soft-margin SVM train/predict (reference
  * `Trainer.scala`, A7/F1/F2/M3/M4/J3).
  *
  * Label codec: the reference trains on ±1.0 hinge labels
  * (`Trainer.scala:49`); `LinearSVC` (hinge loss — the same objective
  * family as FlinkML's CoCoA SDCA) wants {0,1}, so labels are remapped
  * on the way in and predictions mapped back to ±1.0 on the way out.
  *
  * Id plumbing: the reference re-attaches sample ids to predictions by
  * joining on DenseVector EQUALITY (`Trainer.scala:102-109`, J3) —
  * which collides if two samples share identical vectors. `ml`
  * transformers preserve all input columns, so the id simply rides
  * through `transform` (SURVEY §7.4 risk 3).
  *
  * Dense regime: `trainDense` fits the same `LinearSVCModel` on the
  * driver from feature rows it already holds, and `predictDense` scores
  * one row — no Spark job, where LinearSVC runs one `treeAggregate` job
  * per loss evaluation.
  */
object Svm {

  final case class SvmParams(maxIter: Int = 10, regParam: Double = 1.0)

  /** Per-sample dense feature vectors from the completed COO matrix:
    * values sorted by probe id (A7's `sortBy`), asserted equal-length
    * (matrix completeness — the reference silently relies on it; a
    * DUPLICATE (sample, probe) observation upstream also trips this
    * guard, by design: fabricating or arbitrarily picking one of two
    * conflicting observations would be silent data loss).
    */
  def assembleFeatures(matrix: DataFrame): DataFrame = {
    val toVec = udf { (vs: Seq[Double]) => Vectors.dense(vs.toArray) }
    // localCheckpoint: the completeness count below is a full action
    // over this aggregation — the heaviest post-network stage — and the
    // caller's materialization would otherwise run it a SECOND time
    // (the frame is samples-sized, so materializing it is cheap)
    val assembled = matrix
      .groupBy("sample")
      .agg(
        expr("transform(array_sort(collect_list(struct(probe, value))), x -> x.value)")
          .as("values"),
        // fingerprint of the probe SEQUENCE: equal vector lengths alone
        // would let two samples with different probe sets through, and
        // position k would then hold DIFFERENT probes per sample —
        // silently garbled features (quirk Q2's positional bug again)
        expr("md5(concat_ws(',', transform(array_sort(collect_list(struct(probe, value))), x -> x.probe)))")
          .as("probe_sig"))
      .localCheckpoint()
    val sigs = assembled.select("probe_sig").distinct().count()
    require(
      sigs == 1,
      s"samples cover $sigs distinct probe sets — matrix incomplete (or a " +
        "duplicate (sample, probe) observation survived ingest); feature " +
        "positions would misalign")
    assembled.select(col("sample"), toVec(col("values")).as("features"))
  }

  /** Per-sample feature rows from driver-resident probe columns:
    * `columns(p)(k)` is probe p's value for sample k, with columns in
    * probe-id order, and row k is sample k's vector — the same values,
    * bit for bit, as `assembleFeatures` over the matching COO matrix.
    * The caller guarantees completeness and at least one column.
    */
  def denseRows(columns: Array[Array[Double]]): Array[Array[Double]] =
    Array.tabulate(columns.head.length)(k => columns.map(_(k)))

  /** Train on the labeled subset (F1 semi-join on training ids),
    * labels ±1.0 → {0,1}.
    */
  def train(
      spark: SparkSession,
      features: DataFrame,
      labels: DataFrame, // (sample INT, tumorous BOOLEAN)
      params: SvmParams = SvmParams(),
  ): LinearSVCModel = {
    val training = features
      .join(broadcast(labels), "sample")
      .withColumn("label", when(col("tumorous"), 1.0).otherwise(0.0))
    new LinearSVC()
      .setMaxIter(params.maxIter)
      .setRegParam(params.regParam)
      .setFeaturesCol("features")
      .setLabelCol("label")
      .fit(training)
  }

  /** Predict ±1.0 for the given samples (F2 filter), id preserved
    * through transform — no vector-equality join.
    */
  def predict(
      model: LinearSVCModel,
      features: DataFrame,
  ): DataFrame =
    model
      .transform(features)
      .select(
        col("sample"),
        when(col("prediction") === 1.0, 1.0).otherwise(-1.0).as("prediction"))

  /** LinearSVC's default convergence tolerance. */
  private val Tol = 1e-6

  /** `Svm.train` on the driver: a replica of `LinearSVC.train` (Spark
    * 4.1) with LinearSVC's defaults and `params`, over local rows.
    * Steps, each through the Spark code LinearSVC runs
    * (`GraftSvmBridge`): feature mean/std from its summarizer (the
    * class check is the `require` below); features scaled by 1/std (zero for a constant
    * feature); `InstanceBlock` blocks; the hinge loss and gradient
    * folded over the blocks as `RDDLossFunction` folds them, plus L2
    * on every coefficient but the intercept; `OWLQN(maxIter, 10, tol)`
    * with zero L1 from zeros; then the intercept's mean correction and
    * the un-scaling. Coefficients agree with `train` to rounding — the
    * sums run in another order than LinearSVC's partitioned ones.
    *
    * `tumorous(i)` labels `features(i)`; both classes must occur
    * (LinearSVC fails on all-normal data and fits a constant model on
    * all-tumorous data — neither is a classifier).
    */
  def trainDense(
      features: Array[Array[Double]],
      tumorous: Array[Boolean],
      params: SvmParams = SvmParams(),
  ): LinearSVCModel = {
    val nTumorous = tumorous.count(identity)
    require(nTumorous > 0 && nTumorous < tumorous.length,
      s"SVM training needs both classes: $nTumorous tumorous, ${tumorous.length - nTumorous} normal")
    val vectors: Array[Vector] = features.map(Vectors.dense)
    val labels = tumorous.map(t => if (t) 1.0 else 0.0)
    val (mean, std) = GraftSvmBridge.summarize(vectors)
    val n = mean.length
    val inverseStd = std.map(s => if (s != 0) 1.0 / s else 0.0)
    val scaledMean = Array.tabulate(n)(i => inverseStd(i) * mean(i))
    val loss = GraftSvmBridge.hingeLoss(
      GraftSvmBridge.scale(vectors, inverseStd), labels, inverseStd, scaledMean, params.regParam)
    val optimizer = new OWLQN[Int, BDV[Double]](params.maxIter, 10, (_: Int) => 0.0, Tol)
    // LinearSVC adds scaledMean · (zero coefficients) = 0 to the zero
    // initial intercept
    val states = optimizer.iterations(new CachedDiffFunction(loss), BDV.zeros[Double](n + 1))
    require(states.hasNext, "OWLQN failed")
    val solution = states.reduceLeft((_, s) => s).x.toArray
    solution(n) -= JavaBLAS.getInstance.ddot(n, solution, 1, scaledMean, 1)
    val coefficients = Array.tabulate(n)(i => if (std(i) != 0.0) solution(i) / std(i) else 0.0)
    GraftSvmBridge.model(Vectors.dense(coefficients).compressed, solution(n))
  }

  /** ±1.0 for one feature row, as `predict` labels it. */
  def predictDense(model: LinearSVCModel, features: Array[Double]): Double =
    if (model.predict(Vectors.dense(features)) == 1.0) 1.0 else -1.0
}
