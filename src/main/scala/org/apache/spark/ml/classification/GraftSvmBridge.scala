package org.apache.spark.ml.classification

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.DiffFunction
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.feature.{Instance, InstanceBlock, StandardScalerModel}
import org.apache.spark.ml.linalg.{BLAS, Vector, Vectors}
import org.apache.spark.ml.optim.aggregator.HingeBlockAggregator
import org.apache.spark.ml.optim.loss.L2Regularization
import org.apache.spark.ml.stat.Summarizer
import org.apache.spark.ml.util.Identifiable
import scala.reflect.ClassTag

/** Bridge into LinearSVC's private pieces (the summarizer, the
  * standardizing transform, `InstanceBlock`, `HingeBlockAggregator`,
  * `L2Regularization` and the `LinearSVCModel` constructor) for
  * `graft.pipeline.Svm.trainDense`, the driver-side replica of
  * `LinearSVC.train`. Each function is one step of that method run over
  * local arrays instead of an RDD.
  */
object GraftSvmBridge {

  /** A broadcast that is only ever read on the driver: what
    * `HingeBlockAggregator` takes for its inputs, with no block manager
    * involved.
    */
  private final class Local[T: ClassTag](v: T) extends Broadcast[T](-1L) {
    override protected def getValue(): T = v
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }

  /** Feature means and standard deviations, from the summarizer
    * `LinearSVC.train` aggregates (unit weights).
    */
  def summarize(features: Array[Vector]): (Array[Double], Array[Double]) = {
    val summary = Summarizer.createSummarizerBuffer("mean", "std", "count")
    features.foreach(summary.add(_, 1.0))
    (summary.mean.toArray, summary.std.toArray)
  }

  /** Each vector scaled by `inverseStd`, not centered: `LinearSVC`'s
    * standardization (the aggregator centers virtually).
    */
  def scale(features: Array[Vector], inverseStd: Array[Double]): Array[Vector] = {
    val f = StandardScalerModel.getTransformFunc(Array.empty, inverseStd, false, true)
    features.map(f)
  }

  /** `RDDLossFunction` over the blocks of the scaled instances: the
    * mean hinge loss and gradient from `HingeBlockAggregator` plus the
    * L2 term on every coefficient but the intercept, as LinearSVC
    * builds it with standardization on.
    */
  def hingeLoss(
      scaled: Array[Vector],
      labels: Array[Double],
      inverseStd: Array[Double],
      scaledMean: Array[Double],
      regParam: Double,
  ): DiffFunction[BDV[Double]] = {
    val numFeatures = inverseStd.length
    val maxMemUsage = (InstanceBlock.DefaultBlockSizeInMB * 1024 * 1024).ceil.toLong
    val blocks = InstanceBlock.blokifyWithMaxMemUsage(
      scaled.indices.iterator.map(i => Instance(labels(i), 1.0, scaled(i))), maxMemUsage).toArray
    val bcInverseStd = new Local(inverseStd)
    val bcScaledMean = new Local(scaledMean)
    val regularization =
      if (regParam != 0.0)
        Some(new L2Regularization(regParam, (idx: Int) => idx >= 0 && idx < numFeatures, None))
      else None
    new DiffFunction[BDV[Double]] {
      override def calculate(coefficients: BDV[Double]): (Double, BDV[Double]) = {
        val agg = new HingeBlockAggregator(bcInverseStd, bcScaledMean, true)(
          new Local(Vectors.fromBreeze(coefficients)))
        blocks.foreach(agg.add)
        val gradient = agg.gradient
        val regLoss = regularization.map { reg =>
          val (loss, regGradient) = reg.calculate(Vectors.fromBreeze(coefficients))
          BLAS.axpy(1.0, regGradient, gradient)
          loss
        }.getOrElse(0.0)
        (agg.loss + regLoss, gradient.asBreeze.toDenseVector)
      }
    }
  }

  /** A fitted model from its coefficients and intercept. */
  def model(coefficients: Vector, intercept: Double): LinearSVCModel =
    new LinearSVCModel(Identifiable.randomUID("linearsvc"), coefficients, intercept)
}
