package graft.pipeline

import graft.SparkSpec
import org.apache.spark.ml.linalg.Vectors
import scala.util.Random

class SvmSpec extends SparkSpec {

  test("assembleFeatures sorts values by probe id (A7)") {
    val s = spark; import s.implicits._
    // insert probes out of order — vector must come back probe-sorted
    val m = Seq(
      (0, 2, 30.0), (0, 0, 10.0), (0, 1, 20.0),
      (1, 1, 50.0), (1, 2, 60.0), (1, 0, 40.0)).toDF("sample", "probe", "value")
    val f = Svm.assembleFeatures(m).collect()
      .map(r => r.getInt(0) -> r.getAs[org.apache.spark.ml.linalg.Vector]("features"))
      .toMap
    assert(f(0).toArray.toSeq == Seq(10.0, 20.0, 30.0))
    assert(f(1).toArray.toSeq == Seq(40.0, 50.0, 60.0))
  }

  test("assembleFeatures rejects an incomplete matrix") {
    val s = spark; import s.implicits._
    val m = Seq((0, 0, 1.0), (0, 1, 2.0), (1, 0, 3.0)).toDF("sample", "probe", "value")
    assertThrows[IllegalArgumentException] { Svm.assembleFeatures(m) }
  }

  test("separable synthetic data: 100% recovery, predictions are ±1.0 (P4)") {
    val s = spark; import s.implicits._
    val rnd = new Random(42)
    val nProbes = 6
    // class decided by probe 0: tumorous clusters at +5, normal at -5
    def mkSample(id: Int, tumorous: Boolean) = {
      val base = if (tumorous) 5.0 else -5.0
      (0 until nProbes).map(p =>
        (id, p, if (p == 0) base + rnd.nextGaussian() * 0.3 else rnd.nextGaussian()))
    }
    val train = (0 until 40).flatMap(i => mkSample(i, i % 2 == 0))
    val test = (40 until 60).flatMap(i => mkSample(i, i % 2 == 0))
    val features = Svm.assembleFeatures((train ++ test).toDF("sample", "probe", "value"))
    val labels = (0 until 40).map(i => (i, i % 2 == 0)).toDF("sample", "tumorous")
    val model = Svm.train(spark, features, labels, Svm.SvmParams(maxIter = 20))
    val preds = Svm.predict(
      model, features.filter($"sample" >= 40)).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(preds.size == 20)
    assert(preds.values.forall(p => p == 1.0 || p == -1.0))
    (40 until 60).foreach { i =>
      val expected = if (i % 2 == 0) 1.0 else -1.0
      assert(preds(i) == expected, s"sample $i")
    }
  }

  /** Overlapping classes (so the hinge loss is never zero) with one
    * zero-variance feature; feature 0 carries the class signal.
    */
  private def svmCase(seed: Int, n: Int, nF: Int): (Array[Array[Double]], Array[Boolean]) = {
    val rnd = new Random(seed)
    val tumorous = Array.tabulate(n)(i => i % 2 == 0)
    val rows = tumorous.map { t =>
      Array.tabulate(nF) { f =>
        if (f == 2) 3.5
        else if (f == 0) (if (t) 2.0 else -2.0) + rnd.nextGaussian() * 1.5
        else rnd.nextGaussian() * (f + 1)
      }
    }
    (rows, tumorous)
  }

  test("trainDense reproduces LinearSVC: coefficients and intercept within 1e-9, same predictions") {
    val s = spark; import s.implicits._
    def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    for ((seed, n, nF) <- Seq((1, 40, 6), (2, 62, 12), (3, 25, 30))) {
      val (rows, tumorous) = svmCase(seed, n, nF)
      val (fresh, _) = svmCase(seed + 100, 20, nF)
      val all = rows ++ fresh
      val features = all.zipWithIndex
        .map { case (r, i) => (i, Vectors.dense(r)) }.toSeq.toDF("sample", "features")
      val labels = tumorous.zipWithIndex.map { case (t, i) => (i, t) }.toSeq.toDF("sample", "tumorous")
      val params = Svm.SvmParams()
      val ml = Svm.train(spark, features, labels, params)
      val dense = Svm.trainDense(rows, tumorous, params)

      val (mc, dc) = (ml.coefficients.toArray, dense.coefficients.toArray)
      assert(mc.length == nF && dc.length == nF)
      assert(mc(2) == 0.0 && dc(2) == 0.0, s"seed $seed: zero-variance feature got a weight")
      assert(mc.indices.forall(i => close(mc(i), dc(i))),
        s"seed $seed: coefficients ${mc.toSeq} vs ${dc.toSeq}")
      assert(close(ml.intercept, dense.intercept), s"seed $seed: intercept ${ml.intercept} vs ${dense.intercept}")

      val mlPreds = Svm.predict(ml, features).collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      val densePreds = all.indices.map(i => i -> Svm.predictDense(dense, all(i))).toMap
      assert(densePreds == mlPreds, s"seed $seed")
      assert(mlPreds.values.toSet == Set(1.0, -1.0), s"seed $seed: a constant classifier")
    }
  }

  test("trainDense rejects a one-class training set in either direction") {
    val (rows, _) = svmCase(4, 20, 4)
    for (cls <- Seq(true, false)) {
      val e = intercept[IllegalArgumentException](Svm.trainDense(rows, Array.fill(rows.length)(cls)))
      assert(e.getMessage.contains("both classes"), e.getMessage)
    }
  }
}
