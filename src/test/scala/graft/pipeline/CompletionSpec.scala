package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

class CompletionSpec extends SparkSpec {

  test("missingCells enumerates exactly the absent grid coordinates") {
    val s = spark; import s.implicits._
    val m = Seq((0, 0, 1.0), (0, 1, 2.0), (1, 0, 3.0)).toDF("sample", "probe", "value")
    val missing = Completion.missingCells(m)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(missing == Set((1, 1)))
  }

  test("ALS completion: dense output, observed values preserved, low RMSE on held-out low-rank data (P2)") {
    val s = spark; import s.implicits._
    val rnd = new Random(42)
    val nS = 30; val nP = 20; val rank = 3
    // ground-truth low-rank matrix M = U·Vᵀ
    val u = Array.fill(nS, rank)(rnd.nextGaussian())
    val v = Array.fill(nP, rank)(rnd.nextGaussian())
    def cell(i: Int, j: Int): Double =
      (0 until rank).map(k => u(i)(k) * v(j)(k)).sum
    val all = for { i <- 0 until nS; j <- 0 until nP } yield (i, j, cell(i, j))
    // hold out 15% of cells
    val (held, observed) = all.partition(_ => rnd.nextDouble() < 0.15)
    val obsDF = observed.toDF("sample", "probe", "value")

    val params = Completion.AlsParams(rank = 5, maxIter = 15, regParam = 0.05, numBlocks = 4)
    val completed = Completion.complete(spark, obsDF, params).cache()

    // dense: every (sample, probe) cell present exactly once
    assert(completed.count() == nS.toLong * nP)
    assert(completed.select("sample", "probe").distinct().count() == nS.toLong * nP)

    // observed cells ride through untouched — compare VALUES, not just
    // key membership (key counts are already implied by density above)
    val obsBack = completed.as("c")
      .join(obsDF.as("o"), Seq("sample", "probe"))
      .filter(col("c.value") =!= col("o.value"))
    assert(obsBack.count() == 0, "observed values were altered by completion")

    // held-out recovery RMSE well under the data's own scale
    val heldDF = held.toDF("sample", "probe", "truth")
    val joined = completed.join(heldDF, Seq("sample", "probe"))
    val rmse = math.sqrt(
      joined.select(avg(pow(col("value") - col("truth"), 2))).head().getDouble(0))
    val scale = math.sqrt(all.map(c => c._3 * c._3).sum / all.size)
    assert(rmse < scale * 0.5, s"RMSE $rmse vs scale $scale")
    completed.unpersist()
  }

  test("ALS completion is deterministic under fixed seed") {
    val s = spark; import s.implicits._
    val rnd = new Random(1)
    val obs = (for { i <- 0 until 10; j <- 0 until 8 if rnd.nextDouble() < 0.8 }
      yield (i, j, rnd.nextDouble() * 5)).toDF("sample", "probe", "value")
    val params = Completion.AlsParams(rank = 3, maxIter = 5, regParam = 0.1, numBlocks = 2)
    def runOnce() = Completion.complete(spark, obs, params)
      .orderBy("sample", "probe").collect().map(_.getDouble(2)).toSeq
    assert(runOnce() == runOnce())
  }

  test("completeDense reproduces ml-ALS: same cells, observed bit-identical, filled within 1e-6") {
    val s = spark; import s.implicits._
    // the pipeline's parameters, and a short weakly regularized run:
    // the default run converges to nearly the same cells from any
    // start, so only the short one pins the initial factors
    val paramSets = Seq(Completion.AlsParams(), Completion.AlsParams(maxIter = 2, regParam = 0.05))
    // (seed, samples, probes, missing share, sparse): one matrix over
    // 512 samples, so ml-ALS draws its initial factors from two user
    // blocks, and one with no missing cell. Sample ids are spread
    // (3i + 1), so block membership is not the index order. In a sparse
    // matrix the first sample holds 3 probes and the first probe 5
    // samples — fewer observed than missing, so their normal equations
    // are summed directly, the others' from the Gram.
    for ((seed, nS, nP, missingShare, sparse) <- Seq(
          (1, 40, 30, 0.15, false), (2, 600, 8, 0.1, false), (3, 25, 20, 0.0, false), (4, 40, 30, 0.1, true));
        params <- paramSets) {
      val rnd = new Random(seed)
      val u = Array.fill(nS, 3)(rnd.nextDouble() + 0.5)
      val v = Array.fill(nP, 3)(rnd.nextDouble() + 0.5)
      val cells = for {
        i <- 0 until nS; j <- 0 until nP
        if (if (sparse && i == 0) j < 3 else if (sparse && j == 0) i < 5 else rnd.nextDouble() >= missingShare)
      } yield (3 * i + 1, j, (0 until 3).map(k => u(i)(k) * v(j)(k)).sum + rnd.nextGaussian() * 0.1)
      val df = cells.toDF("sample", "probe", "value")
      val ml = Completion.complete(spark, df, params).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap

      val byProbe = cells.groupBy(_._2).toArray.sortBy(_._1).map(_._2.sortBy(_._1))
      val observed = Completion.Observed(
        byProbe.map(_.head._2), byProbe.map(_.map(_._1).toArray), byProbe.map(_.map(_._3).toArray))
      val dense = Completion.completeDense(observed, params, threads = 4)
      // the split over threads leaves every solve's arithmetic alone
      for (threads <- Seq(3, 1)) {
        val other = Completion.completeDense(observed, params, threads)
        assert(dense.values.indices.forall(p => java.util.Arrays.equals(dense.values(p), other.values(p))),
          s"seed $seed: result depends on the thread count")
      }
      val got = (for {
        p <- dense.probes.indices; k <- dense.samples.indices
      } yield (dense.samples(k), dense.probes(p)) -> dense.values(p)(k)).toMap

      assert(got.keySet == ml.keySet && ml.size == nS * nP, s"seed $seed: cell sets differ")
      val obs = cells.map(c => (c._1, c._2) -> c._3).toMap
      obs.foreach { case (cell, value) =>
        assert(java.lang.Double.doubleToRawLongBits(got(cell)) == java.lang.Double.doubleToRawLongBits(value),
          s"seed $seed: observed cell $cell altered")
      }
      val filled = ml.keySet -- obs.keySet
      assert(filled.isEmpty == (missingShare == 0.0), s"seed $seed")
      if (sparse) assert(obs.count(_._1._1 == 1) == 3 && obs.count(_._1._2 == 0) == 5)
      filled.foreach { cell =>
        val (a, b) = (got(cell), ml(cell))
        assert(math.abs(a - b) <= 1e-6 * math.max(math.abs(a), math.abs(b)),
          s"seed $seed, $params: filled cell $cell is $a, ml-ALS gives $b")
      }
    }
  }
}
