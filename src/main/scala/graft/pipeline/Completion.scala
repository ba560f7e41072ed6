package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ml.recommendation.{ALS, GraftAlsBridge}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Missing-entry detection + ALS matrix completion (reference
  * `PreProcess.scala:96-152`, A4/M1/M2/U2/R1).
  *
  * Reference params (`PreProcess.scala:130-138`): rank 10, 10
  * iterations, 100 blocks, lambda 0.9, seed 42.
  *
  * Scale design:
  *  - Missing cells come from a cross join of the distinct sample and
  *    probe id sets anti-joined against observed entries — the exact
  *    relational form of A4's per-group set difference, but with no
  *    per-group driver set and no collect. At 100 TB the cross join is
  *    (dims × dims), not (rows × rows): it only materializes absent
  *    coordinates.
  *  - The reference collects the COMPLETED matrix to the driver and
  *    re-parallelizes it (`PreProcess.scala:163`) — the scalability
  *    killer called out in SURVEY §3.1. Here the completed matrix stays
  *    a DataFrame end to end in the relational regime.
  *  - Dense regime (the `Network.fitsDense` budget admits the matrix to
  *    the driver): the observed matrix that `Ingest.ingestDense` merged
  *    on the driver is completed there by `completeDense`, a replica of
  *    ml-ALS on driver threads — no Spark job per ALS step.
  */
object Completion {

  final case class AlsParams(
      rank: Int = 10,
      maxIter: Int = 10,
      regParam: Double = 0.9,
      numBlocks: Int = 100,
      seed: Long = 42L,
  )

  /** (sample, probe) coordinates present in the full grid but absent
    * from the observed COO matrix.
    */
  def missingCells(matrix: DataFrame): DataFrame = {
    val samples = matrix.select("sample").distinct()
    val probes = matrix.select("probe").distinct()
    samples
      .crossJoin(probes)
      .join(matrix.select("sample", "probe"), Seq("sample", "probe"), "left_anti")
  }

  /** Effective block count for `card` ids: scales with the DATA,
    * `numBlocks` is only the cap. The reference's fixed 100 blocks on a
    * 62-sample dimension makes every ALS stage schedule ~100 near-empty
    * tasks and a 100×100-piece block exchange per iteration — measured
    * ~90 s of pure scheduling churn at the reference shape. ~512 ids per
    * block keeps each solve batched. Derived from CARDINALITY ONLY —
    * never core count: ml-ALS's factor init and normal-equation
    * accumulation depend on the blocking, so a core-derived count would
    * make seed-42 results differ across cluster sizes.
    */
  private def blocksFor(params: AlsParams, card: Long): Int =
    math.max(1L, math.min(params.numBlocks.toLong, (card + 511) / 512)).toInt

  /** Complete the matrix: observed ∪ ALS-predicted missing cells.
    * Deterministic under the fixed seed. Asserts completeness (the
    * reference silently relies on it for vector assembly,
    * `Trainer.scala:46`; ml-ALS would emit NaN on cold-start ids).
    */
  def complete(
      spark: SparkSession,
      matrix: DataFrame,
      params: AlsParams = AlsParams(),
      // caller-known (nSamples, nProbes), so a pipeline that already
      // counted the dictionaries doesn't pay two more distinct
      // shuffles just for the block sizing (r15 pipeline review)
      cards: Option[(Long, Long)] = None,
  ): DataFrame = {
    val observed = matrix.select("sample", "probe", "value")
    // persist: the emptiness probe and model.transform both consume the
    // cross-join anti-join — without the cache the full-grid enumeration
    // runs twice
    val missing = missingCells(observed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (missing.count() == 0) { missing.unpersist(); return observed }

    val (nSamples, nProbes) = cards.getOrElse((
      observed.select("sample").distinct().count(),
      observed.select("probe").distinct().count()))
    val userBlocks = blocksFor(params, nSamples)
    val itemBlocks = blocksFor(params, nProbes)

    val als = new ALS()
      .setUserCol("sample")
      .setItemCol("probe")
      .setRatingCol("value")
      .setRank(params.rank)
      .setMaxIter(params.maxIter)
      .setRegParam(params.regParam)
      .setNumUserBlocks(userBlocks)
      .setNumItemBlocks(itemBlocks)
      .setSeed(params.seed)
      .setColdStartStrategy("nan")
    val model = als.fit(observed)

    // localCheckpoint (eager): materializes predictions ONCE for the
    // NaN guard and every later consumer, truncates the ALS lineage,
    // and its blocks are freed with the RDD — no unpersist bookkeeping
    // leaking into callers
    val predicted = model
      .transform(missing)
      .select(col("sample"), col("probe"), col("prediction").cast("double").as("value"))
      .localCheckpoint()
    missing.unpersist()
    // every sample and probe has >=1 observed cell by construction
    // (a sample only registers with >=1 file) — so no NaN may survive
    val nan = predicted.filter(isnan(col("value"))).count()
    require(nan == 0, s"ALS cold-start produced $nan NaN cells")
    observed.union(predicted)
  }

  /** An observed COO matrix on the driver, by probe, as
    * `Ingest.ingestDense` merges it from its reader tasks (where a cell
    * observed twice fails the run): probe ids ascending; `samples(p)`
    * holds probe p's observed sample ids ascending, each once, and
    * `values(p)` their values aligned to it.
    */
  final case class Observed(
      probes: Array[Int],
      samples: Array[Array[Int]],
      values: Array[Array[Double]],
  )

  /** `complete` on the driver: the same completed cells, computed by a
    * replica of `ml.recommendation.ALS` with the same parameters.
    *
    *  - Ratings are the observed values cast to Float, as ml-ALS casts
    *    its rating column.
    *  - User (sample) factors start as `ALS.initialize` draws them:
    *    `userSeed` from `XORShiftRandom(seed)`, one stream per user
    *    block (`floorMod(id, blocks)`, ids ascending in a block).
    *  - Each iteration solves every item from the user factors, then
    *    every user from the item factors, each with ml-ALS's Cholesky
    *    solve, regularized by λ × its rating count.
    *  - A normal equation's AᵀA is built from the Gram of ALL source
    *    factors, summed once per half-iteration in source order: a
    *    destination with more observed sources than missing ones copies
    *    it and subtracts the missing sources' outer products; any other
    *    sums its observed ones. Aᵀb sums the observed ratings, skipping
    *    zeros as `NormalEquation.add` does. Sums run in ascending source
    *    order.
    *  - Destinations are dealt to `threads` driver threads
    *    (`DriverThreads`); a solve's arithmetic does not depend on which
    *    thread runs it, so neither does the result.
    *  - A missing cell is the Float dot product of its factors (the
    *    `ALSModel` predict UDF), cast to Double; observed cells keep
    *    their Double values.
    *
    * Float rounding can differ from ml-ALS in the last bit where the
    * two sum a normal equation in another order (ml-ALS adds each
    * rating's outer product in an order that follows its shuffle; the
    * Gram rule subtracts the missing ones from the sum of all); filled
    * cells agree to ~1e-7 relative. A matrix with no missing cell is
    * returned as observed.
    */
  def completeDense(observed: Observed, params: AlsParams, threads: Int): Network.DenseMatrix = {
    require(params.maxIter > 0, "completeDense needs at least one ALS iteration")
    val seen = new java.util.BitSet
    observed.samples.foreach(_.foreach(seen.set))
    val samples = seen.stream().toArray
    val nS = samples.length
    val nP = observed.probes.length
    val itemUsers = observed.samples.map(_.map(java.util.Arrays.binarySearch(samples, _)))
    if (itemUsers.forall(_.length == nS))
      return Network.DenseMatrix(observed.probes, samples, observed.values)

    val itemRatings = observed.values.map(_.map(_.toFloat))
    // the same ratings by user, probe indices ascending
    val counts = new Array[Int](nS)
    itemUsers.foreach(_.foreach(u => counts(u) += 1))
    val userItems = counts.map(n => new Array[Int](n))
    val userRatings = counts.map(n => new Array[Float](n))
    java.util.Arrays.fill(counts, 0)
    for (p <- 0 until nP; i <- itemUsers(p).indices) {
      val u = itemUsers(p)(i)
      userItems(u)(counts(u)) = p
      userRatings(u)(counts(u)) = itemRatings(p)(i)
      counts(u) += 1
    }

    val rank = params.rank
    var userFactors = new Array[Array[Float]](nS)
    val userBlocks = blocksFor(params, nS.toLong)
    val userSeed = GraftAlsBridge.userSeed(params.seed)
    (0 until userBlocks).foreach { b =>
      val members = (0 until nS).filter(k => Math.floorMod(samples(k), userBlocks) == b)
      members.zip(GraftAlsBridge.initialFactors(userSeed, b, members.size, rank))
        .foreach { case (k, f) => userFactors(k) = f }
    }

    val triK = rank * (rank + 1) / 2
    // dst j solved from the src factors of its ratings
    def solveAll(
        srcIdx: Array[Array[Int]],
        ratings: Array[Array[Float]],
        src: Array[Array[Float]],
    ): Array[Array[Float]] = {
      val nSrc = src.length
      // the source factors widened to double, as `NormalEquation.add`
      // widens them, and their Gram, summed in source order
      val x = new Array[Double](nSrc * rank)
      for (s <- 0 until nSrc; r <- 0 until rank) x(s * rank + r) = src(s)(r)
      val gram = new Array[Double](triK)
      (0 until nSrc).foreach(addOuter(gram, x, _, rank, 1.0))
      val out = new Array[Array[Float]](srcIdx.length)
      val next = new AtomicInteger
      DriverThreads.run(threads) { _ =>
        val solver = new GraftAlsBridge.Solver(rank)
        val (ata, atb) = (solver.ata, solver.atb)
        var j = next.getAndIncrement()
        while (j < out.length) {
          val idx = srcIdx(j)
          if (2 * idx.length > nSrc) {
            // more observed sources than missing: the Gram minus the
            // missing ones, walked in source order past the ascending idx
            System.arraycopy(gram, 0, ata, 0, triK)
            var i = 0
            var s = 0
            while (s < nSrc) {
              if (i < idx.length && idx(i) == s) i += 1 else addOuter(ata, x, s, rank, -1.0)
              s += 1
            }
          } else idx.foreach(addOuter(ata, x, _, rank, 1.0))
          var i = 0
          while (i < idx.length) {
            // `NormalEquation.add`'s daxpy, skipped for a zero rating
            val b = ratings(j)(i).toDouble
            if (b != 0.0) {
              val o = idx(i) * rank
              var r = 0
              while (r < rank) { atb(r) += b * x(o + r); r += 1 }
            }
            i += 1
          }
          out(j) = solver.solve(idx.length * params.regParam)
          j = next.getAndIncrement()
        }
      }
      out
    }
    var itemFactors: Array[Array[Float]] = null
    (0 until params.maxIter).foreach { _ =>
      itemFactors = solveAll(itemUsers, itemRatings, userFactors)
      userFactors = solveAll(userItems, userRatings, itemFactors)
    }

    val values = Array.tabulate(nP) { p =>
      val col = new Array[Double](nS)
      val seen = new Array[Boolean](nS)
      itemUsers(p).indices.foreach { i =>
        col(itemUsers(p)(i)) = observed.values(p)(i)
        seen(itemUsers(p)(i)) = true
      }
      var k = 0
      while (k < nS) {
        if (!seen(k)) {
          val (u, v) = (userFactors(k), itemFactors(p))
          var dot = 0.0f
          var r = 0
          while (r < rank) { dot += u(r) * v(r); r += 1 }
          col(k) = dot.toDouble
        }
        k += 1
      }
      col
    }
    Network.DenseMatrix(observed.probes, samples, values)
  }

  /** ap += sign · x_s x_sᵀ for the source factor x_s at
    * x(s·rank until (s+1)·rank), packed upper: `dspr`'s layout and
    * order, each product x_i · (sign · x_j). sign is ±1, so subtracting
    * an outer product rounds as adding its negation.
    */
  private def addOuter(ap: Array[Double], x: Array[Double], s: Int, rank: Int, sign: Double): Unit = {
    val o = s * rank
    var kk = 0
    var j = 0
    while (j < rank) {
      val xj = sign * x(o + j)
      var i = 0
      while (i <= j) { ap(kk + i) += x(o + i) * xj; i += 1 }
      kk += j + 1
      j += 1
    }
  }
}
