package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{HashPartitioner, SparkException}
import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pearson co-expression network + connected-components probe filter
  * (reference `PreProcess.scala:27-93,156-218`, A2/A3/F5/F6/G1/G2/A5/A6/F3).
  *
  * Scale design:
  *  - The reference collects all per-probe stats to the driver and runs
  *    an O(P²) nested loop against the broadcast copy
  *    (`PreProcess.scala:56-79`), pairing the two value lists
  *    positionally (quirk Q2). Here each probe's row is standardized
  *    over its sample-aligned values, so that r_ij = z_i · z_j, and one
  *    register-tiled kernel (`forEachEdge`) finds the pairs with
  *    |r| >= threshold and unions them into a min-root union-find —
  *    edges AND components in one pass, in two placements:
  *     - dense regime (skinny matrix under the driver budget,
  *       `fitsDense`): `denseSurvivors`, on driver threads over the
  *       matrix `Completion.completeDense` already holds — no Spark job;
  *     - relational regime: `panelSurvivors`, one Spark job whose tasks
  *       each take one pair of probe panels (`panelPairs`), so no
  *       shuffle carries pairs × samples rows and the driver holds only
  *       O(P) ints of union-find.
  *  - The sample-keyed self-join `pearsonEdges` (cost
  *    O(Σ_sample nnz_sample²), so it takes sparse matrices) and
  *    connected components as GraphX `connectedComponents()` (Pregel,
  *    the reference's delta iteration `PreProcess.scala:179-197`) or the
  *    DataFrame loop `connectedComponentsDF` serve the operator surface
  *    (`PipelineOps`, `SimilarityOps`, `DedupOps`), not the pipeline.
  *  - Representative per component: `min(probe)` — the reference takes
  *    an arbitrary group-first (quirk Q3); min is deterministic.
  */
object Network {

  /** Per-probe-pair Pearson r over a COO matrix (sample, probe, value),
    * upper triangle only (pi < pj), NaN/Inf guarded, |r| >= threshold.
    *
    * r = (n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))
    * with n = number of samples where BOTH probes are present (on a
    * completed matrix that is all samples — matching the reference,
    * which only runs this after completion).
    */
  def pearsonEdges(matrix: DataFrame, threshold: Double): DataFrame = {
    val a = matrix.select(
      col("sample"), col("probe").as("pi"), col("value").as("x"))
    val b = matrix.select(
      col("sample"), col("probe").as("pj"), col("value").as("y"))
    a.join(b, Seq("sample"))
      .filter(col("pi") < col("pj")) // F6 upper triangle
      .groupBy("pi", "pj")
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .withColumn(
        "den",
        sqrt(
          (col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))))
      // F5 guard, ANSI-safe: a zero-variance probe gives den = 0 — the
      // reference's NaN/Inf filter; under ANSI mode the division itself
      // would throw, so gate it instead of filtering afterwards
      .withColumn(
        "r",
        // least/greatest: fp guard against |r| overshooting 1 by ~1e-15
        when(col("den") > 0.0,
          least(lit(1.0), greatest(lit(-1.0),
            (col("n") * col("sxy") - col("sx") * col("sy")) / col("den")))))
      .filter(col("r").isNotNull && !isnan(col("r")))
      .filter(abs(col("r")) >= threshold)
      .select("pi", "pj", "r")
  }

  /** `pearsonEdges`' edges (pi < pj, |r| >= threshold) of a COMPLETE
    * COO matrix — as the reference runs it, post-completion only — from
    * the one network kernel over the `panelPairs` job: r = z_i · z_j of
    * the standardized rows, cost O(P²·n / cores). The pipeline builds no
    * edge frame: both regimes find components in the same pass.
    */
  def pearsonEdgesDense(spark: SparkSession, matrix: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    val (nSamples, nProbes) = matrix.select(countDistinct("sample"), countDistinct("probe")).as[(Long, Long)].head()
    val panels = panelCount(panelSlots(spark), nSamples * nProbes)
    panelPairs(matrix, nSamples, panels).flatMap { case (x, y) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
      for (s <- 0 until strips(x.z.length)) forEachEdge(x.z, s, y.z, threshold) { (a, b, r) =>
        val (i, j) = (x.ids(x.rows(a)), y.ids(y.rows(b)))
        out += ((math.min(i, j), math.max(i, j), r))
      }
      out
    }.toDF("pi", "pj", "r")
  }

  /** A complete COO matrix on the driver: probe ids ascending, the one
    * sample sequence every probe covers (ascending), and each probe's
    * values aligned to it — `values(p)(k)` is the cell (samples(k),
    * probes(p)).
    */
  final case class DenseMatrix(
      probes: Array[Int],
      samples: Array[Int],
      values: Array[Array[Double]],
  )

  /** The standardized row z = (x - mean) / (sd·sqrt(n)) of one probe's
    * values, so that r_ij = z_i · z_j; null for a zero-variance row,
    * which has no r (reference F5) and so no edge.
    */
  private def standardize(vs: Array[Double]): Array[Double] = {
    val n = vs.length
    val mean = vs.sum / n
    var ss = 0.0
    vs.foreach(v => ss += (v - mean) * (v - mean))
    val norm = math.sqrt(ss)
    if (norm == 0.0) null else vs.map(v => (v - mean) / norm)
  }

  /** The rows one kernel pass reads: probe ids ascending, and the
    * standardized rows `z` of those with nonzero variance (`zs` holds
    * null for the others), `z(k)` being probe `ids(rows(k))`'s.
    */
  private final class Panel(val ids: Array[Int], zs: Array[Array[Double]]) {
    val rows: Array[Int] = zs.indices.filter(zs(_) != null).toArray
    val z: Array[Array[Double]] = rows.map(zs)
  }

  /** Strips of `forEachEdge` over n rows: strip s is rows 4s until 4s + 4. */
  private def strips(n: Int): Int = (n + 3) / 4

  /** Calls `f(a, b, r)` for every row a of x in strip s and row b of y
    * with |r| >= threshold, r = x_a · y_b clamped to [-1, 1]. When y is
    * x itself, only the pairs a < b.
    *
    * Register-tiled: a full strip meets the rows of y four at a time,
    * 16 dots in 16 accumulators that read 8 rows per step of k. Each
    * dot is still its own sum over k ascending, as a scalar dot sums it,
    * so every r is bit-identical to one.
    */
  private def forEachEdge(x: Array[Array[Double]], s: Int, y: Array[Array[Double]], threshold: Double)(
      f: (Int, Int, Double) => Unit): Unit = {
    val n = y.length
    val a0 = 4 * s
    val aEnd = math.min(a0 + 4, x.length)
    def emit(a: Int, b: Int, d: Double): Unit = {
      // fp guard: z·z can overshoot ±1 by ~1e-15
      val r = math.min(1.0, math.max(-1.0, d))
      if (math.abs(r) >= threshold) f(a, b, r)
    }
    def emitDot(a: Int, b: Int): Unit = {
      val u = x(a)
      val v = y(b)
      var d = 0.0
      var k = 0
      while (k < u.length) { d += u(k) * v(k); k += 1 }
      emit(a, b, d)
    }
    // within one panel: the strip's own pairs, then the rows after it (a
    // short strip is the last, with none); across two: every row of y
    if (x eq y) for (a <- a0 until aEnd; c <- a + 1 until aEnd) emitDot(a, c)
    var b = if (x eq y) aEnd else 0
    if (aEnd - a0 == 4) {
      val x0 = x(a0); val x1 = x(a0 + 1); val x2 = x(a0 + 2); val x3 = x(a0 + 3)
      val len = x0.length
      while (b + 4 <= n) {
        val y0 = y(b); val y1 = y(b + 1); val y2 = y(b + 2); val y3 = y(b + 3)
        var d00, d01, d02, d03, d10, d11, d12, d13 = 0.0
        var d20, d21, d22, d23, d30, d31, d32, d33 = 0.0
        var k = 0
        while (k < len) {
          val u0 = x0(k); val u1 = x1(k); val u2 = x2(k); val u3 = x3(k)
          val v0 = y0(k); val v1 = y1(k); val v2 = y2(k); val v3 = y3(k)
          d00 += u0 * v0; d01 += u0 * v1; d02 += u0 * v2; d03 += u0 * v3
          d10 += u1 * v0; d11 += u1 * v1; d12 += u1 * v2; d13 += u1 * v3
          d20 += u2 * v0; d21 += u2 * v1; d22 += u2 * v2; d23 += u2 * v3
          d30 += u3 * v0; d31 += u3 * v1; d32 += u3 * v2; d33 += u3 * v3
          k += 1
        }
        emit(a0, b, d00); emit(a0, b + 1, d01); emit(a0, b + 2, d02); emit(a0, b + 3, d03)
        emit(a0 + 1, b, d10); emit(a0 + 1, b + 1, d11); emit(a0 + 1, b + 2, d12); emit(a0 + 1, b + 3, d13)
        emit(a0 + 2, b, d20); emit(a0 + 2, b + 1, d21); emit(a0 + 2, b + 2, d22); emit(a0 + 2, b + 3, d23)
        emit(a0 + 3, b, d30); emit(a0 + 3, b + 1, d31); emit(a0 + 3, b + 2, d32); emit(a0 + 3, b + 3, d33)
        b += 4
      }
    }
    // the last < 4 rows of y after a full strip, every row after a short one
    for (c <- b until n; a <- a0 until aEnd) emitDot(a, c)
  }

  /** Union-find root of x, halving the path on the way. */
  private def find(parent: Array[Int], x: Int): Int = {
    var a = x
    while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
    a
  }

  /** Joins the sets of a and b under the SMALLER root, so every root is
    * the minimum index of its set.
    */
  private def union(parent: Array[Int], a: Int, b: Int): Unit = {
    val (ra, rb) = (find(parent, a), find(parent, b))
    if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
  }

  /** The strip loop of one kernel thread or task: for each strip s of x
    * that `next` yields, until one runs past x's strips, unions every
    * above-threshold pair of s with the rows of y into a union-find over
    * x's probes then y's (x's alone when y is x); returns the entries it
    * changed, as probe ids: the probes that are not their own root, and
    * their roots.
    */
  private def unionStrips(x: Panel, y: Panel, threshold: Double, next: Iterator[Int]): (Array[Int], Array[Int]) = {
    val yOffset = if (x eq y) 0 else x.ids.length
    val parent = Array.range(0, yOffset + y.ids.length)
    next.takeWhile(_ < strips(x.z.length)).foreach(s =>
      forEachEdge(x.z, s, y.z, threshold)((a, b, _) => union(parent, x.rows(a), yOffset + y.rows(b))))
    val ids = if (x eq y) x.ids else x.ids ++ y.ids
    val changed = Array.range(0, parent.length).filter(i => parent(i) != i)
    (changed.map(ids), changed.map(find(parent, _)).map(ids))
  }

  /** The min-root merge: the roots — each set's minimum index — of
    * 0 until n once every changed entry is unioned with its root.
    */
  private def roots(n: Int, entries: Iterator[(Array[Int], Array[Int])]): Array[Int] = {
    val parent = Array.range(0, n)
    entries.foreach { case (xs, rs) => xs.indices.foreach(k => union(parent, xs(k), rs(k))) }
    Array.range(0, n).filter(i => find(parent, i) == i)
  }

  /** Row indices that survive the network filter: one pass of
    * `forEachEdge` over the standardized rows on `threads` driver threads
    * (`DriverThreads`). Each thread takes 4-row strips from a shared
    * counter, first strips (the costliest) first, and unions its
    * above-threshold pairs into its own union-find; the entries each
    * changed are merged into one. Roots are minimum indices, and rows
    * are in probe-id order, so the survivors — every root, i.e. each
    * component's minimum probe plus every probe with no edge — are
    * exactly what GraphX's min-id labels followed by `filterMatrix` keep,
    * whatever the thread count.
    */
  private[pipeline] def denseSurvivors(values: Array[Array[Double]], threshold: Double, threads: Int): Array[Int] = {
    val p = new Panel(values.indices.toArray, values.map(standardize))
    val next = new AtomicInteger
    val entries = new Array[(Array[Int], Array[Int])](threads)
    DriverThreads.run(threads)(t =>
      entries(t) = unionStrips(p, p, threshold, Iterator.continually(next.getAndIncrement())))
    roots(values.length, entries.iterator)
  }

  /** The task slots `panelCount` fills: `defaultParallelism`, but in a
    * local-mode session, whose tasks are threads of the driver, no more
    * than `DriverThreads.count` — `local[32]` on a 4-core host runs 4
    * tasks at once, not 32.
    */
  private[pipeline] def panelSlots(spark: SparkSession): Int =
    if (spark.sparkContext.isLocal) DriverThreads.count(spark) else spark.sparkContext.defaultParallelism

  /** Panels for the panel-pair job over `cells` cells on `slots` task
    * slots: the smallest B whose B(B+1)/2 pair tasks fill the slots and
    * whose tasks running at once hold at most `DefaultMaxDenseBytes` of z
    * between them — a task holds two panels, 16·cells/B bytes.
    */
  private[pipeline] def panelCount(slots: Int, cells: Long): Int =
    Iterator.from(1).find(b => b * (b + 1L) / 2 >= slots && 16 * cells * slots <= b * DefaultMaxDenseBytes).get

  /** One Spark task per probe-panel pair (a ≤ b) of a complete COO
    * matrix over `nSamples` samples, yielding panel a as x and panel b as
    * y (x itself when a = b). Probe p is in panel p mod `panels`; its row
    * is grouped and standardized on the executors, failing with
    * "duplicate" on a repeated sample and "complete matrix" short of
    * `nSamples` samples, and its z alone is shuffled to its panel's pairs.
    */
  private def panelPairs(matrix: DataFrame, nSamples: Long, panels: Int): RDD[(Panel, Panel)] = {
    val pairs = for (a <- 0 until panels; b <- a until panels) yield (a, b)
    val index = pairs.zipWithIndex.toMap
    val pairsOf = Array.tabulate(panels, panels)((p, q) => index((math.min(p, q), math.max(p, q))))
    import matrix.sparkSession.implicits._
    matrix.select("probe", "sample", "value").as[(Int, Int, Double)].rdd
      .map { case (p, s, v) => (p, (s, v)) }
      .groupByKey(pairs.size)
      .flatMap { case (probe, cells) =>
        val sorted = cells.toArray.sortBy(_._1)
        require(sorted.indices.drop(1).forall(k => sorted(k - 1)._1 < sorted(k)._1),
          s"probe $probe holds a duplicate (sample, probe) observation")
        require(sorted.length == nSamples, s"the Pearson network requires a complete matrix (every probe " +
          s"covers all $nSamples samples) — probe $probe covers ${sorted.length}")
        val row = (probe, standardize(sorted.map(_._2)))
        pairsOf(Math.floorMod(probe, panels)).iterator.map(_ -> row)
      }
      .partitionBy(new HashPartitioner(pairs.size))
      .mapPartitionsWithIndex { (k, it) =>
        val (a, b) = pairs(k)
        val (inA, inB) = it.map(_._2).toArray.sortBy(_._1).partition(r => Math.floorMod(r._1, panels) == a)
        val x = new Panel(inA.map(_._1), inA.map(_._2))
        Iterator((x, if (a == b) x else new Panel(inB.map(_._1), inB.map(_._2))))
      }
  }

  /** `denseSurvivors` as probe ids, ascending, from one `panelPairs`
    * job, for the relational regime: each task returns its changed
    * union-find entries (`unionStrips`), plus its panel's ids when a = b,
    * and the driver merges them by minimum root, holding O(probes) ints.
    */
  private[pipeline] def panelSurvivors(matrix: DataFrame, nSamples: Long, threshold: Double, panels: Int): Array[Int] = {
    val tasks = panelPairs(matrix, nSamples, panels).map { case (x, y) =>
      (if (x eq y) x.ids else Array.emptyIntArray, unionStrips(x, y, threshold, Iterator.from(0)))
    }
    val parts = try tasks.collect() catch { case e: SparkException => throw Ingest.taskFailure(e) }
    val ids = parts.flatMap(_._1).sorted
    val at = java.util.Arrays.binarySearch(ids, _: Int)
    roots(ids.length, parts.iterator.map { case (_, (xs, rs)) => (xs.map(at), rs.map(at)) }).map(ids)
  }

  /** Connected components over an (pi, pj) edge list via GraphX
    * (G1/G2). Returns (probe, component) with component = min probe id
    * in the component. Ids stay LongType end to end — 64-bit vertex
    * ids must not round-trip through Int at the 100 TB design point.
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    // Pregel schedules every iteration over the edge partitioning, so
    // an upstream with more partitions than cores (a self-join's shuffle
    // partitions, `pearsonEdgesDense`'s B(B+1)/2 panel pairs) is
    // coalesced first — CC at hundreds of partitions per iteration is
    // pure scheduler churn. coalesce: no shuffle.
    val target = math.max(1, spark.sparkContext.defaultParallelism)
    val edgeRdd = edges
      .select(col("pi").cast("long"), col("pj").cast("long"))
      .as[(Long, Long)]
      .rdd
      .coalesce(target)
      .map { case (i, j) => Edge(i, j, ()) }
    val graph = Graph.fromEdges(edgeRdd, (), StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
    // no maxIterations cap: Pregel halts when no label improves, so this
    // converges exactly; a cap (the reference uses 100) would silently
    // mislabel any component with diameter above it
    val cc = graph.connectedComponents()
    // materialize (eager localCheckpoint), then free the cached graph
    // and result RDDs EXPLICITLY: relying on GC-driven ContextCleaner
    // strands vertex/edge blocks for the session lifetime on a quiet
    // driver heap, evicting the pipeline's own persisted matrices —
    // the same discipline connectedComponentsDF applies to its edge
    // set (r15 pipeline review)
    val out = cc.vertices
      .map { case (v, c) => (v, c) }
      .toDF("probe", "component")
      .localCheckpoint()
    cc.unpersist(blocking = false)
    graph.unpersist(blocking = false)
    out
  }

  /** DataFrame-only connected components: iterative min-label
    * propagation with a shrinking plan (G1's delta-iteration semantics,
    * SQL-expressible engine path). Each round: candidate = min component
    * over neighbors ∪ self; converged when no label changes.
    * `localCheckpoint` truncates lineage so 100 rounds don't stack 100
    * joins into one plan.
    */
  def connectedComponentsDF(edges: DataFrame, maxIter: Int = 100): DataFrame = {
    val sym = edges
      .select(col("pi").as("src"), col("pj").as("dst"))
      .union(edges.select(col("pj").as("src"), col("pi").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = sym
      .select(col("src").as("probe"))
      .distinct()
      .withColumn("component", col("probe"))
      .localCheckpoint()
    // the checkpointed RDD behind a localCheckpoint'd frame — so the
    // loop can FREE the previous round's label blocks once the next
    // round is materialized. Without this, up to maxIter copies of the
    // probes-sized label table linger until GC-driven ContextCleaner
    // gets around to them (r15 pipeline review); with it, storage is
    // bounded at ~2 copies.
    def ckptRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    def round(ls: DataFrame): (DataFrame, Long) = {
      val candidates = sym
        .join(ls.withColumnRenamed("probe", "src"), "src")
        .groupBy(col("dst").as("probe"))
        .agg(min(col("component")).as("candidate"))
      val next = ls
        .join(candidates, Seq("probe"), "left")
        .select(
          col("probe"),
          least(col("component"), coalesce(col("candidate"), col("component")))
            .as("component"),
          (col("candidate") < col("component")).as("improved"))
      val materialized = next.localCheckpoint()
      (materialized.select("probe", "component"),
        materialized.filter(col("improved")).count())
    }
    // try/finally: the non-convergence require below (or any failure
    // mid-round) must not leak the persisted MEMORY_AND_DISK edge set
    // for the session's lifetime — a retry loop probing maxIter would
    // otherwise accumulate cached copies until executors evict. The
    // labels rows are localCheckpointed, so unpersisting sym before
    // returning them is safe.
    try {
      var changed = 1L
      var iter = 0
      while (changed > 0 && iter < maxIter) {
        val (next, c) = round(labels)
        // next is already materialized (eager localCheckpoint inside
        // round), so the previous round's blocks are dead — free them
        ckptRdd(labels).foreach(_.unpersist(false))
        labels = next
        changed = c
        iter += 1
      }
      // loud non-convergence: a component with diameter > maxIter would
      // otherwise return silently wrong labels (the GraphX path runs
      // uncapped to convergence, so only this loop needs the guard).
      // If the LAST permitted round still improved, the labels may
      // nevertheless be final (the improvement could have been the
      // convergence step) — one extra probe round distinguishes
      // converged-at-the-wire from genuinely truncated.
      if (changed > 0) {
        val (probeRound, residual) = round(labels)
        ckptRdd(probeRound).foreach(_.unpersist(false)) // count-only probe
        require(
          residual == 0,
          s"connectedComponentsDF did not converge in $maxIter iterations " +
            s"($residual labels still improving) — raise maxIter")
      }
      labels
    } finally sym.unpersist(): Unit
  }

  /** One representative probe per component (A6, deterministic `min`),
    * then keep only representatives plus probes untouched by the
    * network (reference F3: `newProbes` = component reps; probes with
    * no edge at all never entered the graph and survive).
    */
  def filterMatrix(
      matrix: DataFrame,
      components: DataFrame,
  ): DataFrame = {
    // invariant of BOTH CC implementations (GraphX labels with the min
    // vertex id; the DF loop converges to the min probe): component ==
    // min(probe in component), so the rep set IS the distinct component
    // ids — no groupBy-min aggregation needed (NetworkSpec pins the two
    // implementations equal, which pins this invariant)
    val reps = components.select(col("component").as("probe")).distinct()
    val inGraph = components.select("probe")
    // no broadcast hint: survivors ≈ all probes minus merged duplicates
    // — near nProbes rows, which must NOT be forced onto the driver at
    // scale; AQE picks broadcast on its own when it actually fits
    val survivors = reps
      .select("probe")
      .union(matrix.select("probe").distinct().join(inGraph, Seq("probe"), "left_anti"))
    matrix.join(survivors, Seq("probe"), "left_semi")
  }

  /** Driver-heap bytes the dense regime holds AT PEAK: during
    * `Completion.completeDense`, when everything below is reachable at
    * once —
    *  - the collected observed matrix: sample ids (4 B/cell) and values
    *    (8 B/cell);
    *  - ALS's ratings twice, by probe and by sample: an index (4 B) and
    *    a Float rating (4 B) per cell each, 16 B/cell;
    *  - the completed values (8 B/cell).
    * 36 B/cell. The network step that follows holds the completed
    * values and their standardized z rows (8 B/cell) — 16 B/cell, or 28
    * with the collected arrays still reachable, so the ALS peak bounds
    * it too. Factors (rank floats per probe and per sample) and per-array
    * headers are a few percent at the reference shape and not counted.
    */
  def denseFootprintBytes(nSamples: Long, nProbes: Long): Long =
    nSamples * nProbes * ((4L + 8L) + 2 * (4L + 4L) + 8L)

  /** Default dense-path driver budget: 256 MB — safe inside Spark's
    * 1 GB default driver heap with room for the broadcast manager and
    * the generated-class cache (`GraftSession.CodegenCacheEntries`,
    * at most ~30 MB).
    * Override per-session with `spark.graft.pearson.maxDenseBytes`.
    */
  val DefaultMaxDenseBytes: Long = 256L << 20

  /** The session's dense-regime driver budget:
    * `spark.graft.pearson.maxDenseBytes`, else `DefaultMaxDenseBytes`.
    */
  def maxDenseBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.pearson.maxDenseBytes").map(_.toLong).getOrElse(DefaultMaxDenseBytes)

  /** The dense-regime gate: a skinny matrix (few samples, many probes —
    * the reference shape) whose MODELED driver peak
    * (`denseFootprintBytes`, not a cell count) fits `maxBytes`.
    * `Ingest.ingestDense` applies it to the probes seen so far while its
    * reader threads run.
    */
  def fitsDense(nSamples: Long, nProbes: Long, maxBytes: Long): Boolean =
    nSamples <= 10000 && denseFootprintBytes(nSamples, nProbes) <= maxBytes

  /** Prints the regime decision of a run, once, with the gate's inputs. */
  def reportPath(dense: Boolean, nSamples: Long, nProbes: Long, maxBytes: Long): Unit =
    System.err.println(
      s"[graft] pearson path: ${if (dense) "dense-driver" else "relational-panels"} " +
        s"(samples=$nSamples probes=$nProbes cells=${nSamples * nProbes} " +
        s"footprint=${denseFootprintBytes(nSamples, nProbes)}B budget=${maxBytes}B)")
}
