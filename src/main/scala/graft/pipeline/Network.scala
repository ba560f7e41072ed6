package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pearson co-expression network + connected-components probe filter
  * (reference `PreProcess.scala:27-93,156-218`, A2/A3/F5/F6/G1/G2/A5/A6/F3).
  *
  * Scale design:
  *  - The reference collects all per-probe stats to the driver and runs
  *    an O(P²) nested loop against the broadcast copy
  *    (`PreProcess.scala:56-79`), pairing the two value lists
  *    positionally (quirk Q2). Here ΣXY comes from a self-join on the
  *    sample key — alignment is explicit, the shuffle key is `sample`,
  *    and partial aggregation is map-side combinable. Cost is
  *    O(Σ_sample nnz_sample²) — the honest cost of all-pairs — but
  *    distributed, with no driver copy.
  *  - Dense regime (skinny matrix under the driver budget, `fitsDense`):
  *    the reference's own design — the matrix and its standardized rows
  *    on the driver — made sample-aligned. One pass (`denseSurvivors`)
  *    of a register-tiled kernel on driver threads finds edges AND
  *    components (per-thread union-find, merged by minimum root) over
  *    the matrix `Completion.completeDense` already holds: no Spark job,
  *    no broadcast.
  *  - Connected components elsewhere: GraphX `connectedComponents()`
  *    (Pregel, incremental frontier — same semantics as the reference's
  *    delta iteration `PreProcess.scala:179-197`, maxIter 100). The pure
  *    DataFrame loop `connectedComponentsDF` serves the operator surface
  *    (`PipelineOps`), not the pipeline; it checkpoints each round to
  *    truncate lineage.
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

  /** Dense skinny-matrix Pearson: when the sample dimension is small
    * (the reference corpus is 62 samples × 21.5k probes), the
    * relational self-join would shuffle O(P²·n) rows (~1.4e10 at
    * reference shape) — hopeless. Instead: standardize each probe's
    * sample-vector so that r_ij = z_i · z_j, broadcast the standardized
    * matrix (P × n doubles — ~10 MB at reference shape), and compute
    * the upper triangle as a distributed loop over 4-probe strips of
    * `forEachEdge`, the kernel `denseSurvivors` runs on the driver.
    * This is the reference's own A3 design (collected stats + closure
    * broadcast, `PreProcess.scala:56-79`) made distributed and
    * sample-aligned (quirk Q2 fixed). Cost O(P²·n / cores), no shuffle
    * at all. For millions of samples use `pearsonEdges` (relational) or
    * DIMSUM-style approximation instead.
    *
    * Requires a COMPLETE matrix (every sample × probe cell present) —
    * asserted; the reference runs it post-completion only. The
    * pipeline's dense regime does not build this edge frame: it runs
    * `denseSurvivors`, which finds components in the same pass.
    */
  def pearsonEdgesDense(spark: SparkSession, matrix: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    val d = collectDense(spark, matrix)
    val (rows, z) = standardize(d.values)
    val probes = rows.map(d.probes)
    val bz = spark.sparkContext.broadcast(z)
    val bp = spark.sparkContext.broadcast(probes)
    val n = strips(z.length)
    spark.sparkContext
      .parallelize(0 until n, kernelPartitions(spark, n))
      .flatMap { s =>
        val ids = bp.value
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
        forEachEdge(bz.value, s, threshold)((a, b, r) => out += ((ids(a), ids(b), r)))
        out.iterator
      }
      .toDF("pi", "pj", "r")
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

  /** A COO matrix grouped by probe, as a typed Dataset of PRIMITIVE
    * arrays: (probe, its sample ids ascending, the values aligned to
    * them). The encoder deserializes Array[Int]/Array[Double] as
    * int[]/double[] — a collected row costs the 4 + 8 bytes per cell
    * the dense gate budgets for, not the 4-6× boxed Seq overhead a
    * Row/Seq collect would carry.
    */
  private[pipeline] def byProbe(spark: SparkSession, matrix: DataFrame): Dataset[(Int, Array[Int], Array[Double])] = {
    import spark.implicits._
    matrix
      .groupBy("probe")
      .agg(
        expr("transform(array_sort(collect_list(struct(sample, value))), x -> x.sample)").as("ss"),
        expr("transform(array_sort(collect_list(struct(sample, value))), x -> x.value)").as("vs"))
      .as[(Int, Array[Int], Array[Double])]
  }

  /** The completed-matrix collect of `pearsonEdgesDense`:
    * `Completion.collectObserved` (one grouped collect, probe ids
    * ascending, no duplicate observation) plus the alignment guard —
    * every probe must cover the IDENTICAL sample array; equal counts
    * alone would let positionally-misaligned vectors through (the
    * reference's quirk Q2, the exact bug this module exists to fix).
    */
  private[pipeline] def collectDense(spark: SparkSession, matrix: DataFrame): DenseMatrix = {
    val observed = Completion.collectObserved(spark, matrix)
    val samples = observed.samples.head
    require(observed.samples.forall(java.util.Arrays.equals(_, samples)),
      "dense path requires a complete matrix (every probe covers the same samples) — matrix incomplete")
    DenseMatrix(observed.probes, samples, observed.values)
  }

  /** The standardized rows — z = (x - mean) / (sd·sqrt(n)), so that
    * r_ij = z_i · z_j — of every probe row with nonzero variance, with
    * their row indices ascending. A zero-variance row has no r (reference
    * F5), so it has no edge and is left out.
    */
  private def standardize(values: Array[Array[Double]]): (Array[Int], Array[Array[Double]]) = {
    val z = values.map { vs =>
      val n = vs.length
      val mean = vs.sum / n
      var ss = 0.0
      vs.foreach(v => ss += (v - mean) * (v - mean))
      val norm = math.sqrt(ss)
      if (norm == 0.0) null else vs.map(v => (v - mean) / norm)
    }
    val rows = z.indices.filter(z(_) != null).toArray
    (rows, rows.map(z))
  }

  /** Strips of `forEachEdge` over n rows: strip s is rows 4s until 4s + 4. */
  private def strips(n: Int): Int = (n + 3) / 4

  /** Many small strips: strip s costs ~4(n-4s) dots, so contiguous
    * ranges are skewed — 16× oversubscription lets the scheduler
    * balance them dynamically.
    */
  private def kernelPartitions(spark: SparkSession, nStrips: Int): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism * 16, nStrips))

  /** Calls `f(a, b, r)` for every pair of rows a < b of z with a in strip
    * s and |r| >= threshold, r = z_a · z_b clamped to [-1, 1].
    *
    * Register-tiled: a full strip meets the rows after it four at a time,
    * 16 dots in 16 accumulators that read 8 rows per step of k. Each
    * dot is still its own sum over k ascending, as a scalar dot sums it,
    * so every r is bit-identical to one.
    */
  private def forEachEdge(z: Array[Array[Double]], s: Int, threshold: Double)(
      f: (Int, Int, Double) => Unit): Unit = {
    val n = z.length
    val a0 = 4 * s
    val aEnd = math.min(a0 + 4, n)
    def emit(a: Int, b: Int, d: Double): Unit = {
      // fp guard: z·z can overshoot ±1 by ~1e-15
      val r = math.min(1.0, math.max(-1.0, d))
      if (math.abs(r) >= threshold) f(a, b, r)
    }
    def emitDot(a: Int, b: Int): Unit = {
      val x = z(a)
      val y = z(b)
      var d = 0.0
      var k = 0
      while (k < x.length) { d += x(k) * y(k); k += 1 }
      emit(a, b, d)
    }
    // the strip's own pairs; a short strip is the last, with no row after it
    for (a <- a0 until aEnd; b <- a + 1 until aEnd) emitDot(a, b)
    var b = aEnd
    if (aEnd - a0 == 4) {
      val x0 = z(a0); val x1 = z(a0 + 1); val x2 = z(a0 + 2); val x3 = z(a0 + 3)
      val len = x0.length
      while (b + 4 <= n) {
        val y0 = z(b); val y1 = z(b + 1); val y2 = z(b + 2); val y3 = z(b + 3)
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
    // the last < 4 rows after a full strip
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
    val nP = values.length
    val (rows, z) = standardize(values)
    val next = new AtomicInteger
    val parents = new Array[Array[Int]](threads)
    DriverThreads.run(threads) { t =>
      val parent = Array.tabulate(nP)(identity)
      var s = next.getAndIncrement()
      while (s < strips(z.length)) {
        forEachEdge(z, s, threshold)((a, b, _) => union(parent, rows(a), rows(b)))
        s = next.getAndIncrement()
      }
      parents(t) = parent
    }
    val parent = Array.tabulate(nP)(identity)
    parents.foreach(p => p.indices.foreach(x => if (p(x) != x) union(parent, x, find(p, x))))
    parent.indices.filter(i => find(parent, i) == i).toArray
  }

  /** Connected components over an (pi, pj) edge list via GraphX
    * (G1/G2). Returns (probe, component) with component = min probe id
    * in the component. Ids stay LongType end to end — 64-bit vertex
    * ids must not round-trip through Int at the 100 TB design point.
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    // Pregel schedules every iteration over the edge partitioning, so
    // an oversubscribed upstream (the dense-Pearson stage deliberately
    // runs 16× cores) must be coalesced first — CC at 500+ partitions
    // per iteration is pure scheduler churn. coalesce: no shuffle.
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
    * scan runs.
    */
  def fitsDense(nSamples: Long, nProbes: Long, maxBytes: Long): Boolean =
    nSamples <= 10000 && denseFootprintBytes(nSamples, nProbes) <= maxBytes

  /** Prints the regime decision of a run, once, with the gate's inputs. */
  def reportPath(dense: Boolean, nSamples: Long, nProbes: Long, maxBytes: Long): Unit =
    System.err.println(
      s"[graft] pearson path: ${if (dense) "dense-driver" else "relational-self-join"} " +
        s"(samples=$nSamples probes=$nProbes cells=${nSamples * nProbes} " +
        s"footprint=${denseFootprintBytes(nSamples, nProbes)}B budget=${maxBytes}B)")

  /** The relational regime's network step: Pearson self-join edges →
    * GraphX CC → `filterMatrix`.
    */
  def filterRelational(spark: SparkSession, matrix: DataFrame, threshold: Double): DataFrame = {
    val t0 = System.nanoTime()
    // localCheckpoint (eager): materializing splits the timing and
    // keeps GraphX off the full Pearson lineage
    val edges = pearsonEdges(matrix, threshold).localCheckpoint()
    val t1 = System.nanoTime()
    // materialized + localCheckpoint'd inside (so it can free its
    // cached GraphX RDDs)
    val comps = connectedComponents(spark, edges)
    val t2 = System.nanoTime()
    System.err.println(
      f"[graft] pearson edges ${(t1 - t0) / 1e9}%.1f s, cc ${(t2 - t1) / 1e9}%.1f s")
    filterMatrix(matrix, comps)
  }
}
