package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.graphx.{Edge, Graph}
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
  *    positionally (quirk Q2). Here ΣXY comes from a self-join on the
  *    sample key — alignment is explicit, the shuffle key is `sample`,
  *    and partial aggregation is map-side combinable. Cost is
  *    O(Σ_sample nnz_sample²) — the honest cost of all-pairs — but
  *    distributed, with no driver copy.
  *  - Dense regime (skinny matrix under the driver budget, `useDense`):
  *    the reference's own design — the matrix on the driver, its
  *    standardized rows broadcast — made sample-aligned. One pass
  *    finds edges AND components (per-task union-find, merged on the
  *    driver), and `denseFeatures` assembles the SVM vectors from the
  *    arrays already collected.
  *  - Connected components elsewhere: GraphX `connectedComponents()`
  *    (Pregel, incremental frontier — same semantics as the reference's
  *    delta iteration `PreProcess.scala:179-197`, maxIter 100). A pure
  *    DataFrame loop fallback is provided for the SQL-only engine path;
  *    it checkpoints each round to truncate lineage.
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
    * the upper triangle as a distributed block-nested loop over probe
    * ranges. This is the reference's own A3 design (collected stats +
    * closure broadcast, `PreProcess.scala:56-79`) made distributed and
    * sample-aligned (quirk Q2 fixed). Cost O(P²·n / cores), no shuffle
    * at all. For millions of samples use `pearsonEdges` (relational) or
    * DIMSUM-style approximation instead.
    *
    * Requires a COMPLETE matrix (every sample × probe cell present) —
    * asserted; the reference runs it post-completion only. The
    * pipeline's dense regime does not build this edge frame: it runs
    * `denseFeatures`, which finds components in the same pass.
    */
  def pearsonEdgesDense(spark: SparkSession, matrix: DataFrame, threshold: Double): DataFrame = {
    import spark.implicits._
    val d = collectDense(spark, matrix)
    val probes = d.probes
    val bz = broadcastStandardized(spark, d.values)
    val bp = spark.sparkContext.broadcast(probes)
    val nP = probes.length
    spark.sparkContext
      .parallelize(0 until nP, kernelPartitions(spark, nP))
      .flatMap { i =>
        val ids = bp.value
        val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Double)]
        forEachEdge(bz.value, i, threshold)((j, r) => out += ((ids(i), ids(j), r)))
        out.iterator
      }
      .toDF("pi", "pj", "r")
  }

  /** A complete COO matrix pulled to the driver: probe ids ascending,
    * the one sample sequence every probe covers (ascending), and each
    * probe's values aligned to it — `values(p)(k)` is the cell
    * (samples(k), probes(p)).
    */
  private[pipeline] final case class DenseMatrix(
      probes: Array[Int],
      samples: Array[Int],
      values: Array[Array[Double]],
  )

  /** The dense paths' one collect, with the completeness guards.
    *
    * Requires a COMPLETE matrix (every sample × probe cell present
    * exactly once) — asserted; the reference runs it post-completion
    * only.
    */
  private[pipeline] def collectDense(spark: SparkSession, matrix: DataFrame): DenseMatrix = {
    import spark.implicits._
    // typed Dataset of PRIMITIVE arrays: the encoder deserializes
    // Array[Int]/Array[Double] as int[]/double[] — the collected heap is
    // the 8-bytes-per-cell the dense gate budgets for, not the 4-6×
    // boxed Seq overhead a Row/Seq collect would carry
    val byProbe = matrix
      .groupBy("probe")
      .agg(
        expr("transform(array_sort(collect_list(struct(sample, value))), x -> x.sample)").as("ss"),
        expr("transform(array_sort(collect_list(struct(sample, value))), x -> x.value)").as("vs"))
      .as[(Int, Array[Int], Array[Double])]
    val rows = byProbe.collect()
    require(rows.nonEmpty, "empty matrix")
    // alignment guard: every probe must cover the IDENTICAL sample
    // sequence — equal counts alone would let positionally-misaligned
    // vectors through (the reference's quirk Q2, the exact bug this
    // module exists to fix) — and that sequence must hold each sample
    // once: a duplicate (sample, probe) observation repeated on every
    // probe would pass the equality check alone
    val samples = rows.head._2
    require(
      rows.forall(r => java.util.Arrays.equals(r._2, samples)) &&
        samples.indices.drop(1).forall(k => samples(k - 1) < samples(k)),
      "dense path requires a complete matrix (each sample exactly once per probe) — " +
        "matrix incomplete, or a duplicate (sample, probe) observation survived ingest")
    // index-aligned PRIMITIVE arrays, sorted by probe id: the pair loop
    // must be pure double[] arithmetic — a Map[Int, _] lookup per pair
    // would box the key and hash 230M+ times at the reference shape
    // (measured 10×+ slower than the flops themselves)
    val sorted = rows.sortBy(_._1)
    DenseMatrix(sorted.map(_._1), samples, sorted.map(_._3))
  }

  /** Standardize each probe row so that r_ij = z_i · z_j —
    * z = (x - mean) / (sd·sqrt(n)); null for a zero-variance probe (its
    * r is undefined, reference F5) — and broadcast the rows. The
    * caller destroys the broadcast once its pass has run.
    */
  private def broadcastStandardized(
      spark: SparkSession,
      values: Array[Array[Double]],
  ): Broadcast[Array[Array[Double]]] = {
    val z: Array[Array[Double]] = values.map { vs =>
      val n = vs.length
      val mean = vs.sum / n
      var ss = 0.0
      vs.foreach(v => ss += (v - mean) * (v - mean))
      val norm = math.sqrt(ss)
      if (norm == 0.0) null else vs.map(v => (v - mean) / norm)
    }
    spark.sparkContext.broadcast(z)
  }

  /** Many small row ranges: row i costs (nP-1-i) dots, so contiguous
    * ranges are skewed — 16× oversubscription lets the scheduler
    * balance them dynamically.
    */
  private def kernelPartitions(spark: SparkSession, nP: Int): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism * 16, nP))

  /** Calls `f(j, r)` for every row j > i with |r_ij| >= threshold over
    * standardized rows (null rows — zero variance — have no edges).
    */
  private def forEachEdge(zs: Array[Array[Double]], i: Int, threshold: Double)(
      f: (Int, Double) => Unit): Unit = {
    val zi = zs(i)
    if (zi != null) {
      var j = i + 1
      while (j < zs.length) {
        val zj = zs(j)
        if (zj != null) {
          var d = 0.0
          var k = 0
          while (k < zi.length) { d += zi(k) * zj(k); k += 1 }
          // fp guard: z·z can overshoot ±1 by ~1e-15
          d = math.min(1.0, math.max(-1.0, d))
          if (math.abs(d) >= threshold) f(j, d)
        }
        j += 1
      }
    }
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

  /** Row indices that survive the network filter: one pass over the
    * broadcast standardized rows in which each task unions its
    * above-threshold pairs into a local union-find and returns only the
    * entries it changed, as flat (index, root) pairs. The driver merges
    * them; roots are minimum indices, and rows are in probe-id order,
    * so the survivors — every root, i.e. each component's minimum probe
    * plus every probe with no edge — are exactly what GraphX's min-id
    * labels followed by `filterMatrix` keep.
    */
  private[pipeline] def denseSurvivors(
      spark: SparkSession,
      values: Array[Array[Double]],
      threshold: Double,
      partitions: Option[Int] = None,
  ): Array[Int] = {
    val nP = values.length
    val bz = broadcastStandardized(spark, values)
    val tasks = spark.sparkContext
      .parallelize(0 until nP, partitions.getOrElse(kernelPartitions(spark, nP)))
      .mapPartitions { rows =>
        val zs = bz.value
        val parent = Array.tabulate(zs.length)(identity)
        rows.foreach(i => forEachEdge(zs, i, threshold)((j, _) => union(parent, i, j)))
        val out = Array.newBuilder[Int]
        parent.indices.foreach { x =>
          if (parent(x) != x) { out += x; out += find(parent, x) }
        }
        Iterator.single(out.result())
      }
    val changed = try tasks.collect() finally bz.destroy()
    val parent = Array.tabulate(nP)(identity)
    changed.foreach(c => c.indices.by(2).foreach(k => union(parent, c(k), c(k + 1))))
    parent.indices.filter(i => find(parent, i) == i).toArray
  }

  /** Dense-regime network filter and feature assembly in one step: the
    * completed matrix is collected once (`collectDense`), one
    * distributed pass finds the surviving probes (`denseSurvivors`;
    * threshold None keeps all, reference `PreProcess.scala:156`), and
    * the per-sample vectors are built on the driver from the arrays
    * already held. No edge DataFrame, no GraphX, no filter join and no
    * re-aggregation. Returns the features — same rows and bit-identical
    * vectors as `filterMatrix` then `Svm.assembleFeatures` — and the
    * surviving probe count.
    *
    * Driver peak: the one `denseFootprintBytes` models (collected
    * arrays, z rows, broadcast chunks); the z rows and their broadcast
    * are released before the vectors (≤ 8 B/cell) are built.
    */
  def denseFeatures(
      spark: SparkSession,
      matrix: DataFrame,
      threshold: Option[Double],
  ): (DataFrame, Long) = {
    val d = collectDense(spark, matrix)
    val keep = threshold.fold(d.probes.indices.toArray)(denseSurvivors(spark, d.values, _))
    (Svm.denseFeatures(spark, d.samples, keep.map(d.values)), keep.length.toLong)
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

  /** Driver-heap bytes the dense path will hold AT PEAK (broadcast
    * build time, when everything below is simultaneously reachable):
    * the collected raw value arrays `vs` (8 B/cell), the per-probe
    * sample-id arrays `ss` for the alignment guard (4 B/cell), the NEW
    * standardized `z` arrays (8 B/cell), and the serialized
    * TorrentBroadcast chunks of z (~8 B/cell). 28 B/cell total — the
    * earlier 20 B/cell model omitted one of the z copies and
    * undercounted the peak by ~40% (r15 pipeline review), which with a
    * budget raised toward the heap would have admitted a matrix that
    * OOMs the driver.
    */
  def denseFootprintBytes(nSamples: Long, nProbes: Long): Long =
    nSamples * nProbes * (8L * 2 + 4L + 8L)

  /** Default dense-path driver budget: 256 MB — safe inside Spark's
    * 1 GB default driver heap with room for the broadcast manager.
    * Override per-session with `spark.graft.pearson.maxDenseBytes`.
    */
  val DefaultMaxDenseBytes: Long = 256L << 20

  /** The dense-path gate, shared by `apply` and `LuadPipeline.run`:
    * a skinny matrix (few samples, many probes — the reference shape)
    * whose MODELED driver peak (`denseFootprintBytes`, not a cell
    * count) fits the session budget `spark.graft.pearson.maxDenseBytes`.
    */
  def useDense(spark: SparkSession, nSamples: Long, nProbes: Long): Boolean = {
    val maxBytes = spark.conf
      .getOption("spark.graft.pearson.maxDenseBytes")
      .map(_.toLong)
      .getOrElse(DefaultMaxDenseBytes)
    val bytes = denseFootprintBytes(nSamples, nProbes)
    val dense = nSamples <= 10000 && bytes <= maxBytes
    System.err.println(
      s"[graft] pearson path: ${if (dense) "dense-broadcast" else "relational-self-join"} " +
        s"(samples=$nSamples probes=$nProbes footprint=${bytes >> 20}MB budget=${maxBytes >> 20}MB)")
    dense
  }

  /** Full network step: the matrix restricted to the surviving probes.
    * threshold None → pass-through (reference `PreProcess.scala:156`).
    * Dense regime: `denseSurvivors` (no edge frame, no GraphX);
    * otherwise `filterRelational`.
    */
  def apply(
      spark: SparkSession,
      matrix: DataFrame,
      threshold: Option[Double],
      cards: Option[(Long, Long)] = None,
  ): DataFrame = threshold match {
    case None => matrix
    case Some(t) =>
      // `cards` = caller-known (nSamples, nProbes) so a pipeline that
      // already counted them doesn't pay two more distinct-shuffles
      // here
      val (nSamples, nProbes) = cards.getOrElse((
        matrix.select("sample").distinct().count(),
        matrix.select("probe").distinct().count()))
      if (useDense(spark, nSamples, nProbes)) {
        import spark.implicits._
        val d = collectDense(spark, matrix)
        val keep = denseSurvivors(spark, d.values, t).map(d.probes)
        matrix.join(keep.toSeq.toDF("probe"), Seq("probe"), "left_semi")
      } else filterRelational(spark, matrix, t)
  }

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
