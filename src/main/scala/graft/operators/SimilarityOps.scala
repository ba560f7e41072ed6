package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (vec_id BIGINT,
  * embedding ARRAY<FLOAT>, label INT).
  *
  * All dot products run in float64 via `aggregate(zip_with(...))` — a
  * SEQUENTIAL left fold in index order, bit-identical between runs and
  * (after 6-decimal rounding) engine-portable against the DuckDB
  * oracle's equivalent per-index sum.
  *
  * Scale design:
  *  - q30 brute force: the K query vectors are broadcast (crossJoin of
  *    a tiny side); the only shuffle is the per-query top-k window over
  *    candidate rows. This is the exact-recall baseline: O(N·K·d) map
  *    work that parallelizes per input split.
  *  - q31 IVF: coarse quantizer = per-label centroids (k-means cells
  *    stand-in — the fixture's labels ARE cluster assignments). Probing
  *    nprobe=2 of 10 cells prunes ~80% of candidates BEFORE any
  *    distance math; at 100 TB the cell assignment becomes the
  *    partition key so a probe only reads matching partitions
  *    (partition pruning), and centroids come from k-means||
  *    (spark.ml KMeans) instead of labels.
  *  - q32 pairwise: same-cell blocking turns O(N²) into Σ|cell|² —
  *    the embedding-space analog of LSH banding in DedupOps.
  */
object SimilarityOps {

  private def emb(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    Tables(s, dir, "embeddings")
  }

  /** float64 dot product via the native codegen'd expression
    * (graft.functions.FloatDot) — same sequential-fold semantics as the
    * `aggregate(zip_with(...))` composition, no per-row allocations.
    */
  private def dot(a: String, b: String): Column = expr(s"float_dot($a, $b)")

  private val norm: String = "SQRT(float_dot(embedding, embedding))"

  /** Cosine with the zero-vector degenerate DECLARED: a zero norm on
    * either side yields NULL — ranked last (both engines default
    * NULLS LAST under DESC) or filtered out by any threshold — instead
    * of the DIVIDE_BY_ZERO error Spark's ANSI session default raises
    * for a 0.0 divisor (verified: under ANSI even DOUBLE division
    * throws, it is not IEEE). DuckDB's x/0 is NULL, so the guard pins
    * both engines to the same semantics where an unguarded corpus
    * with one zero vector (failed embed, padding row) would crash the
    * Spark side only (r16 review; q89's mx > 0 filter and q145's
    * sd > 1e-9 cut are this same convention, applied here to every
    * cosine site).
    */
  private[graft] def cosine(d: Column, normProduct: Column): Column =
    when(normProduct =!= 0.0d, d / normProduct)

  /** DuckDB-side float64 dot product over list columns a·b, 64 dims. */
  private def duckDot(a: String, b: String): String =
    s"(SELECT SUM(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)) FROM unnest(range(1, 65)) AS u(i))"

  private def duckNorm(e: String): String =
    s"SQRT((SELECT SUM(CAST($e[i] AS DOUBLE) * CAST($e[i] AS DOUBLE)) FROM unnest(range(1, 65)) AS u(i)))"

  /** The coarse quantizer of [[ivfTopK]]: one centroid per labeled
    * cell (the recall-vs-nprobe curve in BASELINE.md, rounds 12-13,
    * was measured through this quantizer).
    *
    * round(avg, 9): avg's partial-merge order is nondeterministic at
    * ULP level (run-to-run AND vs the oracle's sequential AVG); a
    * near-tied pair of cells at the nprobe boundary could otherwise
    * flip the probe set. 9 decimals is far above fp noise (~1e-16)
    * and far below any real centroid separation.
    */
  private def ivfCentroids(e: DataFrame): DataFrame = e
    // an unlabeled vector belongs to no IVF cell — it can't be routed
    // at index-build time (candidates already drop it: the cell join
    // rejects NULL keys on both engines) and a NULL-label CENTROID
    // would tie-break the probe window divergently (Spark ASC NULLS
    // FIRST vs DuckDB NULLS LAST — r18 NULL-ordering sweep), flipping
    // WHICH cells get probed on exact-tie scores
    .filter(col("label").isNotNull)
    .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
    .groupBy("label", "i")
    .agg(round(avg(col("v").cast("double")), 9).as("c"))
    .groupBy("label")
    .agg(expr("transform(array_sort(collect_list(struct(i, c))), x -> x.c)").as("cemb"))

  /** The probe set exactly as [[ivfTopK]] picks it: each query's
    * `nprobe` best cells by centroid dot product (label asc breaks
    * exact ties) — (qid, qemb, label).
    */
  private def ivfProbe(q: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(q.sparkSession)
    val wq = Window.partitionBy("qid").orderBy(col("cscore").desc, col("label").asc)
    q.crossJoin(broadcast(centroids)) // cells-sized: bounded by the label dim
      .withColumn("cscore", dot("qemb", "cemb"))
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= nprobe)
      .select("qid", "qemb", "label")
  }

  /** IVF ANN as a reusable operator: coarse cells from per-`label`
    * centroids, probe the `nprobe` best cells per query by centroid dot
    * product, exact cosine only inside probed cells, top-k.
    *
    * `e` must have (vec_id, embedding, label); `q` (qid, qemb). Recall
    * depends on how well cells capture cosine neighborhoods — see
    * SimilarityRecallSpec: ≥0.9 on clustered data, and on unclustered
    * data no cell scheme can do better than the scanned fraction.
    */
  def ivfTopK(
      e: DataFrame,
      q: DataFrame,
      nprobe: Int,
      k: Int,
  ): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(e.sparkSession)
    val probed = ivfProbe(q, ivfCentroids(e), nprobe)
    val en = e.withColumn("n", expr(norm))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id").asc)
    en.join(broadcast(probed), Seq("label"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("qn", expr(norm.replace("embedding", "qemb")))
      .withColumn("cosine", cosine(dot("embedding", "qemb"), col("n") * col("qn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(
        col("qid"), col("vec_id"),
        round(col("cosine"), 6).as("cosine"), col("rk").cast("bigint").as("rk"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec(
      "q30_cosine_topk",
      (s, dir) => {
        val e = emb(s, dir).withColumn("n", expr(norm))
        val q = e.filter(col("vec_id") < 5).select(
          col("vec_id").as("qid"), col("embedding").as("qemb"), col("n").as("qn"))
        val scored = e
          .crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cosine", cosine(dot("embedding", "qemb"), col("n") * col("qn")))
        val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id").asc)
        scored
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .select(
            col("qid"), col("vec_id"),
            round(col("cosine"), 6).as("cosine"), col("rk").cast("bigint").as("rk"))
      },
      Some(
        "WITH e AS (SELECT vec_id, embedding, " + duckNorm("embedding") + " AS n FROM embeddings), " +
          "q AS (SELECT vec_id AS qid, embedding AS qemb, n AS qn FROM e WHERE vec_id < 5), " +
          "scored AS (SELECT q.qid, e.vec_id, " +
          duckDot("e.embedding", "q.qemb") + " / (e.n * q.qn) AS cosine " +
          "FROM e CROSS JOIN q WHERE e.vec_id <> q.qid), " +
          "ranked AS (SELECT qid, vec_id, cosine, " +
          "row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk FROM scored) " +
          "SELECT qid, vec_id, round(cosine, 6) AS cosine, CAST(rk AS BIGINT) AS rk " +
          "FROM ranked WHERE rk <= 10"),
    ),
    QuerySpec(
      "q31_ann_ivf",
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
        ivfTopK(e, q, nprobe = 2, k = 5)
      },
      Some(
        "WITH cent AS (SELECT label, i, round(AVG(CAST(embedding[i] AS DOUBLE)), 9) AS c " +
          "FROM embeddings, unnest(range(1, 65)) AS u(i) " +
          "WHERE label IS NOT NULL GROUP BY label, i), " +
          "centroids AS (SELECT label, list(c ORDER BY i) AS cemb FROM cent GROUP BY label), " +
          "q AS (SELECT vec_id AS qid, embedding AS qemb FROM embeddings WHERE vec_id < 5), " +
          "probescore AS (SELECT q.qid, q.qemb, c.label, " +
          duckDot("q.qemb", "c.cemb") + " AS cscore FROM q CROSS JOIN centroids c), " +
          "probed AS (SELECT qid, qemb, label FROM (SELECT *, " +
          "row_number() OVER (PARTITION BY qid ORDER BY cscore DESC, label ASC) AS crk " +
          "FROM probescore) WHERE crk <= 2), " +
          "cand AS (SELECT p.qid, e.vec_id, " +
          duckDot("e.embedding", "p.qemb") + " / (" +
          duckNorm("e.embedding") + " * " + duckNorm("p.qemb") + ") AS cosine " +
          "FROM embeddings e JOIN probed p ON e.label = p.label WHERE e.vec_id <> p.qid) " +
          "SELECT qid, vec_id, round(cosine, 6) AS cosine, CAST(rk AS BIGINT) AS rk " +
          "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk " +
          "FROM cand) WHERE rk <= 5"),
    ),
    QuerySpec(
      // Random-hyperplane LSH ANN (the bucketed alternative to IVF):
      // L=4 independent tables of 6 sign bits each; a vector's bucket
      // in table t is the 6-bit sign pattern of its projections onto 6
      // fixed pseudo-random ±1 hyperplanes (derived from md5 so the
      // DuckDB oracle regenerates them bit-identically). Candidates =
      // bucket collisions in ANY table (multi-table union is what buys
      // recall); exact cosine + top-3 only on candidates. At 100 TB
      // (table, bucket) is the partition key — a probe touches L
      // buckets, never the corpus.
      "q31b_ann_lsh",
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
        def signOf(t: Int, k: Int, i: Int): Int = {
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(s"$t:$k:$i".getBytes("UTF-8"))
          if (((md(0) >> 4) & 0xf) % 2 == 0) 1 else -1
        }
        // bucket expression: Σ_k 2^k · [proj_{t,k} ≥ 0], projections as
        // codegen'd float_dot against ±1 literal hyperplanes
        def bucketExpr(embCol: String, t: Int): Column = {
          val bits = (0 until 6).map { k =>
            val h = (0 until 64).map(i => s"CAST(${signOf(t, k, i)} AS DOUBLE)")
              .mkString("array(", ", ", ")")
            s"(CASE WHEN float_dot($embCol, $h) >= 0 THEN ${1 << k} ELSE 0 END)"
          }
          expr(bits.mkString("(", " + ", ")"))
        }
        def buckets(df: DataFrame, idCol: String, embCol: String): DataFrame =
          (0 until 4).map { t =>
            df.select(
              col(idCol), col(embCol),
              lit(t).as("t"), bucketExpr(embCol, t).as("bucket"))
          }.reduce(_ union _)
        val eb = buckets(e, "vec_id", "embedding")
        val qb = buckets(q, "qid", "qemb")
        val cand = eb.join(broadcast(qb), Seq("t", "bucket"))
          .filter(col("vec_id") =!= col("qid"))
          .select("qid", "qemb", "vec_id", "embedding")
          .distinct()
        val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id").asc)
        cand
          .withColumn(
            "cosine",
            cosine(dot("embedding", "qemb"),
              expr(norm) * expr(norm.replace("embedding", "qemb"))))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(
            col("qid"), col("vec_id"),
            round(col("cosine"), 6).as("cosine"), col("rk").cast("bigint").as("rk"))
      },
      Some(
        "WITH h AS (SELECT t, k, i, CASE WHEN ('0x' || substr(md5(t || ':' || k || ':' || i), 1, 1))::INT % 2 = 0 " +
          "THEN 1 ELSE -1 END AS sgn FROM unnest(range(0, 4)) AS a(t), " +
          "unnest(range(0, 6)) AS b(k), unnest(range(0, 64)) AS c(i)), " +
          "proj AS (SELECT e.vec_id, h.t, h.k, " +
          "SUM(CAST(e.embedding[CAST(h.i + 1 AS INT)] AS DOUBLE) * h.sgn) AS d " +
          "FROM embeddings e, h GROUP BY 1, 2, 3), " +
          "bk AS (SELECT vec_id, t, SUM(CASE WHEN d >= 0 THEN 1 << k ELSE 0 END) AS bucket " +
          "FROM proj GROUP BY 1, 2), " +
          "qb AS (SELECT vec_id AS qid, t, bucket FROM bk WHERE vec_id < 5), " +
          "cand AS (SELECT DISTINCT qb.qid, bk.vec_id FROM bk JOIN qb " +
          "ON bk.t = qb.t AND bk.bucket = qb.bucket AND bk.vec_id <> qb.qid), " +
          "scored AS (SELECT c.qid, c.vec_id, " +
          duckDot("e.embedding", "q.embedding") + " / (" +
          duckNorm("e.embedding") + " * " + duckNorm("q.embedding") + ") AS cosine " +
          "FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id " +
          "JOIN embeddings q ON q.vec_id = c.qid) " +
          "SELECT qid, vec_id, round(cosine, 6) AS cosine, CAST(rk AS BIGINT) AS rk " +
          "FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rk " +
          "FROM scored) WHERE rk <= 3"),
    ),
    QuerySpec(
      "q32_cosine_pairs",
      (s, dir) => {
        // all-pairs near-dup within a cell (same-label blocking): the
        // fixture's clusters cap cell size, so cost is Σ|cell|², not N²
        val e = emb(s, dir).withColumn("n", expr(norm))
        val a = e.select(
          col("label"), col("vec_id").as("va"), col("embedding").as("ea"), col("n").as("na"))
        val b = e.select(
          col("label"), col("vec_id").as("vb"), col("embedding").as("eb"), col("n").as("nb"))
        a.join(b, Seq("label"))
          .filter(col("va") < col("vb"))
          .withColumn("cosine", cosine(dot("ea", "eb"), col("na") * col("nb")))
          .filter(col("cosine") >= 0.3)
          .select(
            col("label").cast("bigint").as("label"), col("va"), col("vb"),
            round(col("cosine"), 6).as("cosine"))
      },
      Some(
        "WITH e AS (SELECT label, vec_id, embedding, " + duckNorm("embedding") + " AS n FROM embeddings) " +
          "SELECT CAST(a.label AS BIGINT) AS label, a.vec_id AS va, b.vec_id AS vb, " +
          "round(" + duckDot("a.embedding", "b.embedding") + " / (a.n * b.n), 6) AS cosine " +
          "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id " +
          "WHERE " + duckDot("a.embedding", "b.embedding") + " / (a.n * b.n) >= 0.3"),
    ),
    QuerySpec(
      // semantic dedup: near-dup pairs (q32's blocking) chained into
      // groups via connected components; keeper = min vec_id per group.
      // The transitive closure is what turns pairwise similarity into
      // an actual dedup decision (A near B near C → one keeper).
      "q32b_semantic_dedup_groups",
      (s, dir) => {
        val e = emb(s, dir).withColumn("n", expr(norm))
        val a = e.select(
          col("label"), col("vec_id").as("va"), col("embedding").as("ea"), col("n").as("na"))
        val b = e.select(
          col("label"), col("vec_id").as("vb"), col("embedding").as("eb"), col("n").as("nb"))
        val pairs = a.join(b, Seq("label"))
          .filter(col("va") < col("vb"))
          .withColumn("cosine", cosine(dot("ea", "eb"), col("na") * col("nb")))
          .filter(col("cosine") >= 0.3)
          .select(col("va").as("pi"), col("vb").as("pj")) // BIGINT throughout
        graft.pipeline.Network.connectedComponents(s, pairs)
          .select(col("probe").as("vec_id"), col("component").as("keeper"))
      },
      Some(
        "WITH RECURSIVE e AS (SELECT label, vec_id, embedding, " +
          duckNorm("embedding") + " AS n FROM embeddings), " +
          "p AS (SELECT a.vec_id va, b.vec_id vb FROM e a JOIN e b " +
          "ON a.label = b.label AND a.vec_id < b.vec_id " +
          "WHERE " + duckDot("a.embedding", "b.embedding") + " / (a.n * b.n) >= 0.3), " +
          "sym AS (SELECT va AS src, vb AS dst FROM p UNION SELECT vb, va FROM p), " +
          "reach(id, comp) AS (SELECT src, src FROM sym UNION " +
          "SELECT sym.dst, reach.comp FROM reach JOIN sym ON reach.id = sym.src) " +
          "SELECT CAST(id AS BIGINT) AS vec_id, CAST(MIN(comp) AS BIGINT) AS keeper " +
          "FROM reach GROUP BY id"),
    ),
    QuerySpec(
      // k-means over embeddings: deterministic seeds (vec_id < k), one
      // full Lloyd step, output initial + refined assignment per
      // vector. This is the IVF coarse-quantizer TRAINING step done
      // honestly (q31 reuses fixture labels as cells).
      //
      // Scale shape: assignment is a pure per-row projection against k
      // BROADCAST centroid literals — zero shuffle, scan speed; the
      // centroid update shuffles only (k × dim) partial means
      // (map-side-combinable avg), and only k×dim doubles ever return
      // to the driver (the broadcast-back pattern — the dataset itself
      // never moves). Argmin ties break on centroid id, and all
      // distance math is float64 left-fold, so assignments are
      // deterministic and engine-portable (inter-centroid distance
      // gaps are O(1) vs ~1e-13 summation-order noise).
      "q53_kmeans",
      (s, dir) => {
        val k = 8
        // all distance math through the native codegen'd float_dot
        // (accepts ARRAY<DOUBLE>, same sequential-fold semantics as
        // aggregate(zip_with(...)) with no per-row lambda interpretation
        // or intermediate arrays); |v|² is hoisted to ONE column per
        // row, |c|² folds to a literal at plan-build time, so each
        // assignment pass costs k dots per row, not 3k.
        def fdot(a: Column, b: Column): Column = call_function("float_dot", a, b)
        val e = emb(s, dir)
          .select(
            col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .withColumn("vv", fdot(col("v"), col("v")))
        def assignTo(cents: Seq[(Long, Seq[Double])]): Column = {
          val entries = cents.map { case (cid, cv) =>
            val arr = array(cv.map(lit(_)): _*)
            val cc = cv.foldLeft(0.0d)((acc, x) => acc + x * x)
            struct(
              (col("vv") + lit(cc) - lit(2.0d) * fdot(col("v"), arr)).as("d"),
              lit(cid).as("c"))
          }
          array_min(array(entries: _*)).getField("c")
        }
        val cents0 = e.filter(col("vec_id") < k)
          .select("vec_id", "v")
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
        val a0 = e.withColumn("c0", assignTo(cents0))
        val cents1 = a0
          .select(col("c0"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy("c0", "i").agg(avg("x").as("m"))
          .groupBy("c0")
          .agg(expr("transform(sort_array(collect_list(struct(i, m))), s -> s.m)").as("cv"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
        a0.withColumn("c1", assignTo(cents1))
          .select(col("vec_id"), col("c0"), col("c1"))
      },
      Some(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8), " +
          "d0 AS (SELECT e.vec_id, c0.cid, list_dot_product(e.v, e.v) + " +
          "list_dot_product(c0.cv, c0.cv) - 2 * list_dot_product(e.v, c0.cv) AS dist " +
          "FROM e CROSS JOIN c0), " +
          "a0 AS (SELECT vec_id, cid AS c0 FROM (SELECT vec_id, cid, " +
          "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d0) WHERE rn = 1), " +
          "m AS (SELECT a0.c0 AS cid, u.i AS i, AVG(e.v[i]) AS mv " +
          "FROM e JOIN a0 USING (vec_id) CROSS JOIN unnest(range(1, 65)) AS u(i) " +
          "GROUP BY a0.c0, u.i), " +
          "c1 AS (SELECT cid, list(mv ORDER BY i) AS cv FROM m GROUP BY cid), " +
          "d1 AS (SELECT e.vec_id, c1.cid, list_dot_product(e.v, e.v) + " +
          "list_dot_product(c1.cv, c1.cv) - 2 * list_dot_product(e.v, c1.cv) AS dist " +
          "FROM e CROSS JOIN c1), " +
          "a1 AS (SELECT vec_id, cid AS c1 FROM (SELECT vec_id, cid, " +
          "ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1) " +
          "SELECT a0.vec_id, CAST(a0.c0 AS BIGINT) AS c0, CAST(a1.c1 AS BIGINT) AS c1 " +
          "FROM a0 JOIN a1 USING (vec_id)"),
    ),
    QuerySpec(
      // Symmetric int8 quantization of the embedding column — the 4×
      // storage cut every 100 TB vector corpus takes before ANN
      // serving. Per-vector scale = 127 / max|x|; quantize via
      // FLOOR(x·scale + 0.5) (identical on both engines — round()
      // tie semantics differ between them, FLOOR doesn't). Output is
      // per-vector CONTRACT arithmetic: codes in [-127,127], code sum,
      // and max reconstruction error (bounded by 1/(2·scale) =
      // max|x|/254 per coordinate). Pure per-row higher-order-function
      // work — zero shuffle, scan speed, codegen'd.
      "q89_embed_quantize",
      (s, dir) =>
        emb(s, dir)
          .select(
            col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .withColumn("mx",
            expr("aggregate(v, CAST(0.0 AS DOUBLE), (acc, x) -> greatest(acc, abs(x)))"))
          .filter(col("mx") > 0)
          .withColumn("scale", lit(127.0) / col("mx"))
          .withColumn("q",
            expr("transform(v, x -> CAST(FLOOR(x * scale + 0.5D) AS BIGINT))"))
          .select(
            col("vec_id"),
            size(col("q")).as("n_dims"),
            expr("aggregate(q, 0L, (acc, x) -> acc + x)").as("q_sum"),
            expr("array_min(q)").as("q_min"),
            expr("array_max(q)").as("q_max"),
            expr("CAST(aggregate(zip_with(q, v, (qi, xi) -> abs(qi / scale - xi)), " +
              "CAST(0.0 AS DOUBLE), (acc, e) -> greatest(acc, e)) AS DOUBLE)").as("max_err")),
      Some(
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "m AS (SELECT vec_id, v, (SELECT MAX(ABS(v[i])) FROM unnest(range(1, 65)) AS u(i)) AS mx FROM e), " +
          "sc AS (SELECT vec_id, v, 127.0 / mx AS scale FROM m WHERE mx > 0) " +
          "SELECT vec_id, CAST(64 AS INT) AS n_dims, " +
          // outer CAST: DuckDB SUM(BIGINT) yields HUGEINT, which the
          // compare canonicalizes as float and misaligns row sort
          "CAST((SELECT SUM(FLOOR(v[i] * scale + 0.5)) " +
          "FROM unnest(range(1, 65)) AS u(i)) AS BIGINT) AS q_sum, " +
          "(SELECT MIN(CAST(FLOOR(v[i] * scale + 0.5) AS BIGINT)) " +
          "FROM unnest(range(1, 65)) AS u(i)) AS q_min, " +
          "(SELECT MAX(CAST(FLOOR(v[i] * scale + 0.5) AS BIGINT)) " +
          "FROM unnest(range(1, 65)) AS u(i)) AS q_max, " +
          "(SELECT MAX(ABS(FLOOR(v[i] * scale + 0.5) / scale - v[i])) " +
          "FROM unnest(range(1, 65)) AS u(i)) AS max_err " +
          "FROM sc"),
    ),
    QuerySpec(
      // Per-label embedding centroids — the class-prototype pass behind
      // nearest-centroid classification, semantic-cluster summaries,
      // and cluster-balanced sampling. Scale shape: posexplode is
      // map-side, the (label, dim) groupBy is map-side combinable, and
      // the exchange carries one partial row per (partition, label,
      // dim) — never the vectors. Output is labels × 64 rows.
      "q96_label_centroids",
      (s, dir) =>
        emb(s, dir)
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy("label", "dim")
          .agg(avg(col("v").cast("double")).as("centroid"))
          .select(col("label"), col("dim").cast("bigint").as("dim"), col("centroid")),
      Some(
        "SELECT label, CAST(i - 1 AS BIGINT) AS dim, " +
          "AVG(CAST(embedding[i] AS DOUBLE)) AS centroid " +
          "FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i) " +
          "GROUP BY label, i"),
    ),
    QuerySpec(
      // Time-series similarity search (the EDBT'19 streaming-
      // similarity / iSAX family): z-normalized 7-day activity
      // subsequences, candidate pairs blocked on the subsequence's
      // SIGN WORD (the 1-bit-per-point SAX word — same-shape curves
      // share it), exact Euclidean distance verified inside blocks
      // only. Pipeline: per-user daily value sums zero-filled over the
      // corpus date spine (q104 shape: single-row bounds × tiny user
      // set), 7-point sliding windows via an ordered frame
      // collect_list (ONE user-keyed shuffle), z-normalize with
      // higher-order array expressions (scan-stage), then a word-keyed
      // self-join — the LSH-style candidate structure of q27/q29
      // transplanted to time series: bucket sizes are bounded by shape
      // diversity, never corpus size. Flat windows (sd≈0) drop — the
      // zero-filled sparse grid would otherwise flood bucket '0000000'.
      // The user<40 corpus bound keeps the demo fixed-size across SFs;
      // the blocking is the scale path. Cross-engine float safety:
      // boundary margins (min |dist-τ|, min |z|) are asserted in
      // SimilarityRecallSpec; fold order is pinned by array order on
      // both engines.
      "q145_ts_similarity",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("user_id") < 40)
          .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
        val bounds = ev.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
        val f = ev.crossJoin(broadcast(bounds)) // single-row bounds
          .select(col("user_id"), datediff(col("d"), col("dmin")).cast("long").as("day"), col("value"))
        val users = f.select("user_id").distinct()
        val days = bounds
          .select(explode(expr("sequence(0, CAST(datediff(dmax, dmin) AS INT))")).as("day"))
          .select(col("day").cast("long").as("day"))
        val spine = users.crossJoin(broadcast(days)) // users × days: both dimension-sized
        val daily = spine
          .join(f.groupBy("user_id", "day").agg(sum(col("value")).as("v")), Seq("user_id", "day"), "left")
          .na.fill(0.0, Seq("v"))
        val w7 = Window.partitionBy("user_id").orderBy("day").rowsBetween(0, 6)
        val z = daily
          .select(col("user_id"), col("day").as("start"), collect_list(col("v")).over(w7).as("win"))
          .filter(size(col("win")) === 7)
          .withColumn("m", expr("aggregate(win, 0D, (a, x) -> a + x) / 7"))
          .withColumn("sd", expr("sqrt(aggregate(win, 0D, (a, x) -> a + (x - m) * (x - m)) / 7)"))
          .filter(col("sd") > 1e-9)
          .withColumn("zw", expr("transform(win, x -> (x - m) / sd)"))
          .withColumn("word", expr("concat_ws('', transform(zw, x -> IF(x > 0D, '1', '0')))"))
          .select("user_id", "start", "zw", "word")
        z.as("a")
          .join(z.as("b"), col("a.word") === col("b.word") && col("a.user_id") < col("b.user_id"))
          .withColumn("dist", expr(
            "sqrt(aggregate(zip_with(a.zw, b.zw, (x, y) -> (x - y) * (x - y)), 0D, (ac, v) -> ac + v))"))
          .filter(col("dist") <= 0.75)
          .select(
            col("a.user_id").as("ua"), col("a.start").as("sa"),
            col("b.user_id").as("ub"), col("b.start").as("sb"),
            round(col("dist"), 6).as("dist"))
      },
      Some(
        "WITH f AS (SELECT user_id, CAST(date_diff('day', " +
          "(SELECT MIN(CAST(ts AS DATE)) FROM events WHERE user_id < 40), " +
          "CAST(ts AS DATE)) AS BIGINT) AS day, value FROM events WHERE user_id < 40), " +
          "bounds AS (SELECT MAX(day) AS dmax FROM f), " +
          "spine AS (SELECT u.user_id, d.day FROM (SELECT DISTINCT user_id FROM f) u, " +
          "(SELECT unnest(range(0, (SELECT dmax + 1 FROM bounds))) AS day) d), " +
          "daily AS (SELECT s.user_id, s.day, COALESCE(SUM(f.value), 0.0) AS val " +
          "FROM spine s LEFT JOIN f ON f.user_id = s.user_id AND f.day = s.day GROUP BY 1, 2), " +
          "w AS (SELECT a.user_id, a.day AS start, list(b.val ORDER BY b.day) AS win " +
          "FROM daily a JOIN daily b ON b.user_id = a.user_id AND b.day BETWEEN a.day AND a.day + 6 " +
          "GROUP BY 1, 2 HAVING COUNT(*) = 7), " +
          "z AS (SELECT user_id, start, " +
          "list_transform(win, x -> (x - list_sum(win)/7) / " +
          "sqrt(list_sum(list_transform(win, v -> (v - list_sum(win)/7)*(v - list_sum(win)/7)))/7)) AS zw, " +
          "sqrt(list_sum(list_transform(win, v -> (v - list_sum(win)/7)*(v - list_sum(win)/7)))/7) AS sd " +
          "FROM w), " +
          "k AS (SELECT user_id, start, zw, " +
          "array_to_string(list_transform(zw, x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS word " +
          "FROM z WHERE sd > 1e-9) " +
          "SELECT a.user_id ua, a.start sa, b.user_id ub, b.start sb, " +
          "round(SQRT((SELECT SUM((a.zw[i] - b.zw[i]) * (a.zw[i] - b.zw[i])) " +
          "FROM unnest(range(1, 8)) AS u(i))), 6) AS dist " +
          "FROM k a JOIN k b ON a.word = b.word AND a.user_id < b.user_id " +
          "WHERE SQRT((SELECT SUM((a.zw[i] - b.zw[i]) * (a.zw[i] - b.zw[i])) " +
          "FROM unnest(range(1, 8)) AS u(i))) <= 0.75"),
    ),
    QuerySpec(
      // Contrastive-pair mining (triplet mining for embedding
      // training): for each query vector, the top-1 same-label
      // neighbor (positive) and the top-1 different-label neighbor
      // (hard negative) by cosine, plus the triplet margin. Same
      // broadcast-query-set shape as q30 — the ≤8-row query side
      // rides broadcast through one scan of the corpus; both ranks
      // come from qid-partitioned row_number windows over the SAME
      // scored frame, so the corpus is scored once, not twice. At
      // 100 TB the scored frame comes from the IVF-probed candidate
      // set (q31's cells) instead of the full scan; the mining logic
      // downstream of scoring is unchanged.
      "q151_hard_negatives",
      (s, dir) => {
        val e = emb(s, dir).withColumn("n", expr(norm))
        val q = e.filter(col("vec_id") < 8).select(
          col("vec_id").as("qid"), col("embedding").as("qemb"),
          col("n").as("qn"), col("label").as("qlabel"))
        val scored = e
          .crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("cosine", cosine(dot("embedding", "qemb"), col("n") * col("qn")))
          .withColumn("same", col("label") === col("qlabel"))
        val wPos = Window.partitionBy("qid", "same")
          .orderBy(col("cosine").desc, col("vec_id").asc)
        val ranked = scored
          .withColumn("rk", row_number().over(wPos))
          .filter(col("rk") === 1)
        val pos = ranked.filter(col("same"))
          .select(col("qid"), col("vec_id").as("pos_id"), col("cosine").as("pos_cos"))
        val neg = ranked.filter(!col("same"))
          .select(col("qid"), col("vec_id").as("neg_id"), col("cosine").as("neg_cos"))
        pos.join(neg, Seq("qid"))
          .select(
            col("qid"), col("pos_id"), round(col("pos_cos"), 6).as("pos_cos"),
            col("neg_id"), round(col("neg_cos"), 6).as("neg_cos"),
            round(col("pos_cos") - col("neg_cos"), 6).as("margin"))
      },
      Some(
        "WITH e AS (SELECT vec_id, embedding, label, " + duckNorm("embedding") + " AS n FROM embeddings), " +
          "q AS (SELECT vec_id AS qid, embedding AS qemb, n AS qn, label AS qlabel " +
          "FROM e WHERE vec_id < 8), " +
          "scored AS (SELECT q.qid, e.vec_id, e.label = q.qlabel AS same, " +
          duckDot("e.embedding", "q.qemb") + " / (e.n * q.qn) AS cosine " +
          "FROM e CROSS JOIN q WHERE e.vec_id <> q.qid), " +
          "ranked AS (SELECT qid, vec_id, same, cosine, " +
          "row_number() OVER (PARTITION BY qid, same ORDER BY cosine DESC, vec_id ASC) AS rk " +
          "FROM scored), " +
          "pos AS (SELECT qid, vec_id AS pos_id, cosine AS pos_cos FROM ranked WHERE rk = 1 AND same), " +
          "neg AS (SELECT qid, vec_id AS neg_id, cosine AS neg_cos FROM ranked WHERE rk = 1 AND NOT same) " +
          "SELECT qid, pos_id, round(pos_cos, 6) AS pos_cos, neg_id, round(neg_cos, 6) AS neg_cos, " +
          "round(pos_cos - neg_cos, 6) AS margin FROM pos JOIN neg USING (qid)"),
    ),
    QuerySpec(
      // Per-class embedding distribution stats — the drift/collapse
      // monitor a training pipeline runs over its vector columns:
      // per label, the mean and the population covariance of the
      // leading dimensions (means detect centroid drift, off-diagonal
      // covariance detects representation collapse). Everything is ONE
      // combinable aggregation — avg and covar_pop both merge
      // algebraically, so the 100 TB shape is map-side partials +
      // a labels-sized reduce, no second pass, no sort. Values are
      // rounded to 6dp; partial-merge order perturbs them only at
      // ~1e-12, far inside the gate's 1e-6 float tolerance (the q19
      // precedent).
      "q156_embedding_stats",
      (s, dir) => {
        // try_element_at: under the session's ANSI default a plain
        // element_at THROWS INVALID_ARRAY_INDEX on a RAGGED embedding
        // (truncated write, failed embed) — the DuckDB oracle's
        // embedding[i] is NULL out of bounds, and both engines'
        // avg/covar_pop then skip the NULL cells identically (r17
        // ANSI access/cast sweep)
        val d = emb(s, dir).select(
          col("label") +:
            (0 to 3).map(i =>
              expr(s"try_element_at(embedding, ${i + 1})").cast("double").as(s"x$i")): _*)
        val pairs = for { i <- 0 to 3; j <- i + 1 to 3 } yield
          round(covar_pop(col(s"x$i"), col(s"x$j")), 6).as(s"cov_$i$j")
        d.groupBy("label")
          .agg(
            count(lit(1)).as("n"),
            (0 to 3).map(i => round(avg(col(s"x$i")), 6).as(s"mean_$i")) ++ pairs: _*)
          .withColumn("label", col("label").cast("int"))
      },
      Some {
        val means = (0 to 3).map(i =>
          s"round(avg(CAST(embedding[${i + 1}] AS DOUBLE)), 6) AS mean_$i").mkString(", ")
        val covs = (for { i <- 0 to 3; j <- i + 1 to 3 } yield
          s"round(covar_pop(CAST(embedding[${i + 1}] AS DOUBLE), " +
            s"CAST(embedding[${j + 1}] AS DOUBLE)), 6) AS cov_$i$j").mkString(", ")
        "SELECT CAST(label AS INT) AS label, CAST(COUNT(*) AS BIGINT) AS n, " +
          s"$means, $covs FROM embeddings GROUP BY label"
      },
    ),
    QuerySpec(
      // Classifier evaluation — confusion-derived per-class
      // precision/recall/F1 for the nearest-centroid classifier the
      // q96 centroids induce (resubstitution readout). Every stage is
      // keyed: vectors and centroids meet on the DIM key (explode ×
      // k-labels fan-out, the NLJ-free form of "score against every
      // centroid"), per-(vec, centroid) distances fold in a
      // combinable sum, argmin is a WindowGroupLimit-bounded rank,
      // and the confusion matrix plus its row/column marginals live
      // on k²-sized frames. Distances are ranking-only (never
      // output), so cross-engine float fold order can't touch the
      // gate; only counts and their exact ratios are emitted.
      "q170_classifier_metrics",
      (s, dir) => {
        // population rule (r18 NULL-ordering sweep): an UNLABELED
        // vector has no place in a confusion matrix (its NULL clabel
        // centroid would also tie-break the argmin window divergently —
        // Spark ASC NULLS FIRST vs DuckDB NULLS LAST), and a NULL
        // DIMENSION carries no distance (the null-skipping avg/sum
        // would otherwise leave d2 NULL for an all-null vector, ranked
        // at opposite ends per engine). Both excluded on both engines.
        val e = emb(s, dir)
          .filter(col("label").isNotNull)
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("label"), col("dim"),
            col("v").cast("double").as("v"))
          .filter(col("v").isNotNull)
        val cent = e.groupBy(col("label").as("clabel"), col("dim"))
          .agg(avg(col("v")).as("c"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("d2").asc, col("clabel").asc)
        val pred = e.join(cent, Seq("dim"))
          .groupBy("vec_id", "label", "clabel")
          .agg(sum(pow(col("v") - col("c"), 2)).as("d2"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("vec_id"), col("label"), col("clabel").as("pred"))
        val act = pred.groupBy("label").agg(count(lit(1)).as("n_true"))
        val predc = pred.groupBy(col("pred")).agg(count(lit(1)).as("n_pred"))
        val diag = pred.filter(col("label") === col("pred"))
          .groupBy("label").agg(count(lit(1)).as("tp"))
        act
          .join(diag, Seq("label"), "left")
          .join(predc, col("label") === col("pred"), "left")
          .withColumn("tp", coalesce(col("tp"), lit(0L)))
          .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
          .select(
            col("label").cast("int").as("label"),
            col("n_true"), col("n_pred"), col("tp"),
            when(col("n_pred") > 0,
              round(col("tp") / col("n_pred").cast("double"), 6)).as("prec"),
            round(col("tp") / col("n_true").cast("double"), 6).as("recall"),
            round(lit(2.0) * col("tp") / (col("n_true") + col("n_pred")), 6).as("f1"))
      },
      Some(
        "WITH e AS (SELECT vec_id, label, i - 1 AS dim, " +
          "CAST(embedding[i] AS DOUBLE) AS v " +
          "FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i) " +
          "WHERE label IS NOT NULL AND embedding[i] IS NOT NULL), " +
          "cent AS (SELECT label AS clabel, dim, AVG(v) AS c FROM e GROUP BY 1, 2), " +
          "d2 AS (SELECT e.vec_id, e.label, cent.clabel, " +
          "SUM((e.v - cent.c) ^ 2) AS d2 FROM e JOIN cent USING (dim) GROUP BY 1, 2, 3), " +
          "p AS (SELECT vec_id, label, clabel AS pred FROM d2 " +
          "QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, clabel ASC) = 1), " +
          "act AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_true FROM p GROUP BY 1), " +
          "predc AS (SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_pred FROM p GROUP BY 1), " +
          "diag AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS tp FROM p " +
          "WHERE label = pred GROUP BY 1) " +
          "SELECT CAST(a.label AS INT) AS label, a.n_true, " +
          "COALESCE(pc.n_pred, 0) AS n_pred, COALESCE(d.tp, 0) AS tp, " +
          "CASE WHEN COALESCE(pc.n_pred, 0) > 0 THEN " +
          "round(COALESCE(d.tp, 0) / CAST(pc.n_pred AS DOUBLE), 6) END AS prec, " +
          "round(COALESCE(d.tp, 0) / CAST(a.n_true AS DOUBLE), 6) AS recall, " +
          "round(2.0 * COALESCE(d.tp, 0) / (a.n_true + COALESCE(pc.n_pred, 0)), 6) AS f1 " +
          "FROM act a LEFT JOIN diag d USING (label) " +
          "LEFT JOIN predc pc ON a.label = pc.pred"),
    ),
    QuerySpec(
      // PCA leading component by power iteration — linear algebra as
      // relational algebra, the dimensionality-reduction step run
      // before clustering/ANN. Covariance E[xᵢxⱼ]−μᵢμⱼ is ONE
      // combinable aggregation over the per-vector (dim, dim) outer
      // products (n·k² rows keyed by the 4096 (i,j) pairs — the
      // map-side-combine shape that scales to any n); three C·v
      // multiplies are each a k²-frame join + k-key sum; norms ride
      // windows over the 64-row vector frame. Start vector is uniform
      // (all-positive), so the converged SIGN is deterministic and
      // cross-engine stable. The oracle unrolls the same three
      // iterations in SQL. Output: per-dim loading + the Rayleigh
      // eigenvalue estimate (‖Cv‖ after the last multiply).
      "q176_pca_power",
      (s, dir) => {
        val W = org.apache.spark.sql.expressions.Window
        val e = emb(s, dir)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
          .select(col("vec_id"), col("dim"), col("v").cast("double").as("v"))
        // one bounded count job for the scalar divisor (the k-means
        // centroid-collect discipline: a single long to the driver)
        val n = e.select(col("vec_id")).distinct().count().toDouble
        val mu = e.groupBy("dim").agg((sum(col("v")) / n).as("mu"))
        val cov = e.as("a").join(e.as("b"), "vec_id")
          .groupBy(col("a.dim").as("di"), col("b.dim").as("dj"))
          .agg((sum(col("a.v") * col("b.v")) / n).as("exy"))
          .join(mu.select(col("dim").as("di"), col("mu").as("mui")), Seq("di"))
          .join(mu.select(col("dim").as("dj"), col("mu").as("muj")), Seq("dj"))
          .select(col("di"), col("dj"), (col("exy") - col("mui") * col("muj")).as("c"))
          .localCheckpoint(true)
        def mult(v: DataFrame): DataFrame = cov
          .join(v.select(col("dim").as("dj"), col("w")), Seq("dj"))
          .groupBy(col("di").as("dim")).agg(sum(col("c") * col("w")).as("cw"))
        // zero-iterate guard (r17 division sweep): cov·w is EXACTLY
        // zero on a single-vector corpus (cov = E[xx] − μμ cancels
        // bit-exactly at n = 1) or whenever the iterate lands in the
        // null space (L1-normalized embeddings make the all-ones v0
        // one) — nrm = 0.0 then throws under the ANSI session default
        // where DuckDB's x/0 is NULL. A rank-0 direction has no
        // defined loading: declare it NULL, identically cross-engine.
        def normalize(cw: DataFrame): DataFrame = cw
          .withColumn("nrm", sqrt(sum(col("cw") * col("cw")).over(W.partitionBy())))
          .select(col("dim"), when(col("nrm") =!= 0.0d, col("cw") / col("nrm")).as("w"),
            col("nrm"))
        val v0 = mu.select(col("dim")).withColumn("w", lit(1.0 / 8.0))
        val v3 = normalize(mult(normalize(mult(normalize(mult(v0)).drop("nrm")))
          .drop("nrm")))
        v3.select(col("dim").cast("bigint").as("dim"),
          round(col("w"), 6).as("loading"),
          round(col("nrm"), 6).as("eigenvalue"))
      },
      Some {
        def iter(prev: String, cw: String, v: String): String =
          s"$cw AS (SELECT di AS dim, SUM(c * w) AS cw FROM cov " +
            s"JOIN $prev ON $prev.dim = cov.dj GROUP BY 1), " +
            s"$v AS (SELECT dim, cw / sqrt(SUM(cw * cw) OVER ()) AS w, " +
            s"sqrt(SUM(cw * cw) OVER ()) AS nrm FROM $cw)"
        "WITH e AS (SELECT vec_id, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v " +
          "FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)), " +
          "n AS (SELECT CAST(COUNT(DISTINCT vec_id) AS DOUBLE) AS n FROM e), " +
          "mu AS (SELECT dim, SUM(v) / (SELECT n FROM n) AS mu FROM e GROUP BY 1), " +
          "cov AS MATERIALIZED (SELECT a.dim AS di, b.dim AS dj, " +
          "SUM(a.v * b.v) / (SELECT n FROM n) - m1.mu * m2.mu AS c " +
          "FROM e a JOIN e b USING (vec_id) " +
          "JOIN mu m1 ON m1.dim = a.dim JOIN mu m2 ON m2.dim = b.dim " +
          "GROUP BY 1, 2, m1.mu, m2.mu), " +
          "v0 AS (SELECT DISTINCT dim, 1.0 / 8.0 AS w FROM e), " +
          s"${iter("v0", "cw1", "v1")}, ${iter("v1", "cw2", "v2")}, " +
          s"${iter("v2", "cw3", "v3")} " +
          "SELECT dim, round(w, 6) AS loading, round(nrm, 6) AS eigenvalue FROM v3"
      },
    ),
  )
}
