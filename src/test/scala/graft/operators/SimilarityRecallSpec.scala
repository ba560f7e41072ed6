package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** ANN quality gates.
  *
  * On data with real cluster structure, IVF with nprobe=2 of 10 cells
  * must recover ≥0.9 of the exact top-k. On the driver fixture the
  * embeddings are near-isotropic (same-label mean cosine 0.0016 vs
  * 0.0003 cross-label — measured), so NO cell scheme can beat the
  * scanned fraction by much; the gate there is "clearly better than
  * random cells" (nprobe/ncells = 0.2 expected), not 0.9.
  */
class SimilarityRecallSpec extends SparkSpec {

  private def topkSets(df: DataFrame): Map[Long, Set[Long]] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap

  private def recall(exact: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double = {
    val per = exact.map { case (q, truth) =>
      truth.intersect(got.getOrElse(q, Set.empty)).size.toDouble / truth.size
    }
    per.sum / per.size
  }

  private def bruteTopK(e: DataFrame, q: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(e.sparkSession)
    val en = e.withColumn("n", expr("SQRT(float_dot(embedding, embedding))"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id").asc)
    en.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("qn", expr("SQRT(float_dot(qemb, qemb))"))
      .withColumn("cosine", expr("float_dot(embedding, qemb)") / (col("n") * col("qn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"))
  }

  test("IVF recall >= 0.9 on genuinely clustered synthetic embeddings") {
    val s = spark; import s.implicits._
    val rnd = new Random(42)
    val d = 32; val nCells = 10; val perCell = 60
    // 10 well-separated cluster centers, points = center + small noise
    val centers = Array.fill(nCells)(Array.fill(d)(rnd.nextGaussian().toFloat * 3f))
    val rows = for {
      c <- 0 until nCells; j <- 0 until perCell
    } yield (
      (c * perCell + j).toLong,
      centers(c).map(v => v + rnd.nextGaussian().toFloat * 0.3f),
      c)
    val e = rows.toDF("vec_id", "embedding", "label")
    val q = e.filter($"vec_id" % 60 === 0) // one query per cluster
      .select($"vec_id".as("qid"), $"embedding".as("qemb"))
    val exact = topkSets(bruteTopK(e, q, 5))
    val ivf = topkSets(SimilarityOps.ivfTopK(e, q, nprobe = 2, k = 5))
    val r = recall(exact, ivf)
    assert(r >= 0.9, s"clustered recall $r")
  }

  private val corpusDim = 64

  /** Deterministic clustered corpus: `label` = point's true cluster,
    * point = G·global + delta_label + noise, all components md5-derived
    * U[-4, 4]^corpusDim (no RNG). The shared global component makes
    * the cells ANGULARLY close (cos between centers ≈ G²/(G²+1) ≈ 0.9
    * at G=3) —
    * the real-embedding regime where topical clusters share a domain
    * direction — and noise at the delta's own scale pushes boundary
    * points' true cosine neighbors into the 2nd/3rd-nearest cell.
    * That is what makes recall actually DEPEND on nprobe: orthogonal
    * well-separated centers read recall 1.0 at nprobe=1 everywhere —
    * a saturated instrument. This is the construction behind the
    * recall-vs-nprobe curve recorded in BASELINE.md (round 13).
    */
  private def corpus(s: org.apache.spark.sql.SparkSession, n: Int): DataFrame =
    s.range(n.toLong).toDF("vec_id")
      // skewed cell assignment: u = md5-uniform in [0,1), label =
      // floor(10·sqrt(u)) ⇒ P(label=j) = (2j+1)/100 — sizes ramp ~1:19
      // across the 10 cells, so the scanned fraction depends on WHICH
      // cells the probes pick instead of collapsing to nprobe/10
      .withColumn("label", expr(
        "CAST(floor(10.0D * sqrt((CAST(conv(substr(md5(concat('l:', vec_id)), 1, 6), 16, 10) AS BIGINT) % 10000) / 10000.0D)) AS BIGINT)"))
      .withColumn("embedding", expr(
        s"""transform(sequence(0, ${corpusDim - 1}), i ->
           |  CAST(3.0D * (CAST(conv(substr(md5(concat('g:', i)), 1, 6), 16, 10) AS BIGINT) % 2000 - 1000) / 250.0 AS FLOAT)
           |  + CAST((CAST(conv(substr(md5(concat('c', label, ':', i)), 1, 6), 16, 10) AS BIGINT) % 2000 - 1000) / 250.0 AS FLOAT)
           |  + CAST((CAST(conv(substr(md5(concat('p', vec_id, ':', i)), 1, 6), 16, 10) AS BIGINT) % 2000 - 1000) / 250.0 AS FLOAT))"""
          .stripMargin))

  test("nprobe=2 point of the AnnScale recall curve: >= 0.9 at ~20% scanned, and nprobe=1 is genuinely worse") {
    // the overlapping-angle corpus (shared global direction, noise at
    // the cluster-delta scale — the construction of the recorded curve
    // in BASELINE.md); 2k points keeps this fast while preserving the
    // geometry
    val e = corpus(spark, 2000).localCheckpoint()
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val exact = topkSets(bruteTopK(e, q, 5))
    val r1 = recall(exact, topkSets(SimilarityOps.ivfTopK(e, q, nprobe = 1, k = 5)))
    val r2 = recall(exact, topkSets(SimilarityOps.ivfTopK(e, q, nprobe = 2, k = 5)))
    assert(r2 >= 0.9, s"nprobe=2 recall $r2 below the recorded curve's claim")
    // the curve must be a CURVE: if nprobe=1 already achieves 0.9 the
    // corpus has degenerated back into the saturated instrument
    assert(r1 < 0.9 && r2 > r1, s"saturated instrument: r1=$r1 r2=$r2")
  }

  test("fixture sanity: IVF beats the random-cell baseline (0.2 scanned fraction)") {
    val dir = "/root/testdata/sf0.01"
    val exact = topkSets(
      SparkEntry.queries("q30_cosine_topk")(spark, dir).filter(col("rk") <= 5)
        .select("qid", "vec_id"))
    val ivf = topkSets(
      SparkEntry.queries("q31_ann_ivf")(spark, dir).select("qid", "vec_id"))
    val r = recall(exact, ivf)
    assert(r > 0.2, s"fixture recall $r not better than random cells")
  }

  test("q53 kmeans: assignments match a driver-side reimplementation; Lloyd step never raises SSE") {
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q53_kmeans")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE))")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + (a(i) - b(i)) * (a(i) - b(i)))
    def argmin(v: Array[Double], cents: Seq[(Long, Array[Double])]): Long =
      cents.map { case (c, cv) => (d2(v, cv), c) }.min._2
    val cents0 = (0L until 8L).map(i => i -> vecs(i))
    // independent reimplementation of the initial assignment
    val c0 = vecs.map { case (id, v) => id -> argmin(v, cents0) }
    assert(out.forall { case (id, (a0, _)) => c0(id) == a0 },
      "spark c0 must equal the naive driver argmin")
    // Lloyd invariant: SSE under (c1, cents1) <= SSE under (c0, cents0)
    val cents1 = c0.groupBy(_._2).map { case (c, m) =>
      val vs = m.keys.map(vecs).toSeq
      c -> vs.transpose.map(col => col.sum / vs.size).toArray
    }.toSeq
    val sse0 = vecs.map { case (id, v) => d2(v, cents0.toMap.apply(c0(id))) }.sum
    val sse1 = vecs.map { case (id, v) =>
      d2(v, cents1.toMap.apply(out(id)._2))
    }.sum
    assert(sse1 <= sse0 + 1e-9, s"Lloyd step raised SSE: $sse0 -> $sse1")
    assert(out.values.map(_._2).toSet.size > 1, "refined clustering must be non-trivial")
  }

  test("q145 ts-similarity: float boundaries carry real margin (q103 pattern)") {
    // the gate compares row SETS across engines, so no z-value may sit
    // at the sign-word boundary and no pair distance at the τ=0.75 cut
    // within cross-engine float noise; measured margins are ~1e-4+
    // (recorded at all three SFs) — assert 1e-6 here so a fixture
    // regeneration that lands a boundary case fails loudly, not flakily
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val ev = graft.Tables.events(spark, sfDir)
        .filter(col("user_id") < 40)
        .select(col("user_id"), to_date(col("ts")).as("d"), col("value"))
      val bounds = ev.agg(min(col("d")).as("dmin"))
      val f = ev.crossJoin(broadcast(bounds))
        .select(col("user_id"), datediff(col("d"), col("dmin")).cast("long").as("day"), col("value"))
      val daily = f.groupBy("user_id", "day").agg(sum(col("value")).as("v"))
      val w7 = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day").rowsBetween(0, 6)
      // margin of the z sign decision over NON-zero-filled cells is a
      // conservative subset; the full q145 zw margin is checked via the
      // emitted distances below
      val z = daily
        .select(collect_list(col("v")).over(w7).as("win"))
        .filter(size(col("win")) === 7)
        .withColumn("m", expr("aggregate(win, 0D, (a, x) -> a + x) / 7"))
        .withColumn("sd", expr("sqrt(aggregate(win, 0D, (a, x) -> a + (x - m) * (x - m)) / 7)"))
        .filter(col("sd") > 1e-9)
        .select(explode(expr("transform(win, x -> abs((x - m) / sd))")).as("az"))
        .filter(col("az") > 0) // exact zeros only arise from identical values, not noise
        .agg(min(col("az")))
        .head().getDouble(0)
      assert(z > 1e-6, s"$sfDir: a z-value sits within float noise of the sign boundary: $z")
      val dists = SparkEntry.queries("q145_ts_similarity")(spark, sfDir)
        .select(col("dist")).collect().map(_.getDouble(0))
      assert(dists.nonEmpty)
      assert(dists.forall(d => math.abs(d - 0.75) > 1e-6),
        s"$sfDir: an emitted distance sits at the τ cut")
    }
  }
}
