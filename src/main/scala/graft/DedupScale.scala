package graft

import org.apache.spark.sql.functions._

/** Dedup-family scale audit: empirical LSH / SimHash band-bucket
  * growth across every fixture scale the driver offers.
  *
  * The dedup scale story rests on a claim: candidate generation is
  * bounded because band buckets stay small as the corpus grows —
  * bucket-join cost is Σ|bucket|², so the statistic that matters is
  * the largest bucket and the implied candidate-pair count, NOT the
  * corpus size. This main measures, per scale and per family
  * (MinHash 8×2-perm bands; SimHash 4×8-bit bands; SimHash64 4×16-bit
  * bands), the bucket-count / max-bucket / p99-bucket / Σ|b|·(|b|−1)/2
  * figures and prints one JSON line per (scale, family) for
  * BASELINE.md's record.
  *
  * Usage: runMain graft.DedupScale [sfDir ...]  (default: all three)
  *
  * A `dir@xN` argument synthesizes an N× corpus from `dir` by
  * DETERMINISTIC hash-derived token mutation (no RNG): variant k of a
  * document replaces ~20% of its tokens — those where
  * xxhash64(position, doc_id, k) lands in residue 0 mod 5 — with
  * md5-derived replacements, then re-ids as doc_id·N + k. (The first
  * cut used i·2654435761 + doc_id·1000003·k mod 5 — but 2654435761 ≡ 1
  * and 1000003 ≡ 3 mod 5, so that "hash" degenerated to a pure
  * position STRIDE: variants k and k+5 replaced identical position
  * sets and every doc_id ≡ 0 mod 5 mutated the same stride across all
  * its variants, correlating signatures the design claims are
  * independent — r13 instrument review.) Each replaced token kills its
  * 3 covering shingles, so variants share a minority of shingles with
  * their parent: the synthesized corpus grows the DISTINCT signature
  * population (what band saturation is about) rather than stacking
  * exact copies into the same buckets. The fixture's 5k docs @ sf0.1 →
  * 50k docs @ x10: one scale step past where SimHash32 already
  * saturated.
  */
object DedupScale {

  /** Materialize the N× mutated corpus under /tmp and return its dir.
    * Pid-scoped, caller removes on exit (main's finally): a fixed
    * shared path let a concurrent run's overwrite delete part files
    * under this run's in-flight scan — the q205 race class — and each
    * run leaked a fixture-sized copy (r13 instrument review).
    */
  private def synthesize(spark: org.apache.spark.sql.SparkSession, srcDir: String, xf: Int): String = {
    val out = s"/tmp/graft_dedup_scale/pid${ProcessHandle.current().pid()}_" +
      s"${operators.Relational.datasetKey(srcDir)}_x$xf"
    val base = Tables(spark, srcDir, "documents")
    base
      .crossJoin(spark.range(xf).toDF("k"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn(
        "toks2",
        expr(
          "transform(toks, (t, i) -> CASE WHEN k > 0 AND " +
            "pmod(xxhash64(i, doc_id, k), 5) = 0 " +
            "THEN substr(md5(concat(t, ':', CAST(doc_id AS STRING), ':', CAST(k AS STRING))), 1, 8) " +
            "ELSE t END)"))
      .select(
        (col("doc_id") * xf + col("k")).as("doc_id"),
        concat_ws(" ", col("toks2")).as("text"),
        col("lang"), col("source"),
        length(concat_ws(" ", col("toks2"))).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    out
  }

  def main(args: Array[String]): Unit = {
    val specs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv()
    val synthesized = scala.collection.mutable.Buffer.empty[String]
    try {
      specs.foreach { spec =>
        val (dir, label) = spec.split("@x", 2) match {
          case Array(src, n) =>
            val d = synthesize(spark, src, n.toInt)
            synthesized += d
            (d, s"${new java.io.File(src).getName}_x$n")
          case _ => (spec, new java.io.File(spec).getName)
        }
        val sf = label
        val nDocs = Tables(spark, dir, "documents").count()

        // nJoined: the doc population the family's join actually runs
        // over — the ppjoin/containment frames DOUBLE the corpus (each
        // doc + an 85%-prefix twin), so labeling their bucket stats
        // with the base nDocs understated the joined population 2×
        // (r13 instrument review)
        def report(family: String, buckets: org.apache.spark.sql.DataFrame,
            nJoined: Long = nDocs): Unit = {
          // buckets: one row per (bucket key, n docs in bucket)
          val stats = buckets
            .agg(
              count(lit(1)).as("n_buckets"),
              max(col("n")).as("max_bucket"),
              expr("CAST(percentile(n, 0.99) AS DOUBLE)").as("p99_bucket"),
              sum(expr("n * (n - 1) div 2")).as("cand_pairs"))
            .head()
          println(
            s"""{"metric":"dedup_scale","sf":"$sf","family":"$family","n_docs":$nDocs,""" +
              s""""n_docs_joined":$nJoined,""" +
              s""""n_buckets":${stats.getLong(0)},"max_bucket":${stats.getLong(1)},""" +
              s""""p99_bucket":${stats.getDouble(2)},"cand_pairs":${stats.getLong(3)}}""")
        }

        report("minhash_8x2",
          graft.operators.DedupOps.minhashBands(spark, dir)
            .groupBy("band", "sig").agg(count(lit(1)).as("n")))

        // banding via the operators' OWN simhashBandRows — a copy here
        // once carried `& 255` vs q29's `% 256` (equal only while the
        // signature stays non-negative); one implementation means the
        // audit measures the buckets the joins actually key on
        val sig32 = SparkEntry.queries("q28_simhash")(spark, dir).localCheckpoint()
        report("simhash32_4x8",
          graft.operators.DedupOps.simhashBandRows(sig32, "simhash", nBands = 4, width = 8)
            .groupBy("b", "bv").agg(count(lit(1)).as("n")))

        val sig64 = SparkEntry.queries("q28b_simhash64")(spark, dir).localCheckpoint()
        report("simhash64_4x16",
          graft.operators.DedupOps.simhashBandRows(sig64, "simhash64", nBands = 4, width = 16)
            .groupBy("b", "bv").agg(count(lit(1)).as("n")))

        // q29c's widened banding: 2 bands × 32 bits (2^32 buckets per
        // band) — the >100k-doc escape hatch. The claim under audit:
        // where 4×16 shows saturation onset at 50k docs, 2×32 bucket
        // occupancy stays ~zero (max bucket = true near-identical
        // collisions, not hash crowding).
        report("simhash64_2x32",
          graft.operators.DedupOps.simhashBandRows(sig64, "simhash64", nBands = 2, width = 32)
            .groupBy("b", "bv").agg(count(lit(1)).as("n")))

        // q142 PPJoin: buckets are the inverted lists candidate
        // generation joins on. `ppjoin_prefix` (rarest-prefix tokens
        // only) vs `inverted_all` (every shingle — what a filterless
        // inverted-index join pays): cand_pairs ratio IS the measured
        // pruning factor, and its growth across scales is the claim
        // under audit.
        val (allSh, prefix, _, _) = graft.operators.DedupOps.ppjoinFrames(spark, dir)
        val ppDocs = allSh.select("doc_id").distinct().count()
        report("ppjoin_prefix",
          prefix.groupBy("sh").agg(count(lit(1)).as("n")), nJoined = ppDocs)
        report("inverted_all",
          allSh.groupBy("sh").agg(count(lit(1)).as("n")), nJoined = ppDocs)

        // q177 containment join: ASYMMETRIC prefix — each doc's
        // L = n−⌈0.8n⌉+1 rarest shingles joined against FULL inverted
        // lists, so the join cost is Σ_sh prefix(sh)·full(sh), not
        // Σ|b|². cand_pairs reports that product (self-matches
        // included — the da≠db filter drops them post-join);
        // max/p99_bucket are the full-list sizes restricted to
        // prefix-occupied shingles. Comparable filterless cost is the
        // inverted_all row above.
        val (csh, cprefix, _, _) =
          graft.operators.DedupOps.containmentFrames(spark, dir)
        val cDocs = csh.select("doc_id").distinct().count()
        val cstats = cprefix.groupBy("sh").agg(count(lit(1)).as("np"))
          .join(csh.groupBy("sh").agg(count(lit(1)).as("nf")), "sh")
          .agg(
            count(lit(1)).as("n_buckets"),
            max(col("nf")).as("max_bucket"),
            expr("CAST(percentile(nf, 0.99) AS DOUBLE)").as("p99_bucket"),
            sum(col("np") * col("nf")).as("cand_pairs"))
          .head()
        println(
          s"""{"metric":"dedup_scale","sf":"$sf","family":"containment_prefix","n_docs":$nDocs,""" +
            s""""n_docs_joined":$cDocs,""" +
            s""""n_buckets":${cstats.getLong(0)},"max_bucket":${cstats.getLong(1)},""" +
            s""""p99_bucket":${cstats.getDouble(2)},"cand_pairs":${cstats.getLong(3)}}""")
      }
    } finally {
      synthesized.foreach(d => GraftSession.rmTree(new java.io.File(d)))
      spark.stop()
    }
  }
}
