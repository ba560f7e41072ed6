package graft.operators

import graft.{JobStacks, SparkSpec}
import org.apache.spark.sql.functions._
import scala.util.Random

/** Semantic property tests for the dedup signatures: the oracle gate
  * proves Spark==DuckDB; these prove the signatures actually DETECT
  * near-duplicates — a near-identical document pair must land within
  * small hamming distance / share MinHash bands, and unrelated docs
  * must not.
  */
class DedupSemanticsSpec extends SparkSpec {

  private def randWords(rnd: Random, n: Int): IndexedSeq[String] =
    (0 until n).map(_ => rnd.alphanumeric.filter(_.isLetter).take(3 + rnd.nextInt(5)).mkString.toLowerCase)

  test("simhash: near-dup pair close in hamming, unrelated docs far") {
    val s = spark; import s.implicits._
    val rnd = new Random(31)
    val base = randWords(rnd, 120)
    val nearDup = base.updated(10, "changed").updated(80, "word") // 2 of 120 words
    val unrelated = (0 until 8).map(i => randWords(rnd, 120))
    // drive the REAL q28 operator over a staged fixture dir — a private
    // SQL re-implementation here would keep passing if the operator
    // regressed
    val dir = java.nio.file.Files.createTempDirectory("graft_simhash_sem")
    (Seq(base, nearDup) ++ unrelated).zipWithIndex
      .map { case (ws, i) =>
        (i.toLong, ws.mkString(" "), "en", "synthetic", ws.mkString(" ").length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sig = graft.SparkEntry.queries("q28_simhash")(s, dir.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val nearH = hamming(sig(0L), sig(1L))
    assert(nearH <= 6, s"near-dup hamming $nearH")
    val unrelatedH = (2L until 10L).map(i => hamming(sig(0L), sig(i)))
    assert(unrelatedH.forall(_ > 6), s"unrelated hammings $unrelatedH")
  }

  test("simhash64: near-dup pair close in hamming, unrelated docs far") {
    val s = spark; import s.implicits._
    val rnd = new Random(41)
    val base = randWords(rnd, 120)
    val nearDup = base.updated(10, "changed").updated(80, "word")
    val unrelated = (0 until 8).map(_ => randWords(rnd, 120))
    val dir = java.nio.file.Files.createTempDirectory("graft_simhash64_sem")
    (Seq(base, nearDup) ++ unrelated).zipWithIndex
      .map { case (ws, i) =>
        (i.toLong, ws.mkString(" "), "en", "synthetic", ws.mkString(" ").length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sig = graft.SparkEntry.queries("q28b_simhash64")(s, dir.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // 64-bit thresholds: 2× the 32-bit spec's (twice the bits, same
    // relative distance)
    val nearH = hamming(sig(0L), sig(1L))
    assert(nearH <= 12, s"near-dup hamming $nearH")
    val unrelatedH = (2L until 10L).map(i => hamming(sig(0L), sig(i)))
    assert(unrelatedH.forall(_ > 12), s"unrelated hammings $unrelatedH")
  }

  /** The 100 TB claim under ugly data: candidate generation must stay
    * bucketed (pairs ∝ true duplicate structure), not degrade to
    * all-pairs, even when the corpus is adversarially skewed — heavy
    * near-dup clusters plus a shared preamble that puts identical
    * high-frequency shingles in EVERY document (web-boilerplate shape;
    * without the stop-shingle filter one MinHash bucket swallowed 2/3
    * of this corpus).
    *
    * Sub-quadratic is asserted as SCALING, not a constant: doubling the
    * corpus (same cluster size) must grow candidate pairs ~linearly
    * (×≲2.6) while all-pairs grows ×4.
    */
  test("LSH bucket sizes and candidate pairs stay sub-quadratic under adversarial skew") {
    val s = spark; import s.implicits._
    val rnd = new Random(59)
    val clusterSize = 100
    val preamble = randWords(rnd, 20) // shared by ALL docs: shingle skew

    def writeCorpus(nClusters: Int): (String, Long) = {
      val clusters = (0 until nClusters).map { _ =>
        val base = randWords(rnd, 60)
        (0 until clusterSize).map { _ =>
          // 2 random single-word mutations per doc → heavy near-dup cluster
          val m1 = rnd.nextInt(60); val m2 = rnd.nextInt(60)
          preamble ++ base.updated(m1, "mut" + rnd.nextInt(100000)).updated(m2, "mut" + rnd.nextInt(100000))
        }
      }
      val randoms = (0 until nClusters * 20).map(_ => preamble ++ randWords(rnd, 60))
      val docs = (clusters.flatten ++ randoms).zipWithIndex
        .map { case (ws, i) =>
          (i.toLong, ws.mkString(" "), "en", "synthetic", ws.mkString(" ").length.toLong)
        }
      val dir = java.nio.file.Files.createTempDirectory(s"graft_lsh_skew_$nClusters")
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      (dir.toString, docs.size.toLong)
    }

    // bucket histogram → (max bucket, Σ C(bucket, 2) candidate pairs)
    def stats(buckets: Array[Long]): (Long, Long) =
      (buckets.max, buckets.map(c => c * (c - 1) / 2).sum)

    def minhashStats(dir: String): (Long, Long) = stats(
      DedupOps.minhashBands(s, dir)
        .groupBy("band", "sig").count()
        .select(col("count")).as[Long].collect())

    def simhash64Stats(dir: String): (Long, Long) = stats(
      graft.SparkEntry.queries("q28b_simhash64")(s, dir)
        .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("b"), col("simhash64"))
        .withColumn("bv", expr("shiftright(simhash64, 16 * b) & 65535"))
        .groupBy("b", "bv").count()
        .select(col("count")).as[Long].collect())

    val (dir1, n1) = writeCorpus(5)  //  600 docs
    val (dir2, n2) = writeCorpus(10) // 1200 docs
    val allPairs = (n: Long) => n * (n - 1) / 2
    assert(allPairs(n2) >= 4 * allPairs(n1) - n2) // the quadratic baseline

    for ((label, f) <- Seq(
        ("minhash", minhashStats _), ("simhash64", simhash64Stats _))) {
      val (max1, cand1) = f(dir1)
      val (max2, cand2) = f(dir2)
      // buckets hold at most a near-dup cluster plus bounded noise —
      // never a constant fraction of the corpus — at BOTH sizes
      assert(max1 <= 3L * clusterSize, s"$label max bucket $max1 at n=$n1")
      assert(max2 <= 3L * clusterSize, s"$label max bucket $max2 at n=$n2")
      // linear-in-n candidate growth (cluster size fixed): ×≲2.6 where
      // all-pairs grows ×4
      assert(cand2 <= (2.6 * cand1).toLong,
        s"$label candidates scaled $cand1 -> $cand2 (super-linear)")
      // and strictly below the all-pairs baseline at both sizes
      assert(cand2 < allPairs(n2), s"$label candidates $cand2 vs all-pairs ${allPairs(n2)}")
    }

    // --- the widening claim: at this corpus size 8-bit bands (256
    // buckets) saturate with cross-cluster noise; 16-bit bands must
    // generate strictly fewer candidates ---
    val (_, sh16Candidates) = simhash64Stats(dir2)
    val sh8Candidates = graft.SparkEntry.queries("q28_simhash")(s, dir2)
      .select(col("doc_id"), explode(expr("sequence(0, 3)")).as("b"), col("simhash"))
      .withColumn("bv", expr("shiftright(simhash, 8 * b) % 256"))
      .groupBy("b", "bv").count()
      .select(col("count")).as[Long].collect()
      .map(c => c * (c - 1) / 2).sum
    assert(sh16Candidates < sh8Candidates,
      s"16-bit banding ($sh16Candidates candidates) must beat 8-bit ($sh8Candidates)")
  }

  /** The declared band-width policy ([[DedupOps.recommendedSimhashBanding]])
    * held to its claim at measured scale: on a 5k-doc diverse corpus —
    * exactly the scale where BASELINE.md records 4×8 banding saturated
    * (max bucket 51 of 256 values) and 4×16 flat (max 5) — the
    * RECOMMENDED shape must keep the max band bucket under a fixed
    * bound, and the rejected narrower shape must VIOLATE the same
    * bound on the same corpus. The second assertion is the
    * falsifiability proof: the instrument demonstrably CAN fail, so
    * the first assertion is not vacuous, and moving the policy's
    * threshold down a decade (recommending 4×8 at 5k docs) turns the
    * test red.
    */
  test("band-width policy: recommended banding stays bounded where the narrower one saturates") {
    val s = spark; import s.implicits._
    val rnd = new Random(97)
    val n = 5000
    val docs = (0 until n).map { i =>
      val ws = randWords(rnd, 40)
      (i.toLong, ws.mkString(" "), "en", "synthetic", ws.mkString(" ").length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_band_policy")
    try {
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def maxBucket(sig: org.apache.spark.sql.DataFrame, sigCol: String,
        nBands: Int, width: Int): Long =
      DedupOps.simhashBandRows(sig, sigCol, nBands, width)
        .groupBy("b", "bv").count()
        .agg(max("count")).head().getLong(0)

    // the policy's thresholds map to the three shipped shapes
    assert(DedupOps.recommendedSimhashBanding(500L) == ((4, 8)))
    assert(DedupOps.recommendedSimhashBanding(50000L) == ((4, 16)))
    assert(DedupOps.recommendedSimhashBanding(500000L) == ((2, 32)))

    val (nb, w) = DedupOps.recommendedSimhashBanding(n.toLong)
    assert((nb, w) == ((4, 16)), s"policy at $n docs: ($nb, $w)")
    val bound = 8L
    // recommended shape (q29b: 4×16 over the 64-bit signature)
    val sig64 = graft.SparkEntry.queries("q28b_simhash64")(s, dir.toString)
      .localCheckpoint()
    val recMax = maxBucket(sig64, "simhash64", nb, w)
    assert(recMax <= bound,
      s"recommended ${nb}x$w banding max bucket $recMax > $bound at $n docs")
    // rejected narrower shape (q29: 4×8 over the 32-bit signature) on
    // the SAME corpus — must break the bound, proving it can fail
    val sig32 = graft.SparkEntry.queries("q28_simhash")(s, dir.toString)
      .localCheckpoint()
    val narrowMax = maxBucket(sig32, "simhash", 4, 8)
    assert(narrowMax > bound,
      s"falsifiability: 4x8 banding max bucket $narrowMax ≤ $bound at $n docs — " +
        "the bound cannot fail, the recommended-shape assertion is vacuous")
    // 5k-doc corpus per run must not accumulate in /tmp (r15 ADVICE)
    } finally graft.GraftSession.rmTree(dir.toFile)
  }

  /** q92's Zipf-trap fix: when EVERY document starts with the same
    * token (the worst case of a Zipf-distributed leading token — the
    * old (lang, first-token) blocking degenerates to one corpus-sized
    * block and all-pairs work), the prefix-SimHash band dimension must
    * keep candidate generation bounded by CONTENT structure. Same
    * assertion shape as the MinHash/SimHash bucket-bound test above:
    * doubling the corpus (fixed cluster size) grows candidates
    * ~linearly while all-pairs grows ×4, and no block holds a constant
    * fraction of the corpus. Recall is asserted too: identical-prefix
    * cluster pairs must all survive the band filter.
    */
  test("fuzzy-dedup blocks stay sub-quadratic when every doc shares its first token") {
    val s = spark; import s.implicits._
    val rnd = new Random(83)
    val clusterSize = 50

    def writeCorpus(nClusters: Int): (String, Long) = {
      val clusters = (0 until nClusters).map { _ =>
        // one shared prefix per cluster; variants diverge only in the
        // tail → prefix levenshtein 0, a genuine near-dup cluster
        val base = randWords(rnd, 10)
        (0 until clusterSize).map(_ => ("the" +: base) ++ randWords(rnd, 30))
      }
      val randoms = (0 until nClusters * 35).map(_ => "the" +: randWords(rnd, 40))
      val docs = (clusters.flatten ++ randoms).zipWithIndex
        .map { case (ws, i) =>
          (i.toLong, ws.mkString(" "), "en", "synthetic", ws.mkString(" ").length.toLong)
        }
      val dir = java.nio.file.Files.createTempDirectory(s"graft_fuzzy_skew_$nClusters")
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      (dir.toString, docs.size.toLong)
    }

    // join work = Σ C(block, 2) over the REAL candidate key
    def blockStats(dir: String): (Long, Long) = {
      val counts = DedupOps.fuzzyBlocks(s, dir)
        .groupBy("lang", "tok1", "b", "bv").count()
        .select(col("count")).as[Long].collect()
      (counts.max, counts.map(c => c * (c - 1) / 2).sum)
    }

    val (dir1, n1) = writeCorpus(4) // 340 docs, ALL tok1 = "the"
    val (dir2, n2) = writeCorpus(8) // 680 docs
    val allPairs = (n: Long) => n * (n - 1) / 2
    assert(allPairs(n2) >= 4 * allPairs(n1) - n2) // the quadratic baseline

    val (max1, cand1) = blockStats(dir1)
    val (max2, cand2) = blockStats(dir2)
    // no block approaches the corpus: bounded by cluster structure plus
    // band noise, at BOTH sizes — the old single-dimension blocking
    // would put ALL n docs in one block here
    assert(max1 <= 3L * clusterSize, s"max block $max1 at n=$n1")
    assert(max2 <= 3L * clusterSize, s"max block $max2 at n=$n2")
    // ~linear candidate growth where all-pairs grows ×4
    assert(cand2 <= (2.6 * cand1).toLong,
      s"fuzzy candidates scaled $cand1 -> $cand2 (super-linear)")
    assert(cand2 < allPairs(n2), s"candidates $cand2 vs all-pairs ${allPairs(n2)}")

    // recall: every within-cluster pair (identical prefix → dist 0,
    // all 4 bands shared) must survive the band filter
    val found = graft.SparkEntry.queries("q92_fuzzy_dedup")(s, dir1)
      .filter(col("dist") === 0).count()
    val expected = 4L * clusterSize * (clusterSize - 1) / 2
    assert(found >= expected, s"cluster recall: $found dist-0 pairs, expected >= $expected")
  }

  test("minhash bands: near-dup shares a band, unrelated docs do not collide") {
    val s = spark
    val rnd = new Random(77)
    val base = randWords(rnd, 150)
    val nearDup = base.updated(5, "xx") // 1 of 150 words changed
    val unrelated = (0 until 6).map(_ => randWords(rnd, 150))
    val dir = java.nio.file.Files.createTempDirectory("graft_minhash_sem")
    import s.implicits._
    val docs = (Seq(base, nearDup) ++ unrelated).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" "), "en", "synthetic", ws.mkString(" ").length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val pairs = graft.SparkEntry.queries("q27_minhash_lsh")(s, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)),
      s"expected exactly the near-dup pair (0,1), got: $pairs")
  }

  test("q142 ppjoin: prefix filter prunes hard AND loses nothing") {
    val s = spark
    val sfDir = "/root/testdata/sf0.001"
    val (sh, _, cand, result) = DedupOps.ppjoinFrames(s, sfDir)
    // no false negatives: the candidate set must contain every truly
    // qualifying pair — result == brute-force verification of ALL
    // shared-shingle pairs (what the DuckDB oracle also checks, but
    // here against the in-engine brute force so the test stands alone)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val brute = sh.as("a")
      .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("inter"))
    val bruteResult = brute
      .join(sz.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
      .join(sz.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
      .withColumn("jaccard", expr("CAST(inter AS DOUBLE) / (na + nb - inter)"))
      .filter(col("jaccard") >= 0.7)
      .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
    assert(result.exceptAll(bruteResult).count() == 0 &&
      bruteResult.exceptAll(result).count() == 0,
      "ppjoin result diverges from brute-force verification")
    // pruning: candidates must be a strict, substantial subset of the
    // shared-shingle pair space the inverted-index join would verify
    val bruteCand = brute.count()
    val ppCand = cand.count()
    assert(ppCand < bruteCand / 2,
      s"prefix filter barely pruned: $ppCand candidates vs $bruteCand shared-shingle pairs")
    // and every emitted pair came through the candidate set
    assert(result.join(cand, Seq("da", "db"), "left_anti").count() == 0)
  }

  test("q142 ppjoin: exact on adversarial random corpora (fuzz)") {
    val s = spark
    import s.implicits._
    // corpora built to stress the prefix filter's edges: tiny docs at
    // the 3-token shingle floor, exact copies (jaccard 1.0), heavy
    // df ties (small vocab), and long docs sharing a common template
    for (seed <- Seq(7, 23)) {
      val rnd = new Random(seed)
      val vocab = (0 until 12).map(i => s"w$i") // tiny vocab → df ties
      def doc(n: Int): String =
        (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val docsSeq =
        (0 until 20).map(i => (i.toLong, doc(3 + rnd.nextInt(6)))) ++ // tiny docs
          (20 until 30).map(i => (i.toLong, doc(40))) ++ // template-length docs
          Seq((30L, doc(15)), (31L, doc(15)))
      val withCopies = docsSeq ++ Seq(
        (40L, docsSeq(5)._2), // exact copy of a tiny doc
        (41L, docsSeq(25)._2)) // exact copy of a long doc
      val dir = java.nio.file.Files.createTempDirectory(s"graft_ppjoin_fuzz_$seed")
      withCopies
        .map { case (id, t) => (id, t, "en", "synthetic", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val (sh, _, _, result) = DedupOps.ppjoinFrames(s, dir.toString)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val brute = sh.as("a")
        .join(sh.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
        .agg(count(lit(1)).as("inter"))
        .join(sz.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
        .join(sz.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
        .withColumn("jaccard", expr("CAST(inter AS DOUBLE) / (na + nb - inter)"))
        .filter(col("jaccard") >= 0.7)
        .select(col("da"), col("db"), round(col("jaccard"), 6).as("jaccard"))
      assert(result.exceptAll(brute).count() == 0 && brute.exceptAll(result).count() == 0,
        s"seed $seed: ppjoin diverges from brute force on the random corpus")
      // the exact copies must be found (their derived twins too)
      val found = result.select("da", "db").as[(Long, Long)].collect().toSet
      assert(found.contains((5L, 40L)) && found.contains((25L, 41L)),
        s"seed $seed: planted exact copies not found: $found")
    }
  }

  test("scanPartitions reads every kind of leaf scan from the plan, without a job") {
    val s = spark; import s.implicits._
    val local = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g h i")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_scan_parts")
    spark.range(0, 40, 1, 3).selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val file = spark.read.parquet(s"$dir/documents.parquet")
    val cached = local.select($"doc_id", upper($"text").as("text")).cache()
    try {
      val frames = Seq(local, spark.range(0, 10, 1, 3).toDF("doc_id"), file,
        file.join(local.select($"doc_id"), "doc_id"), cached)
      val (parts, stacks) = JobStacks(spark)(frames.map(DedupOps.scanPartitions))
      assert(stacks.isEmpty, s"scanPartitions started jobs: $stacks")
      // a scan-only frame's own rdd has its scan's partitions
      val (localParts, fileParts) = (local.rdd.getNumPartitions, file.rdd.getNumPartitions)
      assert(localParts == 3)
      // a cached frame's partitions are only known by running its plan,
      // so spread must leave it alone rather than guess
      assert(parts == Seq(Some(localParts), Some(3), Some(fileParts),
        Some(math.max(localParts, fileParts)), None))
    } finally cached.unpersist()
  }
}
