package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical guard for the forced-broadcast convention.
  *
  * A `broadcast(...)` hint is honored UNCONDITIONALLY — the planner
  * never falls back past `autoBroadcastJoinThreshold` for a hinted
  * frame — so a hint on a frame that scales with a fact table pins a
  * fact-sized build side into every executor's memory at 100 TB. This
  * defect class has now recurred three times, each caught by hand:
  * q192's forced-broadcast key frame (r9 ADVICE, fixed by the
  * `parentIsDim` gate), q208's round-1 peel frame (~25% of all graph
  * nodes, r11 ADVICE), and q87/q198's change-set / affected-orders
  * frames (r11 self-audit). Per the project convention
  * (OracleConventionSpec / StreamingConventionSpec /
  * ScratchConventionSpec), a convention that has to be re-fixed by
  * hand gets a source-scanning spec instead of a comment.
  *
  * Rule: every non-comment `broadcast(` occurrence in `src/main` must
  * match an allowlist entry below that names its size bound. Adding a
  * new hint without writing down why the frame stays small fails this
  * suite — which is exactly the review question that was skipped in
  * all three recurrences. Frames derived from a fact scan (lineitem /
  * orders / events / documents / embeddings) are only allowlisted when
  * the derivation provably bounds them (single-row aggregate,
  * df-threshold heavy-hitter cut, request-sized filter on a dim).
  */
class BroadcastConventionSpec extends AnyFunSuite {

  /** (file name, line substring) → the entry's bound is the comment.
    * Substrings must appear verbatim in the allowed line.
    */
  private val allowed: Seq[(String, String)] = Seq(
    // (enrichStream's static dim carries no hint: it is
    // caller-supplied, so its size is not this module's to assert —
    // the planner broadcasts off the dim's own stats when small)
    // k=8 k-means centroids (collected, bounded by k)
    ("SimilarityOps.scala", "broadcast(centroids)"),
    // probed IVF cells ⊆ query set × nprobe — bounded by the query set
    ("SimilarityOps.scala", "broadcast(probed)"),
    // ANN query set: bounded by contract (a query batch, not a corpus)
    ("SimilarityOps.scala", "crossJoin(broadcast(q))"),
    // LSH buckets of the query set — rows ≤ queries × tables
    ("SimilarityOps.scala", "broadcast(qb)"),
    // single-row min/max bounds aggregate
    ("SimilarityOps.scala", "broadcast(bounds)"),
    // calendar-days spine (bounded by the date range)
    ("SimilarityOps.scala", "broadcast(days)"),
    // per-term document frequency: vocabulary-sized (Heaps-sublinear).
    // At extreme corpus scale swap for a df>k heavy-hitter cut; the
    // BM25/TF-IDF contract keeps the full vocab here.
    ("TextOps.scala", "broadcast(dfreq)"),
    ("TextOps.scala", "tf.join(broadcast(df), \"term\")"),
    // single-row corpus stats / corpus count
    ("TextOps.scala", "crossJoin(broadcast(stats))"),
    ("TextOps.scala", "crossJoin(broadcast(n))"),
    // per-class token totals — classes bounded by schema
    ("TextOps.scala", "broadcast(ctot)"),
    ("TextOps.scala", "broadcast(classConst)"),
    // single-row grand total
    ("CurationOps.scala", "crossJoin(broadcast(tot))"),
    // length-bucket dimension (fixed bucket grid)
    ("CurationOps.scala", "broadcast(buckets)"),
    // per-source stats — sources are a dim
    ("CurationOps.scala", "broadcast(st)"),
    // boilerplate segments above a df threshold — heavy-hitter cut
    ("CurationOps.scala", "broadcast(common)"),
    // lang × source cells — both dims
    ("CurationOps.scala", "broadcast(counts)"),
    // nation × mktsegment cells — schema-bounded
    ("CurationOps.scala", "broadcast(g0)"),
    ("CurationOps.scala", "broadcast(m1)"),
    // q198 hop 1: the forget-set, request-batch-sized by semantics
    // (hop 2's affected-orders frame is fact-proportional and is
    // deliberately NOT hinted — planner + AQE decide)
    ("CurationOps.scala", "broadcast(forget)"),
    // event-type dimension (schema-bounded)
    ("TemporalOps.scala", "broadcast(types)"),
    // (q204's first-week-per-user frame is users-sized — fact-derived,
    // NOT a dim — so it carries no hint; it is now a window min over
    // the user partition, which needs no join at all. The streaming
    // "honest minimum" users-keyed STATE is partitioned across
    // executors; a broadcast would have REPLICATED it to each.)
    // single-row basket count
    ("TemporalOps.scala", "crossJoin(broadcast(nb))"),
    // 24 hour-offset rows
    ("TemporalOps.scala", "broadcast(offsets)"),
    // per-day new-user counts — days-sized
    ("TemporalOps.scala", "broadcast(newPerDay)"),
    // single-row k threshold
    ("GraphOps.scala", "crossJoin(broadcast(kRow))"),
    // (q208's per-round peel joins carry NO hint at all: no round's
    // removed frame is provably bounded — AQE converts off real sizes)
    // per-supplier degrees — supplier dim
    ("GraphOps.scala", "broadcast(deg.withColumnRenamed(\"sk\", \"a\")"),
    ("GraphOps.scala", "broadcast(deg.withColumnRenamed(\"sk\", \"b\")"),
    // TPC-H broadcast-dim ladder: customer/nation/region
    ("Relational.scala", "broadcast(c), o(\"o_custkey\")"),
    ("Relational.scala", "broadcast(n), c(\"c_nationkey\")"),
    ("Relational.scala", "broadcast(r), n(\"n_regionkey\")"),
    ("Relational.scala", "broadcast(n), col(\"s_nationkey\")"),
    // distinct order-years — a handful of rows
    ("Relational.scala", "broadcast(dimYears)"),
    ("Relational.scala", "broadcast(Tables(s, dir, \"nation\"))"),
    ("Relational.scala", "broadcast(Tables(s, dir, \"region\"))"),
    // q192's gate: hint ONLY when the parent is a dim — the original
    // fix this spec generalizes
    ("Relational.scala", "if (parentIsDim) broadcast(keys) else keys"),
    // supplier / nation dims
    ("StatsOps.scala", "broadcast(sup)"),
    ("StatsOps.scala", "broadcast(nat)"),
    // stop-shingle set: df > 50% of docs — at most ~2× shingles-per-doc
    // distinct values can clear that bar, corpus-size-independent
    ("DedupOps.scala", "broadcast(frequentShingles"),
    // single-row corpus count / collected stop-shingle row
    ("DedupOps.scala", "crossJoin(broadcast(nDocs))"),
    ("DedupOps.scala", "broadcast(stopShingleRowFrom(frame))"),
    ("DedupOps.scala", "broadcast(stopShingleRow(s, dir))"),
    // TPC-H dims (customer/nation); per-event-type stats; single-row
    // bounds/total; per-type median and MAD frames
    ("WindowOps.scala", "broadcast(Tables(s, dir, \"customer\"))"),
    ("WindowOps.scala", "broadcast(Tables(s, dir, \"nation\"))"),
    ("WindowOps.scala", "broadcast(stats)"),
    ("WindowOps.scala", "crossJoin(broadcast(bounds))"),
    ("WindowOps.scala", "broadcast(med)"),
    ("WindowOps.scala", "broadcast(mad)"),
    ("WindowOps.scala", "crossJoin(broadcast(t))"),
    // LUAD corpus dims: 62 samples / ~21.5k probes
    ("Svm.scala", "broadcast(labels)"),
    ("LuadPipeline.scala", "broadcast(predictIds)"),
    // relational-regime matrix ids (sparkContext broadcasts): probe name
    // → id, ~21.5k entries at the reference shape; registered file →
    // sample id, registry-sized (121 files on the benchmark corpus)
    ("Ingest.scala", "sc.broadcast(probeNames.zipWithIndex.toMap)"),
    ("Ingest.scala", "sc.broadcast(sampleOf)"),
  )

  /** How many sites each entry is expected to match (default 1).
    * Pinning the count closes the other half of the hole the
    * dead-entry check leaves open: without it, a FUTURE hint in the
    * same file whose line happens to contain a live entry's substring
    * would inherit that entry's bound unreviewed. Adding a hint now
    * always forces an edit here — either a new entry or an explicit
    * count bump, both of which name the review question.
    */
  private val expectedSites: Map[(String, String), Int] = Map(
    // ANN brute-force top-k + its IVF recall-audit twin
    (("SimilarityOps.scala", "crossJoin(broadcast(q))"), 2),
    // event-type dim joined in two temporal rollups
    (("TemporalOps.scala", "broadcast(types)"), 2),
    // customer / nation dims each enrich two window queries
    (("WindowOps.scala", "broadcast(Tables(s, dir, \"customer\"))"), 2),
    (("WindowOps.scala", "broadcast(Tables(s, dir, \"nation\"))"), 2),
    // per-type median frame: used by the MAD build AND the final join
    (("WindowOps.scala", "broadcast(med)"), 2),
  ).withDefaultValue(1)

  /** Every spelling of a forced broadcast (r13 gate-instrument review:
    * the bare `broadcast(` literal missed `.hint("broadcast")`, SQL
    * hint comments — which SURVIVE the comment stripper because they
    * live inside string literals — and an import rename that would take
    * every subsequent use out of scan reach). Case-insensitive on the
    * SQL/hint-name forms; `\b` keeps autoBroadcastJoinThreshold (a
    * config handle, not a hint) out.
    */
  private val siteRe =
    ("""(?i)\bbroadcast\s*\(|\b(?:broadcastjoin|mapjoin)\s*\(""" +
      """|hint\(\s*"(?:broadcast|broadcastjoin|mapjoin)"""" +
      """|\bbroadcast\s*=>""").r

  /** Hint sites per line index (line of the match START). Scanned over
    * the joined comment-stripped source, not per line: `\s*` in siteRe
    * then matches across a line break, so a wrapped
    * `.hint(\n"broadcast")` cannot escape the gate (r13 ADVICE 4 /
    * r14 verdict task 4 — the per-line scan was a silent-pass hole).
    */
  private def findSites(lines: Vector[String]): Map[Int, Int] = {
    val text = lines.mkString("\n")
    // line-start offsets: starts(i) = offset of line i in `text`
    val starts = lines.scanLeft(0)((acc, l) => acc + l.length + 1).toArray
    siteRe.findAllMatchIn(text).toList
      .groupBy { m =>
        val idx = java.util.Arrays.binarySearch(starts, m.start)
        if (idx >= 0) idx else -idx - 2
      }
      .map { case (lineIdx, ms) => lineIdx -> ms.size }
  }

  test("a hint wrapped across lines is still a site") {
    val sites = findSites(Vector("val j = big.hint(", "  \"broadcast\").join(x)"))
    assert(sites.values.sum == 1, s"wrapped hint escaped the scan: $sites")
    assert(sites.contains(0), s"site should anchor at the hint( line: $sites")
  }

  test("every forced broadcast names its size bound in the allowlist") {
    val files = graft.ConventionScan.scalaFiles("src/main/scala/graft")
    assert(files.nonEmpty, "main source discovery broke")

    var sites = 0
    val matchCount = scala.collection.mutable.Map.empty[(String, String), Int]
      .withDefaultValue(0)
    val hits = files.flatMap { f =>
      val lines = graft.ConventionScan.codeLines(f)
      val sitesByLine = findSites(lines)
      lines.indices.flatMap { i =>
        val code = lines(i)
        val n = sitesByLine.getOrElse(i, 0)
        if (n == 0) None
        else {
          sites += n
          if (n > 1)
            // one line, one reviewed site: a second hint sharing a line
            // with an allowlisted one would inherit its bound unseen
            Some(s"  ${f.getName}:${i + 1} [$n sites on one line — split them] ${code.trim}")
          else {
            val matching = allowed.filter { case (file, sub) =>
              f.getName == file && code.contains(sub)
            }
            matching.foreach(e => matchCount(e) += 1)
            if (matching.nonEmpty) None
            else Some(s"  ${f.getName}:${i + 1} ${code.trim}")
          }
        }
      }
    }
    // exact identity, not a floor: every site is accounted for by the
    // allowlist's expected counts, so a discovery regression that
    // drops sites fails here even when no entry drifts to 0
    val expected = allowed.map(expectedSites).sum
    assert(sites == expected, s"broadcast-site discovery broke: found $sites, allowlist expects $expected")
    assert(
      hits.isEmpty,
      "forced broadcast without a written size bound — either the frame " +
        "scales with a fact table (drop the hint; planner + AQE decide) " +
        "or add an allowlist entry naming the bound:\n" +
        hits.mkString("\n"))
    // Exact-count check: 0 matches = dead entry (its site went away —
    // delete it); MORE matches than expected = a new hint in the same
    // file silently inherited an existing entry's bound — review it
    // and either add its own entry or bump the count deliberately.
    val drift = allowed.flatMap { e =>
      val (want, got) = (expectedSites(e), matchCount(e))
      if (got == want) None
      else Some(s"  (${e._1}, ${e._2}) expected $want site(s), found $got")
    }
    assert(
      drift.isEmpty,
      "allowlist entries out of sync with the actual hint sites:\n" +
        drift.mkString("\n"))
  }
}
