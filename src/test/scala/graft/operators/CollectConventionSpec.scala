package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical guard for the bounded-collect convention (VERDICT r19
  * #2): a `.collect()` materializes its whole frame on the DRIVER —
  * at 100 TB an unbounded collect is an OOM or an hours-long
  * single-node serialization stall, and nothing in the oracle gate
  * would catch it (the result is correct, just undistributed). Every
  * current site is bounded — single-row aggregates, k-sized centroid
  * pulls, registry/dictionary-scale pipeline reads — but that
  * boundedness lives in each site's head, exactly the state the
  * forced-broadcast convention was in before BroadcastConventionSpec.
  * Same gate shape: every
  * driver-materializing call in `src/main` must match an allowlist
  * entry naming its size bound; a new collect anywhere moves a count
  * and fails the pin, forcing the review question ("why does this
  * frame stay small?") that is otherwise skipped.
  *
  * `take(n)` / `head(n)` / `first()` are deliberately out of scope:
  * they are literal-bounded by their own argument. The scanned
  * spellings are the unbounded ones — `collect()`, `collectAsList()`,
  * `toLocalIterator()` (an iterator still pulls every partition to
  * the driver, just incrementally), and `runJob(` / `submitJob(`,
  * whose result handler receives every task's result on the driver.
  */
class CollectConventionSpec extends AnyFunSuite {

  /** (file name, line substring) → the entry's bound is the comment.
    * Substrings must appear verbatim in the allowed line.
    */
  private val allowed: Seq[(String, String)] = Seq(
    // -------- production operators / pipeline --------
    // k-means centroid pulls: k = 8 rows each (IVF build + rebuild)
    ("SimilarityOps.scala", ".collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq"),
    // single-row min/max bounds aggregate (the q108 bounds pattern)
    ("Relational.scala", "df.agg(min(a), max(a), min(b), max(b)).collect().head"),
    // relational-regime network job (`Network.panelSurvivors`): each
    // panel-pair task returns the union-find entries it changed — fewer
    // than its rows — plus, for a diagonal pair, its panel's probe ids:
    // ≤ probes entries per task, O(probes) ints in all, no sample values
    ("Network.scala", "try tasks.collect()"),
    // relational-regime dictionaries: each reader task's distinct probe
    // names, the files it read and one dropped-row count — ≤ probes
    // names (~21.5k at the reference shape) plus ≤ registered files per
    // task; the probe dictionary is broadcast back, so it is
    // driver-resident anyway
    ("Ingest.scala", "tasks.map(t => (t.names, t.files, t.dropped)).collect()"),
    // relational-regime duplicate-cell guard: limit(1) — at most one
    // (sample, probe) cell observed twice
    ("LuadPipeline.scala", ".filter(col(\"count\") > 1).limit(1).collect()"),
    // relational-regime scores: one (id, ±1.0) row per predictive
    // sample at most — registry-sized
    ("LuadPipeline.scala", "Svm.predict(model, toScore).as[(Int, Double)].collect()"),
    // K1/K2 sink (stdout print or driver-written part files):
    // predictions are prediction-set-sized (≤ registered samples)
    ("LuadPipeline.scala", "val rows = result.collect()"),
  )

  /** How many sites each entry is expected to match (default 1) — the
    * BroadcastConventionSpec exact-count discipline: 0 matches = dead
    * entry, more than expected = a new collect silently inheriting an
    * existing entry's bound.
    */
  private val expectedSites: Map[(String, String), Int] = Map(
    // IVF build + rebuild centroid pulls share the line shape
    (("SimilarityOps.scala", ".collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq"), 2),
  ).withDefaultValue(1)

  /** Every spelling of an unbounded driver materialization. `\s*` in
    * the regex spans line breaks when matched over the joined source,
    * so a wrapped `.collect(\n)` cannot escape (the
    * BroadcastConventionSpec multi-line lesson). Scala collection
    * `.collect { pf }` (braces, an argument) does not match — only
    * the empty-parens Dataset actions do.
    */
  private val siteRe =
    """\.\s*(?:(?:collect|collectAsList|toLocalIterator)\s*\(\s*\)|(?:runJob|submitJob)\s*[\[(])""".r

  /** Hit sites per line index (line of the match START), scanned over
    * the joined comment-stripped source.
    */
  private def findSites(lines: Vector[String]): Map[Int, Int] = {
    val text = lines.mkString("\n")
    val starts = lines.scanLeft(0)((acc, l) => acc + l.length + 1).toArray
    siteRe.findAllMatchIn(text).toList
      .groupBy { m =>
        val idx = java.util.Arrays.binarySearch(starts, m.start)
        if (idx >= 0) idx else -idx - 2
      }
      .map { case (lineIdx, ms) => lineIdx -> ms.size }
  }

  test("a collect wrapped across lines is still a site, and Scala's partial-function collect is not") {
    val sites = findSites(Vector("val rows = df.collect(", "  )", "plan.collect { case x => x }"))
    assert(sites.values.sum == 1, s"wrapped collect() escaped or pf-collect matched: $sites")
    assert(sites.contains(0), s"site should anchor at the .collect( line: $sites")
  }

  test("runJob and submitJob are sites, with or without type arguments") {
    val sites = findSites(Vector(
      "sc.runJob(rdd, f, handler)", "sc.submitJob[Int, Int, Unit](rdd,", "sc", "  .runJob(rdd, f)", "def runJobs() = 1"))
    assert(sites == Map(0 -> 1, 1 -> 1, 3 -> 1), s"runJob/submitJob spellings escaped: $sites")
  }

  test("every driver-materializing collect names its size bound in the allowlist") {
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
    assert(sites == expected, s"collect-site discovery broke: found $sites, allowlist expects $expected")
    assert(
      hits.isEmpty,
      "driver-materializing collect without a written size bound — either the frame scales " +
        "with a fact table (keep it distributed: aggregate/limit first, or write to a sink) " +
        "or add an allowlist entry naming the bound:\n" +
        hits.mkString("\n"))
    val drift = allowed.flatMap { e =>
      val (want, got) = (expectedSites(e), matchCount(e))
      if (got == want) None
      else Some(s"  (${e._1}, ${e._2}) expected $want site(s), found $got")
    }
    assert(
      drift.isEmpty,
      "allowlist entries out of sync with the actual collect sites:\n" +
        drift.mkString("\n"))
  }
}
