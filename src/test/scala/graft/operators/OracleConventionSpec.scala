package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Mechanical enforcement of the two oracle-hash conventions that keep
  * float/int outputs hash-stable cross-engine (the driver hashes EXACT
  * values; rounds 8 and 9 each shipped one query that missed a
  * convention recorded only in comments — q124, then q133/q158):
  *
  *  (a) every DOUBLE output column derived from a fold-order-sensitive
  *      aggregate (sum/avg/var/corr/regr over floats — Spark's partial
  *      -sum tree and DuckDB's sequential fold differ in final ULPs)
  *      must be wrapped in `round(_, ndp)` — the q157/q168 pattern;
  *  (b) any oracle window SUM (`SUM(...) OVER`) must be enclosed in a
  *      CAST (or ROUND): DuckDB promotes integer window SUMs to
  *      HUGEINT, which pandas materializes as float64 against Spark's
  *      BIGINT — the q124 pattern.
  *
  * Aggregates that SELECT a data element (min/max/first/last) or sort
  * before computing (percentile's exact interpolation, gated by q13c)
  * are exempt: they are bit-identical cross-engine by construction.
  * Queries whose unrounded double outputs are exact for a reason the
  * class-level exemptions can't see carry an allowlist entry with that
  * reason — an entry without a reason is a defect, not an exemption.
  */
class OracleConventionSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** (a) exemptions: query -> why its unrounded double aggregate output
    * is hash-stable anyway. The operative fact: the driver's canonical
    * hash quantizes floats, so what breaks it is a cross-engine fold
    * delta LARGE RELATIVE TO THE VALUE'S ROUNDING QUANTUM — a
    * corpus-sized fold of large-magnitude values (q133's
    * avg(l_extendedprice) over 60k rows, delta ~1e-6 absolute). Small
    * bounded folds and O(1)-magnitude outputs sit orders of magnitude
    * inside the quantum. Every entry below passes the exact mode of
    * tools/check.py; the reason says WHY that holds at any scale, not
    * just on the fixture.
    *
    * r13 gate-instrument hardening: an exemption no longer skips the
    * query's scan — the scan runs for EVERY query, and each entry pins
    * the exact offending COLUMN SET it excuses. A pinned set that stops
    * matching fails the suite in both directions: zero offenders = dead
    * entry (delete it); a new offending column = a new unrounded
    * aggregate silently riding an old exemption (review it).
    */
  private val exactFloatAllow: Map[String, (String, Set[String])] = Map(
    "q52_bm25" -> ("per-doc sum of <=3 query-term contributions, O(1) magnitude — ULP-level deltas", Set("bm25")),
    "q99_char_entropy" -> ("entropy <= log2(alphabet) ~ O(1) magnitude; per-doc fold over the <=alphabet-size histogram", Set("char_entropy")),
    "q115_source_divergence" -> ("KL is an O(1)-magnitude sum of p*ln(p/q) terms; probabilities sum to 1", Set("kl")),
    "q96_label_centroids" -> ("per-(label,dim) mean of O(1)-magnitude embedding coords — delta ~1e-15", Set("centroid")),
    "q103_zscore_outliers" -> ("z is O(1) magnitude by construction ((v-mean)/std normalizes the scale out)", Set("z")),
    "q123_scd2_lookup" -> ("sum of integer-valued l_quantity doubles — IEEE-exact below 2^53", Set("sum_qty")),
    "q43_salted_join" -> ("sum of integer-valued l_quantity doubles — IEEE-exact below 2^53", Set("sum_qty")),
    "q122_adaptive_salted_join" -> ("sum of integer-valued l_quantity doubles — IEEE-exact below 2^53", Set("sum_qty")),
    "q130_group_trend" -> ("regr_* are centered-moment RATIOS, O(1) magnitude (day index <= 31); scale cancels", Set("slope", "intercept", "r2")),
    "q136_temperature_mixture" -> ("p^alpha probabilities and rates are O(1) magnitude over the <=4-source frame", Set("q", "rate")),
    "q91_pagerank" -> ("pr is O(1) magnitude (probability mass); per-node fold bounded by degree", Set("pr")),
  )

  /** (b) exemptions: query -> why its naked `SUM(...) OVER` cannot reach
    * pandas as HUGEINT. Two safe shapes: the window sum lives in an
    * intermediate CTE and the FINAL select re-CASTs (or consumes it in
    * double arithmetic), or the operand is DOUBLE (DuckDB does not
    * promote float sums). All entries pass the exact mode of
    * tools/check.py.
    */
  private val windowSumAllow: Map[String, (String, Int)] = Map(
    "q36_window_session" -> ("session_id CAST AS BIGINT in the final select", 1),
    "q49_sequence_pack" -> ("cum consumed via CAST(... AS BIGINT) arithmetic in the final select", 1),
    "q118_pareto_customers" -> ("cumulative DECIMAL revenue — no integer promotion", 1),
    "q119_session_features" -> ("intermediate; final select casts / aggregates it away", 1),
    "q136_temperature_mixture" -> ("sum_pa sums DOUBLE probabilities — no promotion", 1),
    "q149_concurrency_sweep" -> ("running delta sum consumed by the hour-max aggregate, never output", 1),
    "q150_quantile_shard_merge" -> ("bin cum-counts consumed in double interpolation arithmetic", 3),
    "q153_pit_features" -> ("f_clicks_1h/f_prior_buys re-CAST AS BIGINT in the final select", 2),
    "q172_chi2_independence" -> ("marginal sums consumed as DOUBLE expectation arithmetic", 3),
    "q176_pca_power" -> ("SUM(cw*cw) sums DOUBLEs (norms) — no promotion", 6),
    "q179_mann_whitney" -> ("cum bin counts consumed in midrank arithmetic; rank sums separately CAST", 1),
    "q183_compaction_plan" -> ("cumulative bytes consumed by the bin-assignment integer division, CAST at output", 1),
    "q191_weighted_median" -> ("DECIMAL weight sums — DuckDB keeps DECIMAL, compared after explicit casts", 2),
  )

  // --- (a) unrounded fold-order-sensitive double aggregate outputs ---

  private def isExemptAgg(f: AggregateFunction): Boolean = f match {
    case _: Min | _: Max | _: First | _: Last => true // data-element selection
    case _: Percentile => true // exact sort+interpolate, q13c-gated
    case _ => false
  }

  /** True iff `e` evaluates to a fold-order-sensitive double aggregate
    * with no enclosing round/cast. Attribute references resolve through
    * `aliases` (collected across the whole plan incl. subqueries).
    *
    * `rddIds`: output ExprIds of LogicalRDD nodes (localCheckpoint /
    * RDD-backed frames). A lineage CUT erases whatever aggregate
    * produced the column, so the walk cannot prove it rounded — a bare
    * double attribute sourced from a LogicalRDD is therefore SUSPECT
    * (r13 gate-instrument review: an unrounded avg computed before a
    * localCheckpoint was invisible, the exact q133 class). A rounding
    * applied downstream of the cut still short-circuits above this
    * case, so only genuinely unguarded checkpoint outputs flag;
    * queries whose pre-cut expression is audited exact carry a pinned
    * exemption.
    */
  private def unroundedDoubleAgg(
      e: Expression,
      aliases: Map[ExprId, Expression],
      rddIds: Set[ExprId],
      depth: Int): Boolean = {
    if (depth > 40) return false
    e match {
      case _: Round | _: BRound => false
      case c: Cast if c.dataType != DoubleType && c.dataType != FloatType => false
      case a: Alias => unroundedDoubleAgg(a.child, aliases, rddIds, depth + 1)
      case ar: AttributeReference =>
        aliases.get(ar.exprId) match {
          case Some(src) => unroundedDoubleAgg(src, aliases, rddIds, depth + 1)
          case None =>
            (ar.dataType == DoubleType || ar.dataType == FloatType) &&
              rddIds.contains(ar.exprId)
        }
      case ae: AggregateExpression =>
        if (isExemptAgg(ae.aggregateFunction)) false
        else if (ae.dataType == DoubleType || ae.dataType == FloatType) true
        else ae.aggregateFunction.children.exists(
          unroundedDoubleAgg(_, aliases, rddIds, depth + 1))
      case sq: SubqueryExpression =>
        val subAliases = collectAliases(sq.plan)
        sq.plan.output.exists(a =>
          subAliases.get(a.exprId).exists(
            unroundedDoubleAgg(_, aliases ++ subAliases, rddIds, depth + 1)))
      case other =>
        other.children.exists(unroundedDoubleAgg(_, aliases, rddIds, depth + 1))
    }
  }

  private def collectRddIds(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Set[ExprId] = {
    val ids = scala.collection.mutable.Set.empty[ExprId]
    plan.collectWithSubqueries {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.output.foreach(a => ids += a.exprId)
    }
    ids.toSet
  }

  private def collectAliases(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Map[ExprId, Expression] = {
    val m = scala.collection.mutable.Map.empty[ExprId, Expression]
    plan.collectWithSubqueries { case p =>
      p.expressions.foreach { root =>
        root.foreach {
          case a: Alias => m(a.exprId) = a.child
          case _ => ()
        }
      }
    }
    m.toMap
  }

  test("(a) double aggregate outputs are rounded (driver hashes exactly)") {
    val offenders = SparkEntry.specs.flatMap { q =>
      try {
        val plan = q.fn(spark, sfDir).queryExecution.analyzed
        val aliases = collectAliases(plan)
        val rddIds = collectRddIds(plan)
        val bad = plan.output.filter { a =>
          (a.dataType == DoubleType || a.dataType == FloatType) &&
          (aliases.get(a.exprId).exists(unroundedDoubleAgg(_, aliases, rddIds, 0)) ||
            (!aliases.contains(a.exprId) && rddIds.contains(a.exprId)))
        }.map(_.name).toSet
        exactFloatAllow.get(q.name) match {
          case None =>
            if (bad.nonEmpty) Some(s"${q.name}: ${bad.mkString(",")}") else None
          case Some((_, pinned)) =>
            // the exemption must excuse EXACTLY what the scan finds:
            // zero offenders = dead entry, extras = a new unrounded
            // column riding an old exemption
            if (bad == pinned) None
            else Some(s"${q.name}: exemption pins ${pinned.mkString(",")} " +
              s"but scan found ${if (bad.isEmpty) "(nothing — dead entry)" else bad.mkString(",")}")
        }
      } catch {
        case e: Throwable => Some(s"${q.name} (failed to analyze: ${e.getMessage.take(80)})")
      }
    }
    assert(
      offenders.isEmpty,
      s"unrounded fold-order-sensitive double aggregate outputs (wrap in round(_, 6) " +
        s"on BOTH engines, or allowlist with the exactness reason):\n  " +
        offenders.mkString("\n  "))
  }

  // --- (b) oracle window SUMs must be CAST (DuckDB HUGEINT trap) ---

  /** Indexes of `SUM(`...`) OVER` occurrences in `sql` that are not
    * directly enclosed in `CAST(` or `ROUND(`.
    */
  private[operators] def nakedWindowSums(sql: String): Int = {
    val up = sql.toUpperCase
    var count = 0
    var i = up.indexOf("SUM")
    while (i >= 0) {
      val wordStart = i == 0 || !Character.isLetterOrDigit(up(i - 1)) && up(i - 1) != '_'
      var j = i + 3
      while (j < up.length && Character.isWhitespace(up(j))) j += 1
      if (wordStart && j < up.length && up(j) == '(') {
        // match the SUM(...) parens
        var depth = 0
        var k = j
        while (k < up.length && (depth > 0 || k == j)) {
          if (up(k) == '(') depth += 1
          else if (up(k) == ')') depth -= 1
          k += 1
        }
        var m = k
        while (m < up.length && Character.isWhitespace(up(m))) m += 1
        if (up.startsWith("OVER", m)) {
          val prefix = up.substring(0, i).replaceAll("\\s+$", "")
          if (!(prefix.endsWith("CAST(") || prefix.endsWith("ROUND("))) count += 1
        }
      }
      i = up.indexOf("SUM", i + 3)
    }
    count
  }

  test("(b) oracle window SUMs are CAST (DuckDB promotes to HUGEINT)") {
    val offenders = SparkEntry.specs.flatMap { q =>
      q.oracle.flatMap { sql =>
        val n = nakedWindowSums(sql)
        windowSumAllow.get(q.name) match {
          case None =>
            if (n > 0) Some(s"${q.name}: $n naked SUM(...) OVER") else None
          case Some((_, want)) =>
            // pinned count: 0 found = dead entry; more = a NEW naked
            // window sum inheriting an old exemption (r13 hardening)
            if (n == want) None
            else Some(s"${q.name}: exemption pins $want naked window sum(s), found $n")
        }
      }
    }
    assert(
      offenders.isEmpty,
      s"oracle window SUMs without an enclosing CAST/ROUND (DuckDB HUGEINT -> pandas " +
        s"float64 breaks the exact hash; the q124 pattern is CAST(SUM(...) OVER (...) AS " +
        s"BIGINT)):\n  " + offenders.mkString("\n  "))
  }
}
