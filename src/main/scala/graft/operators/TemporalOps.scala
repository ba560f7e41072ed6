package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Temporal joins over `events` — operators Spark has no built-in for,
  * composed from existing ops (preference (a) of the extension ladder):
  *
  *  - As-of join (q41): for each left event, the latest right event at
  *    or before it. Implemented as the union-and-carry-forward pattern:
  *    tag both sides, sort by (key, ts, side), carry the last right
  *    payload forward with `last(ignoreNulls)` over an unbounded-
  *    preceding frame, keep left rows. ONE shuffle on the key — same
  *    cost as a plain window function; never a per-row probe.
  *  - Banded range join (q42): pairs within a time distance δ. Naive
  *    form is an inequality theta-join (O(n²) nested loop); banding
  *    buckets ts into δ-wide bins and equi-joins each bin to itself and
  *    its right neighbor — every qualifying pair shares a (bin, bin) or
  *    (bin, bin+1) bucket, so the join is hash-partitioned and the
  *    predicate only filters inside small buckets. At 100 TB the bin
  *    width tunes bucket size exactly like LSH band width.
  */
object TemporalOps {

  /** q157's duration-weighted mean over a (user, day) group, with the
    * zero-support degenerate DECLARED: sum(dur) = 0.0 (non-NULL!) when
    * a day's events all share one microsecond — two same-µs events
    * suffice — and under the session's ANSI default Spark then throws
    * DIVIDE_BY_ZERO where DuckDB's 0/0 is NULL. The guard declares the
    * zero-support day as twap NULL, same as the single-event day (r16
    * ANSI-division sweep). Shared with q209's degenerate probe so the
    * gate exercises THIS expression, not a copy.
    */
  private[graft] def twapCol: Column =
    round(when(sum(col("dur")) =!= 0.0d,
      sum(col("value") * col("dur")) / sum(col("dur"))), 6)

  /** Loud int64 reporting-contract cast (q45's loud-parse convention,
    * r16 ADVICE): a DECIMAL statistic that must be REPORTED as BIGINT
    * dies as an opaque CAST_OVERFLOW under ANSI once the true value
    * exceeds int64 — name the query and the contract instead, so the
    * operator's failure mode is a readable error, not a stack trace.
    */
  private[graft] def int64Report(c: Column, query: String, colName: String): Column =
    // NULL passes through as NULL: without the leading branch a NULL
    // statistic falls to the otherwise-arm, where concat null-
    // propagates and raise_error dies with a MESSAGE-LESS error —
    // the loud contract must fire only on genuine overflow (r17
    // ADVICE; unreachable for q207's structurally non-NULL s_abs,
    // but the helper is private[graft] and reusable)
    when(c.isNull, lit(null).cast("bigint"))
      .when(c <= lit(Long.MaxValue).cast("decimal(38,0)"), c.cast("bigint"))
      .otherwise(raise_error(concat(
        lit(s"$query: "), c.cast("string"),
        lit(s" exceeds the int64 reporting contract for $colName"))).cast("bigint"))

  // Shared by q41 (union-and-carry composition) and q41b (native
  // merge-walk operator): both must match DuckDB's ASOF LEFT JOIN.
  private val asofOracle: String =
    // row_number dedup (not arg_max: aggregate NULL-skipping could
    // pair max event_id with another row's value when value is NULL)
    "WITH r AS (SELECT user_id, ts, event_id, value FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY user_id, ts " +
      "ORDER BY event_id DESC) AS rn FROM events " +
      "WHERE event_type = 'error') WHERE rn = 1) " +
      "SELECT l.user_id, l.event_id, l.ts, " +
      "r.event_id AS asof_event_id, r.value AS asof_value " +
      "FROM (SELECT * FROM events WHERE event_type = 'click') l " +
      "ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts"

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec(
      // CUSUM changepoint detection: per event type, the day where the
      // cumulative deviation from the series mean peaks — the
      // level-shift localizer (Page's CUSUM). NOT q194 (drift monitor
      // compares a FIXED reference-half vs live-half split; CUSUM
      // finds the shift at an UNKNOWN time from the whole cumulative
      // path), not q103/q117 (pointwise outliers), not q130 (global
      // trend slope). Integer-exact across engines by scaling: the
      // statistic n·cum_t − t·total = n·(cum_t − t·mean) never forms
      // the fractional mean, and the products accumulate in
      // DECIMAL(38,0): in BIGINT, under ANSI (the Spark 4 default)
      // the product THROWS once n_days·total passes 9.2e18 (~1e4
      // days × 1e15 events) even though the reported |S| is far
      // smaller — killing a query the decimal form answers; under
      // non-ANSI the two wrapped products happen to cancel in the
      // subtraction while the true |S| < 2^63, but past that the
      // wrapped abs silently mis-ranks days (r16 review; q179's r15
      // overflow class — DuckDB's checked int64 errs loudly at the
      // same point, so the oracle is untouched and the engine's
      // envelope now exceeds the oracle's). The output column stays
      // BIGINT by contract (the REPORTED max must fit int64; the
      // ordering behind the argmax is decimal-exact to 1e38), so the
      // argmax day is bit-deterministic (|S| desc, day asc
      // tie-break). Shapes: one
      // combinable (type, day) count, then ALL windows run on the
      // days-sized frame partitioned by type — the corpus never
      // re-shuffles and no global window exists.
      "q207_cusum_changepoint",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type"), to_date(col("ts")).as("d"))
          .agg(count(lit(1)).as("x"))
        val wOrd = Window.partitionBy("event_type").orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wAll = Window.partitionBy("event_type")
        val scored = daily
          .withColumn("t",
            row_number().over(Window.partitionBy("event_type").orderBy("d")).cast("long"))
          .withColumn("cum", sum(col("x")).over(wOrd))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("tot", sum(col("x")).over(wAll))
          .withColumn("s_abs",
            abs(col("n").cast("decimal(38,0)") * col("cum") -
              col("t").cast("decimal(38,0)") * col("tot")))
        scored
          .withColumn("rk",
            row_number().over(
              Window.partitionBy("event_type").orderBy(col("s_abs").desc, col("d").asc)))
          .filter(col("rk") === 1)
          .select(
            col("event_type"),
            date_format(col("d"), "yyyy-MM-dd").as("cp_day"),
            // loud reporting-contract guard (q45 convention, r16
            // ADVICE): the decimal widening above extends the WALK
            // past int64, but the REPORTED max is BIGINT by contract —
            // once the true |S| itself exceeds int64 the cast would
            // die as an opaque CAST_OVERFLOW; name the query and the
            // contract instead. DuckDB's checked int64 arithmetic errs
            // at the same magnitude, so the oracle needs no twin.
            int64Report(col("s_abs"), "q207_cusum_changepoint", "max_abs_cusum")
              .as("max_abs_cusum"),
            col("n").as("n_days"),
            col("tot").as("total_events"))
      },
      Some(
        "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, " +
          "CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY 1, 2), " +
          "sc AS (SELECT event_type, d, x, " +
          "CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS BIGINT) AS t, " +
          "CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY d " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, " +
          "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n, " +
          "CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS tot FROM daily), " +
          "rk AS (SELECT *, abs(n * cum - t * tot) AS s_abs, " +
          "ROW_NUMBER() OVER (PARTITION BY event_type " +
          "ORDER BY abs(n * cum - t * tot) DESC, d ASC) AS r FROM sc) " +
          "SELECT event_type, strftime(d, '%Y-%m-%d') AS cp_day, " +
          "CAST(s_abs AS BIGINT) AS max_abs_cusum, n AS n_days, tot AS total_events " +
          "FROM rk WHERE r = 1"),
    ),
    QuerySpec(
      // DEFAULT-SURFACE DECISION (VERDICT r11 #7, measured r12):
      // alternating warm A/B at sf0.1, one JVM, cal 24.9/23.5 —
      // composition warm-min 0.51 s vs native q41b 0.39 s (~1.3×,
      // confirming r9's 1.4×; the native merge-walk also holds O(1)
      // state per partition where the window carry buffers frames, so
      // the gap widens with memory pressure at 100 TB). DECISION: q41
      // stays the composition ON PURPOSE — q41 and q41b are the same
      // semantics through two engines, and flipping q41 to native
      // would collapse them into one entry and silently remove the
      // composition from the oracle-gated surface. For users, the
      // native operator (graft.plans.AsOfJoin, surfaced as q41b) is
      // the RECOMMENDED default at sf0.1+; this entry remains the
      // optimizer-transparent fallback and the cross-check that keeps
      // both paths pinned to the same DuckDB ASOF oracle.
      "q41_asof_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val left = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        // dedup right rows per (user, ts) to the max-event_id row: ASOF
        // semantics are undefined among ts-tied rows in BOTH engines,
        // so pin one deterministic winner before joining (max(struct)
        // is lexicographic → max event_id carries ITS value along)
        val right = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(struct(col("event_id"), col("value"))).as("r"))
          .select(
            col("user_id"), col("ts"),
            col("r.event_id").as("r_event_id"), col("r.value").as("r_value"))
        // side 0 sorts before side 1 at equal ts → "at or before" ties
        // resolve to the right row, matching ASOF JOIN's <= semantics
        val tagged = right
          .withColumn("side", lit(0)).withColumn("l_event_id", lit(null).cast("long"))
          .unionByName(
            left.withColumn("side", lit(1))
              .withColumn("r_event_id", lit(null).cast("long"))
              .withColumn("r_value", lit(null).cast("double"))
              .withColumnRenamed("event_id", "l_event_id")
              .select("user_id", "ts", "r_event_id", "r_value", "side", "l_event_id"))
        val w = Window.partitionBy("user_id").orderBy("ts", "side")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // ONE carried struct, not two independent last() calls — a
        // right row with NULL value must not let event_id and value
        // come from different rows
        val carry = when(
          col("side") === 0, struct(col("r_event_id"), col("r_value")))
        tagged
          .withColumn("asof", last(carry, ignoreNulls = true).over(w))
          .filter(col("side") === 1)
          .select(
            col("user_id"), col("l_event_id").as("event_id"), col("ts"),
            col("asof.r_event_id").as("asof_event_id"),
            col("asof.r_value").as("asof_value"))
      },
      Some(asofOracle),
    ),
    QuerySpec(
      // The SAME as-of semantics through the native merge-walk
      // operator (graft.plans.AsOfJoin — LogicalPlan + Strategy +
      // SparkPlan, ladder rung (c)) instead of q41's union-and-carry
      // composition. Both gate against the identical DuckDB ASOF
      // oracle, so the custom operator's correctness rides the same
      // contract as the composition it replaces; the plan-shape and
      // head-to-head timing adjudication live in AsOfJoinSpec /
      // BASELINE.md. Right side pre-deduped per (user, ts) exactly as
      // q41 documents (tie winner = max event_id).
      "q41b_asof_native",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val left = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("event_id"))
        val right = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(struct(col("event_id"), col("value"))).as("r"))
          .select(
            col("user_id").as("r_user"), col("ts").as("r_ts"),
            col("r.event_id").as("r_event_id"), col("r.value").as("r_value"))
        graft.plans.AsOfJoin.asof(left, right, "user_id", "r_user", "ts", "r_ts")
          .select(
            col("user_id"), col("event_id"), col("ts"),
            col("r_event_id").as("asof_event_id"),
            col("r_value").as("asof_value"))
      },
      Some(asofOracle),
    ),
    QuerySpec(
      "q42_range_join_banded",
      (s, dir) => {
        // click→error pairs of the same user within 30 minutes, banded:
        // equi-join on (user, 30-min bin) × {bin, bin+1} instead of an
        // O(n²) inequality nested loop
        val ev = Tables.events(s, dir)
        val click = ev.filter(col("event_type") === "click")
          .select(
            col("user_id"), col("event_id").as("click_id"),
            col("ts").as("c_ts"), (col("ts").cast("long") / 1800).cast("long").as("bin"))
        val err = ev.filter(col("event_type") === "error")
          .select(
            col("user_id"), col("event_id").as("error_id"),
            col("ts").as("e_ts"), (col("ts").cast("long") / 1800).cast("long").as("e_bin"))
        val expanded = click
          .withColumn("probe_bin", explode(array(col("bin"), col("bin") + 1)))
        expanded
          .join(err, expanded("user_id") === err("user_id") &&
            expanded("probe_bin") === err("e_bin"))
          .filter(
            col("e_ts") >= col("c_ts") &&
              col("e_ts").cast("long") - col("c_ts").cast("long") <= 1800)
          .select(expanded("user_id"), col("click_id"), col("error_id"),
            (col("e_ts").cast("long") - col("c_ts").cast("long")).as("dt_sec"))
      },
      Some(
        // oracle: the naive inequality join (DuckDB handles it fine at
        // oracle scale; the banded plan exists for the 100 TB path)
        "SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id, " +
          "date_diff('second', c.ts, e.ts) AS dt_sec " +
          "FROM (SELECT * FROM events WHERE event_type = 'click') c " +
          "JOIN (SELECT * FROM events WHERE event_type = 'error') e " +
          "ON c.user_id = e.user_id AND e.ts >= c.ts " +
          "AND date_diff('second', c.ts, e.ts) <= 1800"),
    ),
    QuerySpec(
      // Temporal debounce: drop an event when the PREVIOUS event of the
      // same (user, type) is ≤ 6 h older — the "re-crawl of the same
      // page minutes later" suppression in snapshot curation (lag-based:
      // gap to the previous RAW event, the one-pass windowed form).
      // ONE shuffle on the compound key; the (ts, event_id) sort order
      // makes lag deterministic under equal timestamps. Drops ~10% of
      // the fixture at every sf, so the gate is non-degenerate.
      "q100_debounce",
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn(
            "prev_us",
            lag(unix_micros(col("ts")), 1).over(
              Window.partitionBy("user_id", "event_type").orderBy(col("ts"), col("event_id"))))
          .filter(
            col("prev_us").isNull ||
              unix_micros(col("ts")) - col("prev_us") > 21600000000L)
          .select("event_id", "user_id", "event_type", "ts", "value"),
      Some(
        "SELECT event_id, user_id, event_type, ts, value FROM (" +
          "SELECT event_id, user_id, event_type, ts, value, " +
          "LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type " +
          "ORDER BY ts, event_id) AS prev_us FROM events) t " +
          "WHERE prev_us IS NULL OR epoch_us(ts) - prev_us > 21600000000"),
    ),
    QuerySpec(
      // Calendar-spine gap fill: zero-filled daily counts per event
      // type over the full [min, max] date range — the densification
      // pass every time-series model needs (missing days must be 0,
      // not absent). The spine is generated from a SINGLE-ROW bounds
      // aggregate (broadcast), crossed with the distinct type set
      // (tiny), then left-joined to the daily counts — the only real
      // shuffle is the combinable daily groupBy.
      "q104_gapfill",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val bounds = ev.agg(
          min(to_date(col("ts"))).as("dmin"),
          max(to_date(col("ts"))).as("dmax"))
        val spine = bounds
          .select(explode(expr("sequence(dmin, dmax, interval 1 day)")).as("d"))
        val types = ev.select(col("event_type")).distinct()
        val daily = ev
          .groupBy(to_date(col("ts")).as("d"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        spine
          .crossJoin(broadcast(types))
          .join(daily, Seq("d", "event_type"), "left")
          // dates ride as yyyy-MM-dd strings (the surface's date-output
          // convention — Spark DATE and DuckDB DATE canonicalize
          // differently in the compare)
          .select(
            date_format(col("d"), "yyyy-MM-dd").as("d"),
            col("event_type"),
            coalesce(col("n"), lit(0L)).as("n"))
      },
      Some(
        "WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS dmin, MAX(CAST(ts AS DATE)) AS dmax " +
          "FROM events), " +
          "spine AS (SELECT CAST(unnest(generate_series(dmin::TIMESTAMP, dmax::TIMESTAMP, " +
          "INTERVAL 1 DAY)) AS DATE) AS d FROM b), " +
          "types AS (SELECT DISTINCT event_type FROM events), " +
          "daily AS (SELECT CAST(ts AS DATE) AS d, event_type, COUNT(*) AS n " +
          "FROM events GROUP BY 1, 2) " +
          "SELECT strftime(spine.d, '%Y-%m-%d') AS d, types.event_type, " +
          "COALESCE(daily.n, 0) AS n " +
          "FROM spine CROSS JOIN types " +
          "LEFT JOIN daily ON daily.d = spine.d AND daily.event_type = types.event_type"),
    ),
    QuerySpec(
      // Cohort retention: users grouped by first-active DAY, counted at
      // each day offset — the standard retention triangle (daily grain:
      // the fixture spans one month, so a monthly grain would collapse
      // to a single cell; daily yields 30/59/111 cells at the three
      // sfs). Two combinable aggregates (first-day per user; distinct
      // user-days) plus one join keyed on user_id; offsets are exact
      // day arithmetic, so the grid is cross-engine exact.
      "q105_cohort_retention",
      (s, dir) => {
        val active = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d"))
          .distinct()
          // referenced by both the cohort agg and the retention join —
          // materialize so the distinct shuffle runs once, not twice
          .localCheckpoint()
        val cohort = active.groupBy("user_id").agg(min(col("d")).as("cohort"))
        active
          .join(cohort, "user_id")
          .groupBy(
            date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
            datediff(col("d"), col("cohort")).cast("bigint").as("day_offset"))
          // plain count, not countDistinct: `active` is distinct per
          // (user_id, d) and each user has exactly one cohort, so a
          // user contributes at most one row per (cohort, day_offset)
          // cell — the distinct pass would re-shuffle for nothing (the
          // oracle keeps COUNT(DISTINCT), proving the equivalence)
          .agg(count(lit(1)).as("n_users"))
      },
      Some(
        "WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), " +
          "c AS (SELECT user_id, MIN(d) AS cohort FROM a GROUP BY 1) " +
          "SELECT strftime(cohort, '%Y-%m-%d') AS cohort, " +
          "CAST(datediff('day', cohort, d) AS BIGINT) AS day_offset, " +
          "COUNT(DISTINCT a.user_id) AS n_users " +
          "FROM a JOIN c ON a.user_id = c.user_id GROUP BY 1, 2"),
    ),
    QuerySpec(
      // Strict sequential funnel (view → click → purchase, each step
      // within 24 h of the previous) — the conversion-analysis shape.
      // Each step is a combinable min-aggregate keyed on user_id joined
      // back on user_id: three same-key shuffles, no window over full
      // event history, no per-user collect. The 24 h bound is what makes
      // the funnel discriminate (unbounded, every fixture user converts).
      // Timestamps compare at µs grain on both engines (Tables.events
      // truncates ns→µs; the oracle date_truncs to match).
      "q106_funnel",
      (s, dir) => {
        // materialize the funnel-relevant projection ONCE (q91's
        // localCheckpoint pattern): the three step branches and the
        // three count branches otherwise re-scan events 12× through
        // the union's lineage — at 100 TB that's 12 full scans for
        // one funnel
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isin("view", "click", "purchase"))
          .select(col("user_id"), col("event_type"), col("ts"))
          .localCheckpoint()
        val step1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t1"))
        val step2 = ev.filter(col("event_type") === "click")
          .join(step1, "user_id")
          .filter(col("ts") > col("t1") &&
            col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
          .groupBy("user_id").agg(min(col("ts")).as("t2"))
        val step3 = ev.filter(col("event_type") === "purchase")
          .join(step2, "user_id")
          .filter(col("ts") > col("t2") &&
            col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
          .groupBy("user_id").agg(min(col("ts")).as("t3"))
        step1.agg(count(lit(1)).as("n")).select(lit("1_view").as("step"), col("n"))
          .unionAll(step2.agg(count(lit(1)).as("n"))
            .select(lit("2_click").as("step"), col("n")))
          .unionAll(step3.agg(count(lit(1)).as("n"))
            .select(lit("3_purchase").as("step"), col("n")))
      },
      Some(
        "WITH e AS (SELECT user_id, event_type, " +
          "date_trunc('microseconds', ts) AS ts FROM events), " +
          "v AS (SELECT user_id, MIN(ts) AS t1 FROM e " +
          "WHERE event_type = 'view' GROUP BY 1), " +
          "c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM e " +
          "JOIN v ON e.user_id = v.user_id WHERE event_type = 'click' " +
          "AND e.ts > t1 AND e.ts <= t1 + INTERVAL 24 HOURS GROUP BY 1), " +
          "p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM e " +
          "JOIN c ON e.user_id = c.user_id WHERE event_type = 'purchase' " +
          "AND e.ts > t2 AND e.ts <= t2 + INTERVAL 24 HOURS GROUP BY 1) " +
          "SELECT '1_view' AS step, COUNT(*) AS n FROM v " +
          "UNION ALL SELECT '2_click', COUNT(*) FROM c " +
          "UNION ALL SELECT '3_purchase', COUNT(*) FROM p"),
    ),
    QuerySpec(
      // Event-type transition matrix: per-user bigrams along the
      // (ts, event_id)-ordered stream, counted over all users — the
      // Markov-chain / next-event-prediction feature. ONE shuffle
      // (window on user_id), then a 25-cell combinable groupBy. The
      // event_id tie-break makes same-µs orderings deterministic
      // cross-engine.
      "q107_transitions",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("prev_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
      },
      Some(
        "WITH e AS (SELECT user_id, event_id, event_type, " +
          "date_trunc('microseconds', ts) AS ts FROM events), " +
          "l AS (SELECT event_type AS prev_type, LEAD(event_type) OVER " +
          "(PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM e) " +
          "SELECT prev_type, next_type, COUNT(*) AS n FROM l " +
          "WHERE next_type IS NOT NULL GROUP BY 1, 2"),
    ),
    QuerySpec(
      // Top event-path trigrams — q107's Markov transitions extended
      // one step: the 3-step user journeys product analytics actually
      // reads (view→click→purchase vs view→click→error). Two LEADs
      // over the SAME user window (one shuffle, one sort — Spark
      // collapses same-spec window functions into one Window node),
      // combinable trigram count, then a deterministic top-20
      // (count desc, path asc) that plans as TakeOrderedAndProject,
      // not a global sort.
      "q190_path_trigrams",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
          .withColumn("e2", lead(col("event_type"), 1).over(w))
          .withColumn("e3", lead(col("event_type"), 2).over(w))
          .filter(col("e3").isNotNull)
          .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
          .limit(20)
      },
      Some(
        "WITH e AS (SELECT user_id, event_id, event_type, " +
          "date_trunc('microseconds', ts) AS ts FROM events), " +
          "l AS (SELECT event_type AS e1, " +
          "LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2, " +
          "LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3 FROM e) " +
          "SELECT e1, e2, e3, COUNT(*) AS n FROM l WHERE e3 IS NOT NULL " +
          "GROUP BY 1, 2, 3 ORDER BY n DESC, e1, e2, e3 LIMIT 20"),
    ),
    QuerySpec(
      // DAU / trailing-30-day MAU / stickiness — the canonical
      // DAU/MAU engagement ratio (q114 already covers the 7-day
      // rolling-actives horizon; this is the month-scale readout
      // product teams actually quote). Same exact shape, wider
      // window: the (user, day)-distinct frame (one combinable
      // distinct, corpus → users×days) EXPLODES each row into the
      // ≤30 trailing windows it feeds — bounded 30× replication of
      // the already-compressed frame, then one distinct-count per
      // window day, clipped to observed days via the DAU join. At
      // quarter+ horizons the explode swaps for q140's mergeable HLL
      // shards — the exact path is kept here because the gate wants
      // exact integers.
      "q197_stickiness",
      (s, dir) => {
        val ud = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        val dau = ud.groupBy("d").agg(count(lit(1)).as("dau"))
        val mau = ud
          .withColumn("wd", explode(expr("sequence(d, date_add(d, 29), interval 1 day)")))
          .select(col("user_id"), col("wd")).distinct()
          .groupBy(col("wd").as("d")).agg(count(lit(1)).as("mau"))
        dau.join(mau, Seq("d"))
          .select(
            date_format(col("d"), "yyyy-MM-dd").as("d"),
            col("dau"), col("mau"),
            round(col("dau") / col("mau").cast("double"), 4).as("stickiness"))
      },
      Some(
        "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), " +
          "dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1), " +
          "mau AS (SELECT da.d, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau " +
          "FROM dau da JOIN ud u ON u.d BETWEEN da.d - 29 AND da.d GROUP BY 1) " +
          "SELECT strftime(dau.d, '%Y-%m-%d') AS d, dau.dau, mau.mau, " +
          "round(dau.dau / CAST(mau.mau AS DOUBLE), 4) AS stickiness " +
          "FROM dau JOIN mau ON dau.d = mau.d"),
    ),
    QuerySpec(
      // Growth accounting — the weekly user-movement ledger every
      // growth team keeps: each active user classified new (first-ever
      // week), retained (also active the prior week) or resurrected
      // (returning after a gap), plus churned (active prior week,
      // absent this week), satisfying the bookkeeping identity
      // actives(w) = new + retained + resurrected and
      // churned(w) = actives(w−1) − retained(w). Everything derives
      // from the (user, week)-distinct frame: one combinable distinct,
      // first-ever week as a min() WINDOW over the user partition
      // (the frame is already user-keyed — no separate aggregate, no
      // join, and crucially no users-sized broadcast: distinct users
      // grow with the corpus, so replicating them to every executor
      // is the q192/q208 defect class), and ONE self-join shifted by
      // 7 days for the prior-week test — no per-week scans.
      // ISO-Monday week truncation matches across engines.
      "q204_growth_accounting",
      (s, dir) => {
        val uw = Tables.events(s, dir)
          .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("w"))
          .distinct()
          // the synthetic fixture has every user active every week,
          // which would leave resurrected/churned vacuously zero — so
          // each user deterministically skips every third ISO week
          // (q46's derive-the-feature pattern; same arithmetic in the
          // oracle), making all four ledger classes non-trivial
          .filter(pmod(col("user_id") + weekofyear(col("w")), lit(3)) =!= 0)
          .localCheckpoint(true)
        val prev = uw.select(col("user_id"), date_add(col("w"), 7).as("w"),
          lit(1L).as("was_prev"))
        val classified = uw
          .withColumn("fw", min(col("w")).over(Window.partitionBy("user_id")))
          .join(prev, Seq("user_id", "w"), "left")
          .select(col("w"),
            when(col("fw") === col("w"), "new")
              .when(col("was_prev").isNotNull, "retained")
              .otherwise("resurrected").as("cls"))
          // conditional aggregation, NOT Dataset.pivot: pivot (even
          // with pinned values) plans TWO shuffles of this frame —
          // and the frame here is users×weeks-sized, so the q36b
          // one-shuffle adjudication applies with real stakes (r16
          // review). count(when) is never null, so na.fill goes too.
          .groupBy("w").agg(
            count(when(col("cls") === "new", 1)).as("new"),
            count(when(col("cls") === "retained", 1)).as("retained"),
            count(when(col("cls") === "resurrected", 1)).as("resurrected"))
        // churned(w) = actives(w-1) − retained(w), reported only for
        // weeks that exist in the data (no phantom week after the end)
        val actives = uw.groupBy("w").agg(count(lit(1)).as("actives"))
        val prevActives = actives.select(date_add(col("w"), 7).as("w"),
          col("actives").as("prev_actives"))
        classified
          .join(actives, Seq("w"))
          .join(prevActives, Seq("w"), "left")
          .select(
            date_format(col("w"), "yyyy-MM-dd").as("week"),
            col("actives"),
            col("new").as("n_new"),
            col("retained").as("n_retained"),
            col("resurrected").as("n_resurrected"),
            (coalesce(col("prev_actives"), lit(0L)) - col("retained")).as("n_churned"))
      },
      Some(
        "WITH uw0 AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w " +
          "FROM events), " +
          "uw AS (SELECT * FROM uw0 WHERE (user_id + EXTRACT(week FROM w)) % 3 != 0), " +
          "fw AS (SELECT user_id, MIN(w) AS fw FROM uw GROUP BY 1), " +
          "cls AS (SELECT uw.w, CASE WHEN uw.w = fw.fw THEN 'new' " +
          "WHEN p.user_id IS NOT NULL THEN 'retained' ELSE 'resurrected' END AS cls " +
          "FROM uw JOIN fw USING (user_id) " +
          "LEFT JOIN uw p ON p.user_id = uw.user_id AND p.w = uw.w - 7), " +
          "piv AS (SELECT w, " +
          "CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new, " +
          "CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained, " +
          "CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected " +
          "FROM cls GROUP BY 1), " +
          "act AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS actives FROM uw GROUP BY 1) " +
          "SELECT strftime(piv.w, '%Y-%m-%d') AS week, act.actives, " +
          "n_new, n_retained, n_resurrected, " +
          "COALESCE(pa.actives, 0) - n_retained AS n_churned " +
          "FROM piv JOIN act USING (w) " +
          "LEFT JOIN act pa ON pa.w = piv.w - 7"),
    ),
    QuerySpec(
      // Last-touch attribution: each purchase credits the most recent
      // preceding click by the same user within 24 h — q41's
      // union-and-carry-forward as-of pattern applied to marketing
      // semantics. ONE shuffle (user window); (ts, side, event_id)
      // ordering makes same-microsecond click/purchase pairs
      // deterministic on both engines (click sorts first → gap 0
      // attribution). Gap rides as exact epoch-microsecond arithmetic.
      "q113_attribution",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("event_id"), col("ts"),
            when(col("event_type") === "click", 0).otherwise(1).as("side"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("side"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev
          .withColumn("click_id",
            last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w))
          .withColumn("click_ts",
            last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
          .filter(col("side") === 1 && col("click_id").isNotNull &&
            col("ts") <= col("click_ts") + expr("INTERVAL 24 HOURS"))
          .select(col("user_id"), col("event_id").as("purchase_id"), col("click_id"),
            (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("gap_us"))
      },
      Some(
        "WITH e AS (SELECT user_id, event_id, event_type, " +
          "date_trunc('microseconds', ts) AS ts FROM events " +
          "WHERE event_type IN ('click', 'purchase')), " +
          "u AS (SELECT user_id, event_id, ts, " +
          "CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side FROM e), " +
          "c AS (SELECT *, LAST_VALUE(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) " +
          "OVER w AS click_id, " +
          "LAST_VALUE(CASE WHEN side = 0 THEN ts END IGNORE NULLS) OVER w AS click_ts " +
          "FROM u WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
          "SELECT user_id, event_id AS purchase_id, click_id, " +
          "epoch_us(ts) - epoch_us(click_ts) AS gap_us FROM c " +
          "WHERE side = 1 AND click_id IS NOT NULL " +
          "AND ts - click_ts <= INTERVAL 24 HOURS"),
    ),
    QuerySpec(
      // Rolling 7-day active users per day (WAU) — the trailing-window
      // distinct count. The naive form is a date-RANGE self-join
      // (nested loop); the scale form used here explodes each
      // (user, day) into the ≤7 report days it contributes to — a
      // bounded fan-out equi-shuffle, the same banding trick as q42.
      // Plain count suffices (contrib is distinct per (user, report
      // day)); the oracle keeps COUNT(DISTINCT) to prove equivalence.
      "q114_rolling_actives",
      (s, dir) => {
        val ud = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d"))
          .distinct()
          .localCheckpoint() // referenced by both day spine and contributions
        // rename the spine column: days and contrib share ud's lineage,
        // and Spark's ambiguous-self-join check rejects a bare `d` ref
        val days = ud.select(col("d").as("day")).distinct()
        val contrib = ud
          .select(col("user_id"),
            explode(expr("sequence(d, date_add(d, 6))")).as("rd"))
          .distinct()
        contrib.join(days, col("rd") === col("day"))
          .groupBy(date_format(col("day"), "yyyy-MM-dd").as("d"))
          .agg(count(lit(1)).as("wau"))
      },
      Some(
        "WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), " +
          "days AS (SELECT DISTINCT d FROM ud), " +
          "contrib AS (SELECT DISTINCT user_id, CAST(unnest(generate_series(" +
          "d::TIMESTAMP, (d + 6)::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS rd FROM ud) " +
          "SELECT strftime(days.d, '%Y-%m-%d') AS d, COUNT(DISTINCT user_id) AS wau " +
          "FROM contrib JOIN days ON contrib.rd = days.d GROUP BY 1"),
    ),
    QuerySpec(
      // Frequent itemset pairs over (user, day) baskets: which event
      // types co-occur within a user's day, with basket-relative
      // support — the market-basket association shape. Pair generation
      // is a within-basket self-join with fan-out bounded by distinct
      // types per basket (≤5 here, ≤ catalog size in general), joined
      // on the basket key — never a corpus-wide cross. The basket
      // count broadcasts as a single row for the support fraction.
      "q116_itemset_pairs",
      (s, dir) => {
        val b = Tables.events(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
          .distinct()
          .localCheckpoint() // basket count + both self-join sides
        val nb = b.select(col("user_id"), col("d")).distinct()
          .agg(count(lit(1)).as("n"))
        b.as("a")
          .join(b.as("c"),
            col("a.user_id") === col("c.user_id") && col("a.d") === col("c.d") &&
              col("a.event_type") < col("c.event_type"))
          .groupBy(col("a.event_type").as("t1"), col("c.event_type").as("t2"))
          .agg(count(lit(1)).as("support"))
          .crossJoin(broadcast(nb))
          .select(col("t1"), col("t2"), col("support"),
            (col("support") / col("n")).as("support_frac"))
      },
      Some(
        "WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type " +
          "FROM events), " +
          "nb AS (SELECT COUNT(DISTINCT (user_id, d)) AS n FROM b), " +
          "p AS (SELECT a.event_type AS t1, c.event_type AS t2 FROM b a JOIN b c " +
          "ON a.user_id = c.user_id AND a.d = c.d AND a.event_type < c.event_type) " +
          "SELECT t1, t2, COUNT(*) AS support, " +
          "COUNT(*) / (SELECT n FROM nb) AS support_frac FROM p GROUP BY 1, 2"),
    ),
    QuerySpec(
      // SCD-2 point-in-time dimension lookup: each supplier carries 4
      // versioned attribute rows with [valid_from, valid_to) validity
      // windows (derived deterministically from s_suppkey so the
      // oracle can rebuild them); every lineitem joins to the version
      // valid at its ship date. Scale shape: the join key is the
      // EQUI key (suppkey) and the interval predicate is a post-join
      // filter — per-key fan-out is bounded by the version count (4,
      // and SCD dimensions are shallow by construction), so this stays
      // a broadcast/hash join at any fact size, never the
      // inequality-only nested loop a naive BETWEEN join plans.
      "q123_scd2_lookup",
      (s, dir) => {
        val versions = Tables(s, dir, "supplier")
          .select(col("s_suppkey"), explode(expr("sequence(0, 3)")).as("v"))
          .select(
            col("s_suppkey"),
            expr("date_add(DATE'1992-01-01', CAST(v * 600 AS INT))").as("valid_from"),
            expr("CASE WHEN v = 3 THEN DATE'9999-12-31' " +
              "ELSE date_add(DATE'1992-01-01', CAST((v + 1) * 600 AS INT)) END")
              .as("valid_to"),
            // BIGINT on both sides: Spark would emit the scan's int
            // width while DuckDB's range() promotes to int64
            expr("CAST((s_suppkey * 7 + v) % 100 AS BIGINT)").as("rating"))
        Tables(s, dir, "lineitem")
          .select("l_suppkey", "l_shipdate", "l_quantity")
          .join(
            versions,
            col("l_suppkey") === col("s_suppkey") &&
              col("l_shipdate") >= col("valid_from") &&
              col("l_shipdate") < col("valid_to"))
          .groupBy("rating")
          .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
      },
      Some(
        "WITH v AS (SELECT s_suppkey, " +
          "DATE '1992-01-01' + INTERVAL (v * 600) DAY AS valid_from, " +
          "CASE WHEN v = 3 THEN DATE '9999-12-31' " +
          "ELSE DATE '1992-01-01' + INTERVAL ((v + 1) * 600) DAY END AS valid_to, " +
          "CAST((s_suppkey * 7 + v) % 100 AS BIGINT) AS rating " +
          "FROM supplier, unnest(range(0, 4)) AS u(v)) " +
          "SELECT rating, CAST(COUNT(*) AS BIGINT) AS n_items, " +
          "SUM(l_quantity) AS sum_qty " +
          "FROM lineitem JOIN v ON l_suppkey = s_suppkey " +
          "AND l_shipdate >= valid_from AND l_shipdate < valid_to " +
          "GROUP BY rating"),
    ),
    QuerySpec(
      // Per-group linear trend: regr_slope/intercept/r2 of event value
      // over day index — the "is this signal drifting" pass a metrics
      // pipeline runs per segment. One combinable groupBy (the
      // regression aggregates fold to (n, Σx, Σy, Σxx, Σyy, Σxy)
      // partials — map-side combine, scan-speed at any scale). The day
      // index is anchored at the fixture epoch so x stays O(30) and
      // slope/intercept magnitudes stay well inside the oracle's 1e-6
      // float tolerance.
      "q130_group_trend",
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn(
            "x",
            datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("2024-01-01")))
              .cast("double"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            regr_slope(col("value"), col("x")).as("slope"),
            regr_intercept(col("value"), col("x")).as("intercept"),
            regr_r2(col("value"), col("x")).as("r2")),
      Some(
        "SELECT event_type, COUNT(*) AS n, " +
          "regr_slope(value, CAST(date_diff('day', DATE '2024-01-01', ts) AS DOUBLE)) AS slope, " +
          "regr_intercept(value, CAST(date_diff('day', DATE '2024-01-01', ts) AS DOUBLE)) AS intercept, " +
          "regr_r2(value, CAST(date_diff('day', DATE '2024-01-01', ts) AS DOUBLE)) AS r2 " +
          "FROM events GROUP BY event_type"),
    ),
    QuerySpec(
      // Snapshot diff — the CDC shape of a training-data refresh: two
      // per-user activity snapshots over overlapping day windows,
      // full-outer-joined and classified added/removed/changed/
      // unchanged. Scale: both snapshots are combinable groupBys on
      // the SAME key, so the outer join is co-partitioned by AQE (one
      // shuffle each side, no residue); the classification is
      // scan-speed. This is the operator that turns "re-crawl the
      // corpus" into "process what moved".
      "q132_snapshot_diff",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn(
            "d",
            datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("2024-01-01"))))
        val a = ev.filter(col("d") < 20)
          .groupBy("user_id").agg(count(lit(1)).as("n_a"))
        val b = ev.filter(col("d") >= 10)
          .groupBy("user_id").agg(count(lit(1)).as("n_b"))
        a.join(b, Seq("user_id"), "full_outer")
          .select(
            col("user_id"),
            coalesce(col("n_a"), lit(0L)).as("cnt_old"),
            coalesce(col("n_b"), lit(0L)).as("cnt_new"),
            when(col("n_a").isNull, "added")
              .when(col("n_b").isNull, "removed")
              .when(col("n_a") === col("n_b"), "unchanged")
              .otherwise("changed").as("change"))
      },
      Some(
        "WITH e AS (SELECT user_id, date_diff('day', DATE '2024-01-01', ts) AS d " +
          "FROM events), " +
          "a AS (SELECT user_id, COUNT(*) AS n_a FROM e WHERE d < 20 GROUP BY 1), " +
          "b AS (SELECT user_id, COUNT(*) AS n_b FROM e WHERE d >= 10 GROUP BY 1) " +
          "SELECT COALESCE(a.user_id, b.user_id) AS user_id, " +
          "COALESCE(n_a, 0) AS cnt_old, COALESCE(n_b, 0) AS cnt_new, " +
          "CASE WHEN n_a IS NULL THEN 'added' WHEN n_b IS NULL THEN 'removed' " +
          "WHEN n_a = n_b THEN 'unchanged' ELSE 'changed' END AS change " +
          "FROM a FULL OUTER JOIN b ON a.user_id = b.user_id"),
    ),
    QuerySpec(
      // Linear gap interpolation: fill missing (series, day) points by
      // interpolating between the nearest observed neighbors — the
      // sensor/metric densification pass (q104 zero-fills; this
      // RECONSTRUCTS). Gaps are synthesized deterministically (~1/4 of
      // days dropped per series). Plan: daily grain is ONE combinable
      // groupBy; the spine × tiny type set is the q104 shape; the
      // neighbor lookup is two IGNORE-NULLS window passes over the
      // per-series day grain — state bounded by days × series, never
      // raw events. Leading/trailing gaps back-/forward-fill. The daily
      // avg is round(avg, 9) on both engines (the ivfCentroids idiom):
      // avg sums in file-layout order, so on a multi-file layout an
      // unrounded mean drifted by an ULP and flipped the 6th decimal.
      "q135_interpolate",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
          .withColumn(
            "d",
            datediff(to_date(col("ts")), lit(java.sql.Date.valueOf("2024-01-01")))
              .cast("long"))
        val daily = ev.groupBy(col("event_type"), col("d"))
          .agg(round(avg(col("value")), 9).as("v"))
          .filter(pmod(col("d") + length(col("event_type")), lit(4)) =!= 0)
        val bounds = ev.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
        val spine = bounds.select(explode(expr("sequence(dmin, dmax)")).as("d"))
        val types = ev.select(col("event_type")).distinct()
        val w = Window.partitionBy("event_type").orderBy("d")
        val back = w.rowsBetween(Window.unboundedPreceding, 0)
        val fwd = w.rowsBetween(0, Window.unboundedFollowing)
        spine.crossJoin(broadcast(types))
          .join(daily, Seq("event_type", "d"), "left")
          .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
          .withColumn(
            "pd", last(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(back))
          .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
          .withColumn(
            "nd", first(when(col("v").isNotNull, col("d")), ignoreNulls = true).over(fwd))
          .select(
            col("event_type"), col("d"),
            when(col("v").isNotNull, col("v"))
              .when(col("pv").isNull, col("nv"))
              .when(col("nv").isNull, col("pv"))
              .otherwise(
                col("pv") + (col("nv") - col("pv")) *
                  (col("d") - col("pd")).cast("double") /
                  (col("nd") - col("pd")).cast("double"))
              .as("v_filled"),
            col("v").isNull.cast("bigint").as("was_gap"))
      },
      Some(
        "WITH e AS (SELECT event_type, " +
          "CAST(date_diff('day', DATE '2024-01-01', ts) AS BIGINT) AS d, value " +
          "FROM events), " +
          "b AS (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM e), " +
          "spine AS (SELECT UNNEST(range(dmin, dmax + 1)) AS d FROM b), " +
          "ty AS (SELECT DISTINCT event_type FROM e), " +
          "daily AS (SELECT event_type, d, round(AVG(value), 9) AS v FROM e GROUP BY 1, 2), " +
          "dailyf AS (SELECT * FROM daily WHERE (d + len(event_type)) % 4 != 0), " +
          "g AS (SELECT ty.event_type, spine.d, f.v FROM spine CROSS JOIN ty " +
          "LEFT JOIN dailyf f ON f.event_type = ty.event_type AND f.d = spine.d), " +
          "w AS (SELECT *, " +
          "last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY d " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv, " +
          "last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER " +
          "(PARTITION BY event_type ORDER BY d " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd, " +
          "first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY d " +
          "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv, " +
          "first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER " +
          "(PARTITION BY event_type ORDER BY d " +
          "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd FROM g) " +
          "SELECT event_type, d, " +
          "CASE WHEN v IS NOT NULL THEN v WHEN pv IS NULL THEN nv " +
          "WHEN nv IS NULL THEN pv " +
          "ELSE pv + (nv - pv) * CAST(d - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE) END " +
          "AS v_filled, CAST(v IS NULL AS BIGINT) AS was_gap FROM w"),
    ),
    QuerySpec(
      // Max-concurrency sweep-line — "how many users were active at
      // once, per hour" over per-(user, day) activity intervals
      // [min ts, max ts]. The naive form is an interval-overlap
      // self-join (O(n²) theta-join); the sweep turns it into +1/−1
      // boundary events and ONE running sum. The running sum itself is
      // computed as a DISTRIBUTED prefix sum — within-hour cumsum via
      // a window partitioned BY hour, plus per-hour offsets from a
      // tiny hours-sized frame cumsum'd unpartitioned and broadcast
      // back — so no corpus-sized unpartitioned window ever exists:
      // the 100 TB shape is (shuffle by hour) + (driver-tiny hours
      // frame), never a single-task global sort. Tie rule: starts
      // before ends at the same instant (delta DESC), user_id
      // tiebreak → the total order is unique, so both engines'
      // cumsums are identical row-for-row; the oracle computes the
      // same sweep with a single global window, proving the
      // partitioned+offset decomposition exact.
      "q149_concurrency_sweep",
      (s, dir) => {
        val iv = Tables.events(s, dir)
          .groupBy(col("user_id"), to_date(col("ts")).as("d"))
          .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
        // Materialize the boundary list once: both the within-hour
        // window and the offsets branch consume it, and without the
        // checkpoint each branch would re-run the corpus aggregation.
        // The frame is 2 rows per interval — intervals-sized, far
        // smaller than the events it summarizes.
        val bounds = iv.select(col("user_id"), col("start_ts").as("ts"), lit(1).as("delta"))
          .unionByName(iv.select(col("user_id"), col("end_ts").as("ts"), lit(-1).as("delta")))
          .withColumn("hr", date_trunc("HOUR", col("ts")))
          .localCheckpoint(true)
        val wIn = Window.partitionBy("hr")
          .orderBy(col("ts").asc, col("delta").desc, col("user_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = bounds.withColumn("local_cum", sum(col("delta")).over(wIn))
        val wOff = Window.orderBy("hr")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = bounds.groupBy("hr").agg(sum(col("delta")).as("tot"))
          .withColumn("offset", coalesce(sum(col("tot")).over(wOff), lit(0L)))
          .select("hr", "offset")
        local.join(broadcast(offsets), Seq("hr"))
          .withColumn("cum", col("local_cum") + col("offset"))
          .groupBy("hr")
          .agg(max(col("cum")).cast("bigint").as("max_concurrent"))
      },
      Some(
        "WITH iv AS (SELECT user_id, CAST(ts AS DATE) AS d, " +
          "MIN(ts) AS start_ts, MAX(ts) AS end_ts FROM events GROUP BY 1, 2), " +
          "b AS (SELECT user_id, start_ts AS ts, 1 AS delta FROM iv " +
          "UNION ALL SELECT user_id, end_ts AS ts, -1 AS delta FROM iv), " +
          "sw AS (SELECT date_trunc('hour', ts) AS hr, " +
          "SUM(delta) OVER (ORDER BY ts ASC, delta DESC, user_id ASC " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM b) " +
          "SELECT hr, CAST(MAX(cum) AS BIGINT) AS max_concurrent FROM sw GROUP BY hr"),
    ),
    QuerySpec(
      // Point-in-time feature assembly (the feature-store join): for
      // every `purchase` label event, three features computed ONLY
      // from strictly-earlier history — the training-serving-skew
      // guard. All three ride ONE shuffle on user_id over the unioned
      // event stream (the q41 union-and-carry pattern, generalized to
      // multiple features):
      //   f_last_view   — latest prior `view` value (as-of, ignoreNulls
      //                   carry over a ROWS frame ending 1 PRECEDING);
      //   f_clicks_1h   — clicks in [t−1h, t) via a RANGE frame on
      //                   epoch micros ending 1 μs before the label;
      //   f_prior_buys  — running count of earlier purchases, same
      //                   ROWS frame.
      // Leakage is structurally impossible: both frames END before the
      // current row (ties broken by event_id, mirrored in the oracle,
      // so cross-engine order is identical). At 100 TB this replaces
      // the per-feature-table as-of join loop: one sort per entity
      // key serves every point-in-time feature.
      "q153_pit_features",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(
            col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("tm"))
        val wRows = Window.partitionBy("user_id")
          .orderBy(col("tm").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val wRange = Window.partitionBy("user_id")
          .orderBy(col("tm").asc)
          .rangeBetween(-3600L * 1000000L, -1L)
        ev
          .withColumn("f_last_view",
            last(when(col("event_type") === "view", col("value")), ignoreNulls = true)
              .over(wRows))
          .withColumn("f_clicks_1h",
            coalesce(
              sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(wRange),
              lit(0L)))
          .withColumn("f_prior_buys",
            coalesce(
              sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(wRows),
              lit(0L)))
          .filter(col("event_type") === "purchase")
          .select(
            col("user_id"), col("event_id"), col("ts"),
            col("f_last_view"), col("f_clicks_1h"), col("f_prior_buys"))
      },
      Some(
        "WITH ev AS (SELECT user_id, event_id, ts, event_type, value, " +
          "epoch_us(ts) AS tm FROM events), " +
          "f AS (SELECT user_id, event_id, ts, event_type, " +
          "last_value(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS) OVER " +
          "(PARTITION BY user_id ORDER BY tm ASC, event_id ASC " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS f_last_view, " +
          "COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER " +
          "(PARTITION BY user_id ORDER BY tm ASC " +
          "RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING), 0) AS f_clicks_1h, " +
          "COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER " +
          "(PARTITION BY user_id ORDER BY tm ASC, event_id ASC " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS f_prior_buys " +
          "FROM ev) " +
          "SELECT user_id, event_id, ts, f_last_view, " +
          "CAST(f_clicks_1h AS BIGINT) AS f_clicks_1h, " +
          "CAST(f_prior_buys AS BIGINT) AS f_prior_buys " +
          "FROM f WHERE event_type = 'purchase'"),
    ),
    QuerySpec(
      // Time-weighted average (TWAP): per (user, day), each event's
      // value weighted by how long it was current (until the next
      // event that day) — the correct aggregate for sampled-state
      // series where plain avg over-weights bursts. One lead() window
      // + one combinable groupBy, both keyed (user, day) — a single
      // shuffle. The last event of a day carries no duration (weight
      // 0); single-event days have no weighted support → twap NULL,
      // preserved as NULL rather than faked with the raw value.
      "q157_twap",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"), to_date(col("ts")).as("d"))
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, dir)
          .withColumn("dur",
            (unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
              .cast("double"))
          .groupBy(col("user_id"), to_date(col("ts")).as("d"))
          .agg(count(lit(1)).as("n_events"), twapCol.as("twap"))
          // surface convention: DATE rides as yyyy-MM-dd string
          .withColumn("d", date_format(col("d"), "yyyy-MM-dd"))
      },
      Some(
        "WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d, value, " +
          "CAST(epoch_us(lead(ts, 1) OVER (PARTITION BY user_id, CAST(ts AS DATE) " +
          "ORDER BY ts ASC, event_id ASC)) - epoch_us(ts) AS DOUBLE) AS dur FROM events) " +
          "SELECT user_id, strftime(d, '%Y-%m-%d') AS d, CAST(COUNT(*) AS BIGINT) AS n_events, " +
          "round(SUM(value * dur) / SUM(dur), 6) AS twap FROM e GROUP BY 1, 2"),
    ),
    QuerySpec(
      // New-vs-returning daily actives — the product-analytics split
      // every event pipeline reports: a user's first-ever day makes
      // them `new`, later days `returning`; plus the running total of
      // distinct users ever seen (exact, via cumsum of new — running
      // COUNT(DISTINCT) without ever holding a distinct set). Shapes:
      // first-day frame is one combinable min-agg (users-sized), daily
      // actives one distinct-agg; the cumsum window runs on the
      // days-sized frame only.
      "q158_new_vs_returning",
      (s, dir) => {
        val ev = Tables.events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
        val firstDay = ev.groupBy("user_id").agg(min(col("d")).as("fd"))
        val newPerDay = firstDay.groupBy(col("fd").as("d"))
          .agg(count(lit(1)).as("new_users"))
        val active = ev.distinct().groupBy("d").agg(count(lit(1)).as("active"))
        val wc = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        active.join(broadcast(newPerDay), Seq("d"), "left")
          .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
          .withColumn("returning", col("active") - col("new_users"))
          .withColumn("cum_users", sum(col("new_users")).over(wc))
          .withColumn("d", date_format(col("d"), "yyyy-MM-dd"))
      },
      Some(
        "WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events), " +
          "fd AS (SELECT user_id, MIN(d) AS fd FROM ev GROUP BY 1), " +
          "npd AS (SELECT fd AS d, CAST(COUNT(*) AS BIGINT) AS new_users FROM fd GROUP BY 1), " +
          "act AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS active FROM ev GROUP BY 1) " +
          "SELECT strftime(d, '%Y-%m-%d') AS d, active, COALESCE(new_users, 0) AS new_users, " +
          "active - COALESCE(new_users, 0) AS returning, " +
          // CAST: DuckDB window SUM promotes to HUGEINT -> pandas
          // float64 (the q124 pattern; the r9 driver hash mismatch)
          "CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY d " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users " +
          "FROM act LEFT JOIN npd USING (d)"),
    ),
    QuerySpec(
      // A/B experiment readout with Welch's t — the product-analytics
      // significance report. Arm assignment is deterministic
      // (user_id mod 2 — in production it'd be the q44 md5-bucket
      // split); per event type the two arms' count/mean/sample-
      // variance fold in ONE combinable conditional aggregation (no
      // per-arm scans, no join), and the Welch statistic
      // (mB−mA)/√(vA/nA+vB/nB) is row-local arithmetic on the tiny
      // per-type frame. Scan-speed at any scale: one pass, one
      // event_type-keyed shuffle of partial moments.
      "q168_ab_test",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .withColumn("arm", pmod(col("user_id"), lit(2)))
        val a = col("arm") === 0
        ev.groupBy("event_type")
          .agg(
            count(when(a, 1)).as("n_a"),
            count(when(!a, 1)).as("n_b"),
            avg(when(a, col("value"))).as("m_a"),
            avg(when(!a, col("value"))).as("m_b"),
            var_samp(when(a, col("value"))).as("v_a"),
            var_samp(when(!a, col("value"))).as("v_b"))
          // zero-SE guard (r17 division sweep): two CONSTANT-valued
          // arms (v_a = v_b = 0.0 exactly, each with >= 2 rows) make
          // the Welch denominator exactly 0.0 — ANSI throws where
          // DuckDB's x/0 is NULL; a zero-variance experiment supports
          // no t statistic, so it is declared NULL. (n_a/n_b = 0 needs
          // no guard: var_samp is NULL below 2 rows and NULL/0 is NULL.)
          .withColumn("se", sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b")))
          .withColumn("t_welch",
            round(when(col("se") =!= 0.0d, (col("m_b") - col("m_a")) / col("se")), 4))
          .select(
            col("event_type"), col("n_a"), col("n_b"),
            round(col("m_a"), 6).as("m_a"), round(col("m_b"), 6).as("m_b"),
            col("t_welch"))
      },
      Some(
        "WITH g AS (SELECT event_type, " +
          "COUNT(*) FILTER (user_id % 2 = 0) AS n_a, " +
          "COUNT(*) FILTER (user_id % 2 = 1) AS n_b, " +
          "AVG(value) FILTER (user_id % 2 = 0) AS m_a, " +
          "AVG(value) FILTER (user_id % 2 = 1) AS m_b, " +
          "VAR_SAMP(value) FILTER (user_id % 2 = 0) AS v_a, " +
          "VAR_SAMP(value) FILTER (user_id % 2 = 1) AS v_b " +
          "FROM events GROUP BY 1) " +
          "SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, " +
          "round(m_a, 6) AS m_a, round(m_b, 6) AS m_b, " +
          "round((m_b - m_a) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_welch " +
          "FROM g"),
    ),
    QuerySpec(
      // Last-touch attribution — which channel gets credit for each
      // purchase: the most recent preceding non-purchase, non-error
      // event of the same user (or 'direct' if none). ONE per-user
      // window pass with LAST_VALUE(tag IGNORE NULLS) over the
      // everything-before-me frame — the carry-forward idiom (q123's
      // SCD-2 lookup, gap-fill) applied to attribution; no self-join,
      // no per-purchase scan. Then a 4-key combinable rollup. The
      // window is user-partitioned, so the corpus never
      // single-partitions; (ts, event_id) ordering pins ties.
      // NOT q113: q113 attributes each purchase to the most recent
      // same-user CLICK within a bounded 24 h lookback (as-of
      // carry-forward, purchase-level output, unattributed purchases
      // dropped); this credits ANY non-purchase/non-error channel with
      // an UNBOUNDED lookback, falls back to 'direct', and rolls up to
      // per-channel totals — the marketing-report twin, not the
      // pair-window join.
      "q186_attribution",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val win = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("value"))
          .withColumn("tag",
            when(!col("event_type").isin("purchase", "error"), col("event_type")))
        ev.withColumn("channel", coalesce(last(col("tag"), ignoreNulls = true).over(win),
            lit("direct")))
          .filter(col("event_type") === "purchase")
          .groupBy("channel")
          .agg(
            count(lit(1)).as("n_purchases"),
            round(sum(col("value")), 4).as("revenue"))
      },
      Some(
        "WITH t AS (SELECT user_id, ts, event_id, event_type, value, " +
          "CASE WHEN event_type NOT IN ('purchase', 'error') THEN event_type END AS tag " +
          "FROM events), " +
          "a AS (SELECT event_type, value, COALESCE(LAST_VALUE(tag IGNORE NULLS) " +
          "OVER (PARTITION BY user_id ORDER BY ts, event_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 'direct') AS channel FROM t) " +
          "SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases, " +
          "round(SUM(value), 4) AS revenue " +
          "FROM a WHERE event_type = 'purchase' GROUP BY 1"),
    ),
  )
}
