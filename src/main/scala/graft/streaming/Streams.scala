package graft.streaming

import graft.pipeline.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface (SURVEY §2.3 streaming block): the
  * reference is batch-only, but its ingest model — expression files
  * dropped into a directory, one per sample — is exactly a streaming
  * file source; and the extended engine exposes event-time windows with
  * watermarked late-data handling plus model scoring via foreachBatch.
  *
  * Every transform here is the SAME logical plan as its batch twin in
  * operators.WindowOps / pipeline.Ingest — Structured Streaming's
  * incrementalization is what changes, not the query. That is the
  * Spark-first answer to "Flink streaming": declare once, run either
  * mode.
  *
  * Scale: state for windowed aggs is bounded by the watermark (late
  * rows beyond it are dropped, state older than it is evicted);
  * shuffle partitioning of the agg is the same hash partitioning as
  * batch. File-source ingest at 100 TB: maxFilesPerTrigger bounds each
  * micro-batch.
  *
  * Input contract (module-wide): event keys — `user_id`, `event_id`,
  * `ts` — are NON-NULL, per the events fixture schema and every batch
  * twin's key-grouped semantics. The typed twins encode into case
  * classes with primitive `Long` keys, so a NULL key fails the encoder
  * loudly at the row (not silently grouped under a null key, which is
  * what the batch `groupBy` would do — the two modes genuinely differ
  * on null keys, so the contract excludes them). A feed with nullable
  * identity must filter or repair upstream of these twins.
  */
object Streams {

  /** Full-precision event time: epoch MICROSECONDS. `Timestamp.getTime`
    * truncates to milliseconds, and the events fixture carries
    * microsecond timestamps (Tables.scala timestamp_micros) — any
    * within-batch replay ordering must use this, never getTime.
    */
  private def tsMicros(t: java.sql.Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** Streaming file-source ingest of expression TSVs — the streaming
    * twin of `pipeline.Ingest`'s reader tasks: the text source, one row
    * per line, under the same lenient line rule (`Ingest.LineRule`: a
    * headerless file keeps its first row, a non-numeric value drops its
    * row, a non-finite one fails the query naming the probe and the
    * file). The `file` column carries the raw `input_file_name()` URI;
    * mapping it back to a sample is the caller's batch step, since the
    * sample dictionary is a static frame joined per micro-batch, not
    * streaming state.
    */
  def expressionFileStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.readStream
      .option("maxFilesPerTrigger", 16) // bound micro-batch size
      .text(dir)
      .select(input_file_name(), col("value"))
      .as[(String, String)]
      .mapPartitions { lines =>
        val rule = new Ingest.LineRule
        lines.flatMap { case (file, line) =>
          rule(line, s"file $file") match {
            case Ingest.Cell(probe, value) => Some((file, probe, value))
            case _ => None
          }
        }
      }
      .toDF("file", "probe_name", "value")
  }

  /** Tumbling event-time counts with watermark: rows later than the
    * watermark are dropped, state is evicted past it.
    */
  def tumblingCounts(
      events: DataFrame,
      window_ : String = "1 hour",
      watermark: String = "2 hours",
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Session windows per user, 30-minute gap (built-in session_window
    * state store — no custom mapGroupsWithState needed).
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"))

  /** Streaming exact dedup: first occurrence of each (user_id, ts)
    * wins; duplicate arrivals within the watermark are dropped and
    * dedup state older than the watermark is evicted — bounded-state
    * streaming twin of the batch q20/q25 dedup family. CONTRACT: the
    * key identifies the content (replayed copies of one event are
    * byte-equal, as in q25's hash dedup), so any survivor is the same
    * row. For same-key rows that DIFFER in payload the retained
    * representative is arrival-order-dependent (streaming
    * dropDuplicates keeps whatever the shuffle delivers first) — such
    * rows are not duplicates under this contract; callers needing a
    * deterministic keep-latest/keep-first among them use upsertStream
    * or firstSeenStream, which fold explicitly in (tsMicros,
    * event_id) order.
    */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates("user_id", "ts")

  /** Custom keyed state via flatMapGroupsWithState: per-user running
    * aggregate (event count + running sum of `value`) that survives
    * across micro-batches — the escape hatch when built-in windows
    * can't express the state machine. State is per-key and lives in
    * the state store (RocksDB/HDFS-backed on a cluster), so state size
    * scales with DISTINCT keys, not events. The double sum folds in
    * shuffle arrival order — the same unordered-fold contract as batch
    * `groupBy(...).agg(sum(...))`, whose partial aggregates also
    * combine in an engine-chosen order; both modes carry the identical
    * FP-associativity error class, and the oracle convention (round
    * fold-order-sensitive doubles) absorbs it. The sequential-
    * recursion twins (ewma/cusum/attribution/twap) sort because their
    * RESULT, not just its low-order bits, depends on order.
    */
  final case class UserTotals(user_id: Long, n_events: Long, sum_value: Double)

  def runningUserTotals(
      events: DataFrame, // needs user_id LONG, value DOUBLE
  ): org.apache.spark.sql.Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .selectExpr("user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserTotals, UserTotals](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(user, 0L, 0.0))
          var n = prev.n_events
          var sum = prev.sum_value
          rows.foreach { case (_, v) => n += 1; sum += v }
          val next = UserTotals(user, n, sum)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Stream-static enrichment join: every micro-batch joins against a
    * static dimension frame — no streaming state at all (the dimension
    * is simply re-read), which is why this is the default way to
    * decorate a 100 TB/day event stream with reference data. The
    * static side carries NO forced broadcast hint: `dim` is
    * caller-supplied, and a hint is honored unconditionally — a
    * users-scale profile table would be replicated into every
    * executor. The planner broadcasts off the dim's own size stats
    * exactly when it is genuinely small, and falls back to a shuffled
    * join (scale-safe) when it is not.
    */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(dim, Seq("user_id"), "left")

  /** Stream-stream interval join (Flink's intervalJoin semantics):
    * pair each left event with same-user right events whose timestamp
    * lies in [l.ts, l.ts + window]. Both sides carry watermarks and the
    * join condition bounds event time on BOTH sides, so Spark evicts
    * join state as the watermarks advance — left rows once the right
    * watermark passes l.ts + window, right rows once the left
    * watermark passes r.ts. Without that range condition the state
    * would grow without bound; with it, state ≈ (window + lateness)
    * of data per side regardless of stream length. The identical plan
    * runs in batch (StreamsSpec proves equivalence).
    */
  def intervalJoin(
      left: DataFrame, // needs ts TIMESTAMP, user_id LONG, event_type STRING
      right: DataFrame, // needs ts TIMESTAMP, user_id LONG, value DOUBLE
      window: String = "5 minutes",
      lateness: String = "10 minutes",
  ): DataFrame = intervalJoinOf(left, right, window, lateness, "inner")

  /** Stream-stream LEFT OUTER interval join: same predicate as
    * `intervalJoin`, but a left row with no right match within its
    * window EMITS with nulls once the watermark passes the window's
    * end — the "order that never got a payment" alert shape, which an
    * inner join can only ever silently drop. The time-bound join
    * condition + both-side watermarks are what make the state and the
    * null decision finite: Spark holds a left row only until watermark
    * > l_ts + window, then either it matched or it emits null-padded.
    * StreamsSpec proves both the match rows (≡ the inner join) and the
    * watermark-forced null emission on a gap fixture.
    */
  def intervalJoinOuter(
      left: DataFrame,
      right: DataFrame,
      window: String = "5 minutes",
      lateness: String = "10 minutes",
  ): DataFrame = intervalJoinOf(left, right, window, lateness, "leftOuter")

  /** The one body of `intervalJoin` and `intervalJoinOuter`. */
  private def intervalJoinOf(
      left: DataFrame,
      right: DataFrame,
      window: String,
      lateness: String,
      joinType: String,
  ): DataFrame = {
    val l = left
      .select(col("user_id"), col("ts").as("l_ts"), col("event_type").as("l_type"))
      .withWatermark("l_ts", lateness)
    val r = right
      .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"), col("value"))
      .withWatermark("r_ts", lateness)
    l.join(
      r,
      col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"interval $window"),
      joinType)
      .select(col("user_id"), col("l_ts"), col("l_type"), col("r_ts"), col("value"))
  }

  /** Streaming anomaly detection: per-key running mean/variance via
    * Welford's online update inside flatMapGroupsWithState, flagging
    * each event whose value is > 3σ from the running per-key mean AT
    * ARRIVAL (state before the event's own update — a fixed-stats
    * z-score like q103 would need the final mean, which a stream never
    * has). State per key is three doubles (n, mean, M2) — size scales
    * with DISTINCT keys, never events, exactly the bound a 100 TB/day
    * stream needs. Rows are folded in (unix_micros(ts), event_id)
    * order within each micro-batch so results are replay-deterministic
    * regardless of shuffle arrival order.
    */
  final case class Anomaly(event_type: String, event_id: Long, value: Double, z: Double)

  def anomalyStream(
      events: DataFrame, // needs event_type STRING, event_id LONG, ts TIMESTAMP, value DOUBLE
      sigmas: Double = 3.0,
      minCount: Long = 10L,
  ): org.apache.spark.sql.Dataset[Anomaly] = {
    // n−1 in the variance needs ≥2 observations; minCount = 1 would
    // make sd NaN and silently flag NOTHING forever — fail loudly
    require(minCount >= 2L, s"minCount must be >= 2, got $minCount")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .selectExpr("event_type", "event_id", "unix_micros(ts) AS ts_us", "value")
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double, Double), Anomaly](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Double, Double)]) =>
          var (n, mean, m2) = state.getOption.getOrElse((0L, 0.0, 0.0))
          val out = Seq.newBuilder[Anomaly]
          // deterministic fold order under any within-batch shuffle order
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, id, _, v) =>
            if (n >= minCount) {
              val sd = math.sqrt(m2 / (n - 1))
              // sd == 0 (constant history): a deviating value is
              // infinitely many σ out — z = ±Infinity is the honest
              // statistic and math.abs(Inf) > sigmas flags it; an
              // EQUAL value gives 0/0 = NaN, and NaN > sigmas is
              // false, so constants never self-flag
              val z = (v - mean) / sd
              if (math.abs(z) > sigmas) out += Anomaly(key, id, v, z)
            }
            n += 1
            val d = v - mean
            mean += d / n
            m2 += d * (v - mean)
          }
          state.update((n, mean, m2))
          out.result().iterator
      }
  }

  /** Streaming funnel state machine: the per-user sequential
    * view → click → purchase progression of q106 as keyed streaming
    * state. State per user is three optional step timestamps (µs) —
    * fixed-size regardless of event volume. Emits (user_id, step,
    * at_us) each time a user NEWLY reaches a step, so downstream
    * counts are incremental. Chronological replay reproduces the
    * batch q106 semantics exactly (the first qualifying event per
    * step IS the min-timestamp event); same-microsecond ordering
    * cannot change outcomes because every transition predicate is
    * strict (`us > t_prev`), so ties reject identically in any fold
    * order. StreamsSpec proves batch ≡ stream on the sf0.01 fixture.
    */
  final case class FunnelStep(user_id: Long, step: String, at_us: Long)
  final case class FunnelState(t1: Option[Long], t2: Option[Long], t3: Option[Long])

  def funnelStream(
      events: DataFrame, // needs user_id LONG, event_type STRING, ts TIMESTAMP
      windowUs: Long = 24L * 3600 * 1000000,
  ): org.apache.spark.sql.Dataset[FunnelStep] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .selectExpr("user_id", "event_type", "unix_micros(ts) AS ts_us")
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelStep](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(None, None, None))
          val out = Seq.newBuilder[FunnelStep]
          rows.toSeq.sortBy(_._3).foreach { case (_, typ, us) =>
            (typ, st) match {
              case ("view", FunnelState(None, _, _)) =>
                st = st.copy(t1 = Some(us)); out += FunnelStep(user, "1_view", us)
              case ("click", FunnelState(Some(t1), None, _))
                  if us > t1 && us <= t1 + windowUs =>
                st = st.copy(t2 = Some(us)); out += FunnelStep(user, "2_click", us)
              case ("purchase", FunnelState(_, Some(t2), None))
                  if us > t2 && us <= t2 + windowUs =>
                st = st.copy(t3 = Some(us)); out += FunnelStep(user, "3_purchase", us)
              case _ => ()
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** One finalized (user, day) time-weighted average. */
  final case class TwapRow(user_id: Long, d: String, n_events: Long, twap: Option[Double])

  /** Per-(user, day) TWAP fold state: last event seen + accumulators. */
  final case class TwapState(
      prevTsUs: Long, prevV: Double, accW: Double, accDurUs: Double, n: Long)

  /** Streaming TWAP — batch q157 as keyed event-time state: each
    * arriving event closes the previous event's "current" interval
    * (weight = duration to the next observation), and the (user, day)
    * aggregate emits ONCE, when the watermark passes the end of the
    * day (EventTimeTimeout) — the finalize-on-watermark discipline a
    * stream needs because "the last event of the day carries no
    * weight" is only decidable once the day can no longer receive
    * events. State per key is four numbers + a count; single-event
    * days finalize with twap = None exactly like the batch NULL. Rows
    * fold in (ts, event_id) order within each micro-batch, so
    * chronological replay reproduces q157 (StreamingTwapSpec proves
    * it on the fixture against the oracle-gated batch query).
    */
  def twapStream(
      events: DataFrame, // needs ts TIMESTAMP, user_id LONG, event_id LONG, value DOUBLE
      lateness: String = "1 hour",
  ): org.apache.spark.sql.Dataset[TwapRow] = {
    // the day key `d` comes from session-timezone date_format while
    // the finalize timeout is a UTC epoch-day boundary — the two only
    // agree in a UTC session (the engine-wide convention GraftSession
    // pins). A non-UTC session would finalize days 7h early/late or
    // even die on setTimeoutTimestamp < watermark, so refuse loudly
    // instead of silently emitting wrong day rollups.
    // Normalized-offset check, not an exact string compare: Etc/UTC,
    // GMT, +00:00, Z all resolve to a fixed zero offset and produce
    // identical day keys/timeouts, so refusing them would reject
    // sessions that are in fact UTC (ADVICE r11). Anything with DST
    // rules or a nonzero offset still fails loudly. (Shared helper —
    // the batch surface applies the same guard in SparkEntry.)
    val tzId = events.sparkSession.conf.get("spark.sql.session.timeZone")
    require(graft.GraftSession.isUtcEquivalent(tzId),
      s"twapStream requires a UTC-equivalent spark.sql.session.timeZone (got $tzId): " +
        "the day key and the day-end timeout must use the same clock")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // `ts` itself must survive the projection — the watermark tag
    // rides the column, and EventTimeTimeout refuses to run without it
    events
      .withWatermark("ts", lateness)
      .selectExpr("user_id", "date_format(ts, 'yyyy-MM-dd') AS d",
        "ts", "event_id", "value")
      .as[(Long, String, java.sql.Timestamp, Long, Double)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[TwapState, TwapRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case ((uid, d), rows, state: GroupState[TwapState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            // HALF_UP via BigDecimal-of-toString — bit-identical to
            // batch q157's round(x, 6) (Spark's Round on doubles);
            // math.rint would round ties half-to-even and diverge on
            // any 6dp-tie value
            val twap =
              if (st.accDurUs > 0)
                Some(BigDecimal(st.accW / st.accDurUs)
                  .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
                  .toDouble)
              else None
            Iterator.single(TwapRow(uid, d, st.n, twap))
          } else {
            // Long.MinValue = "no previous event": a -1/negative
            // sentinel would misread any pre-1970 timestamp as
            // uninitialized and silently drop its interval weight
            var st = state.getOption
              .getOrElse(TwapState(Long.MinValue, 0.0, 0.0, 0.0, 0L))
            rows.toSeq.sortBy(r => (tsMicros(r._3), r._4)).foreach { case (_, _, t, _, v) =>
              val tsUs = tsMicros(t)
              if (st.prevTsUs != Long.MinValue) {
                val dur = (tsUs - st.prevTsUs).toDouble
                st = st.copy(accW = st.accW + st.prevV * dur,
                  accDurUs = st.accDurUs + dur)
              }
              st = st.copy(prevTsUs = tsUs, prevV = v, n = st.n + 1)
            }
            state.update(st)
            // finalize when the watermark passes the END of this day
            val dayEndMs =
              (java.time.LocalDate.parse(d).toEpochDay + 1) * 86400000L
            state.setTimeoutTimestamp(dayEndMs)
            Iterator.empty
          }
      }
  }

  /** Streaming near-dup candidate pairs: q29's banded-SimHash machinery
    * as watermark-bounded keyed state. The incoming stream carries
    * per-document 32-bit SimHash signatures (computed upstream by the
    * stateless q28 map — a signature is row-local, so the streaming
    * stage is the MATCHER, which is the part that needs state). Each
    * signature fans out to q29's exact banding — 4 bands × 8 bits, key
    * (band, band_value) — and each bucket's state holds the (doc_id,
    * signature, event-time) of documents seen inside the watermark
    * horizon. An arriving document emits a pair for every stored
    * neighbor within Hamming distance 3, then joins the state itself.
    *
    * Equivalence to batch q29 (proven in StreamingNearDupSpec on the
    * replayed fixture): with every event inside the watermark, the
    * DISTINCT emitted pairs equal the batch result exactly — same
    * candidates (a pair surfaces once per agreeing band, like the batch
    * self-join pre-`distinct`), same Hamming cut.
    *
    * Scale/state story: state per bucket is the documents of the last
    * `watermarkMs` only — eviction happens on every invocation (entries
    * behind the watermark can never match a non-late arrival) and via
    * EventTimeTimeout for buckets that stop receiving data, so state
    * size is bounded by the window's document count, never the
    * stream's. Late rows (behind the watermark) are dropped, mirroring
    * the aggregation operators' contract.
    */
  final case class NearDupPair(da: Long, db: Long, hamming: Long)

  def nearDupPairsStream(
      sigs: DataFrame, // needs doc_id LONG, simhash LONG, ts TIMESTAMP
      watermarkMs: Long = 3600000L,
  ): org.apache.spark.sql.Dataset[NearDupPair] = {
    import sigs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    sigs
      .withWatermark("ts", s"$watermarkMs milliseconds")
      // q29's banding exactly: bucket = band * 256 + bits[8b .. 8b+7]
      .select(
        expr("explode(sequence(0, 3))").as("b"),
        col("doc_id"), col("simhash"), expr("unix_micros(ts)").as("ts_us"),
        col("ts"))
      .withColumn("bucket", expr("b * 256 + (shiftright(simhash, 8 * b) & 255)"))
      .select("bucket", "doc_id", "simhash", "ts_us", "ts")
      .as[(Long, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long, Long)], NearDupPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[List[(Long, Long, Long)]]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // evict first: entries behind the watermark cannot match any
          // admissible arrival (late rows are dropped below)
          var entries = state.getOption.getOrElse(Nil).filter(_._3 >= wmUs)
          val out = Seq.newBuilder[NearDupPair]
          // deterministic fold under any within-batch shuffle order
          rows.toSeq.sortBy(r => (r._4, r._2)).foreach { case (_, id, sig, tsUs, _) =>
            if (tsUs >= wmUs) {
              entries.foreach { case (eid, esig, _) =>
                if (eid != id) {
                  val hd = java.lang.Long.bitCount(sig ^ esig).toLong
                  if (hd <= 3)
                    out += NearDupPair(math.min(eid, id), math.max(eid, id), hd)
                }
              }
              entries = (id, sig, tsUs) :: entries
            }
          }
          if (entries.isEmpty) state.remove()
          else {
            state.update(entries)
            // wake once the newest entry ages out, to clear idle buckets
            state.setTimeoutTimestamp(entries.map(_._3).max / 1000L + watermarkMs + 1)
          }
          out.result().iterator
      }
  }

  /** Incremental ingestion dedup as a LIVE stream — batch q128's
    * service shape, run continuously: each arriving document is checked
    * against the EXISTING corpus without ever re-deduplicating the
    * corpus. exact_dup = md5 fingerprint ∈ corpus fingerprints;
    * near_dup = any MinHash LSH band matches a corpus band; novel =
    * neither.
    *
    * Plan shape (the 100 TB story): signatures are computed PER ROW
    * with the stateless higher-order path
    * ([[graft.operators.DedupOps.withRowwiseBands]]) — no aggregation
    * before the probes, so the only stream state is the final
    * per-document flag fold, watermark-bounded. Both probes are
    * stream-static LEFT joins against corpus-sized SIGNATURE tables
    * keyed on (band, sig) and md5 — the corpus text never moves. The
    * static sides are SNAPSHOTTED ONCE, eagerly, at stream declaration
    * (the `localCheckpoint()` calls below): later updates to
    * `corpusFp`/`corpusBands` are silently NOT picked up — restart the
    * stream (or rebuild it periodically from foreachBatch) to refresh
    * the corpus. Durability caveat of the single-box form: the
    * checkpointed blocks are non-replicated executor-resident RDD
    * blocks, so on executor loss the static side cannot be recomputed
    * and the query fails — on a real cluster, replace the
    * localCheckpoint with a bucketed signature TABLE written by the
    * batch side (same once-not-per-batch discipline, durable).
    * Corpus signatures are precomputed once (exactly how the batch
    * side of q128 builds them); the stop-shingle array is the static
    * artifact of [[graft.operators.DedupOps.stopShingleRow]].
    *
    * Emission: append mode — a document's decision row finalizes when
    * the watermark passes its event time (the flag fold groups on the
    * watermarked `ts` itself, so state per group is one row of two
    * longs, evicted at the watermark).
    */
  def incrementalDedupStream(
      docsStream: DataFrame, // streaming: doc_id LONG, text STRING, ts TIMESTAMP
      corpusFp: DataFrame, // static: cfp STRING (md5 of corpus text)
      corpusBands: DataFrame, // static: cband BIGINT, csig STRING
      stopShingles: Seq[String],
      watermark: String = "1 hour",
  ): DataFrame = {
    val sigs = graft.operators.DedupOps.withRowwiseBands(
      docsStream
        .withWatermark("ts", watermark)
        .withColumn("fp", md5(col("text")))
        .withColumn("stop_arr", typedLit(stopShingles)))
    // explode_outer: a doc with no content shingles keeps one null-band
    // row — it can never near-match, but must still get a decision row
    val bandRows = sigs
      .select(col("doc_id"), col("ts"), col("fp"), explode_outer(col("band_arr")).as("bs"))
      .select(
        col("doc_id"), col("ts"), col("fp"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    // Prepare the static probe tables ONCE, at stream declaration: a
    // stream-static join re-executes its static SUBPLAN every
    // micro-batch, so without materialization each batch re-paid the
    // two corpus-sized distinct() shuffles — measured as the dominant
    // per-batch cost (261 rows/s, execution-bound; BASELINE.md r12
    // streaming table, VERDICT r12 #1). localCheckpoint (eager)
    // truncates lineage to executor-resident blocks, so each batch's
    // static-side "re-execution" is a cached-block scan feeding the
    // probe join and nothing else. At a corpus too large for executor
    // storage, the same once-not-per-batch discipline is a bucketed
    // signature TABLE (sorted on the probe key) prepared by the batch
    // side — the localCheckpoint here is the single-box form of it.
    // The sortWithinPartitions matters: localCheckpoint's LogicalRDD
    // captures the physical plan's outputPartitioning AND
    // outputOrdering, so a sort-merge probe join finds the static side
    // already distributed (the distinct's hash partitioning on the
    // join keys) and already sorted — the per-batch work on the corpus
    // side drops to the cached-block scan itself.
    val cb = corpusBands.select(col("cband"), col("csig")).distinct()
      .withColumn("near_hit", lit(1L))
      .sortWithinPartitions(col("cband"), col("csig"))
      .localCheckpoint()
    val cf = corpusFp.select(col("cfp")).distinct()
      .withColumn("exact_hit", lit(1L))
      .sortWithinPartitions(col("cfp"))
      .localCheckpoint()
    bandRows
      .join(cb, col("band") === col("cband") && col("sig") === col("csig"), "left")
      .join(cf, col("fp") === col("cfp"), "left")
      .groupBy(col("ts"), col("doc_id"))
      .agg(
        max(coalesce(col("exact_hit"), lit(0L))).as("exact_dup"),
        max(coalesce(col("near_hit"), lit(0L))).as("near_dup"))
      .select(
        col("doc_id"), col("exact_dup"), col("near_dup"),
        expr("CAST(exact_dup = 0 AND near_dup = 0 AS BIGINT)").as("novel"))
  }

  /** foreachBatch scoring: apply a fitted model (or any batch
    * DataFrame→DataFrame function) to each micro-batch — the streaming
    * deployment mode of the trained LUAD SVM.
    */
  def scoreStream(
      events: DataFrame,
      score: DataFrame => DataFrame,
      sink: (DataFrame, Long) => Unit,
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      sink(score(batch), id)
    }

  /** One CDC-materialized row per key. */
  final case class LatestRow(
      user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)

  /** One CUSUM emission: the running statistic after this event. */
  final case class CusumPoint(
      event_type: String, event_id: Long, value: Double, s: Double, alarm: Boolean)

  /** Streaming one-sided Page CUSUM — the ONLINE counterpart of batch
    * q207 (which localizes a level shift RETROSPECTIVELY via the
    * argmax of the full cumulative-deviation path — a statistic that
    * needs the whole series and so cannot stream): against a known
    * reference mean μ0, accumulate s' = max(0, s + (x − μ0 − slack))
    * and ALARM when s' crosses h, resetting after each alarm — the
    * live drift detector a monitoring pipeline runs while q207 runs in
    * batch forensics. State is ONE DOUBLE per key (event_type), like
    * ewmaStream; rows within a micro-batch process in full
    * MICROSECOND (ts, event_id) order. StreamingCusumSpec proves the
    * emissions equal the sequential recursion exactly across batch
    * boundaries and unsorted delivery, including alarm resets.
    */
  def cusumStream(
      events: DataFrame, // needs user_id, event_id, ts, event_type, value
      mu0: Double,
      slack: Double = 0.0,
      h: Double = 50.0,
  ): org.apache.spark.sql.Dataset[CusumPoint] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .selectExpr("user_id", "event_id", "ts", "event_type", "value")
      .as[LatestRow]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[Double, CusumPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (etype, rows, state: GroupState[Double]) =>
          val out = Seq.newBuilder[CusumPoint]
          var s = state.getOption.getOrElse(0.0)
          rows.toSeq.sortBy(r => (tsMicros(r.ts), r.event_id)).foreach { r =>
            s = math.max(0.0, s + (r.value - mu0 - slack))
            val alarm = s > h
            out += CusumPoint(etype, r.event_id, r.value, s, alarm)
            if (alarm) s = 0.0 // restart surveillance after the alarm
          }
          state.update(s)
          out.result().iterator
      }
  }

  /** One smoothed observation emission. */
  final case class EwmaPoint(
      user_id: Long, event_id: Long, value: Double, ewma: Double)

  /** Streaming EWMA — the EXACT recursive filter batch q185 can only
    * truncate: y' = α·x + (1−α)·y needs the previous y, which is a
    * sequential dependency no batch window parallelizes — but it is
    * ONE DOUBLE of keyed state in a stream. Each arriving event emits
    * its smoothed value immediately; rows within a micro-batch are
    * processed in (ts, event_id) order. StreamingEwmaSpec proves the
    * emissions equal the sequential recursion exactly, and sit within
    * the (3/4)^16 truncation budget of the oracle-gated batch q185
    * once past its warm-up — the two formulations bound each other.
    */
  def ewmaStream(
      events: DataFrame, // needs user_id, event_id, ts, event_type, value
      alpha: Double = 0.25,
  ): org.apache.spark.sql.Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .selectExpr("user_id", "event_id", "ts", "event_type", "value")
      .as[LatestRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Double, EwmaPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[Double]) =>
          val out = Seq.newBuilder[EwmaPoint]
          // state.exists is the initialization flag — NOT a NaN
          // sentinel, which would silently RESTART the filter after a
          // NaN input and skip the state write; with an explicit
          // Option, a NaN value poisons the recursion exactly like
          // batch q185's sequential fold would
          var yOpt: Option[Double] = state.getOption
          // full-microsecond order: getTime truncates to millis, and the
          // events fixture carries microsecond timestamps — two events in
          // the same millisecond must still process in batch-q185 order
          rows.toSeq.sortBy(r => (tsMicros(r.ts), r.event_id)).foreach { r =>
            val y = yOpt match {
              case None => r.value
              case Some(p) => alpha * r.value + (1 - alpha) * p
            }
            yOpt = Some(y)
            out += EwmaPoint(user, r.event_id, r.value, y)
          }
          yOpt.foreach(state.update)
          out.result().iterator
      }
  }

  /** One attributed purchase emission. */
  final case class AttributedPurchase(
      user_id: Long, event_id: Long, channel: String, value: Double)

  /** Real-time last-touch attribution — the streaming twin of batch
    * q186: per user, carry the most recent non-purchase/non-error
    * event type as the live "channel" state; each arriving purchase
    * emits immediately, credited to that channel ('direct' when the
    * purchase is the user's first touch). Per-key state is ONE small
    * string + timestamp — users-sized, independent of stream length.
    * Rows within a micro-batch are processed in (ts, event_id) order
    * (the iterator order is not guaranteed), so on a chronologically
    * replayed log the emissions are exactly batch q186's per-purchase
    * attribution — StreamingAttributionSpec proves it, including a
    * purchase and its touch arriving in the same batch, and state
    * carrying across batches.
    */
  def attributionStream(
      events: DataFrame, // needs user_id, event_id, ts, event_type, value
  ): org.apache.spark.sql.Dataset[AttributedPurchase] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .selectExpr("user_id", "event_id", "ts", "event_type", "value")
      .as[LatestRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[String, AttributedPurchase](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[String]) =>
          var channel = state.getOption.getOrElse("direct")
          val out = Seq.newBuilder[AttributedPurchase]
          // microsecond order, not getTime millis — see ewmaStream
          rows.toSeq.sortBy(r => (tsMicros(r.ts), r.event_id)).foreach { r =>
            if (r.event_type == "purchase")
              out += AttributedPurchase(user, r.event_id, channel, r.value)
            else if (r.event_type != "error") channel = r.event_type
          }
          // unconditional write: "direct" is the UNSET default, but it
          // is also a legal event_type value — skipping the write when
          // channel == "direct" (the old formulation) could never
          // overwrite a stale stored channel with a genuine newer
          // "direct" touch, mis-crediting every later purchase
          state.update(channel)
          out.result().iterator
      }
  }

  /** One first-seen emission (internal to firstSeenStream). */
  final case class FirstSeenEv(user_id: Long, event_id: Long, ts: java.sql.Timestamp)

  /** First-seen detection — the streaming half of batch q158's
    * new-vs-returning split: emit each user's FIRST-ever event, exactly
    * once, the moment it arrives; every later event of that user is
    * swallowed. First-ever semantics genuinely requires remembering
    * every user id seen, and that is the honest minimum state —
    * DISTINCT-users-sized, not events-sized (per-key bytes: the key +
    * one boolean; StreamingStateSizeSpec asserts state rows track
    * distinct users across batches). The within-batch winner is the
    * explicit min-(tsMicros, event_id) over the group's rows — NOT the
    * first row the shuffle happens to deliver (the bare
    * `dropDuplicates` formulation this replaced kept an arrival-order-
    * dependent row, so a user whose day-1 and day-2 events shared a
    * micro-batch could be attributed to day 2 nondeterministically;
    * VERDICT r10 #4). On a replayed log the emitted rows are exactly
    * batch q158's (user → first day) attribution; StreamingFirstSeenSpec
    * proves it, including out-of-order arrival within a batch, a
    * same-timestamp event_id tie, and re-appearances across batches.
    */
  def firstSeenStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .selectExpr("user_id", "event_id", "ts")
      .as[FirstSeenEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Boolean, FirstSeenEv](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(rows.minBy(r => (tsMicros(r.ts), r.event_id)))
          }
      }
      .select(col("user_id"), col("ts").as("first_ts"),
        to_date(col("ts")).as("first_day"))
  }

  /** CDC keep-latest upsert — the streaming twin of batch q94: per
    * key, retain the (ts, event_id)-max row across micro-batches and
    * emit (Update mode) only when the winner CHANGES, so a sink
    * applying the emissions as upserts materializes exactly the
    * keep-latest table. Emissions are strictly monotone per key in
    * (ts, event_id) — late/out-of-order rows that lose to the current
    * state produce NO output — which makes the sink idempotent under
    * replay: re-applying any emission suffix converges to the same
    * table. State is one row per distinct key in the state store
    * (RocksDB at scale), independent of stream length; with bounded
    * key churn a TTL timeout would cap it, left NoTimeout here because
    * the key domain (users) is the dimension being materialized.
    */
  def upsertStream(
      events: DataFrame, // needs user_id, event_id, ts, event_type, value
  ): org.apache.spark.sql.Dataset[LatestRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .selectExpr("user_id", "event_id", "ts", "event_type", "value")
      .as[LatestRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LatestRow, LatestRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[LatestRow]) =>
          val prev = state.getOption
          // full-microsecond key — q94 ranks by full-precision
          // (ts, event_id); a getTime millisecond key would pick the
          // wrong winner for two events inside one millisecond
          val key = (r: LatestRow) => (tsMicros(r.ts), r.event_id)
          val best = (prev.iterator ++ rows).maxBy(key)
          if (prev.exists(p => key(p) == key(best))) Iterator.empty
          else { state.update(best); Iterator.single(best) }
      }
  }
}
