package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

// top-level, not nested in the suite: Spark's encoder codegen can't
// instantiate an inner case class (needs the outer pointer) and falls
// back to the interpreted path for every batch
case class Ev(ts: Timestamp, event_type: String, user_id: Long)

class StreamsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling windows with watermark: counts per hour, late row dropped") {
    val s = spark; import s.implicits._
    implicit val sc = s.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams
      .tumblingCounts(input.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(ts("2024-01-01 10:05:00"), "click", 1),
        Ev(ts("2024-01-01 10:45:00"), "click", 2),
        Ev(ts("2024-01-01 11:10:00"), "view", 1))
      q.processAllAvailable()
      // advance watermark far past 10:00-11:00 so it finalizes
      input.addData(Ev(ts("2024-01-01 14:00:00"), "view", 3))
      q.processAllAvailable()
      // this row is behind the watermark (14:00 − 1h = 13:00) → dropped
      input.addData(Ev(ts("2024-01-01 10:50:00"), "click", 9))
      input.addData(Ev(ts("2024-01-01 16:00:00"), "view", 3))
      q.processAllAvailable()
      val all = s.table("tumbling")
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSeq
      assert(all.contains(("2024-01-01 10:00:00.0", "click", 2L))) // late row NOT counted
      assert(all.contains(("2024-01-01 11:00:00.0", "view", 1L)))
      // and the dropped late row must not have re-opened the finalized
      // window: exactly ONE emission for (10:00, click), with count 2
      assert(all.count { case (w, t, _) => w == "2024-01-01 10:00:00.0" && t == "click" } == 1)
    } finally q.stop()
  }

  test("session windows: 30-minute gap splits sessions per user") {
    val s = spark; import s.implicits._
    implicit val sc = s.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.sessionCounts(input.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    try {
      input.addData(
        Ev(ts("2024-01-01 09:00:00"), "a", 1),
        Ev(ts("2024-01-01 09:10:00"), "a", 1), // same session
        Ev(ts("2024-01-01 10:00:00"), "a", 1), // 50-min gap → new session
        Ev(ts("2024-01-01 09:00:00"), "a", 2))
      q.processAllAvailable()
      val rows = s.table("sessions")
        .collect().map(r => (r.getLong(2), r.getLong(3))).toList.sorted
      assert(rows == List((1L, 1L), (1L, 2L), (2L, 1L)))
    } finally q.stop()
  }

  test("streaming expression-file ingest matches batch ingest semantics") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_in")
    java.nio.file.Files.writeString(
      dir.resolve("s1.expr.txt"),
      "probe_id\traw_count\np1\t1.5\np2\t2.5\nbadline\n")
    java.nio.file.Files.writeString(
      dir.resolve("s2.expr.txt"),
      "probe_id\traw_count\np1\t3.0\n")
    val q = Streams.expressionFileStream(spark, dir.toString)
      .writeStream.format("memory").queryName("ingest")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = s.table("ingest")
        .select(regexp_extract(col("file"), "([^/]+)\\.expr\\.txt", 1).as("sample"),
          col("probe_name"), col("value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
      // header + malformed dropped, 3 data rows across 2 files
      assert(rows == Set(("s1", "p1", 1.5), ("s1", "p2", 2.5), ("s2", "p1", 3.0)))
    } finally q.stop()
  }

  test("streaming expression-file ingest is as lenient as the batch scan: headerless file, non-numeric value") {
    // a header=true read ate the first data row of a headerless file,
    // and a plain cast under ANSI failed the whole stream on "NA"; the
    // batch ingest (Ingest.ingest) keeps the one and drops the other
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_lenient")
    java.nio.file.Files.writeString(dir.resolve("s1.expr.txt"), "p1\t1.5\np2\tNA\np3\t2.5\n")
    val q = Streams.expressionFileStream(spark, dir.toString)
      .writeStream.format("memory").queryName("ingest_lenient")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = s.table("ingest_lenient").select("probe_name", "value")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
      assert(rows == Set(("p1", 1.5), ("p3", 2.5)))
      import graft.pipeline.{DefParser, Ingest}
      val config = DefParser.PipelineConfig(
        Seq(DefParser.SampleSpec("s1", predictive = false, tumorous = false, Map("expr" -> "s1.expr.txt"))),
        Seq("expr"), None, None)
      val ing = Ingest.ingest(spark, dir.toString, config)
      val batch = ing.matrix.collect().map(r => (ing.probeNames(r.getInt(1)), r.getDouble(2))).toSet
      assert(rows == batch)
    } finally q.stop()
  }

  test("a non-finite value fails the expression-file stream, naming the probe and the file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_nan")
    java.nio.file.Files.writeString(dir.resolve("s1.expr.txt"), "p1\t1.5\np2\tInfinity\n")
    val q = Streams.expressionFileStream(spark, dir.toString)
      .writeStream.format("memory").queryName("ingest_nan")
      .outputMode("append").start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
      for (part <- Seq("'Infinity'", "'p2'", "s1.expr.txt")) assert(e.getMessage.contains(part), e.getMessage)
    } finally q.stop()
  }

  test("streaming tumbling counts over the events fixture equal the batch twin") {
    val s = spark; import s.implicits._
    // same fixture file, once as a bounded stream, once as a batch scan
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = "/root/testdata/sf0.001"
    val batch = graft.Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))
    // the file stream source wants a directory — stage the fixture file
    val stage = java.nio.file.Files.createTempDirectory("graft_events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      stage.resolve("events.parquet"))
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val stream = s.readStream.schema(schema).parquet(stage.toString)
    val streamEvents =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else stream
    val q = Streams.tumblingCounts(streamEvents, "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("fixture_tumbling")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = s.table("fixture_tumbling").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val want = batch.collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(got == want)
      assert(want.nonEmpty)
    } finally q.stop()
  }

  test("session windows over the sf0.01 events fixture equal the batch q36 sessionization") {
    val s = spark; import s.implicits._
    implicit val sc = s.sqlContext
    val dir = "/root/testdata/sf0.01"
    // batch truth: q36's lag-based sessionization (independently
    // DuckDB-oracle-gated) — an entirely different formulation of the
    // same 30-minute-gap semantics as streaming session_window
    val batch = graft.SparkEntry.queries("q36_window_session")(s, dir)
      .collect()
      .map(r => (r.getLong(0),
        r.getTimestamp(2).toInstant, r.getTimestamp(3).toInstant, r.getLong(4)))
      .toSet
    // replay the fixture chronologically in 3 micro-batches: sessions
    // crossing a batch boundary must merge in the state store, and
    // chronological order keeps every row ahead of the 2h watermark
    val rows = graft.Tables.events(s, dir)
      .select(col("ts"), col("user_id"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)))
      .sortBy(_._1.getTime)
    // precondition, not luck: q36 splits on SECOND-TRUNCATED gap > 1800
    // (trunc(b) - trunc(a) > 1800) while session_window splits on the
    // exact gap >= 1800s. They disagree exactly when the exact gap is
    // >= 1800s but the truncated diff is <= 1800 (stream splits, batch
    // merges). Assert the fixture has no such gap so the equivalence
    // below is well-founded; a regenerated fixture that lands there
    // fails HERE with a diagnosis, not in the set comparison.
    def micros(t: Timestamp) = t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val ambiguous = rows.groupBy(_._2).valuesIterator.flatMap { evs =>
      evs.map(e => micros(e._1)).sorted.sliding(2).collect {
        case Array(a, b)
            if b - a >= 1800000000L && (b / 1000000L - a / 1000000L) <= 1800L =>
          b - a
      }
    }.toList
    assert(ambiguous.isEmpty,
      s"fixture gaps where exact>=1800s but truncated<=1800s (batch/stream disagree): $ambiguous us")
    val input = MemoryStream[(Timestamp, Long)]
    val q = Streams.sessionCounts(input.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("fixture_sessions")
      .outputMode("complete").start()
    try {
      rows.grouped((rows.length + 2) / 3).foreach { chunk =>
        input.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val got = s.table("fixture_sessions").collect()
        .map { r =>
          // session_window end = last event + gap; q36's sess_end = last
          // event — shift to compare
          (r.getLong(2), r.getTimestamp(0).toInstant,
            r.getTimestamp(1).toInstant.minusSeconds(1800), r.getLong(3))
        }
        .toSet
      assert(got.size == batch.size, s"${got.size} streaming vs ${batch.size} batch sessions")
      assert(got == batch, "streaming session windows must equal batch sessionization")
    } finally q.stop()
  }

  test("streaming dedup drops duplicate (user, ts) arrivals across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sc = s.sqlContext
    val input = MemoryStream[Ev]
    val q = Streams.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(ts("2024-01-01 10:00:00"), "a", 1),
        Ev(ts("2024-01-01 10:00:00"), "b", 1), // same (user, ts) → dup
        Ev(ts("2024-01-01 10:05:00"), "a", 2))
      q.processAllAvailable()
      input.addData(Ev(ts("2024-01-01 10:00:00"), "c", 1)) // dup in later batch
      input.addData(Ev(ts("2024-01-01 10:10:00"), "a", 1))
      q.processAllAvailable()
      assert(s.table("dedup").count() == 3) // 2 uniques batch 1 + 1 new
    } finally q.stop()
  }

  test("flatMapGroupsWithState: per-user running totals persist across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sc = s.sqlContext
    val input = MemoryStream[(Long, Double)]
    val q = Streams.runningUserTotals(input.toDF().toDF("user_id", "value"))
      .writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    try {
      input.addData((1L, 2.0), (1L, 3.0), (2L, 10.0))
      q.processAllAvailable()
      input.addData((1L, 5.0)) // state must carry the earlier 2+3
      q.processAllAvailable()
      val latest = s.table("running")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("sum_value"))).as("m"))
        .select(col("user_id"), col("m.n_events"), col("m.sum_value"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(latest(1L) == ((3L, 10.0)))
      assert(latest(2L) == ((1L, 10.0)))
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch twin and joins across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sc = s.sqlContext
    val lIn = MemoryStream[IjEv]
    val rIn = MemoryStream[IjRv]
    val q = Streams.intervalJoin(lIn.toDF(), rIn.toDF())
      .writeStream.format("memory").queryName("ijoin")
      .outputMode("append").start()
    val lRows = Seq(
      IjEv(ts("2024-01-01 10:00:00"), "click", 1),
      IjEv(ts("2024-01-01 10:20:00"), "view", 1),
      // batch-3 arrivals must be AHEAD of the global watermark
      // (min of both streams' max-ts minus lateness); the late path is
      // asserted at the end of the test
      IjEv(ts("2024-01-01 10:30:00"), "click", 2))
    val rRows = Seq(
      IjRv(ts("2024-01-01 10:03:00"), 1, 1.0), // joins click@10:00 (within 5 min)
      IjRv(ts("2024-01-01 10:06:00"), 1, 2.0), // outside click window, outside view
      IjRv(ts("2024-01-01 10:24:00"), 1, 3.0), // joins view@10:20
      IjRv(ts("2024-01-01 10:32:00"), 2, 4.0), // joins user 2's click
      IjRv(ts("2024-01-01 09:59:00"), 1, 5.0)) // BEFORE l.ts → no join
    try {
      // split across micro-batches: join state must hold the left rows
      // until matching right rows arrive later
      lIn.addData(lRows.take(2): _*)
      q.processAllAvailable()
      rIn.addData(rRows.take(3): _*)
      q.processAllAvailable()
      lIn.addData(lRows.drop(2): _*)
      rIn.addData(rRows.drop(3): _*)
      q.processAllAvailable()
      val got = s.table("ijoin").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getTimestamp(3), r.getDouble(4)))
        .toSet
      val want = Streams.intervalJoin(lRows.toDF(), rRows.toDF()).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2), r.getTimestamp(3), r.getDouble(4)))
        .toSet
      assert(got == want, "streaming result must equal the batch twin")
      assert(want == Set(
        (1L, ts("2024-01-01 10:00:00"), "click", ts("2024-01-01 10:03:00"), 1.0),
        (1L, ts("2024-01-01 10:20:00"), "view", ts("2024-01-01 10:24:00"), 3.0),
        (2L, ts("2024-01-01 10:30:00"), "click", ts("2024-01-01 10:32:00"), 4.0)))
      // late-arrival eviction: a left row far behind the global
      // watermark (10:20 by now) would join 10:03/10:06 in batch, but
      // streaming state for those right rows is expired — no output
      val before = s.table("ijoin").count()
      lIn.addData(IjEv(ts("2024-01-01 10:02:00"), "late", 1))
      q.processAllAvailable()
      assert(s.table("ijoin").count() == before, "late left row must not emit joins")
    } finally q.stop()
  }

  test("stream-static enrichment joins each micro-batch against the static dim") {
    val s = spark; import s.implicits._
    implicit val sc = s.sqlContext
    val input = MemoryStream[Ev]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = Streams.enrichStream(input.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      input.addData(Ev(ts("2024-01-01 10:00:00"), "click", 1))
      q.processAllAvailable()
      input.addData(
        Ev(ts("2024-01-01 10:01:00"), "view", 2),
        Ev(ts("2024-01-01 10:02:00"), "view", 9)) // no dim row → null tier
      q.processAllAvailable()
      // sorted Seq, not Set: a duplicate emission must FAIL the compare
      val got = s.table("enriched").select("user_id", "tier")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""))).toSeq.sorted
      assert(got == Seq((1L, "gold"), (2L, "silver"), (9L, "")))
    } finally q.stop()
  }

  test("foreachBatch scoring applies a batch function per micro-batch") {
    val s = spark; import s.implicits._
    implicit val sc = s.sqlContext
    val input = MemoryStream[Ev]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q = Streams.scoreStream(
      input.toDF(),
      batch => batch.withColumn("scored", lit(1)),
      (scored, _) => seen.synchronized {
        seen ++= scored.collect().map(r => (r.getAs[String]("event_type"), 1L))
      }).start()
    try {
      input.addData(Ev(ts("2024-01-01 09:00:00"), "x", 1), Ev(ts("2024-01-01 09:01:00"), "y", 2))
      q.processAllAvailable()
      assert(seen.map(_._1).toSet == Set("x", "y"))
    } finally q.stop()
  }

  test("anomaly stream: Welford z-flagging over the sf0.001 fixture equals a sequential fold") {
    val s = spark; import s.implicits._
    implicit val sc = s.sqlContext
    val dir = "/root/testdata/sf0.001"
    val rows = graft.Tables.events(s, dir)
      .select(col("event_type"), col("event_id"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
      .sortBy(r => (r._3.getTime, r._2))
    val chunks = rows.grouped((rows.length + 2) / 3).map(_.toIndexedSeq).toSeq
    // sequential truth: same per-batch, per-key (unix_micros, id) fold
    // order the stream handler uses
    def us(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    val state = scala.collection.mutable.Map.empty[String, (Long, Double, Double)]
    val want = scala.collection.mutable.Set.empty[(String, Long)]
    for (chunk <- chunks; (key, evs) <- chunk.groupBy(_._1)) {
      var (n, mean, m2) = state.getOrElse(key, (0L, 0.0, 0.0))
      for ((_, id, t, v) <- evs.sortBy(e => (us(e._3), e._2))) {
        if (n >= 10L && math.abs((v - mean) / math.sqrt(m2 / (n - 1))) > 3.0)
          want += ((key, id))
        n += 1
        val d = v - mean
        mean += d / n
        m2 += d * (v - mean)
      }
      state(key) = (n, mean, m2)
    }
    val input = MemoryStream[(String, Long, Timestamp, Double)]
    val q = Streams
      .anomalyStream(input.toDF().toDF("event_type", "event_id", "ts", "value"))
      .writeStream.format("memory").queryName("anomalies")
      .outputMode("append").start()
    try {
      chunks.foreach { c => input.addData(c: _*); q.processAllAvailable() }
      val got = s.table("anomalies").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "vacuous: no anomaly in the fixture at 3 sigma")
      assert(got == want.toSet)
    } finally q.stop()
  }

  test("streaming funnel over the sf0.01 fixture equals the batch q106 step counts") {
    val s = spark; import s.implicits._
    implicit val sc = s.sqlContext
    val dir = "/root/testdata/sf0.01"
    // batch truth: q106 (DuckDB-oracle-gated) — step → user count
    val batch = graft.SparkEntry.queries("q106_funnel")(s, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val rows = graft.Tables.events(s, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      .sortBy(r => (r._3.getTime, r._1))
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = Streams.funnelStream(input.toDF().toDF("user_id", "event_type", "ts"))
      .writeStream.format("memory").queryName("funnel_steps")
      .outputMode("append").start()
    try {
      rows.grouped((rows.length + 2) / 3).foreach { c =>
        input.addData(c: _*); q.processAllAvailable()
      }
      val got = s.table("funnel_steps").collect()
        .map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).distinct.length.toLong }
      assert(batch.getOrElse("3_purchase", 0L) > 0, "vacuous: nobody converts")
      assert(got == batch, s"stream=$got batch=$batch")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: matches join, the unmatched row null-emits after watermark") {
    val s = spark; import s.implicits._
    implicit val sc = s.sqlContext
    val lIn = MemoryStream[IjEv]
    val rIn = MemoryStream[IjRv]
    val q = Streams.intervalJoinOuter(lIn.toDF(), rIn.toDF())
      .writeStream.format("memory").queryName("ojoin")
      .outputMode("append").start()
    try {
      // user 1 gets a payment in-window; user 3 never does
      lIn.addData(
        IjEv(ts("2024-01-01 10:00:00"), "order", 1),
        IjEv(ts("2024-01-01 10:00:00"), "order", 3))
      rIn.addData(IjRv(ts("2024-01-01 10:03:00"), 1, 1.0))
      q.processAllAvailable()
      // advance BOTH watermarks far past 10:05 (window end) + lateness
      lIn.addData(IjEv(ts("2024-01-01 11:00:00"), "order", 9))
      rIn.addData(IjRv(ts("2024-01-01 11:00:00"), 9, 9.9))
      q.processAllAvailable()
      // outer-null eviction fires on a subsequent trigger after the
      // watermark moves — drive one more micro-batch
      lIn.addData(IjEv(ts("2024-01-01 11:30:00"), "order", 10))
      rIn.addData(IjRv(ts("2024-01-01 11:30:00"), 10, 1.1))
      q.processAllAvailable()
      val rows = s.table("ojoin").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1),
          if (r.isNullAt(3)) null else r.getTimestamp(3),
          if (r.isNullAt(4)) null else java.lang.Double.valueOf(r.getDouble(4))))
        .toSet
      // the match emitted…
      assert(rows.contains((1L, ts("2024-01-01 10:00:00"),
        ts("2024-01-01 10:03:00"), java.lang.Double.valueOf(1.0))))
      // …and the order that never saw a payment emitted null-padded —
      // the row an inner join can only silently drop
      assert(rows.contains((3L, ts("2024-01-01 10:00:00"), null, null)),
        s"unmatched left row not null-emitted: $rows")
      // no spurious nulls for rows that DID match in-window
      assert(!rows.contains((1L, ts("2024-01-01 10:00:00"), null, null)))
    } finally q.stop()
  }
}

// Top-level (not spec-inner) row types: Seq.toDF for the batch twin
// needs an encoder constructible without the suite's outer scope.
private[streaming] case class IjEv(ts: Timestamp, event_type: String, user_id: Long)
private[streaming] case class IjRv(ts: Timestamp, user_id: Long, value: Double)

/** Exactly-once file-source → file-sink with checkpoint recovery: a
  * restarted query must resume from the checkpointed offsets — files
  * processed before the stop are neither reprocessed (no duplicates)
  * nor skipped (no loss). This is the operational core of a streaming
  * ingest pipeline: crash/redeploy must be a no-op for the data.
  */
class StreamRecoverySpec extends graft.SparkSpec {

  test("file sink + checkpoint: restart after stop is exactly-once") {
    val s = spark; import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))

    def startQuery() =
      s.readStream
        .schema("id LONG, batch STRING")
        .parquet(in)
        .withColumn("tagged", concat(col("batch"), lit(":"), col("id")))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()

    // batch 1 → process → stop (simulated crash/redeploy)
    (0L until 10L).map(i => (i, "a")).toDF("id", "batch")
      .coalesce(1).write.mode("append").parquet(in)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // batch 2 lands while the query is down; restart from checkpoint
    (10L until 15L).map(i => (i, "b")).toDF("id", "batch")
      .coalesce(1).write.mode("append").parquet(in)
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    try {
      val got = s.read.parquet(out).select("tagged")
        .collect().map(_.getString(0)).sorted.toSeq
      val want = ((0L until 10L).map(i => s"a:$i") ++ (10L until 15L).map(i => s"b:$i")).sorted
      assert(got == want, "restart must neither duplicate nor drop rows")
    } finally {
      import scala.reflect.io.Directory
      new Directory(root.toFile).deleteRecursively()
    }
  }
}
