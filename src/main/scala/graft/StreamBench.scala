package graft

import org.apache.spark.sql.functions._
import java.sql.Timestamp

// top-level case classes: MemoryStream encoders need stable toplevel
// types (same note as the streaming specs)
final case class SbSigEv(doc_id: Long, simhash: Long, ts: Timestamp)
final case class SbDocEv(doc_id: Long, text: String, ts: Timestamp)
final case class SbEvRow(
    user_id: Long, event_id: Long, ts: Timestamp, event_type: String, value: Double)

/** Streaming throughput measure (VERDICT r11 #6): every streaming
  * claim so far is correctness/state-bound; this main records rows/sec
  * and per-batch latency for the two corpus-keyed twins — nearDup
  * banding and incremental dedup — plus the state-store timing
  * breakdown needed to adjudicate whether state lookups or batch
  * execution (shuffles) dominate.
  *
  * Protocol: MemoryStream-driven like the equivalence specs, but sized
  * for throughput — the sf0.1 corpus replicated `xf`× under fresh ids
  * with 1 s event spacing, fed in fixed-size chunks, `noop` sink (a
  * memory sink would accumulate every emitted pair). The first chunk
  * is an untimed warm batch (stream start + first state-store load);
  * the timed window covers all remaining chunks.
  *
  * Reported per twin (one JSON line): input rows, wall, rows/sec,
  * batches, mean addBatch ms (wall per micro-batch), summed
  * state-operator update/removal/commit ms, max state rows and bytes.
  * `state_share` = state-op ms / summed task executorRunTime ms —
  * BOTH cumulative across parallel tasks (state times are summed over
  * the 32 state-store partitions, so dividing by per-batch wall would
  * overstate them ~32×). ≪ 0.5 means batch execution (joins/
  * shuffles/codegen), not state lookups, dominates.
  *
  * Usage: runMain graft.StreamBench [sfDir] [xf]
  *        (defaults: /root/testdata/sf0.1, 10)
  */
object StreamBench {

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000

  private def report(
      twin: String, rows: Long, wall: Double, taskMs: Long, batchRows: Int,
      progresses: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    val timed = progresses.filter(_.numInputRows > 0)
    val addBatch = timed.flatMap(p => Option(p.durationMs.get("addBatch")).map(_.toLong))
    val stateOps = timed.flatMap(_.stateOperators.toSeq)
    val stateMs = stateOps.map(o =>
      o.allUpdatesTimeMs + o.allRemovalsTimeMs + o.commitTimeMs).sum
    println(
      s"""{"metric":"stream_bench","twin":"$twin","rows":$rows,"wall_s":${r3(wall)},""" +
        s""""batch_rows":$batchRows,""" +
        s""""rows_per_sec":${math.rint(rows / wall)},"n_batches":${timed.size},""" +
        s""""mean_batch_ms":${if (addBatch.isEmpty) 0 else addBatch.sum / addBatch.size},""" +
        s""""state_ms":$stateMs,"task_ms":$taskMs,""" +
        s""""state_share":${r3(stateMs.toDouble / taskMs.max(1L))},""" +
        s""""state_rows_max":${if (stateOps.isEmpty) 0 else stateOps.map(_.numRowsTotal).max},""" +
        s""""state_bytes_max":${if (stateOps.isEmpty) 0 else stateOps.map(_.memoryUsedBytes).max}}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val xf = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.fromEnv()
    // recentProgress is a BOUNDED rolling buffer (default 100): at
    // large xf the drop(before) accounting below would silently slice
    // an arbitrary suffix of batches. Size it past any plausible run.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    import spark.implicits._
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    // cumulative task executor time — the denominator state_share needs
    // (same cumulative-across-parallel-tasks basis as the state times)
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach(m => taskMs.addAndGet(m.executorRunTime): Unit)
    })

    /** Shared measurement protocol: feed `events` in `chunkSize` chunks
      * through a fresh MemoryStream into `mk`'s query, first chunk an
      * untimed warm batch (stream start + state-store load), timed
      * window = all remaining chunks, noop sink.
      */
    def benchTwin[T: org.apache.spark.sql.Encoder](
        twin: String, events: Seq[T], chunkSize: Int, mode: String = "append")(
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[_]): Unit = {
      val in = MemoryStream[T]
      val q = mk(in.toDF())
        .writeStream.format("noop").outputMode(mode).start()
      try {
        // adaptive floor: a fixture smaller than one chunk would put
        // EVERYTHING in the untimed warm batch and report rows=0 — keep
        // at least ~5 chunks so the timed window is never empty. The
        // EFFECTIVE size is emitted as batch_rows (and warned when it
        // differs from the request): a silently capped parameter
        // mislabels the experiment (this bit the first _2k run, which
        // actually measured 1,000-doc batches).
        val cs = math.max(1, math.min(chunkSize, events.length / 5))
        if (cs != chunkSize) System.err.println(
          s"[stream-bench] $twin: requested chunk $chunkSize capped to $cs " +
            s"(input ${events.length} rows)")
        val chunks = events.grouped(cs).toSeq
        in.addData(chunks.head: _*); q.processAllAvailable() // warm
        val before = q.recentProgress.length
        Thread.sleep(500); taskMs.set(0)
        val t0 = System.nanoTime()
        chunks.tail.foreach { c => in.addData(c: _*); q.processAllAvailable() }
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // listener settle
        report(twin, events.length - chunks.head.length, wall,
          taskMs.get, cs, q.recentProgress.drop(before).toSeq)
      } finally q.stop()
    }

    try {
      // ---- twin 1: nearDupPairsStream (banded simhash matcher) ----
      // input = the q28 stateless signature stage's output, replicated
      // xf× under fresh ids; 1 s spacing with a 1 h watermark bounds
      // live state to ~3600 documents — the steady-state service regime
      val sigs = SparkEntry.queries("q28_simhash")(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val sigEvents = (0 until xf).flatMap { k =>
        sigs.map { case (id, sh) => (id + k * 10000000L, sh) }
      }.zipWithIndex.map { case ((id, sh), i) =>
        SbSigEv(id, sh, new Timestamp(base + i * 1000L))
      }
      benchTwin("neardup_pairs", sigEvents, 2000) { df =>
        graft.streaming.Streams.nearDupPairsStream(df, watermarkMs = 3600000L)
      }

      // ---- twin 2: incrementalDedupStream (corpus-probe decisions) ----
      // q128's split: corpus = doc_id % 10 != 0 (static signature
      // tables), stream = the % 10 == 0 shard replicated xf×
      val d = Tables(spark, sfDir, "documents")
      val corpusFp = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(md5(col("text")).as("cfp")).localCheckpoint()
      val corpusBands = operators.DedupOps.minhashBands(spark, sfDir)
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
        .select(col("band").cast("bigint").as("cband"), col("sig").as("csig"))
        .localCheckpoint()
      val stop = operators.DedupOps.stopShingleRow(spark, sfDir)
        .collect()(0).getSeq[String](0)
      val shard = d.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val docEvents = (0 until xf).flatMap { k =>
        shard.map { case (id, t) => (id + k * 10000000L, t) }
      }.zipWithIndex.map { case ((id, t), i) =>
        SbDocEv(id, t, new Timestamp(base + i * 1000L))
      }
      benchTwin("incremental_dedup", docEvents, 500) { df =>
        graft.streaming.Streams
          .incrementalDedupStream(df, corpusFp, corpusBands, stop, "1 hour")
      }
      // same twin at a larger batch size (capped by the ÷5 floor — the
      // emitted batch_rows is the truth): mean batch latency ~0.8 s is
      // dominated by micro-batch fixed cost at 500-doc batches, so the
      // service-regime throughput question is how rows/sec responds to
      // batch size, not to state
      benchTwin("incremental_dedup_big", docEvents, 2000) { df =>
        graft.streaming.Streams
          .incrementalDedupStream(df, corpusFp, corpusBands, stop, "1 hour")
      }

      // ---- events-keyed twins (VERDICT r12 #4): the remaining
      // stateful twins had asserted state BOUNDS but no recorded
      // rows/sec. Input = the full events fixture replayed
      // chronologically (the twins' documented contract), same
      // warm-first-chunk protocol. Per-key state for all six is a few
      // numbers (or one row) per distinct key — users/event_types —
      // so state_share here reads the flatMapGroupsWithState fold +
      // state-store commit cost, not eviction dynamics.
      val evRows = Tables.events(spark, sfDir)
        .select("user_id", "event_id", "ts", "event_type", "value")
        .collect()
        .map(r => SbEvRow(r.getLong(0), r.getLong(1), r.getTimestamp(2),
          r.getString(3), r.getDouble(4)))
        .sortBy(r => (r.ts.getTime, r.event_id))
        .toSeq
      // mu0/h for cusum: pinned constants (any reference level measures
      // the same per-row fold work; alarms just reset the running sum)
      val evMean = evRows.iterator.map(_.value).sum / evRows.length.max(1)
      benchTwin("twap", evRows, 10000)(df =>
        graft.streaming.Streams.twapStream(df, lateness = "1 hour"))
      // two-point batch-size sweep on the slowest events twin (VERDICT
      // r13 #5, executed r15): the events fixture can't grow the batch
      // past the ÷5 floor, so the second point shrinks it — if
      // micro-batch fixed cost dominates (the incremental_dedup
      // adjudication), quartering the batch cuts rows/sec toward ~4×
      // while mean_batch_ms stays near-flat, confirming throughput is
      // the batch-size dial, not a state bottleneck.
      benchTwin("twap_small", evRows, 2500)(df =>
        graft.streaming.Streams.twapStream(df, lateness = "1 hour"))
      benchTwin("upsert", evRows, 10000, mode = "update")(df =>
        graft.streaming.Streams.upsertStream(df))
      benchTwin("attribution", evRows, 10000)(df =>
        graft.streaming.Streams.attributionStream(df))
      benchTwin("ewma", evRows, 10000)(df =>
        graft.streaming.Streams.ewmaStream(df, alpha = 0.25))
      benchTwin("cusum", evRows, 10000)(df =>
        graft.streaming.Streams.cusumStream(df, mu0 = evMean, slack = 0.0,
          h = 50.0 * math.max(1.0, math.abs(evMean))))
      benchTwin("first_seen", evRows, 10000)(df =>
        graft.streaming.Streams.firstSeenStream(df))
    } finally spark.stop()
  }
}
