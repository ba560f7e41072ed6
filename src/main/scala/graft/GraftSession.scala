package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine — the single place session conf
  * lives (Bench/BenchOne/Verify/LuadPipeline all build through here, so
  * the configs can't drift).
  *
  * Scale posture: AQE on (runtime join-strategy switch, skew splitting,
  * partition coalescing), shuffle partitions sized for the local[32]
  * test harness via GRAFT defaults — on a real cluster these are
  * overridden by spark-submit conf, nothing here hard-codes cluster
  * assumptions. Session timezone pinned UTC so timestamp semantics match
  * the DuckDB oracle.
  */
object GraftSession {
  def local(cores: Int = 32, shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // OLDER driver fixture generations carried TIMESTAMP(NANOS) —
      // Spark has no nanos type, so read as long and normalize in
      // Tables.events (DuckDB truncates to micros the same way). The
      // CURRENT generations are TIMESTAMP(MICROS), where this flag is
      // inert and inferTimestampNTZ below is the load-bearing one; both
      // stay set because the driver may regenerate fixtures either way.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Fixture timestamps are timezone-less micros; Spark 4 would infer
      // TIMESTAMP_NTZ, which breaks epoch casts and streaming watermarks.
      // Read them as TIMESTAMP in the UTC session — the same wall-clock
      // values DuckDB's naive TIMESTAMP oracle sees.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // A scan over explicit paths lists them on the driver up to this
      // many, and in a Spark job above it (default 32). LUAD ingest
      // passes one path per registered file of a sample-type — ~240 on
      // the reference corpus — and at the default each type's scan
      // would start a listing job: building a 60-file scan took ~0.45 s
      // that way and ~0.08 s listed on the driver (4-core host). On an
      // object store each driver-side listing is a round trip per path,
      // so a corpus far above this threshold goes back to listing in a
      // job.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores from the driver's SPARK_GRAFT_CPUS env, default 32.
    * Validated with the env var NAMED in the error: a bare toInt on
    * '' / '32 ' / '-1' would fail every harness main with an opaque
    * NumberFormatException or an invalid local[-1] master.
    */
  def fromEnv(): SparkSession = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val cpus = raw.trim.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"SPARK_GRAFT_CPUS is not an integer: '$raw'"))
    require(cpus > 0, s"SPARK_GRAFT_CPUS must be positive, got $cpus")
    local(cpus, cpus)
  }

  /** True iff the id resolves to a fixed zero UTC offset (UTC, Etc/UTC,
    * GMT, +00:00, Z) — the engine-wide timestamp convention. Shared by
    * the batch-surface guard (SparkEntry) and the streaming twins.
    */
  def isUtcEquivalent(tz: String): Boolean = {
    val rules = java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).getRules
    rules.isFixedOffset && rules.getOffset(java.time.Instant.EPOCH) == java.time.ZoneOffset.UTC
  }

  /** JSON string escape shared by the harness mains: backslash, quote,
    * and ALL control chars (<0x20) — a tab or CR in builder-authored
    * SQL would otherwise break the driver's json.load.
    */
  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Recursive local-file delete shared by the harness mains' scratch
    * cleanup (Verify's failed-write removal, Bench/BenchScan/DedupScale
    * pid-scoped rewrites, Relational's roundtrip shutdown hook) — ONE
    * implementation, previously copy-pasted in five files where a fix
    * to any copy would silently miss the others (r15 gate-tooling
    * review). Recursive because a failed Spark write can leave a
    * nested _temporary tree a flat delete would silently skip.
    */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
}
