package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine — the single place session conf
  * lives (Verify, RewriteMulti, LuadPipeline and perfbench all build
  * through here, so the configs can't drift).
  *
  * Scale posture: AQE on (runtime join-strategy switch, skew splitting,
  * partition coalescing), shuffle partitions sized for the local[32]
  * test harness via GRAFT defaults — on a real cluster these are
  * overridden by spark-submit conf, nothing here hard-codes cluster
  * assumptions. Session timezone pinned UTC so timestamp semantics match
  * the DuckDB oracle.
  */
object GraftSession {

  /** Size of Spark's generated-class cache (static conf
    * `spark.sql.codegen.cache.maxEntries`, default 100). Spark reads it
    * once per JVM, at the first code generation, and evicts least
    * recently used. Measured working sets: one pass over the 16
    * benchmarked operator queries generates 256 distinct classes, so at
    * the default every pass missed and recompiled ~250 classes with
    * Janino (~3 s of a ~10 s pass on a 4-core host); one LUAD run
    * generates 41. All 243 declared queries generate ~2,900 classes
    * (~86 MB if all were cached), which this size does not try to hold.
    * Each cached class retains ~26-29 KB of heap, so 1,024 entries cost
    * at most ~30 MB.
    */
  val CodegenCacheEntries: Int = 1024

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
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

  /** Recursive local-file delete shared by scratch cleanup (Verify's
    * failed-write removal, Relational's roundtrip shutdown hook,
    * perfbench's output reset) — ONE implementation, previously
    * copy-pasted in five files where a fix to any copy would silently
    * miss the others (r15 gate-tooling review). Recursive because a
    * failed Spark write can leave a nested _temporary tree a flat
    * delete would silently skip.
    */
  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(): Unit
  }
}
