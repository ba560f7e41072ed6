package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import scala.util.hashing.MurmurHash3

/** Parquet table loader for the driver-generated TPC-H-ish fixtures.
  *
  * Scans stay plain `spark.read.parquet` so Catalyst pushes filters and
  * prunes columns at the source (verify with
  * `.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  *
  * Inferring a parquet schema starts a Spark job (~80 ms a read on a
  * 4-core host, against ~6 ms with a supplied schema), and the operator
  * surface reads the same few tables in every query. So the inferred
  * schema is cached and later reads supply it. A cached schema is used
  * only while both halves of its key still hold:
  *  - the table's leaf files, fingerprinted by count, total bytes,
  *    newest mtime and an order-free hash of each (path, length, mtime)
  *    (a rewrite at the same path lists other files or other stats);
  *  - the session's `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*`
  *    settings, which change what inference gives ([[events]] flips two).
  * Checking the first half costs one driver-side `listStatus` walk per
  * read, on top of the listing Spark's reader makes: cheap for the
  * fixtures' few files, a second listing per read on a many-file table.
  * The cache holds one fixed-size entry per (table, settings) pair and
  * never evicts, which suits a loader of a few fixture tables. A path
  * that cannot be listed is read uncached, so a missing table fails
  * with Spark's own error.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    listing(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val key = (path, readerConf(spark))
        Option(schemas.get(key)) match {
          case Some((`files`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.put(key, (files, df.schema))
            df
        }
    }
  }

  /** Fingerprint of a table's leaf files; its size does not grow with
    * the file count.
    */
  private final case class Listing(files: Int, bytes: Long, newest: Long, hash: Int)

  /** (path, reader settings) → (listing it was inferred from, schema). */
  private val schemas =
    new ConcurrentHashMap[(String, Map[String, String]), (Listing, StructType)]()

  /** Listing of every file under `path` (or of `path` itself); None
    * when it cannot be listed.
    */
  private def listing(spark: SparkSession, path: String): Option[Listing] =
    try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def leaves(st: FileStatus): Iterator[FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).iterator.flatMap(leaves)
        else Iterator.single(st)
      val files = leaves(fs.getFileStatus(p))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq
      Some(Listing(files.size, files.map(_._2).sum, files.map(_._3).maxOption.getOrElse(0L),
        MurmurHash3.unorderedHash(files)))
    } catch { case _: java.io.IOException => None }

  private def readerConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }

  /** `events.ts` normalization across fixture generations: OLDER
    * driver fixtures carried parquet TIMESTAMP(NANOS) — read as a
    * nanos long (spark.sql.legacy.parquet.nanosAsLong) and truncated
    * to microseconds exactly as DuckDB does; CURRENT fixtures carry
    * TIMESTAMP(MICROS), which takes the pass-through branch. Both
    * reader flags are set DEFENSIVELY here because this method is the
    * events entry point for driver-built sessions that didn't come
    * through GraftSession: on Spark 4 the micros fixtures would
    * otherwise infer TIMESTAMP_NTZ (inferTimestampNTZ defaults true),
    * breaking epoch casts and streaming watermarks — that flag, not
    * nanosAsLong, is the load-bearing one for the current files.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val raw = apply(spark, dir, "events")
    if (raw.schema("ts").dataType == LongType)
      // integer division — `/` on longs is double division and loses
      // precision above 2^53 (these are epoch-nanos, ~1.7e18)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
}
