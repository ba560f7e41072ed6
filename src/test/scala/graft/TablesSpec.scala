package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session/loader conventions that shape every query (round-12
  * session-layer review):
  *  - the nanos→micros normalization branch in Tables.events was DEAD
  *    against every local fixture (all three SFs store TIMESTAMP
  *    (MICROS)), so a regression there would first surface in a driver
  *    run — this spec synthesizes the nanos-generation shape and pins
  *    the division;
  *  - the batch surface's UTC guard (SparkEntry wraps every query fn)
  *    must reject a non-UTC caller session loudly — before it, a
  *    non-UTC session bucketed temporal operators in the host zone,
  *    silently for the rows-only-gated queries;
  *  - Tables caches inferred schemas, and a cached schema must never
  *    outlive the files or reader settings it was inferred under;
  *  - the session's generated-class cache must hold a query surface's
  *    working set, or every pass recompiles its classes.
  */
class TablesSpec extends SparkSpec {

  test("Tables.events normalizes a nanos-long ts fixture to microsecond TimestampType") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nanos_fixture").toString
    // the nanos generation reads as a plain long column under
    // nanosAsLong — synthesize exactly that physical shape
    val nanos = 1704153600123456789L // 2024-01-02 00:00:00.123456789 UTC
    Seq((1L, nanos), (2L, nanos + 999L)) // +999 ns: truncation, not rounding
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ev = Tables.events(s, dir)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
      ev.schema.treeString)
    val got = ev.orderBy("event_id")
      .select(expr("unix_micros(ts)")).collect().map(_.getLong(0)).toSeq
    // DuckDB truncates nanos→micros; div 1000 on the long does the same
    assert(got == Seq(nanos / 1000, (nanos + 999) / 1000), got.toString)
  }

  test("a non-UTC caller session is rejected by every declared query (batch UTC guard)") {
    val s = spark
    val saved = s.conf.get("spark.sql.session.timeZone")
    try {
      s.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("q05_join_multiway")(s, "/root/testdata/sf0.001")
      }
      assert(e.getMessage.contains("UTC-equivalent"), e.getMessage)
      // UTC-equivalent ids pass the same guard (the ADVICE r11 rule)
      for (tz <- Seq("Etc/UTC", "GMT", "+00:00", "UTC"))
        assert(GraftSession.isUtcEquivalent(tz), tz)
      assert(!GraftSession.isUtcEquivalent("Europe/Berlin"))
    } finally s.conf.set("spark.sql.session.timeZone", saved)
  }

  test("a second read of one table starts no Spark job") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_cache").toString
    s.range(5).toDF("a").write.parquet(s"$dir/t.parquet")
    val (_, first) = JobStacks(s)(Tables(s, dir, "t"))
    assert(first.nonEmpty, "the first read infers the schema in a Spark job")
    val (again, second) = JobStacks(s)(Tables(s, dir, "t"))
    assert(second.isEmpty, second.mkString("\n---\n"))
    assert(again.columns.toSeq == Seq("a") && again.count() == 5)
  }

  test("a table rewritten at the same path is read with its new schema") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_schema_rewrite").toString
    s.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables(s, dir, "t").columns.toSeq == Seq("a"))
    s.range(3).selectExpr("CAST(id AS STRING) AS b", "id * 2 AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables(s, dir, "t")
    assert(df.columns.toSeq == Seq("b", "c"), df.schema.treeString)
    assert(df.orderBy("c").collect().map(_.getString(0)).toSeq == Seq("0", "1", "2"))
  }

  test("toggling a parquet reader setting between two reads of one table gives the other ts type") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("graft_reader_toggle").toString
    // the fixtures come from another writer, without Spark's own schema
    // in the footer, so write one row of each ts generation with
    // parquet's: TIMESTAMP(NANOS) (older) and timezone-less micros (current)
    def writeTs(table: String, tsType: String): Unit = {
      val schema = MessageTypeParser.parseMessageType(s"message $table { required int64 ts ($tsType); }")
      val writer = ExampleParquetWriter.builder(new Path(s"$dir/$table.parquet/part-0.parquet"))
        .withType(schema).withConf(s.sparkContext.hadoopConfiguration).build()
      try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1704153600123456789L / 1000))
      finally writer.close()
    }
    writeTs("events", "TIMESTAMP(NANOS,true)")
    writeTs("micros", "TIMESTAMP(MICROS,false)")

    def tsType(table: String) = Tables(s, dir, table).schema("ts").dataType
    def toggled[T](key: String, value: String)(body: => T): T = {
      val saved = s.conf.get(key)
      s.conf.set(key, value)
      try body finally s.conf.set(key, saved)
    }
    // the session reads nanos as long; without that setting Spark 4 has
    // no type for TIMESTAMP(NANOS) and must fail, not reuse the long
    assert(tsType("events") == LongType)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      toggled("spark.sql.legacy.parquet.nanosAsLong", "false")(tsType("events"))
    }
    assert(e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    assert(tsType("events") == LongType)

    assert(tsType("micros") == TimestampType)
    assert(toggled("spark.sql.parquet.inferTimestampNTZ.enabled", "true")(tsType("micros")) == TimestampNTZType)
    assert(tsType("micros") == TimestampType)
  }

  test("the generated-class cache holds more than Spark's default 100 classes") {
    // ~300 projections that differ only in an inlined literal: each
    // compiles its own class, more than the default cache keeps
    def compilations(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for (i <- 0 until 300) spark.range(10).select(col("id") + lit(i)).collect()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compilations()
    assert(first >= 300, s"expected a class per projection, compiled $first")
    val second = compilations()
    assert(second == 0, s"the second round recompiled $second classes")
  }
}
