package graft

/** Multi-file fixture rewrite for the full-surface scale rehearsal.
  *
  * The driver's fixture parquet is one row group per table, so every
  * scan in the 146-query surface is structurally a 1-task stage — the
  * first thing real 100 TB data has is MANY files. This main rewrites
  * each table as an `nFiles`-part parquet directory (round-robin
  * repartition: even part sizes, no layout skew) so the whole surface
  * can be re-run through the oracle gate against a source layout
  * whose scans actually parallelize.
  *
  * `events` goes through [[Tables.events]] first, so its TIMESTAMP
  * (NANOS) column lands in the rewrite already normalized to the
  * microsecond TimestampType every query and oracle expects; the
  * re-read then takes the pass-through branch of the same normalizer.
  *
  * Usage: runMain graft.RewriteMulti <sfDir> <outDir> [nFiles=8]
  * Then:  runMain graft.Verify <outDir> <verifyOut>
  *        python3 tools/check.py <sfDir> <verifyOut>   # oracle reads
  *                                                     # the ORIGINAL
  */
object RewriteMulti {

  /** Rewrite every fixture table under `sfDir` as an `nFiles`-part
    * parquet directory under `outDir`.
    */
  def rewrite(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      outDir: String, nFiles: Int): Unit = {
    // existence via the path's OWN filesystem + a rewritten>0 gate,
    // same as Views.register: java.io.File.exists is always false for
    // hdfs://a/s3a:// paths, and a typo'd sfDir must fail HERE, not
    // exit 0 having rewritten nothing and surface 146 queries later as
    // per-query path errors in Verify (r15 gate-tooling review)
    val hconf = spark.sparkContext.hadoopConfiguration
    var rewritten = 0
    Views.tables.foreach { t =>
      val src = new org.apache.hadoop.fs.Path(s"$sfDir/$t.parquet")
      if (src.getFileSystem(hconf).exists(src)) {
        val df =
          if (t == "events") Tables.events(spark, sfDir)
          else Tables(spark, sfDir, t)
        df.repartition(nFiles)
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
        rewritten += 1
        val out = new org.apache.hadoop.fs.Path(s"$outDir/$t.parquet")
        val parts = out.getFileSystem(hconf).listStatus(out)
          .count(_.getPath.getName.endsWith(".parquet"))
        println(s"[rewrite] $t -> $parts part files")
      }
    }
    require(rewritten > 0,
      s"RewriteMulti: no fixture tables found under '$sfDir' — wrong dir or filesystem?")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val nFiles = if (args.length > 2) args(2).toInt else 8
    val spark = GraftSession.fromEnv()
    try rewrite(spark, sfDir, outDir, nFiles)
    finally spark.stop()
  }
}
