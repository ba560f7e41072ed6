package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * break tools/check.py's json.load.
    */
  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter for local
    // iteration (the driver always runs the full surface)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    // a misspelled filter name must fail LOUDLY: it matches nothing, so
    // zero queries would run, the filtered oracle dump would omit the
    // key, and check.py would pass vacuously — the silently-ungraded
    // class the r11 hardening closed for the unfiltered path
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query name(s) in filter: ${unknown.mkString(",")}")
    }
    val spark = GraftSession.fromEnv()
    new java.io.File(outDir).mkdirs()
    var nFailed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        nFailed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output from a previous run — otherwise the
        // oracle compare would silently grade old results as current
        val d = new java.io.File(s"$outDir/$name")
        if (d.exists()) GraftSession.rmTree(d)
      }
    }
    def q(s: String): String = "\"" + jsonEscape(s) + "\""
    // dump only the ATTEMPTED subset's oracle SQL: check.py since r11
    // FAILs every oracle key without an output dir, so a filtered local
    // run that wrote the full 242-entry map would report ~200 spurious
    // missing-dir FAILs (ADVICE r11). The driver passes no filter, so
    // its gate still sees the full map.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // sidecar: the names THIS run attempted (oracle-gated AND
    // rows-only). check.py fails any result dir not in it — without
    // the list, a stale dir from a previous dump into a reused outDir
    // is graded as a rows-only pass, silently downgrading (or
    // resurrecting) queries (r15 gate-tooling review).
    val attempted = SparkEntry.queries.keySet
      .filter(k => only.forall(_.contains(k)))
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      attempted.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
    // a dump with missing queries must fail the gate chain, not just
    // print to stderr: exit non-zero so `sbt runMain` (and close.sh)
    // registers the failure even if the downstream compare is skipped
    if (nFailed > 0) {
      System.err.println(s"[verify] $nFailed quer${if (nFailed == 1) "y" else "ies"} failed")
      sys.exit(1)
    }
  }
}
