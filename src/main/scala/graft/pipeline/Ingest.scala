package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Expression-file ingest → COO matrix (reference `Input.scala:104-162`,
  * S2/P2/P3/U1/A8).
  *
  * Scale design: the reference reads one file per (sample, type) in a
  * driver loop and chains 477 unions (`Input.scala:116-131`) — a plan
  * with 477 scan nodes. Here all files of a sample-type are read in ONE
  * multi-path scan; `input_file_name()` recovers which sample a row
  * belongs to via a broadcast file→sample dictionary. At 100 TB this is
  * a single distributed scan whose parallelism comes from file splits,
  * not from plan width.
  *
  * Lenient semantics (reference `lenient = true`, `Input.scala:121`):
  * the header line and any row whose value column fails the double cast
  * are dropped; only the first two columns are read (S2's
  * `includedFields = Array(0,1)`).
  *
  * Dictionaries: the reference assigns probe ids from `Set` iteration
  * order — nondeterministic (SURVEY §8 Q3). We sort names before
  * assigning dense ids so every run is reproducible. Both are built on
  * the driver (registry- and probe-sized, broadcast-joined).
  */
object Ingest {

  final case class MatrixEntry(sample: Int, probe: Int, value: Double)

  final case class IngestResult(
      matrix: DataFrame, // (sample INT, probe INT, value DOUBLE)
      sampleDict: DataFrame, // (name STRING, sample INT)
      probeDict: DataFrame, // (name STRING, probe INT)
      nProbes: Long, // probe dictionary size = distinct probes in `matrix`
  )

  /** All expression rows of one sample-type as (sample_name, probe_name,
    * value) — one multi-path scan, sample recovered from the file path.
    */
  def readType(
      spark: SparkSession,
      baseDir: String,
      fileToSample: Map[String, String], // relative path → sample name
  ): DataFrame = {
    require(fileToSample.nonEmpty, "no files for sample-type")
    val base = baseDir.stripSuffix("/") + "/"
    val paths = fileToSample.keys.map(base + _).toSeq.sorted
    // input_file_name() yields a percent-encoded URI (file:///...);
    // decode it, then strip everything up to the base dir and look the
    // relative path up exactly — O(1) per row, not O(#files), so
    // tagging stays scan-speed at any file count. Decoding matters:
    // a space or non-ASCII char in the corpus path would otherwise
    // break the match and SILENTLY drop that sample's rows.
    // throws (not null) on a miss: a path-form mismatch here would
    // otherwise null the sample tag and the dictionary join would then
    // SILENTLY drop every row of the file
    val lookup = udf { (fileName: String) =>
      val decoded =
        try new java.net.URI(fileName).getPath
        catch { case _: Exception => fileName }
      val i = decoded.indexOf(base)
      val sample =
        if (i < 0) null
        else fileToSample.getOrElse(decoded.substring(i + base.length), null)
      if (sample == null)
        throw new IllegalStateException(
          s"cannot map scanned file back to a sample: $fileName (base $base)")
      sample
    }
    spark.read
      .option("sep", "\t")
      // header=FALSE is the faithful leniency (reference Input.scala
      // lenient=true drops rows only when the VALUE column fails the
      // Double parse): a header line like "miRNA_ID\tread_count" fails
      // the cast below and is dropped identically — but header=true
      // would eat the first DATA row of a headerless export, turning
      // an observed cell into a missing one for ALS to fabricate
      .option("header", "false")
      .schema(StructType(Seq( // S2: only cols 0-1 reach the plan
        StructField("probe_name", StringType),
        StructField("raw_value", StringType),
      )))
      .csv(paths: _*)
      .withColumn("sample_name", lookup(input_file_name()))
      // try_cast, not cast: under Spark 4's ANSI default a plain cast
      // THROWS on any non-numeric value (including the header line that
      // now flows through as data) — the reference's lenient parse
      // DROPS such rows, which is exactly try_cast-to-NULL + the filter
      .withColumn("value", expr("try_cast(raw_value AS DOUBLE)"))
      .filter(col("value").isNotNull && col("probe_name").isNotNull) // lenient
      .select("sample_name", "probe_name", "value")
  }

  /** Typed view of a COO matrix DataFrame — `Dataset[MatrixEntry]` with
    * the case-class Encoder, for callers who want compile-time row
    * types (`.map`/`.filter` over MatrixEntry instead of Row).
    */
  def typed(matrix: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Dataset[MatrixEntry] = {
    val spark = matrix.sparkSession
    import spark.implicits._
    matrix.select(
      col("sample").cast("int").as("sample"),
      col("probe").cast("int").as("probe"),
      col("value").cast("double").as("value")).as[MatrixEntry]
  }

  /** Full ingest: every declared sample-type of the config, read, tagged,
    * unioned, dictionary-encoded (reference appends the per-type probe
    * column spaces into one, `Input.scala:116-131` — probe names
    * don't collide across types in practice; we keep that semantic).
    */
  def ingest(
      spark: SparkSession,
      baseDir: String,
      config: DefParser.PipelineConfig,
  ): IngestResult = {
    val perType = config.sampleTypes.flatMap { t =>
      val pairs = config.samples.flatMap(s => s.files.get(t).map(_ -> s.name))
      // two samples registering the SAME file would silently lose one
      // in the path→sample Map (the reference reads per (sample, file)
      // pair and gives the rows to both) — reject loudly instead
      val dups = pairs.groupBy(_._1).filter(_._2.size > 1)
      require(
        dups.isEmpty,
        s"file(s) registered by multiple samples for type '$t': " +
          dups.map { case (p, ss) => s"$p -> ${ss.map(_._2).mkString(",")}" }.mkString("; "))
      val files = pairs.toMap
      if (files.isEmpty) None else Some(readType(spark, baseDir, files))
    }
    require(perType.nonEmpty, "no expression files registered")
    val named = perType.reduce(_ union _)

    import spark.implicits._
    // sample dictionary is driver-known (config) — tiny, sorted, broadcast
    val sampleDict = config.samples.map(_.name).sorted.zipWithIndex
      .toDF("sample_name", "sample")
    // probe dictionary from the collected distinct names: it is the
    // broadcast join's build side below, so it is driver-resident either
    // way, and ids assigned here cost no Spark sort or zipWithIndex job.
    // Sorted in Spark's string order (unsigned UTF-8 bytes, as `orderBy`
    // would), not Java's UTF-16 order, so ids match a Spark-side sort
    // for any name.
    val probeNames = named.select("probe_name").distinct().as[String].collect()
      .map(UTF8String.fromString).sortWith(_.compareTo(_) < 0).map(_.toString)
    val probeDict = probeNames.toSeq.zipWithIndex.toDF("probe_name", "probe")

    val matrix = named
      .join(broadcast(sampleDict), "sample_name")
      .join(broadcast(probeDict), "probe_name")
      .select(col("sample"), col("probe"), col("value"))
    IngestResult(matrix, sampleDict, probeDict, probeNames.length.toLong)
  }
}
