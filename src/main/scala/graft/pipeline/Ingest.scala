package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Expression-file ingest → COO matrix (reference `Input.scala:104-162`,
  * S2/P2/P3/U1/A8).
  *
  * Scale design: the reference reads one file per (sample, type) in a
  * driver loop and chains 477 unions (`Input.scala:116-131`) — a plan
  * with 477 scan nodes. Here every registered file of every type is
  * read in ONE multi-path scan, and `_metadata.file_path` says which
  * file a row came from; the resolver maps each file (not each row)
  * back to its sample. At 100 TB this is a single distributed scan whose
  * parallelism comes from file splits, not from plan width.
  *
  * Both regimes of `LuadPipeline.run` run the same scan tasks, each of
  * which dictionary-encodes its rows (`encode`); the driver assigns the
  * probe ids and maps each scanned file to its sample once:
  *  - `ingestDense`: one Spark job whose task results the driver merges
  *    into the by-probe observed matrix, applying the dense gate to the
  *    probes seen as they arrive.
  *  - `ingest` (relational): only each task's probe names, files and
  *    dropped-row count reach the driver; the matrix is a DataFrame over
  *    the same tasks, whose local indices two broadcasts map to ids.
  *
  * Lenient semantics (reference `lenient = true`, `Input.scala:121`):
  * the header line and any row whose value column fails the double cast
  * are dropped and counted; only the first two columns are read (S2's
  * `includedFields = Array(0,1)`).
  *
  * Dictionaries: the reference assigns probe ids from `Set` iteration
  * order — nondeterministic (SURVEY §8 Q3). We sort names before
  * assigning dense ids so every run is reproducible.
  */
object Ingest {

  /** What either regime's ingest reports besides its matrix. */
  sealed trait Ingested {
    def probeNames: Array[String] // probe id → name
    def covered: Set[Int] // ids of the samples with at least one kept row
    def rowsDropped: Long // rows the lenient parse dropped, header lines included
  }

  final case class IngestResult(
      matrix: DataFrame, // (sample INT, probe INT, value DOUBLE)
      sampleNames: Array[String], // sample id → name: id k is sampleNames(k)
      sampleDict: DataFrame, // (sample_name STRING, sample INT), from sampleNames
      probeNames: Array[String],
      covered: Set[Int],
      rowsDropped: Long,
  ) extends Ingested

  /** The dense regime's ingest: the by-probe observed matrix (sample ids as `sampleNames`). */
  final case class DenseIngest(
      probeNames: Array[String],
      observed: Completion.Observed,
      covered: Set[Int],
      rowsDropped: Long,
  ) extends Ingested

  /** The expression-file scan of both regimes and of the streaming twin
    * `Streams.expressionFileStream`: only cols 0-1 reach the plan (S2),
    * read with header=false, then `parseLenient`. The reference
    * (Input.scala lenient=true) drops a row only when its VALUE fails
    * the Double parse, so a header line is dropped as a non-numeric
    * row, where header=true would eat the first DATA row of a
    * headerless export (an observed cell turned into a missing one for
    * ALS to fabricate). try_cast, not cast: under Spark 4's ANSI default
    * a plain cast THROWS on a non-numeric value.
    */
  private[graft] val ExpressionSchema: StructType =
    StructType(Seq(StructField("probe_name", StringType), StructField("raw_value", StringType)))
  private[graft] val ExpressionOptions: Map[String, String] = Map("sep" -> "\t", "header" -> "false")
  private[graft] def parseLenient(raw: DataFrame): DataFrame =
    raw.withColumn("value", expr("try_cast(raw_value AS DOUBLE)"))
      .filter(col("value").isNotNull && col("probe_name").isNotNull)

  /** Sample id → name: the registered samples sorted by name, so ids
    * are reproducible (F1/F2).
    */
  def sampleNames(config: DefParser.PipelineConfig): Array[String] =
    config.samples.map(_.name).sorted.toArray

  /** Every registered file, by its path relative to the base dir, → its
    * sample's id (`sampleNames`). A file registered twice — by two
    * samples, or by two types of one — would map back to two owners (the
    * reference reads per (sample, file) pair and gives the rows to
    * both), so it is rejected loudly instead.
    */
  private def registeredFiles(config: DefParser.PipelineConfig): Map[String, Int] = {
    val owners = for (s <- config.samples; (t, f) <- s.files.toSeq) yield (f, s.name, t)
    require(owners.nonEmpty, "no expression files registered")
    val dups = owners.groupBy(_._1).filter(_._2.size > 1)
    require(
      dups.isEmpty,
      "file(s) registered more than once: " +
        dups.map { case (f, os) => s"$f -> ${os.map(o => s"${o._2} (${o._3})").mkString(", ")}" }.mkString("; "))
    val id = sampleNames(config).zipWithIndex.toMap
    owners.map(o => o._1 -> id(o._2)).toMap
  }

  /** Spark reports each scanned file by its absolute, normalized path,
    * so the base is normalized the same way: a base with a `.` or `..`
    * segment (`./input.txt`'s parent is `<cwd>/.`) would otherwise never
    * match. A base the JVM's file-name encoding cannot represent fails
    * naming that encoding: under the POSIX locale it is ASCII, and any
    * non-ASCII character is shown as `?`.
    */
  private def normalizedBase(baseDir: String): String =
    try java.nio.file.Paths.get(baseDir).toAbsolutePath.normalize.toString.stripSuffix("/") + "/"
    catch {
      case e: java.nio.file.InvalidPathException =>
        throw new IllegalArgumentException(
          s"base dir '$baseDir' is not a path in this JVM's file-name encoding " +
            s"(sun.jnu.encoding=${System.getProperty("sun.jnu.encoding")}); " +
            "run under a UTF-8 locale, e.g. LC_ALL=C.UTF-8", e)
    }

  /** The registered file (its path relative to `base`) behind a file
    * path Spark reports. The URI is decoded first: a space or non-ASCII
    * character in the corpus path would otherwise never match. A miss
    * throws: a path-form mismatch would otherwise lose every row of the
    * file silently.
    */
  private def resolver(base: String, files: Map[String, Int]): String => String = { scanned =>
    val decoded =
      try new java.net.URI(scanned).getPath
      catch { case _: Exception => scanned }
    val i = decoded.indexOf(base)
    Option.when(i >= 0)(decoded.substring(i + base.length)).filter(files.contains).getOrElse(
      throw new IllegalStateException(s"cannot map scanned file back to a sample: $scanned (base $base)"))
  }

  /** Probe names in Spark's string order (unsigned UTF-8 bytes, as
    * `orderBy` would), not Java's UTF-16 order, so ids match a
    * Spark-side sort for any name.
    */
  private def sortedNames(names: Array[String]): Array[String] =
    names.map(UTF8String.fromString).sortWith(_.compareTo(_) < 0).map(_.toString)

  /** One scan task's rows, dictionary-encoded: the distinct probe names
    * it saw, and per scanned file the name index and value of each kept
    * row — 12 B per observed cell — plus the rows the lenient parse
    * dropped. A file appears only with a kept row.
    */
  private final class TaskRows(
      val names: Array[String],
      val files: Array[String], // as Spark reports them
      val nameIdx: Array[Array[Int]],
      val values: Array[Array[Double]],
      val dropped: Long,
  ) extends Serializable

  /** Encodes one task's (probe_name, value, file_path) rows. A file's
    * rows arrive together; a file split over tasks shows up in each.
    */
  private def encode(rows: Iterator[InternalRow]): TaskRows = {
    val dict = new java.util.HashMap[UTF8String, Integer]
    val (names, files) = (ArrayBuffer.empty[String], ArrayBuffer.empty[String])
    val (nameIdx, values) = (ArrayBuffer.empty[Array[Int]], ArrayBuffer.empty[Array[Double]])
    val (idx, vals) = (Array.newBuilder[Int], Array.newBuilder[Double])
    def flush(): Unit = if (files.size > nameIdx.size) {
      nameIdx += idx.result(); values += vals.result(); idx.clear(); vals.clear()
    }
    var file: UTF8String = null
    var kept = 0L
    rows.foreach { r =>
      val f = r.getUTF8String(2)
      if (f != file) { flush(); file = f.clone(); files += file.toString }
      val name = r.getUTF8String(0)
      var i = dict.get(name)
      if (i == null) { i = names.size; dict.put(name.clone(), i); names += name.toString }
      idx += i; vals += r.getDouble(1); kept += 1
    }
    flush()
    // the rows this task's scan read (its own input metrics) less the kept
    val dropped = TaskContext.get().taskMetrics().inputMetrics.recordsRead - kept
    new TaskRows(names.toArray, files.toArray, nameIdx.toArray, values.toArray, dropped)
  }

  /** The scan tasks of both regimes: one lenient multi-path scan of
    * `files` (relative to `base`), each task's rows encoded by `encode`;
    * `file_path` is the scanned file as Spark reports it, a
    * percent-encoded URI.
    */
  private def scanTasks(spark: SparkSession, base: String, files: Iterable[String]): RDD[TaskRows] =
    parseLenient(spark.read.options(ExpressionOptions).schema(ExpressionSchema)
      .csv(files.map(base + _).toSeq.sorted: _*)
      .select(col("probe_name"), col("raw_value"), col("_metadata.file_path").as("file_path")))
      .select("probe_name", "value", "file_path")
      .queryExecution.toRdd.mapPartitions(rows => Iterator.single(encode(rows)))

  /** Both regimes' failure for a (sample, probe) cell observed twice. */
  private[pipeline] def duplicateCell(probe: String, sample: String, files: Seq[String]): IllegalArgumentException =
    new IllegalArgumentException(
      s"probe '$probe' is observed more than once for sample '$sample' " +
        s"(file(s): ${files.distinct.sorted.mkString(", ")}) — one value per (sample, probe) cell")

  /** Relational ingest (reference appends the per-type probe column
    * spaces into one, `Input.scala:116-131`): one job brings each scan
    * task's names, files and dropped rows to the driver; the matrix maps
    * the same tasks' local indices to ids through two broadcasts, so
    * computing it reads the files again.
    */
  def ingest(
      spark: SparkSession,
      baseDir: String,
      config: DefParser.PipelineConfig,
  ): IngestResult = {
    val files = registeredFiles(config)
    val base = normalizedBase(baseDir)
    val tasks = scanTasks(spark, base, files.keys)
    val heads = tasks.map(t => (t.names, t.files, t.dropped)).collect()
    val probeNames = sortedNames(heads.flatMap(_._1).distinct)
    val resolve = resolver(base, files)
    val sampleOf = heads.flatMap(_._2).distinct.map(f => f -> files(resolve(f))).toMap

    val sc = spark.sparkContext
    val probeIds = sc.broadcast(probeNames.zipWithIndex.toMap)
    val sampleIds = sc.broadcast(sampleOf)
    import spark.implicits._
    val matrix = tasks.flatMap { t =>
      val toProbe = t.names.map(probeIds.value)
      t.files.indices.iterator.flatMap { f =>
        val (s, idx, vs) = (sampleIds.value(t.files(f)), t.nameIdx(f), t.values(f))
        idx.indices.iterator.map(k => (s, toProbe(idx(k)), vs(k)))
      }
    }.toDF("sample", "probe", "value")
    val samples = sampleNames(config)
    IngestResult(matrix, samples, samples.toSeq.zipWithIndex.toDF("sample_name", "sample"),
      probeNames, sampleOf.values.toSet, heads.map(_._3).sum)
  }

  /** The dense regime's ingest: every registered file in one scan job,
    * dictionary-encoded inside its tasks, merged on the driver. None,
    * with the job cancelled, once the probes seen so far put the dense
    * footprint of the registered samples over `maxBytes`
    * (`Network.fitsDense`) — the same decision as the gate on the final
    * probe count, since the count only grows. Until then the driver
    * holds the task results that passed the gate (12 B per observed
    * cell, bounded by the 36 B/cell model) plus the one being checked.
    * A cell observed twice — a file listing a probe twice, or one name
    * in two type files of a sample — fails, naming the file(s).
    */
  def ingestDense(
      spark: SparkSession,
      baseDir: String,
      config: DefParser.PipelineConfig,
      maxBytes: Long,
  ): Option[DenseIngest] = {
    val files = registeredFiles(config)
    val samples = sampleNames(config)
    val nSamples = samples.length.toLong
    if (!Network.fitsDense(nSamples, 1, maxBytes)) return None

    val base = normalizedBase(baseDir)
    val tasks = scanTasks(spark, base, files.keys)
    val sc = spark.sparkContext
    val held = ArrayBuffer.empty[TaskRows]
    val seen = new java.util.HashSet[String]
    var over = false
    val tag = s"graft-ingest-${java.util.UUID.randomUUID}"
    def admit(r: TaskRows): Unit = if (!over) {
      r.names.foreach(seen.add)
      if (Network.fitsDense(nSamples, seen.size.toLong, maxBytes)) held += r
      else {
        over = true; held.clear(); seen.clear()
        sc.cancelJobsWithTag(tag, "the probes seen exceed the dense-regime driver budget")
      }
    }
    sc.addJobTag(tag)
    try sc.runJob(tasks, (it: Iterator[TaskRows]) => it.next(), (_: Int, r: TaskRows) => admit(r))
    catch { case _: SparkException if over => } // the job the gate cancelled
    finally sc.removeJobTag(tag)
    if (over) None else Some(merge(held.toSeq, resolver(base, files), files, samples))
  }

  /** The task results as the by-probe observed matrix: each probe's
    * sample ids ascending, each once, values aligned.
    */
  private def merge(
      tasks: Seq[TaskRows],
      resolve: String => String,
      files: Map[String, Int],
      samples: Array[String],
  ): DenseIngest = {
    val probeNames = sortedNames(tasks.flatMap(_.names).distinct.toArray)
    val probeOf = probeNames.zipWithIndex.toMap
    val toProbe = tasks.map(_.names.map(probeOf))
    val sampleOf = tasks.flatMap(_.files).distinct.map(f => f -> files(resolve(f))).toMap
    // (task, file in task, sample id), by sample id, so each probe's
    // samples are appended in ascending order
    val parts = (for (t <- tasks.indices; f <- tasks(t).files.indices)
      yield (t, f, sampleOf(tasks(t).files(f)))).sortBy(_._3)

    val counts = new Array[Int](probeNames.length)
    for ((t, f, _) <- parts; i <- tasks(t).nameIdx(f)) counts(toProbe(t)(i)) += 1
    val sampleIds = counts.map(new Array[Int](_))
    val values = counts.map(new Array[Double](_))
    java.util.Arrays.fill(counts, 0)
    for ((t, f, s) <- parts) {
      val (idx, vs) = (tasks(t).nameIdx(f), tasks(t).values(f))
      var k = 0
      while (k < idx.length) {
        val p = toProbe(t)(idx(k))
        val n = counts(p)
        if (n > 0 && sampleIds(p)(n - 1) == s)
          throw duplicateCell(probeNames(p), samples(s), parts.collect {
            case (t2, f2, `s`) if tasks(t2).nameIdx(f2).exists(toProbe(t2)(_) == p) => resolve(tasks(t2).files(f2))
          })
        sampleIds(p)(n) = s; values(p)(n) = vs(k); counts(p) = n + 1
        k += 1
      }
    }
    DenseIngest(probeNames, Completion.Observed(probeNames.indices.toArray, sampleIds, values),
      sampleOf.values.toSet, tasks.map(_.dropped).sum)
  }
}
