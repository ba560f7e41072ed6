package graft.pipeline

import java.io.{BufferedReader, FileNotFoundException, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Locale
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.collection.mutable.ArrayBuffer
import scala.util.Using

import com.univocity.parsers.csv.{CsvParser, CsvParserSettings, UnescapedQuoteHandling}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.{SerializableWritable, SparkException}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** Expression-file ingest → COO matrix (reference `Input.scala:104-162`,
  * S2/P2/P3/U1/A8).
  *
  * Scale design: the reference reads one file per (sample, type) in a
  * driver loop and chains 477 unions (`Input.scala:116-131`) — a plan
  * with 477 scan nodes. Here the registered files of every type are cut
  * into reader tasks (`readerTasks`), each of which opens its files
  * through the Hadoop `FileSystem` API, so it knows which registered
  * file — and so which sample — each row came from. No Spark SQL file
  * source is involved: no scan plan to build and no file listing.
  * Parallelism is per file (a file is never split): the session's
  * parallelism, or more tasks where that would put more than
  * `spark.sql.files.maxPartitionBytes` in one.
  *
  * Both regimes of `LuadPipeline.run` read the same tasks with the same
  * `readFiles`, which dictionary-encodes their rows; the driver assigns
  * the probe ids:
  *  - `ingestDense`: the tasks run on driver threads, with no Spark job,
  *    and the driver merges their results into the by-probe observed
  *    matrix, applying the dense gate to the probes seen as they arrive.
  *  - `ingest` (relational): one Spark job of the tasks brings only each
  *    task's probe names, files and dropped-row count to the driver; the
  *    matrix is a DataFrame over the same tasks, whose local indices two
  *    broadcasts map to ids.
  *
  * Lenient semantics (reference `lenient = true`, `Input.scala:121`):
  * `LineRule`, shared with `Streams.expressionFileStream`.
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

  /** What the lenient line rule makes of one line. */
  private[graft] sealed trait Line
  private[graft] case object NoRecord extends Line // blank: not a row, not counted
  private[graft] case object Dropped extends Line // a row the lenient parse drops
  private[graft] final case class Cell(probe: String, value: Double) extends Line

  /** The lenient line rule of both regimes and of the stream: what
    * Spark's CSV source (tab separator, `"` quote, `\` escape, no
    * header, only columns 0-1 — S2's `includedFields = Array(0, 1)`)
    * followed by `try_cast(value AS DOUBLE)` made of the line, except
    * for non-finite values. The fields come from univocity's tokenizer
    * set up as Spark's `CSVOptions` sets it up; one rule holds one
    * tokenizer, which is not thread-safe, so each task or partition
    * makes its own.
    *  - A line that is empty after `trim` (chars ≤ U+0020) is no row.
    *  - An empty field is absent; extra fields are ignored. A field
    *    left open by a quote runs to the end of the line (a name then
    *    has no value; a value is read).
    *  - The name is kept verbatim, a byte-order mark included; the
    *    value is read by `java.lang.Double.parseDouble`, which trims
    *    chars ≤ U+0020 and reads `1d`, `0x1p3`, `+9`, `.5`, `5.` and
    *    `7e2`.
    *  - A row without a name or a value, or whose value does not parse,
    *    is dropped (the reference drops a row only when its VALUE fails
    *    the Double parse, so a header line is dropped as a non-numeric
    *    row, and a headerless file keeps its first row).
    *  - A value that reads as NaN or ±Infinity (`NaN`, `Infinity`,
    *    `inf`, `1e400`, any spelling Spark's cast reads) fails, naming
    *    the probe and `where`: kept, it poisons every correlation and
    *    the SVM; dropped, ALS would invent the cell.
    */
  private[graft] final class LineRule {
    private val tokenizer = {
      val settings = new CsvParserSettings
      val format = settings.getFormat
      format.setDelimiter('\t')
      format.setQuote('"')
      format.setQuoteEscape('\\')
      settings.setCommentProcessingEnabled(false)
      settings.setIgnoreLeadingWhitespaces(false)
      settings.setIgnoreTrailingWhitespaces(false)
      settings.setReadInputOnSeparateThread(false)
      settings.setMaxColumns(20480)
      settings.setMaxCharsPerColumn(-1)
      settings.setUnescapedQuoteHandling(UnescapedQuoteHandling.STOP_AT_DELIMITER)
      settings.setLineSeparatorDetectionEnabled(false)
      val t = new CsvParser(settings)
      // the tokenizer's first line drops a leading byte-order mark; spend
      // it here, so which line of which file comes first does not matter
      t.parseLine("-")
      t
    }

    def apply(line: String, where: String): Line =
      if (line.trim.isEmpty) NoRecord
      else {
        val fields = tokenizer.parseLine(line)
        def field(i: Int) = if (fields.length > i && fields(i) != null && fields(i).nonEmpty) fields(i) else null
        val (probe, raw) = (field(0), field(1))
        if (probe == null || raw == null) Dropped
        else {
          val v =
            try Some(java.lang.Double.parseDouble(raw))
            catch {
              case _: NumberFormatException => Option.when(SpecialValues(raw.trim.toLowerCase(Locale.ROOT)))(Double.NaN)
            }
          v.fold[Line](Dropped) { x =>
            require(java.lang.Double.isFinite(x), s"non-finite value '$raw' for probe '$probe' in $where")
            Cell(probe, x)
          }
        }
      }
  }

  /** The non-numbers Spark's string → double cast reads besides Java's. */
  private val SpecialValues = Set("inf", "+inf", "-inf", "infinity", "+infinity", "-infinity", "nan")

  /** Sample id → name: the registered samples sorted by name, so ids
    * are reproducible (F1/F2).
    */
  def sampleNames(config: DefParser.PipelineConfig): Array[String] =
    config.samples.map(_.name).sorted.toArray

  /** A registered expression file: its path relative to the base dir,
    * its sample and its sample-type.
    */
  private final case class Registered(path: String, sample: String, sampleType: String)

  /** Every registered file, sorted by path. A file registered twice — by
    * two samples, or by two types of one — would belong to two owners
    * (the reference reads per (sample, file) pair and gives the rows to
    * both), so it is rejected loudly instead.
    */
  private def registeredFiles(config: DefParser.PipelineConfig): IndexedSeq[Registered] = {
    val owners = for (s <- config.samples; (t, f) <- s.files.toSeq) yield Registered(f, s.name, t)
    require(owners.nonEmpty, "no expression files registered")
    val dups = owners.groupBy(_.path).filter(_._2.size > 1)
    require(
      dups.isEmpty,
      "file(s) registered more than once: " +
        dups.map { case (f, os) => s"$f -> ${os.map(o => s"${o.sample} (${o.sampleType})").mkString(", ")}" }
          .mkString("; "))
    owners.sortBy(_.path).toIndexedSeq
  }

  /** The base dir as an absolute, normalized path, resolved once on the
    * driver rather than against each task's working dir.
    */
  private def normalizedBase(baseDir: String): String =
    DefParser.localPath("base dir", baseDir).toAbsolutePath.normalize.toString.stripSuffix("/") + "/"

  /** Probe names in Spark's string order (unsigned UTF-8 bytes, as
    * `orderBy` would), not Java's UTF-16 order, so ids match a
    * Spark-side sort for any name.
    */
  private def sortedNames(names: Array[String]): Array[String] =
    names.map(UTF8String.fromString).sortWith(_.compareTo(_) < 0).map(_.toString)

  /** One reader task's rows, dictionary-encoded: the distinct probe names
    * it saw, and per registered file (its path relative to the base) the
    * name index and value of each kept row — 12 B per observed cell —
    * plus the rows the lenient parse dropped. A file appears only with a
    * kept row.
    */
  private final class TaskRows(
      val names: Array[String],
      val files: Array[String],
      val nameIdx: Array[Array[Int]],
      val values: Array[Array[Double]],
      val dropped: Long,
  ) extends Serializable

  /** Reads and encodes one task's files under one `LineRule`. As
    * Spark's text and CSV sources do, a codec suffix (`.gz`) is
    * decompressed, a leading UTF-8 byte-order mark skipped, lines end at
    * `\n`, `\r` or `\r\n`, and a malformed byte decodes as U+FFFD.
    */
  private def readFiles(conf: Configuration, base: String, files: Seq[Registered]): TaskRows = {
    val codecs = new CompressionCodecFactory(conf)
    val rule = new LineRule
    val dict = new java.util.HashMap[String, Integer]
    val (names, kept) = (ArrayBuffer.empty[String], ArrayBuffer.empty[String])
    val (nameIdx, values) = (ArrayBuffer.empty[Array[Int]], ArrayBuffer.empty[Array[Double]])
    var dropped = 0L
    for (f <- files) {
      val path = new Path(base + f.path)
      val where = s"sample '${f.sample}' (${f.sampleType} file ${f.path})"
      val (idx, vals) = (Array.newBuilder[Int], Array.newBuilder[Double])
      val raw = path.getFileSystem(conf).open(path)
      Using.resource(new BufferedReader(new InputStreamReader(
        Option(codecs.getCodec(path)).fold[InputStream](raw)(_.createInputStream(raw)), UTF_8))) { in =>
        var line = in.readLine()
        if (line != null && line.startsWith("\uFEFF")) line = line.substring(1)
        while (line != null) {
          rule(line, where) match {
            case Cell(probe, v) =>
              var i = dict.get(probe)
              if (i == null) { i = names.size; dict.put(probe, i); names += probe }
              idx += i; vals += v
            case Dropped => dropped += 1
            case NoRecord =>
          }
          line = in.readLine()
        }
      }
      val fileIdx = idx.result()
      if (fileIdx.nonEmpty) { kept += f.path; nameIdx += fileIdx; values += vals.result() }
    }
    new TaskRows(names.toArray, kept.toArray, nameIdx.toArray, values.toArray, dropped)
  }

  /** The reader tasks of both regimes, each a list of files. The
    * path-sorted registered files are dealt round-robin over
    * min(files, defaultParallelism) shares, so each share holds some of
    * every type and, for a small corpus, all run in one wave. Each share
    * is then cut, in path order, into tasks of at most
    * `spark.sql.files.maxPartitionBytes` of file (a larger file alone),
    * the bound Spark's file sources put on a task, so what one task
    * reads and encodes stays bounded however large the corpus. The file
    * lengths are read on the driver, where a missing file fails, naming
    * its sample and type.
    */
  private def readerTasks(
      spark: SparkSession,
      base: String,
      files: IndexedSeq[Registered],
  ): IndexedSeq[Seq[Registered]] = {
    val sc = spark.sparkContext
    val maxBytes = spark.sessionState.conf.filesMaxPartitionBytes
    val length = files.map { f =>
      val path = new Path(base + f.path)
      try path.getFileSystem(sc.hadoopConfiguration).getFileStatus(path).getLen
      catch {
        case e: FileNotFoundException => throw new IllegalArgumentException(
            s"the ${f.sampleType} file of sample '${f.sample}' does not exist: ${f.path} (under $base)", e)
      }
    }
    val n = math.min(files.size, sc.defaultParallelism)
    val tasks = ArrayBuffer.empty[ArrayBuffer[Registered]]
    for (share <- 0 until n) {
      tasks += ArrayBuffer.empty
      var bytes = 0L
      for (k <- share until files.size by n) {
        if (tasks.last.nonEmpty && bytes + length(k) > maxBytes) { tasks += ArrayBuffer.empty; bytes = 0 }
        tasks.last += files(k); bytes += length(k)
      }
    }
    tasks.map(_.toSeq).toIndexedSeq
  }

  /** A task's own failure — a reader task's non-finite value, a network
    * task's incomplete matrix — as itself rather than inside Spark's
    * job-abort message.
    */
  private[pipeline] def taskFailure(e: SparkException): Throwable = e.getCause match {
    case c: IllegalArgumentException => c
    case _ => e
  }

  /** Both regimes' failure for a (sample, probe) cell observed twice. */
  private[pipeline] def duplicateCell(probe: String, sample: String, files: Seq[String]): IllegalArgumentException =
    new IllegalArgumentException(
      s"probe '$probe' is observed more than once for sample '$sample' " +
        s"(file(s): ${files.distinct.sorted.mkString(", ")}) — one value per (sample, probe) cell")

  /** Relational ingest (reference appends the per-type probe column
    * spaces into one, `Input.scala:116-131`): one job brings each reader
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
    val cut = readerTasks(spark, base, files)
    val sc = spark.sparkContext
    val conf = new SerializableWritable(sc.hadoopConfiguration)
    val tasks = sc.parallelize(cut, cut.size).map(readFiles(conf.value, base, _))
    val heads =
      try tasks.map(t => (t.names, t.files, t.dropped)).collect()
      catch { case e: SparkException => throw taskFailure(e) }
    val probeNames = sortedNames(heads.flatMap(_._1).distinct)
    val samples = sampleNames(config)
    val sampleOf = sampleIds(files, samples)

    val probeIds = sc.broadcast(probeNames.zipWithIndex.toMap)
    val sampleIdOf = sc.broadcast(sampleOf)
    import spark.implicits._
    val matrix = tasks.flatMap { t =>
      val toProbe = t.names.map(probeIds.value)
      t.files.indices.iterator.flatMap { f =>
        val (s, idx, vs) = (sampleIdOf.value(t.files(f)), t.nameIdx(f), t.values(f))
        idx.indices.iterator.map(k => (s, toProbe(idx(k)), vs(k)))
      }
    }.toDF("sample", "probe", "value")
    IngestResult(matrix, samples, samples.toSeq.zipWithIndex.toDF("sample_name", "sample"),
      probeNames, heads.flatMap(_._2).map(sampleOf).toSet, heads.map(_._3).sum)
  }

  /** Registered file → its sample's id (`sampleNames`). */
  private def sampleIds(files: Seq[Registered], samples: Array[String]): Map[String, Int] = {
    val id = samples.zipWithIndex.toMap
    files.map(f => f.path -> id(f.sample)).toMap
  }

  /** The dense regime's ingest: the reader tasks run on
    * `DriverThreads.count` driver threads, with no Spark job. Each
    * thread claims the next task from a shared counter, reads it with
    * `readFiles`, and passes the result through the dense gate under a
    * lock. None once the probes seen so far put the dense footprint of
    * the registered samples over `maxBytes` (`Network.fitsDense`) — the
    * same decision as the gate on the final probe count, since the count
    * only grows; from then on, and after a task fails, no thread claims
    * another task. Until then the driver holds the task results that
    * passed the gate (12 B per observed cell, bounded by the 36 B/cell
    * model) plus up to one task's result per thread in flight. A cell
    * observed twice — a file listing a probe twice, or one name in two
    * type files of a sample — fails, naming the file(s).
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
    val tasks = readerTasks(spark, base, files)
    val conf = spark.sparkContext.hadoopConfiguration
    val held = ArrayBuffer.empty[TaskRows]
    val seen = new java.util.HashSet[String]
    val next = new AtomicInteger
    val stop = new AtomicBoolean // the gate closed, or a task failed
    def admit(r: TaskRows): Unit = held.synchronized {
      if (!stop.get) {
        r.names.foreach(seen.add)
        if (Network.fitsDense(nSamples, seen.size.toLong, maxBytes)) held += r
        else { stop.set(true); held.clear(); seen.clear() }
      }
    }
    DriverThreads.run(math.min(DriverThreads.count(spark), tasks.size)) { _ =>
      var k = next.getAndIncrement()
      while (k < tasks.size && !stop.get) {
        admit(try readFiles(conf, base, tasks(k)) catch { case e: Throwable => stop.set(true); throw e })
        k = next.getAndIncrement()
      }
    }
    // run returned, so no task failed: a stop is the gate's
    if (stop.get) None else Some(merge(held.toSeq, sampleIds(files, samples), samples))
  }

  /** The task results as the by-probe observed matrix: each probe's
    * sample ids ascending, each once, values aligned.
    */
  private def merge(tasks: Seq[TaskRows], sampleOf: Map[String, Int], samples: Array[String]): DenseIngest = {
    val probeNames = sortedNames(tasks.flatMap(_.names).distinct.toArray)
    val probeOf = probeNames.zipWithIndex.toMap
    val toProbe = tasks.map(_.names.map(probeOf))
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
            case (t2, f2, `s`) if tasks(t2).nameIdx(f2).exists(toProbe(t2)(_) == p) => tasks(t2).files(f2)
          })
        sampleIds(p)(n) = s; values(p)(n) = vs(k); counts(p) = n + 1
        k += 1
      }
    }
    DenseIngest(probeNames, Completion.Observed(probeNames.indices.toArray, sampleIds, values),
      parts.map(_._3).toSet, tasks.map(_.dropped).sum)
  }
}
