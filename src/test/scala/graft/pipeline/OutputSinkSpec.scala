package graft.pipeline

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable

/** K2 sink parity: the reference writes its TSV output 8-way
  * (`PipeLine.scala:36-37`, artifact `pipeline/output/text.txt/1..8`).
  * writeOutput must do the same — multiple part files whose combined
  * content is the full result — instead of serializing everything
  * through a single coalesce(1) task.
  */
class OutputSinkSpec extends SparkSpec {

  test("writeOutput emits multi-part TSV with unchanged combined content") {
    val s = spark; import s.implicits._
    val rows = (0 until 1000).map(i => (s"sample_$i", i.toDouble))
    val df = rows.toDF("sample_name", "prediction").repartition(32)
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val out = s"$dir/preds_%s%"
    LuadPipeline.writeOutput(df, Some(out))

    val written = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(written.length == 1, "one output dir, %s% resolved to epoch millis")
    assert(!written.head.getName.contains("%s%"))
    val partFiles = written.head.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    // 32 input partitions coalesced to the reference's 8-way layout
    assert(partFiles.length == 8, s"expected 8 part files, got ${partFiles.length}")

    val got = partFiles.flatMap { f =>
      scala.io.Source.fromFile(f).getLines().toSeq
    }.toSet
    val want = rows.map { case (n, p) => s"$n\t$p" }.toSet
    assert(got == want, "combined part-file content must equal the result")
  }

  test("writeOutput never fans a small result out past its own partitioning") {
    val s = spark; import s.implicits._
    // 2 rows → at most 2 source partitions; the parts=8 cap must not
    // manufacture extra (empty) part files beyond them. (An inner
    // coalesce(1) would be collapsed into writeOutput's coalesce by
    // Catalyst's CollapseRepartition, so the source partitioning is
    // the real floor.)
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("sample_name", "prediction")
    val dir = java.nio.file.Files.createTempDirectory("graft_sink1").toString
    LuadPipeline.writeOutput(df, Some(s"$dir/out"))
    val partFiles = new java.io.File(s"$dir/out").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    assert(partFiles.length <= 2, partFiles.map(_.getName).mkString(","))
    val got = partFiles.flatMap(f => scala.io.Source.fromFile(f).getLines().toSeq).toSet
    assert(got == Set("a\t1.0", "b\t2.0"))
  }

  test("the part files spell every field as Spark's CSV writer does") {
    val s = spark; import s.implicits._
    val names = Seq("q\"uote", "back\\slash", "  lead", "trail  ", "a,b", "é漢", "\"quoted\"", "a\\\"b",
      "tab\tin", "#hash", "mid#", "", " ", null, "plain")
    val df = names.zipWithIndex.map { case (n, i) => (n, i * 0.5 - 1) }.toDF("sample_name", "prediction")
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_oracle")
    LuadPipeline.writeOutput(df, Some(s"$dir/driver"))
    df.write.option("sep", "\t").csv(s"$dir/spark") // the oracle: the sink's former writer
    def lines(out: String) = new java.io.File(s"$dir/$out").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")).toSeq
      .flatMap(f => java.nio.file.Files.readAllLines(f.toPath).toArray.map(_.toString)).sorted
    assert(lines("driver").size == names.size)
    assert(lines("driver") == lines("spark"))
  }

  test("writeOutput replaces an existing output directory and marks success last") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_overwrite")
    val out = s"$dir/out"
    LuadPipeline.writeOutput((0 until 20).map(i => (s"old_$i", 1.0)).toDF("sample_name", "prediction"), Some(out))
    LuadPipeline.writeOutput(Seq(("new", -1.0)).toDF("sample_name", "prediction"), Some(out))
    val left = new java.io.File(out).listFiles().map(_.getName).filterNot(_.endsWith(".crc")).sorted.toSeq
    assert(left == Seq("_SUCCESS", "part-00000.csv"), left)
    assert(java.nio.file.Files.readString(java.nio.file.Path.of(out, "part-00000.csv")) == "new\t-1.0\n")
  }

  test("writeOutput writes through a file system other than Hadoop's local one") {
    val s = spark; import s.implicits._
    // `file:` paths bound to the raw (checksum-free) local file system,
    // which is not a `LocalFileSystem`, so the sink goes through `create`
    val hadoop = spark.sparkContext.hadoopConfiguration
    val binding = Seq("fs.file.impl" -> classOf[CountingRawFs].getName, "fs.file.impl.disable.cache" -> "true")
    val saved = binding.map { case (k, _) => k -> Option(hadoop.get(k)) }
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_hadoop")
    val before = CountingRawFs.creates.get
    try {
      binding.foreach { case (k, v) => hadoop.set(k, v) }
      LuadPipeline.writeOutput(Seq(("a", 1.0), ("b", 2.0), ("c", -1.0)).toDF("sample_name", "prediction"),
        Some(s"file:$dir/out"))
    } finally saved.foreach { case (k, v) => v.fold(hadoop.unset(k))(hadoop.set(k, _)) }
    assert(CountingRawFs.creates.get - before == 4, "3 parts and _SUCCESS, each through create")
    val out = new java.io.File(s"$dir/out")
    assert(out.list().sorted.toSeq == Seq("_SUCCESS", "part-00000.csv", "part-00001.csv", "part-00002.csv"))
    val got = out.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .map(f => java.nio.file.Files.readString(f.toPath)).mkString
    assert(got == "a\t1.0\nb\t2.0\nc\t-1.0\n")
  }
}

/** The raw local file system, counting the files it creates and opens. */
class CountingRawFs extends RawLocalFileSystem {
  // where `FileSystem.open(Path)` lands in the raw local file system
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingRawFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }

  // where `FileSystem.create(Path)` lands in the raw local file system
  override def create(
      f: Path,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: Progressable,
  ): FSDataOutputStream = {
    CountingRawFs.creates.incrementAndGet()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingRawFs {
  val (creates, opens) = (new AtomicInteger, new AtomicInteger)
}
