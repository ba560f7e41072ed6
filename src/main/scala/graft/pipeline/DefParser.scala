package graft.pipeline

/** Definition-file grammar parser (reference `Input.scala:24-101`, A1).
  *
  * The reference parses the file inside a global `reduceGroup` with
  * mutable state (`Input.scala:34-101`); the grammar itself is pure
  * line-dispatch, so here it is a plain function over parsed rows —
  * unit-testable without Spark, executed driver-side (the file is tiny
  * metadata; distributing a <1 MB parse would be overhead, not scale).
  *
  * Grammar (README "Run it"; `Input.scala:49-74`): tab-separated rows
  * `(f1, f2, f3)`, `#` comments and blank lines skipped.
  *   - `def sample NAME`        NAME is a training sample
  *   - `def predictive NAME`    NAME is a prediction sample
  *   - `def sample-type T`      declare sample-type T
  *   - `def output PATH`        output path (`%s%` → epoch millis)
  *   - `def pc-threshold V`     `none` → None, else a Double in [0, 1]
  *   - `diagnosis NAME D`       NAME tumorous iff D == "TN"
  *   - `T NAME PATH`            attach file PATH of declared type T to
  *                              sample NAME (last file per (NAME,T) wins,
  *                              reference quirk Q4 — kept, documented)
  *
  * Deviations from the reference (SURVEY §8 quirk Q5) — all three turn
  * silent data loss into loud errors:
  *   1. unknown `def` subcommands raise instead of MatchError/skip;
  *   2. samples registered both `sample` and `predictive` are rejected;
  *   3. file attachments for UNDECLARED sample-types are rejected
  *      (the reference silently ignores them, `Input.scala:90` — but a
  *      typo'd keyword row like `diagnose NAME TN` parses as a file
  *      attachment of type "diagnose" there and the diagnosis quietly
  *      vanishes; here it aborts with the offending types named).
  */
object DefParser {

  /** One registered sample: its role, diagnosis and per-type files. */
  final case class SampleSpec(
      name: String,
      predictive: Boolean,
      tumorous: Boolean,
      files: Map[String, String], // sample-type → path (last wins)
  )

  final case class PipelineConfig(
      samples: Seq[SampleSpec], // sorted by name — deterministic ids
      sampleTypes: Seq[String],
      pcThreshold: Option[Double], // default Some(0.8), `Input.scala:185`
      outputPath: Option[String], // None → stdout, `Input.scala:182`
  ) {
    def training: Seq[SampleSpec] = samples.filterNot(_.predictive)
    def predicting: Seq[SampleSpec] = samples.filter(_.predictive)
  }

  def parseFile(path: String): PipelineConfig = {
    // explicit UTF-8: the reference's Flink CSV reader decodes UTF-8;
    // the platform-default charset would mis-decode non-ASCII sample
    // names on a POSIX-locale JVM and silently garble the role joins
    val src = scala.io.Source.fromFile(localPath("definition file", path).toFile)(scala.io.Codec.UTF8)
    try parse(src.getLines().toSeq)
    finally src.close()
  }

  /** `path` as a path of this JVM's file system, or a failure naming it
    * (as `what`) and the JVM's file-name encoding: under the POSIX locale
    * that encoding is ASCII, a non-ASCII character has no file name, and
    * opening the path anyway fails with a bare FileNotFoundException.
    */
  private[pipeline] def localPath(what: String, path: String): java.nio.file.Path =
    try java.nio.file.Paths.get(path)
    catch {
      case e: java.nio.file.InvalidPathException =>
        throw new IllegalArgumentException(
          s"$what '$path' is not a path in this JVM's file-name encoding " +
            s"(sun.jnu.encoding=${System.getProperty("sun.jnu.encoding")}); " +
            "run under a UTF-8 locale, e.g. LC_ALL=C.UTF-8", e)
    }

  def parse(lines: Seq[String]): PipelineConfig = {
    val rows = lines.iterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        l.split("\t").filter(_.nonEmpty) match {
          case Array(f1, f2, f3) => (f1, f2, f3)
          case other =>
            // lenient = true in the reference drops malformed rows
            // silently (`Input.scala:30`); we keep that for row shape
            // but log nothing — the validation below catches real holes.
            ("", other.mkString(" "), "")
        }
      }
      .filter(_._1.nonEmpty)
      .toSeq

    var train = Vector.empty[String]
    var predict = Vector.empty[String]
    var types = Vector.empty[String]
    var tumorous = Set.empty[String]
    var files = Map.empty[(String, String), String]
    var threshold: Option[Double] = Some(0.8)
    var output: Option[String] = None

    rows.foreach {
      case ("def", "sample", name) => train :+= name
      case ("def", "predictive", name) => predict :+= name
      case ("def", "sample-type", t) =>
        // reserved words (r15 pipeline review): a sample-type literally
        // named "diagnosis" or "def" would have its file-attachment
        // rows consumed by the keyword arms of this match — the
        // attachment silently vanishes (or, for "def", throws a
        // misleading unknown-subcommand error). Reject at declaration,
        // where the collision and its fix are both obvious.
        require(t != "def" && t != "diagnosis",
          s"sample-type name '$t' collides with a definition-file keyword — rename the type")
        types :+= t
      case ("def", "output", p) => output = Some(p)
      case ("def", "pc-threshold", v) =>
        threshold = if (v.equalsIgnoreCase("none")) None else Some(parseThreshold(v))
      case ("def", sub, _) =>
        throw new IllegalArgumentException(s"unknown def subcommand: $sub")
      case ("diagnosis", name, d) => if (d == "TN") tumorous += name
      case (t, name, path) => files += ((name, t) -> path)
    }

    val both = train.toSet.intersect(predict.toSet)
    require(both.isEmpty, s"samples both training and predictive: $both")
    val undeclared = files.keys.map(_._2).toSet.diff(types.toSet)
    require(
      undeclared.isEmpty,
      s"files attached for undeclared sample-types: $undeclared")

    val registered = (train ++ predict).distinct
    val specs = registered.flatMap { name =>
      val f = files.collect { case ((`name`, t), p) => t -> p }.toMap
      // a sample enters only with >=1 file (`Input.scala:96-98`)
      if (f.isEmpty) None
      else
        Some(SampleSpec(name, predict.contains(name), tumorous.contains(name), f))
    }
    PipelineConfig(specs.sortBy(_.name), types.distinct, threshold, output)
  }

  /** A Pearson |r| cut, in [0, 1]. Anything else would run quietly
    * wrong: 8 (for 0.8) keeps every probe, a negative cut merges every
    * pair, NaN disables the filter.
    */
  private def parseThreshold(v: String): Double =
    v.toDoubleOption.filter(t => t >= 0.0 && t <= 1.0).getOrElse(
      throw new IllegalArgumentException(s"pc-threshold must be 'none' or a number in [0, 1], got '$v'"))
}
