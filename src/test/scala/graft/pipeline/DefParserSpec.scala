package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

class DefParserSpec extends AnyFunSuite {

  private val mini = Seq(
    "# a comment",
    "",
    "def\tsample\ts1",
    "def\tsample\ts2",
    "def\tpredictive\tp1",
    "def\tsample-type\tmirna",
    "def\tsample-type\trna",
    "def\tpc-threshold\t0.9",
    "diagnosis\ts1\tTN",
    "diagnosis\ts2\tXX", // non-TN → not tumorous
    "mirna\ts1\tfiles/s1.mirna.txt",
    "mirna\ts2\tfiles/s2.mirna.txt",
    "rna\ts1\tfiles/s1.rna.txt",
    "mirna\tp1\tfiles/p1.mirna.txt",
  )

  test("grammar dispatch: roles, diagnosis, files, threshold") {
    val c = DefParser.parse(mini)
    assert(c.samples.map(_.name) == Seq("p1", "s1", "s2")) // sorted
    assert(c.training.map(_.name) == Seq("s1", "s2"))
    assert(c.predicting.map(_.name) == Seq("p1"))
    assert(c.samples.find(_.name == "s1").get.tumorous)
    assert(!c.samples.find(_.name == "s2").get.tumorous)
    assert(c.pcThreshold.contains(0.9))
    assert(c.outputPath.isEmpty)
    assert(c.samples.find(_.name == "s1").get.files ==
      Map("mirna" -> "files/s1.mirna.txt", "rna" -> "files/s1.rna.txt"))
  }

  test("pc-threshold none → None; default → Some(0.8)") {
    val base = Seq(
      "def\tsample\ts1", "def\tsample-type\tt", "t\ts1\tf.txt")
    assert(DefParser.parse(base).pcThreshold.contains(0.8))
    assert(DefParser.parse(base :+ "def\tpc-threshold\tnone").pcThreshold.isEmpty)
  }

  test("pc-threshold accepts none and a number in [0, 1]; anything else fails, naming the value") {
    val base = Seq("def\tsample\ts1", "def\tsample-type\tt", "t\ts1\tf.txt")
    def threshold(v: String) = DefParser.parse(base :+ s"def\tpc-threshold\t$v").pcThreshold
    assert(threshold("0").contains(0.0))
    assert(threshold("1").contains(1.0))
    assert(threshold("NONE").isEmpty)
    // 8 (for 0.8) keeps every probe, -0.5 merges every pair, NaN
    // disables the filter, 0,8 is no number
    for (bad <- Seq("8", "-0.5", "NaN", "0,8", "1.0000001", "Infinity")) {
      val e = intercept[IllegalArgumentException](threshold(bad))
      assert(e.getMessage.contains(s"'$bad'") && e.getMessage.contains("[0, 1]"), e.getMessage)
    }
  }

  test("last file per (sample, type) wins — reference quirk Q4") {
    val c = DefParser.parse(Seq(
      "def\tsample\ts1", "def\tsample-type\tt",
      "t\ts1\tfirst.txt", "t\ts1\tsecond.txt"))
    assert(c.samples.head.files("t") == "second.txt")
  }

  test("sample with no files is dropped") {
    val c = DefParser.parse(Seq(
      "def\tsample\ts1", "def\tsample\ts2",
      "def\tsample-type\tt", "t\ts1\tf.txt"))
    assert(c.samples.map(_.name) == Seq("s1"))
  }

  test("unknown def subcommand errors loudly (not MatchError/silent)") {
    assertThrows[IllegalArgumentException] {
      DefParser.parse(Seq("def\tbogus\tx"))
    }
  }

  test("file for undeclared sample-type errors") {
    assertThrows[IllegalArgumentException] {
      DefParser.parse(Seq("def\tsample\ts1", "undeclared\ts1\tf.txt"))
    }
  }

  test("sample-type named after a keyword is rejected at declaration") {
    // r15 pipeline review: a type literally named "diagnosis" had its
    // attachment rows consumed by the diagnosis keyword arm — the file
    // silently vanished (the exact silent-vanish class this parser's
    // header claims to fix); "def" threw a misleading
    // unknown-subcommand error instead of naming the collision
    for (reserved <- Seq("diagnosis", "def")) {
      val ex = intercept[IllegalArgumentException] {
        DefParser.parse(Seq(s"def\tsample-type\t$reserved"))
      }
      assert(ex.getMessage.contains("collides"), s"$reserved: ${ex.getMessage}")
    }
  }

  test("a definition-file path the JVM cannot encode fails naming the file and the file-name encoding") {
    // under the POSIX locale any non-ASCII character is such a path, and
    // opening it failed with a bare FileNotFoundException; a lone
    // surrogate has no encoding in any charset
    val dir = java.nio.file.Files.createTempDirectory("graft_def_unencodable")
    val e = intercept[IllegalArgumentException](DefParser.parseFile(s"$dir/\uD800/input.txt"))
    for (part <- Seq("definition file", "sun.jnu.encoding", "UTF-8 locale"))
      assert(e.getMessage.contains(part), e.getMessage)
  }

  test("reference corpus: 40 training, 22 predictive, 24 TN, 2 types") {
    val c = DefParser.parseFile("/root/reference/input/input.txt")
    assert(c.training.size == 40)
    assert(c.predicting.size == 22)
    assert(c.samples.count(_.tumorous) == 24)
    assert(c.sampleTypes == Seq("mirna", "rna"))
    assert(c.pcThreshold.contains(0.8)) // default — not set in file
    assert(c.outputPath.isEmpty) // output line is commented out
  }
}
