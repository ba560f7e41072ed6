package graft

import org.scalatest.funsuite.AnyFunSuite

/** The convention specs are gates; ConventionScan is the gate's lexer.
  * Each case here is an adversarial shape that the old per-spec
  * strippers got WRONG (silently skipping live code or truncating live
  * strings) — red against them by construction.
  */
class ConventionScanSpec extends AnyFunSuite {

  private def strip(src: String): Array[String] = ConventionScan.stripComments(src)

  test("code after an inline block comment on the same line survives") {
    val out = strip("""/* small enough */ val b = broadcast(f)""")
    assert(out(0).contains("broadcast(f)"), out(0))
  }

  test("code after a block-comment terminator line survives") {
    val out = strip("/* size note\n */ enriched.join(broadcast(fact))")
    assert(out(1).contains("broadcast(fact)"), out.mkString("|"))
  }

  test("string contents survive: // and /*+ inside literals are code") {
    val out = strip("""val sql = spark.sql("SELECT /*+ BROADCAST(t) */ x // y")""")
    assert(out(0).contains("/*+ BROADCAST(t) */"), out(0))
    assert(out(0).contains("// y"), out(0))
  }

  test("line comments and block comments are blanked") {
    val out = strip("val a = 1 // broadcast(f)\n/* broadcast(g) */\nval b = 2")
    assert(!out.mkString.contains("broadcast"), out.mkString("|"))
    assert(out(0).contains("val a = 1") && out(2).contains("val b = 2"))
  }

  test("nested block comments (Scala nests) are fully blanked") {
    val out = strip("/* a /* broadcast(f) */ still comment */ val c = 3")
    assert(!out(0).contains("broadcast") && out(0).contains("val c = 3"), out(0))
  }

  test("triple-quoted strings survive, including the 4-quote terminator") {
    // a JSON-emitting shape: string CONTENT ends with a quote, so the
    // terminator run is 4 quotes — a naive 3-quote match would leave
    // the lexer inside a phantom string and swallow following lines
    val src = "val j = s\"\"\"\"k\":$v\"\"\"\"\nval after = broadcast(f)"
    val out = strip(src)
    assert(out(1).contains("broadcast(f)"), out.mkString("|"))
  }

  test("char literal quote cannot toggle string state") {
    val out = strip("val q = '\"'\nval after = broadcast(f) // c\nval esc = '\\''")
    assert(out(1).contains("broadcast(f)") && !out(1).contains("// c"), out.mkString("|"))
  }

  test("line structure is preserved (hit line numbers stay real)") {
    val src = "a\n/* x\ny\nz */\nb"
    val out = strip(src)
    assert(out.length == src.split("\n", -1).length)
    assert(out(4).contains("b"))
  }

  test("interpolation with a nested quoted arg cannot flip string state") {
    // r13 gate review / r14 verdict task: a `"` inside `${...}` flipped
    // the old lexer's string state, so the `//` that is really string
    // CONTENT after the interpolation became a "line comment" and
    // blanked live code to the right of the literal
    val src = """val u = s"${m("k")}//p"; val b = broadcast(f)"""
    val out = strip(src)
    assert(out(0).contains("broadcast(f)"), out(0))
  }

  test("comments inside a ${...} interpolation block are blanked") {
    // the dual hole: once inside ${...} we are lexing CODE again, so a
    // real line comment there must be blanked, not copied as "string"
    val src = "val u = s\"\"\"${ x // broadcast(g)\n} tail\"\"\"\nval b = broadcast(f)"
    val out = strip(src)
    assert(!out(0).contains("broadcast(g)"), out(0))
    assert(out(2).contains("broadcast(f)"), out.mkString("|"))
  }

  test("nested braces and nested strings inside ${...} are tracked") {
    val src = """val u = s"${ if (a) {m("}")} else {n} } t"; val b = broadcast(f)"""
    val out = strip(src)
    assert(out(0).contains("broadcast(f)"), out(0))
  }

  test("escaped $$ does not open an interpolation frame") {
    val src = """val u = s"cost $$ {"; val b = broadcast(f)"""
    val out = strip(src)
    assert(out(0).contains("broadcast(f)"), out(0))
  }

  test("non-interpolated string: ${ and nested quotes are plain content") {
    val src = """val u = "lit ${m(\"k\")}//x"; val b = broadcast(f)"""
    val out = strip(src)
    assert(out(0).contains("broadcast(f)"), out(0))
  }

  test("recursive file discovery sees nested packages") {
    val files = ConventionScan.scalaFiles("src/main/scala/graft")
    assert(files.exists(_.getName == "Streams.scala"), "nested streaming/ not walked")
    assert(files.size > 20, s"walk broke: ${files.size}")
  }
}
