package graft

/** Shared source-scanning utilities for the convention specs
  * (Broadcast/Streaming/Scratch ConventionSpec): comment-aware line
  * extraction and recursive file discovery.
  *
  * The per-spec ad-hoc strippers had two silent-pass holes (r13
  * gate-instrument review): a line whose TRIMMED form started with a
  * block-comment opener or `*` was blanked entirely even when it also
  * carried live code (an inline `slash-star bounded star-slash` note
  * before a broadcast hint hid the hint), and a string literal
  * containing `//` (a URL, a SQL broadcast-hint comment) was truncated
  * as if a comment started there. This is a real single-pass tokenizer
  * instead: nestable block comments (Scala nests them), line comments,
  * single- and triple-quoted strings with escapes, char literals
  * (so a quote char literal cannot toggle string state), and — since
  * r15 — `${...}` interpolation blocks as nested CODE frames (so a
  * quote or comment inside an interpolation cannot corrupt the
  * enclosing string state). Comment text
  * is blanked to spaces; string contents SURVIVE (a SQL hint in a
  * string is code, not comment); line structure is preserved so hit
  * line numbers stay real.
  */
object ConventionScan {

  /** All .scala files under `root`, recursively (a flat listFiles()
    * silently skips any future subpackage — r13 review finding).
    */
  def scalaFiles(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    walk(new java.io.File(root)).sortBy(_.getPath)
  }

  /** The file's source lines with comment text blanked. */
  def codeLines(f: java.io.File): Vector[String] =
    stripComments(new String(
      java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)).toVector

  // Lexing frames (r14 verdict task 4): string interpolation nests —
  // `${...}` re-enters CODE, where comments must be blanked and a
  // nested `"` must open a NEW string frame rather than flip the
  // enclosing one. A flat boolean lexer mis-stated string state after
  // any odd number of quotes inside an interpolation, copying comments
  // inside `${...}` as "content" (and, dually, able to blank live code
  // after the literal). A frame STACK makes the nesting exact.
  private sealed trait Frame
  // brace = open-brace balance of a `${...}` frame; -1 marks the
  // file's top-level code frame, which no `}` can close
  private final class CodeF(var brace: Int) extends Frame
  private final class StrF(val interp: Boolean) extends Frame
  private final class TripleF(val interp: Boolean) extends Frame

  def stripComments(src: String): Array[String] = {
    val out = new StringBuilder(src.length)
    var i = 0
    var depth = 0 // block-comment nesting level (only inside a CodeF)
    var line = false // inside a // comment (only inside a CodeF)
    var stack: List[Frame] = List(new CodeF(-1))
    def at(s: String) = src.startsWith(s, i)
    // an interpolated literal's opening quote touches its interpolator
    // id (s"..", f"..", raw".., or any user interpolator)
    def interpHere = i > 0 && Character.isJavaIdentifierPart(src.charAt(i - 1))
    while (i < src.length) {
      val c = src.charAt(i)
      if (c == '\n') { out.append('\n'); line = false; i += 1 }
      else if (line) { out.append(' '); i += 1 }
      else if (depth > 0) {
        if (at("/*")) { depth += 1; out.append("  "); i += 2 }
        else if (at("*/")) { depth -= 1; out.append("  "); i += 2 }
        else { out.append(' '); i += 1 }
      } else stack.head match {
        case t: TripleF =>
          if (t.interp && at("$$")) { out.append("$$"); i += 2 }
          else if (t.interp && at("${")) {
            out.append("${"); stack ::= new CodeF(1); i += 2
          } else if (at("\"\"\"")) {
            // Scala's greedy rule: in a run of >=3 quotes the LAST
            // three terminate; preceding ones are content
            // (`...v)}""""` ends a string with a literal quote)
            var q = 0
            while (i + q < src.length && src.charAt(i + q) == '"') q += 1
            out.append("\"" * q); stack = stack.tail; i += q
          } else { out.append(c); i += 1 }
        case s: StrF =>
          if (s.interp && at("$$")) { out.append("$$"); i += 2 }
          else if (s.interp && at("${")) {
            out.append("${"); stack ::= new CodeF(1); i += 2
          } else if (c == '\\' && i + 1 < src.length) {
            out.append(c).append(src.charAt(i + 1)); i += 2
          } else {
            out.append(c); if (c == '"') stack = stack.tail
            i += 1
          }
        case code: CodeF =>
          if (at("\"\"\"")) {
            val interp = interpHere
            out.append("\"\"\""); stack ::= new TripleF(interp); i += 3
          } else if (c == '"') {
            val interp = interpHere
            out.append(c); stack ::= new StrF(interp); i += 1
          }
          // char literals copied whole so '"' can't open a string and
          // '\'' can't close one
          else if (c == '\'' && i + 2 < src.length &&
            src.charAt(i + 1) != '\\' && src.charAt(i + 2) == '\'') {
            out.append(src.substring(i, i + 3)); i += 3
          } else if (c == '\'' && i + 3 < src.length &&
            src.charAt(i + 1) == '\\' && src.charAt(i + 3) == '\'') {
            out.append(src.substring(i, i + 4)); i += 4
          } else if (at("//")) { line = true; out.append("  "); i += 2 }
          else if (at("/*")) { depth = 1; out.append("  "); i += 2 }
          else if (c == '{') {
            if (code.brace >= 0) code.brace += 1
            out.append(c); i += 1
          } else if (c == '}') {
            if (code.brace >= 0) {
              code.brace -= 1
              if (code.brace == 0) stack = stack.tail // back into the string
            }
            out.append(c); i += 1
          } else { out.append(c); i += 1 }
      }
    }
    out.toString.split("\n", -1)
  }
}
