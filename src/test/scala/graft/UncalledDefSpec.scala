package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** No code without a caller: every public or `private[graft]` def in
  * `src/main` must be named somewhere in `src/main` or `perfbench/src`
  * outside its own definition. `perfbench/src` counts as a caller so its
  * frozen entry points stay covered without being listed.
  *
  * A pure source scan, in the style of LayoutFsSpec's single-owner
  * guard: comments are stripped, and a name counts as called when it
  * occurs outside the def's own span (its signature line through the
  * end of its indented body). Three same-name occurrences are not uses:
  *  - the name of another def, on that def's own line;
  *  - a parameter of that name, and its uses inside the span of the
  *    def that declares it (a `compact: => Unit` callback);
  *  - the text of a string literal (a `"compact"` mode name); the code
  *    of `s"…"` interpolations is kept, since several defs are called
  *    only there.
  * Overrides are skipped: their caller is the supertype. Name-based on
  * purpose, so it errs towards "called": a def whose name is also a
  * common identifier (a local val, a field) passes unseen. */
class UncalledDefSpec extends AnyFunSuite {
  import UncalledDefSpec._

  /** "File.def" → why the def has no `src/main` caller. Only mains,
    * listener overrides and named test hooks belong here. */
  private val allowed = Map(
    "ApiServer.awaitJobs" ->
      "test hook: ApiServerSpec waits for the async recipe jobs it starts",
    "PyExpr.parsePrint" ->
      "test hook: PyExprSpec's parse/re-print grammar property")

  private lazy val uncalled = scan(Seq(mainRoot, benchRoot), mainRoot)

  test("every public src/main def has a caller in src/main or perfbench/src") {
    val offenders = uncalled.filterNot(u => allowed.contains(u.key))
    if (offenders.nonEmpty)
      fail("defs with no caller — delete them, move them into test scope, " +
        "or allowlist a main/listener/test hook with its reason:\n" +
        offenders.mkString("\n"))
  }

  test("every allowlist entry names a def that still has no caller") {
    val stale = allowed.keySet -- uncalled.map(_.key)
    if (stale.nonEmpty)
      fail("allowlist entries that name no def or a def that now has a " +
        s"caller — remove them: ${stale.toSeq.sorted.mkString(", ")}")
  }
}

object UncalledDefSpec {
  val mainRoot: Path = Paths.get("src/main/scala")
  val benchRoot: Path = Paths.get("perfbench/src")

  final case class Uncalled(file: Path, line: Int, name: String) {
    def key: String = file.getFileName.toString.stripSuffix(".scala") + "." + name
    override def toString: String = s"$file:$line: $name"
  }

  private val DefRe =
    ("""^(\s*)((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|""" +
      """final\s+|implicit\s+|@\w+\s+)*)def\s+([A-Za-z_]\w*)""").r
  private val Ident = """[A-Za-z_]\w*""".r
  private val Param = """[(,]\s*(?:implicit\s+|using\s+)?([A-Za-z_]\w*)\s*:""".r
  private val Hidden = """(private|protected)(?!\[graft\])""".r.unanchored

  /** Public and `private[graft]` defs under `defRoot` whose name occurs
    * nowhere in `roots` outside the def's own span. */
  def scan(roots: Seq[Path], defRoot: Path): Seq[Uncalled] = {
    roots.foreach(r => require(Files.isDirectory(r), r.toAbsolutePath))
    val files = roots.flatMap(scalaFiles).map(p =>
      p -> stripComments(new String(Files.readAllBytes(p), "UTF-8"))
        .split("\n", -1).toIndexedSeq).toMap
    // every def, hidden ones included: (file, line, span end, match)
    val allDefs = for {
      (p, lines) <- files.toSeq
      (l, i) <- lines.zipWithIndex
      m <- DefRe.findPrefixMatchOf(l)
    } yield (p, i, spanEnd(lines, i, m.group(1).length), m)
    val scopes = allDefs.map { case (p, i, end, m) =>
      (p, i, end, params(files(p), i, m.end, end)) }.groupBy(_._1)
    def shadowed(p: Path, i: Int, w: String) = scopes.getOrElse(p, Nil)
      .exists { case (_, d, end, ps) => ps(w) && d <= i && i < end }
    val defs = allDefs.filter { case (p, _, _, m) =>
      p.startsWith(defRoot) && !m.group(2).contains("override") &&
        Hidden.findFirstIn(m.group(2)).isEmpty }
    val names = defs.map(_._4.group(3)).toSet
    val uses = (for {
      (p, lines) <- files.toSeq
      (l, i) <- lines.zipWithIndex
      defined = DefRe.findPrefixMatchOf(l).map(_.start(3))
      w <- Ident.findAllMatchIn(l)
      if names(w.matched) && !defined.contains(w.start) && !shadowed(p, i, w.matched)
    } yield (w.matched, (p, i))).groupMap(_._1)(_._2)
    defs.filter { case (p, i, end, m) =>
      !uses.getOrElse(m.group(3), Nil).exists { case (q, j) => q != p || j < i || j >= end }
    }.map { case (p, i, _, m) => Uncalled(p, i + 1, m.group(3)) }
      .sortBy(u => (u.file.toString, u.line))
  }

  /** Parameter names of a def whose name ends at column `c` of line `i`:
    * the signature up to its `=` or `{` outside brackets. */
  private def params(lines: IndexedSeq[String], i: Int, c: Int,
      end: Int): Set[String] = {
    val sig = new StringBuilder
    var depth = 0
    var j = i
    var k = c
    var done = false
    while (!done && j < end) {
      val l = lines(j)
      while (!done && k < l.length) {
        val ch = l.charAt(k)
        if (ch == '(' || ch == '[') depth += 1
        else if (ch == ')' || ch == ']') depth -= 1
        else if (depth == 0 && (ch == '=' || ch == '{')) done = true
        sig.append(ch)
        k += 1
      }
      sig.append('\n'); j += 1; k = 0
    }
    Param.findAllMatchIn(sig).map(_.group(1)).toSet
  }

  private def scalaFiles(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** One past the last line of the def starting at line `i`: the lines
    * indented deeper than the def, plus a closing `}`/`)` at its indent. */
  private def spanEnd(lines: IndexedSeq[String], i: Int, indent: Int): Int = {
    var j = i + 1
    var open = true
    while (open && j < lines.length) {
      val l = lines(j)
      val t = l.trim
      val k = l.length - l.dropWhile(_.isWhitespace).length
      if (t.isEmpty || k > indent) j += 1
      else {
        if (k == indent && (t.head == '}' || t.head == ')')) j += 1
        open = false
      }
    }
    j
  }

  /** Drops `//` and (nested) `/* */` comments and blanks the text of
    * string literals (keeping their quotes and the code of interpolated
    * `$name` / `${…}` parts), with every newline in place, so line
    * numbers hold. Char literals stay intact. */
  def stripComments(s: String): String = {
    val out = new java.io.StringWriter
    val n = s.length
    var i = 0
    while (i < n) {
      if (s.startsWith("\"\"\"", i)) {
        var j = s.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && s.charAt(j) == '"') j += 1
        out.append(literal(s.substring(i, j), interpolated(s, i))); i = j
      } else if (s.charAt(i) == '"') {
        var j = i + 1
        while (j < n && s.charAt(j) != '"' && s.charAt(j) != '\n')
          j += (if (s.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out.append(literal(s.substring(i, j), interpolated(s, i))); i = j
      } else if (s.charAt(i) == '\'' && i + 3 < n && s.charAt(i + 1) == '\\' &&
          s.charAt(i + 3) == '\'') {
        out.append(s, i, i + 4); i += 4
      } else if (s.charAt(i) == '\'' && i + 2 < n && s.charAt(i + 2) == '\'') {
        out.append(s, i, i + 3); i += 3
      } else if (s.startsWith("//", i)) {
        val j = s.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (s.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (s.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (s.startsWith("*/", j)) { depth -= 1; j += 2 }
          else {
            if (s.charAt(j) == '\n') out.append('\n')
            j += 1
          }
        }
        i = j
      } else { out.append(s.charAt(i)); i += 1 }
    }
    out.toString
  }

  private def interpolated(s: String, i: Int): Boolean =
    i > 0 && Character.isJavaIdentifierPart(s.charAt(i - 1))

  /** A string literal with its text blanked: quotes and newlines stay,
    * and in an interpolated literal so does the code of `$name` and
    * `${…}`. */
  private def literal(t: String, interp: Boolean): String = {
    val b = new StringBuilder
    var k = 0
    while (k < t.length) {
      val c = t.charAt(k)
      val next = if (k + 1 < t.length) t.charAt(k + 1) else ' '
      if (interp && c == '$' && next == '{') {
        var depth = 0
        var e = k + 1
        while ({
          if (t.charAt(e) == '{') depth += 1
          else if (t.charAt(e) == '}') depth -= 1
          e += 1
          depth > 0 && e < t.length
        }) ()
        b.append(' ').append(t.substring(k + 1, e)); k = e
      } else if (interp && c == '$' && Character.isJavaIdentifierStart(next)) {
        var e = k + 1
        while (e < t.length && Character.isJavaIdentifierPart(t.charAt(e))) e += 1
        b.append(' ').append(t.substring(k + 1, e)); k = e
      } else if (interp && c == '$' && next == '$') { b.append("  "); k += 2 }
      else { b.append(if (c == '\n' || c == '"') c else ' '); k += 1 }
    }
    b.toString
  }
}
