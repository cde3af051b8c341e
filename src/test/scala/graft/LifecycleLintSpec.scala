package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: one materialization lifecycle and no experiment flags.
  *
  * Every cache and checkpoint in the program goes through
  * [[graft.Materialize]], so `releaseAll()` can return all of their memory;
  * a raw `.localCheckpoint(`, `.cache()` or `.persist(` elsewhere would be
  * a second lifecycle that nothing releases. Conf-keyed experiment flags
  * (`graft.pin.*`, `graft.d20.*`, `graft.d21.*`) were deleted once their
  * measurements settled; this keeps them from creeping back.
  */
class LifecycleLintSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (file, trimmed code line) pairs allowed to materialize directly.
    * `Expectations.split` persists its tagged frame at a caller-chosen
    * storage level and hands the caller `Split.release` as its handle.
    */
  private val Allowed = Set(
    "graft/operators/Expectations.scala" -> "else tagged0.persist(storage)")

  private val RawMaterialize = Seq(".localCheckpoint(", ".cache()", ".persist(")
  private val FlagKeys = Seq("\"graft.pin.", "\"graft.d20.", "\"graft.d21.")

  /** (path relative to src/main/scala, code lines with comments blanked). */
  private lazy val sources: Seq[(String, IndexedSeq[String])] = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no Scala sources under ${root.toAbsolutePath}")
    files.map { p: Path =>
      root.relativize(p).toString.replace('\\', '/') ->
        LifecycleLintSpec.stripComments(new String(Files.readAllBytes(p), "UTF-8"))
          .split("\n", -1).toIndexedSeq
    }.sortBy(_._1)
  }

  private def hits(patterns: Seq[String], skip: String => Boolean): Seq[String] =
    for {
      (file, lines) <- sources if !skip(file)
      (line, i) <- lines.zipWithIndex
      if patterns.exists(line.contains) && !Allowed(file -> line.trim)
    } yield s"$file:${i + 1}: ${line.trim}"

  test("materialize only through graft.Materialize") {
    val raw = hits(RawMaterialize, _ == "graft/Materialize.scala")
    assert(raw.isEmpty, "raw cache/persist/localCheckpoint outside Materialize:\n" +
      raw.mkString("\n"))
  }

  test("the allow-list names only lines that exist") {
    val present = sources.flatMap { case (f, ls) => ls.map(l => f -> l.trim) }.toSet
    assert((Allowed -- present).isEmpty, s"stale allow-list entries: ${Allowed -- present}")
  }

  test("no graft.pin / graft.d20 / graft.d21 experiment flags") {
    val flags = hits(FlagKeys, _ => false)
    assert(flags.isEmpty, "experiment flag keys:\n" + flags.mkString("\n"))
  }

  test("the comment stripper keeps strings and line numbers") {
    val src = "a // x.cache()\n/* b.persist(\n */ s\"//k\" '\"' c /** d */ e"
    val out = LifecycleLintSpec.stripComments(src)
    assert(out.split("\n", -1).length == 3)
    assert(!out.contains("cache") && !out.contains("persist"))
    assert(out.contains("s\"//k\"") && out.contains("'\"' c") && out.trim.endsWith("e"))
  }
}

object LifecycleLintSpec {
  /** Blank out Scala comments (line, block, nested block) but keep string
    * and char literals and every newline, so a hit's line number is the
    * source line's.
    */
  def stripComments(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    def blank(c: Char): Unit = out += (if (c == '\n') '\n' else ' ')
    while (i < s.length) {
      val c = s(i)
      if (s.startsWith("//", i)) {
        while (i < s.length && s(i) != '\n') { blank(s(i)); i += 1 }
      } else if (s.startsWith("/*", i)) {
        var depth = 0
        do {
          if (s.startsWith("/*", i)) { depth += 1; blank('/'); blank('*'); i += 2 }
          else if (s.startsWith("*/", i)) { depth -= 1; blank('*'); blank('/'); i += 2 }
          else { blank(s(i)); i += 1 }
        } while (depth > 0 && i < s.length)
      } else if (s.startsWith("\"\"\"", i)) {
        val end = s.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) s.length else end + 3
        out ++= s.substring(i, stop); i = stop
      } else if (c == '"') {
        var j = i + 1
        while (j < s.length && s(j) != '"' && s(j) != '\n') j += (if (s(j) == '\\') 2 else 1)
        val stop = math.min(j + 1, s.length)
        out ++= s.substring(i, stop); i = stop
      } else if (c == '\'' && i + 2 < s.length && (s(i + 2) == '\'' || s(i + 1) == '\\')) {
        // 'x' or an escape like '\'' / '\u0001': the close quote comes after
        // the escaped character
        val close = s.indexOf('\'', if (s(i + 1) == '\\') i + 3 else i + 2)
        val stop = if (close < 0) s.length else close + 1
        out ++= s.substring(i, stop); i = stop
      } else { out += c; i += 1 }
    }
    out.toString
  }
}
