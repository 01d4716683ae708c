package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** "One way to do each thing", checked over the source of
  * `src/main/scala` (comments blanked out, so prose may name anything):
  *
  *  - a staged asset is read only through `Staged.read`, never through
  *    `read.parquet(Staged.path(…))`, which skips the schema memo and
  *    runs one inference job per read;
  *  - `foreachBatch` and `Trigger.AvailableNow` appear only inside
  *    `EventStreams.drain`, so every streaming twin goes through the
  *    one micro-batch skeleton;
  *  - `Staged.isFresh`, `Staged.versionOf` and `Staged.groupOf` are
  *    called only inside `Staged.scala`: whether a staged asset is
  *    stale, and its lineage stamp, are decided by its `Staged.Family`.
  */
class SourceLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path relative to the root, source with comments blanked) */
  private lazy val sources: Seq[(String, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
    assert(files.nonEmpty, s"no Scala sources under ${root.toAbsolutePath}")
    files.map(p => root.relativize(p).toString ->
      SourceLintSpec.blankComments(Files.readString(p)))
  }

  private def lineOf(src: String, offset: Int): Int =
    src.substring(0, offset).count(_ == '\n') + 1

  test("staged assets are read only through Staged.read") {
    val bypass = """read\.parquet\(\s*(graft\.ops\.)?Staged\.path\b""".r
    val hits = for {
      (file, src) <- sources
      m <- bypass.findAllMatchIn(src)
    } yield s"$file:${lineOf(src, m.start)}"
    assert(hits.isEmpty, "read.parquet(Staged.path(…)) bypasses " +
      s"Staged.read at: ${hits.mkString(", ")}")
  }

  test("foreachBatch and Trigger.AvailableNow appear only inside drain") {
    val skeleton = """\bforeachBatch\b|\bTrigger\.AvailableNow\b""".r
    val definition = """\bdef\s+(\w+)""".r
    val hits = for {
      (file, src) <- sources
      m <- skeleton.findAllMatchIn(src)
    } yield {
      val owner = definition.findAllMatchIn(src.substring(0, m.start))
        .map(_.group(1)).toSeq.lastOption.getOrElse("<none>")
      (file, lineOf(src, m.start), m.matched, owner)
    }
    val outside = hits.filterNot { case (file, _, _, owner) =>
      file == "graft/streaming/EventStreams.scala" && owner == "drain"
    }
    assert(outside.isEmpty, "micro-batch skeleton outside " +
      "EventStreams.drain: " + outside.map { case (f, l, what, owner) => s"$what in $owner at $f:$l" }
        .mkString(", "))
    assert(hits.count(_._3 == "foreachBatch") === 1,
      "foreachBatch must appear exactly once, inside drain")
  }

  test("staged freshness and stamps are read only inside Staged") {
    val check = """\bStaged\.(isFresh|versionOf|groupOf)\b""".r
    val hits = for {
      (file, src) <- sources if file != "graft/ops/Staged.scala"
      m <- check.findAllMatchIn(src)
    } yield s"${m.matched} at $file:${lineOf(src, m.start)}"
    assert(hits.isEmpty, "a freshness or stamp check outside " +
      s"Staged.Family: ${hits.mkString(", ")}")
  }
}

object SourceLintSpec {

  /** `src` with every `//` and (nested) `/* */` comment replaced by
    * spaces, newlines kept, so offsets and line numbers still match.
    * String and character literals are left alone, so a `//` inside
    * one is not taken for a comment.
    */
  def blankComments(src: String): String = {
    val out = new StringBuilder(src)
    def blank(from: Int, until: Int): Unit =
      (from until until).foreach(i => if (out(i) != '\n') out(i) = ' ')
    var i = 0
    val n = src.length
    def at(j: Int, s: String): Boolean = src.startsWith(s, j)
    while (i < n) {
      if (at(i, "//")) {
        val end = src.indexOf('\n', i) match { case -1 => n; case e => e }
        blank(i, end)
        i = end
      } else if (at(i, "/*")) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (at(j, "/*")) { depth += 1; j += 2 }
          else if (at(j, "*/")) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j)
        i = j
      } else if (at(i, "\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3) match {
          case -1 => n
          case e => e + 3
        }
        i = end
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        i = j + 1
      } else if (src(i) == '\'' && i + 2 < n &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        // a character literal ('x' or '\n'); a lone ' is a symbol quote
        val close = src.indexOf('\'', i + 2)
        i = if (close == -1) n else close + 1
      } else i += 1
    }
    out.toString
  }
}
