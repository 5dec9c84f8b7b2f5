package graft

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

/** Source lint over src/main/scala/graft for the specs that keep one
  * construct in one place. */
object SourceLint {
  private val srcDir = Paths.get("src/main/scala/graft")

  /** Comments blanked (newlines kept, so offsets map to lines). */
  def code(src: String): String =
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(src,
      m => java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))

  /** The comment-blanked source of one file under src/main/scala/graft. */
  def codeOf(file: String): String =
    code(new String(Files.readAllBytes(srcDir.resolve(file)), "UTF-8"))

  /** Every match of `rx` in src/main/scala/graft's code, as (file
    * relative to that directory, line number, the line trimmed). */
  def sites(rx: Regex): Seq[(String, Int, String)] = {
    import scala.jdk.CollectionConverters._
    Files.walk(srcDir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
      .flatMap { p =>
        val src = codeOf(srcDir.relativize(p).toString)
        rx.findAllMatchIn(src).map { m =>
          val line = src.substring(0, m.start).count(_ == '\n') + 1
          (srcDir.relativize(p).toString, line, src.linesIterator.drop(line - 1).next().trim)
        }
      }
  }
}
