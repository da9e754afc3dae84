package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Reads the project's own Scala sources for the specs that check the code
  * base itself (one session builder, reachability of public members). */
object SourceScan {

  /** Every `.scala` file under `root`, sorted. */
  def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  /** The code of `src`: `//` and (nested) block comments removed, and the
    * text of string and character literals blanked. The quotes stay, and so
    * do the `${…}` and `$name` splices of interpolated strings, which are
    * code. Line breaks are preserved, so line numbers still match. */
  def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    val charLit = raw"'(?:[^'\\\n]|\\(?:u[0-9a-fA-F]{4}|.))'".r
    def isIdent(c: Char) = c.isLetterOrDigit || c == '_'

    // copies code up to the end, or (in a splice) up to its closing brace
    def codeUntilClose(inSplice: Boolean): Unit = {
      var depth = 0
      while (i < n) {
        val c = src(i)
        val lit =
          if (c != '\'') 0
          else charLit.findPrefixOf(src.substring(i, math.min(n, i + 8))).fold(0)(_.length)
        if (src.startsWith("//", i)) {
          while (i < n && src(i) != '\n') i += 1
        } else if (src.startsWith("/*", i)) blockComment()
        else if (c == '"') string(i > 0 && isIdent(src(i - 1)))
        else if (lit > 0) { i += lit; out ++= "''" }
        else {
          if (inSplice && c == '{') depth += 1
          if (inSplice && c == '}') {
            if (depth == 0) return
            depth -= 1
          }
          out += c; i += 1
        }
      }
    }

    def blockComment(): Unit = {
      var depth = 1
      i += 2
      while (i < n && depth > 0) {
        if (src.startsWith("/*", i)) { depth += 1; i += 2 }
        else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      }
    }

    def string(interpolated: Boolean): Unit = {
      val triple = src.startsWith("\"\"\"", i)
      i += (if (triple) 3 else 1)
      out += '"'
      var open = true
      while (open && i < n) {
        val c = src(i)
        if (triple && src.startsWith("\"\"\"", i)) {
          i += 3
          while (i < n && src(i) == '"') i += 1
          open = false
        } else if (!triple && c == '"') { i += 1; open = false }
        else if (!triple && c == '\n') open = false
        else if (interpolated && src.startsWith("$$", i)) i += 2
        else if (interpolated && src.startsWith("${", i)) {
          out ++= "${"; i += 2
          codeUntilClose(inSplice = true)
          if (i < n) { out += '}'; i += 1 }
        } else if (interpolated && c == '$' && i + 1 < n && isIdent(src(i + 1))) {
          out += '$'; i += 1
          while (i < n && isIdent(src(i))) { out += src(i); i += 1 }
        } else if (!triple && c == '\\') i += 2
        else {
          if (c == '\n') out += '\n'
          i += 1
        }
      }
      out += '"'
    }

    codeUntilClose(inSplice = false)
    out.toString
  }
}
