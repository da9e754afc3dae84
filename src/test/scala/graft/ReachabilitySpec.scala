package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every public def declared directly in a top-level `object` under
  * `src/main/scala` is named somewhere else in the main code or the
  * benchmark (`perfbench/src`, which compiles against it). A def only a
  * spec calls belongs under `src/test`; one nothing calls is deleted. The
  * check is by name over comment-stripped lines, so a def whose name a
  * comment alone mentions still counts as unreached. */
class ReachabilitySpec extends AnyFunSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  /** The source with `//` and (nested) block comments blanked out; string
    * and character literals are kept, line breaks preserved. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    var depth = 0
    while (i < n) {
      if (depth > 0) {
        if (src.startsWith("/*", i)) { depth += 1; i += 2 }
        else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
        else { if (src(i) == '\n') out += '\n'; i += 1 }
      } else if (src.startsWith("/*", i)) { depth = 1; i += 2 }
      else if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        var j = if (end < 0) n else end + 3
        while (j < n && src(j) == '"') j += 1
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= src.substring(i, j); i = j
      } else if (src.startsWith("'\"'", i)) { out ++= "'\"'"; i += 3 }
      else { out += src(i); i += 1 }
    }
    out.toString
  }

  test("every public object-level def in src/main is reached by name") {
    val topObject = raw"^(?:(?:private|protected)(?:\[\w+\])?\s+)?(?:case\s+)?object\s+(\w+)".r
    val memberDef = raw"^  ((?:[a-z]+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)".r
    val word = raw"[A-Za-z_]\w*".r
    val main = scalaFiles("src/main/scala")
    val lines: Seq[(Path, Array[String])] =
      (main ++ scalaFiles("perfbench/src"))
        .map(p => p -> stripComments(Files.readString(p)).split("\n", -1))
    // name -> number of lines naming it, across both trees
    val linesNaming = lines.flatMap(_._2)
      .flatMap(l => word.findAllIn(l).toSet)
      .groupBy(identity).view.mapValues(_.size).toMap
    val unreached = for {
      (path, ls) <- lines if main.contains(path)
      obj = ls.scanLeft(Option.empty[String]) { (cur, l) =>
        topObject.findFirstMatchIn(l).map(m => Option(m.group(1)))
          .getOrElse(if (l.nonEmpty && !l.startsWith(" ") && !l.startsWith("}")) None
            else cur)
      }.tail
      (l, Some(o)) <- ls.zip(obj)
      m <- memberDef.findFirstMatchIn(l).toSeq
      mods = m.group(1).split("\\s+").filter(_.nonEmpty)
      name = m.group(2)
      if !mods.exists(x => x.startsWith("private") || x.startsWith("protected") ||
        x == "override") && name != "main"
      if linesNaming.getOrElse(name, 0) <= 1
    } yield s"$o.$name (${path.toString})"
    assert(unreached.isEmpty,
      s"unreached public defs:\n${unreached.mkString("\n")}")
  }
}
