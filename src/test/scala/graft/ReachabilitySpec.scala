package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import SourceScan.{code, scalaFiles}

/** Every public `def` or `val` declared directly in a top-level `object`
  * under `src/main/scala` is reached from an entry point: a `main`, or
  * `SparkEntry.entry`, the flagship query an external smoke check runs. A
  * member only a spec uses belongs under `src/test`; one nothing uses is
  * deleted. */
class ReachabilitySpec extends AnyFunSuite {
  import ReachabilitySpec.unreached

  test("every public object member in src/main is reached from an entry point") {
    val main = scalaFiles("src/main/scala")
    val sources = (main ++ scalaFiles("perfbench/src")).map(p => p -> Files.readString(p))
    val missing = unreached(sources, main.toSet)
    assert(missing.isEmpty, s"unreached public members:\n${missing.mkString("\n")}")
  }

  test("uses resolve through the object; strings and same-named members reach nothing") {
    val lib = Paths.get("lib.scala")
    val app = Paths.get("app.scala")
    val sources = Seq(
      lib -> """object Lib {
               |  def viaName(x: Int): Int = x
               |  def apply(x: Int): Int = x
               |  def nextLine: Int = 1
               |  def imported: Int = 2
               |  val splice = 3
               |  def inOwnFile: Int = 4
               |  def caller: Int = inOwnFile
               |  def inString: Int = { require(true, "inString: bad"); 5 }
               |  def shared: Int = 6
               |  def deadCaller: Int = deadCallee
               |  def deadCallee: Int = 7
               |  private def hidden: Int = 8
               |}
               |""".stripMargin,
      app -> """import Lib.{imported => im}
               |object App {
               |  def main(args: Array[String]): Unit = {
               |    // Lib.deadCaller is only named in this comment
               |    println(Lib.viaName(1) + Lib(2) + im + Lib.caller)
               |    println(s"${Lib.splice} inString shared")
               |    println(Lib
               |      .nextLine + Other.shared)
               |  }
               |}
               |object Other { def shared: Int = 0 }
               |""".stripMargin)
    assert(unreached(sources, Set(lib, app)) == Seq(
      "Lib.inString (lib.scala:9)", "Lib.shared (lib.scala:10)",
      "Lib.deadCaller (lib.scala:11)", "Lib.deadCallee (lib.scala:12)"))
  }
}

object ReachabilitySpec {

  /** A def or val declared directly in top-level object `obj`; it spans
    * lines [from, until) of `file`. */
  private final case class Member(obj: String, name: String, file: Path,
      from: Int, until: Int, public: Boolean, entry: Boolean)

  private val topObject =
    raw"^(?:(?:private|protected)(?:\[\w+\])?\s+)?(?:case\s+)?object\s+(\w+)".r
  private val declaration =
    raw"^  ((?:[a-z]+(?:\[\w+\])?\s+)*)(?:def|val)\s+([A-Za-z_]\w*)".r
  // an object-level line (member, annotation, nested type) or an object's end
  private val objectLevel = raw"^(?:  )?[^\s})\]]|^}".r
  private val importClause = raw"\bimport\s+([\w.]+)\.(_|\*|\w+|\{[^}]*\})".r
  private val qualified = raw"(?=(?<![\w$$])([A-Z]\w*)\s*\.\s*([A-Za-z_]\w*))".r
  private val applied =
    raw"(?<!(?:new|class|trait)\s{1,4})(?<![\w$$.])([A-Z]\w*)\s*(?:\[[^\]\n]*\])?\s*\(".r
  // a bare identifier (group 1): a use unless a keyword declares it, or a
  // `:` or `=` after it (group 2) binds it as a parameter or named argument
  private val bare = raw"(?<![\w.])(?:(?:def|val|var|class|object|trait|type)\s+)?([A-Za-z_]\w*)(?=(\s*(?::(?!:|\s*_\*)|=(?![=>])))?)".r

  /** The public object members declared in the `main` files of `sources`
    * (path, text) that no entry point reaches, as `Obj.name (file:line)`.
    *
    * A member is used only through its object: `Obj.name` (`Obj(` for
    * `apply`), an import of `Obj._`, `Obj.{…}` or `Obj.name` followed by a
    * bare use in that file, or a bare use in the object's own file. A use
    * counts where it sits outside every object member, or inside a reached
    * one. Comments and string text are blanked first, so neither another
    * object's member of the same name nor an error message that repeats the
    * name reaches anything. */
  def unreached(sources: Seq[(Path, String)], main: Set[Path]): Seq[String] = {
    // per file: its code with import clauses blanked, and those clauses as
    // (object, selector)
    val texts = sources.map { case (p, src) =>
      val c = code(src)
      val imports = importClause.findAllMatchIn(c).toSeq
      val blanked = new StringBuilder(c)
      for (m <- imports; i <- m.start until m.end if c(i) != '\n') blanked(i) = ' '
      p -> (blanked.toString, imports.map(m => (m.group(1).split('.').last, m.group(2))))
    }.toMap
    val members = sources.map(_._1).filter(main).flatMap(p =>
      declared(p, texts(p)._1.split("\n", -1).toIndexedSeq))

    // (object, member) -> (file, line) of each qualified use
    val qualifiedUses = mutable.Map.empty[(String, String), List[(Path, Int)]]
    // (file, name) -> lines of its bare uses in that file
    val bareUses = mutable.Map.empty[(Path, String), List[Int]]
    for ((p, (t, _)) <- texts) {
      val newlines = t.indices.filter(t(_) == '\n').toArray
      def line(offset: Int) = {
        val i = java.util.Arrays.binarySearch(newlines, offset)
        if (i >= 0) i else -i - 1
      }
      def add(k: (String, String), at: Int) =
        qualifiedUses(k) = (p, line(at)) :: qualifiedUses.getOrElse(k, Nil)
      qualified.findAllMatchIn(t).foreach(m => add((m.group(1), m.group(2)), m.start))
      applied.findAllMatchIn(t).foreach(m => add((m.group(1), "apply"), m.start))
      for (m <- bare.findAllMatchIn(t) if m.matched == m.group(1) && m.group(2) == null)
        bareUses((p, m.group(1))) = line(m.start) :: bareUses.getOrElse((p, m.group(1)), Nil)
    }
    // the local names under which `file` imports `obj.name`
    def importedAs(file: Path, obj: String, name: String): Seq[String] =
      texts(file)._2.filter(_._1 == obj).flatMap {
        case (_, "_" | "*") => Seq(name)
        case (_, sel) if !sel.startsWith("{") => Seq(name).filter(_ == sel)
        case (_, sel) => sel.stripPrefix("{").stripSuffix("}").split(",").toSeq
          .map(_.split("=>").map(_.trim)).collect {
            case Array("_" | "*") => name
            case Array(`name`) => name
            case Array(`name`, alias) if alias != "_" => alias
          }
      }
    val uses: Map[Member, Seq[(Path, Int)]] = members.map { m =>
      m -> (qualifiedUses.getOrElse((m.obj, m.name), Nil) ++
        texts.keys.toSeq.flatMap(f => importedAs(f, m.obj, m.name)
          .flatMap(n => bareUses.getOrElse((f, n), Nil).map(f -> _))) ++
        bareUses.getOrElse((m.file, m.name), Nil).map(m.file -> _))
    }.toMap

    val byFile = members.groupBy(_.file)
    val reached = mutable.Set.empty[Member] ++ members.filter(_.entry)
    def live(at: (Path, Int)) = byFile.getOrElse(at._1, Nil)
      .find(m => m.from <= at._2 && at._2 < m.until).forall(reached)
    var grew = true
    while (grew) {
      val more = members.filter(m => !reached(m) && uses(m).exists(live))
      reached ++= more
      grew = more.nonEmpty
    }
    members.filter(m => m.public && !reached(m))
      .map(m => s"${m.obj}.${m.name} (${m.file}:${m.from + 1})")
  }

  /** The members declared in `lines`, the code of `file`. */
  private def declared(file: Path, lines: IndexedSeq[String]): Seq[Member] = {
    var obj = Option.empty[String]
    val owner = lines.map { l =>
      topObject.findFirstMatchIn(l) match {
        case Some(m) => obj = Some(m.group(1))
        case None => if (l.nonEmpty && !l.startsWith(" ") && !l.startsWith("}")) obj = None
      }
      obj
    }
    val marks = lines.indices.filter(i => objectLevel.findFirstIn(lines(i)).isDefined)
    for {
      (l, i) <- lines.zipWithIndex
      o <- owner(i).toSeq
      m <- declaration.findFirstMatchIn(l).toSeq
    } yield {
      val mods = m.group(1).split("\\s+").filter(_.nonEmpty)
      val name = m.group(2)
      Member(o, name, file, i, marks.find(_ > i).getOrElse(lines.length),
        public = !mods.exists(x => x.startsWith("private") || x.startsWith("protected")),
        entry = name == "main" || mods.contains("override") ||
          (o == "SparkEntry" && name == "entry"))
    }
  }
}
