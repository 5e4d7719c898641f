package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint for test-only code. Every non-`override`, non-`implicit`
  * declaration in `src/main` (`def`, `val`, `lazy val`, `object`,
  * `class`, `case class`, `trait`, `type`) must be used somewhere else in
  * `src/main` (comments stripped) or in a `perfbench/src` file, i.e. have
  * a caller on a runnable path, or be on [[allowed]] with a one-line
  * reason. A definition that only specs reach is code the product carries
  * for no user; it either gets a caller or a written justification here.
  * `-Wunused` cannot do this: it only sees private members.
  *
  * A use is the bare name in the declaring file; in another file, the
  * bare name only for a top-level declaration, and otherwise a qualified
  * `Owner.name`, an import of it, or the bare name under `import Owner._`
  * (any `x.name` for a class or trait member, called on an instance). So a
  * local that shares a member's name elsewhere does not keep it alive. */
class TestOnlyCodeLintSpec extends AnyFunSuite {
  import TestOnlyCodeLintSpec._

  private val ngsiExample = "the reference's Example entry point in NgsiStreams"

  /** Name → why it stays without a caller on a runnable path. */
  private val allowed: Map[String, String] = Map(
    "avgTemperatureStream" -> s"$ngsiExample (Example4's windowed average)",
    "minBusPriceStream" -> s"$ngsiExample (Example5's structured-attribute minimum)",
    "toConsole" -> s"$ngsiExample (Example1's console sink)",
    "toOrionAndConsole" -> s"$ngsiExample (Example2/3's broker-and-console sink)",
    "toOrion" -> s"$ngsiExample (Example2's broker sink)",
    "joinSensorStreams" -> "NgsiStreams' watermarked stream-stream join (SURVEY §2B)",
    "OrionSubscriptionClient" ->
      "the reference's curl_SubscribeToEntityNotifications.sh step",
    "GraftExtensions" -> "loaded by name through spark.sql.extensions")

  private def scalaFiles(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
  }

  test("the scan counts interpolated names, ignores comments and skips implicits and mains") {
    val src =
      """object Demo {
        |  val FormatVersion = 3
        |  def tag(v: Int) = s"v$FormatVersion-$v" + "a class Ghost"
        |  // onlyInComment is named here and nowhere else
        |  def onlyInComment = 1
        |  implicit val ord: Ordering[Int] = Ordering.Int
        |  case class Unused(x: Int)
        |  def main(args: Array[String]): Unit = println(tag(1))
        |}""".stripMargin
    assert(!stripComments(src).contains("onlyInComment is named"))
    assert(uncalled(Seq("Demo.scala" -> src), Nil) ===
      Seq("onlyInComment" -> "Demo.scala:5", "Unused" -> "Demo.scala:7"))
  }

  test("a member is used by its owner's name, an import of it or its own file, not by a namesake") {
    val a = "A.scala" -> "object A { def names = 1 }"
    val b = "B.scala" ->
      """object B {
        |  def f = {
        |    val names = 2
        |    names
        |  }
        |  def main(args: Array[String]): Unit = println(f + A.hashCode)
        |}""".stripMargin
    assert(uncalled(Seq(a, b), Nil) === Seq("names" -> "A.scala:1"))
    def callerSays(from: String, to: String) = Seq(a, b._1 -> b._2.replace(from, to))
    assert(uncalled(callerSays("A.hashCode", "A.names"), Nil).isEmpty)
    assert(uncalled(callerSays("  def main", "  import A.{names => n}\n  def main"), Nil).isEmpty)
    assert(uncalled(Seq(a, "C.scala" -> "import A._\nobject C { def main(args: Array[String]) = names }"), Nil)
      .isEmpty)
    assert(uncalled(Seq("D.scala" -> "class D { def names = 1 }", "E.scala" -> "object E { new D().names }"),
      Nil) === Seq("E" -> "E.scala:1"))
    assert(uncalled(Seq(a), Seq("Bench.scala" -> "object Bench { val names = A.hashCode }")) ===
      Seq("names" -> "A.scala:1"))
  }

  test("every src/main def has a caller on a runnable path or an allowlisted reason") {
    val main = scalaFiles(Paths.get("src/main")).map(p => p.toString -> Files.readString(p))
    assert(main.nonEmpty, "no Scala sources under src/main")
    val bench = scalaFiles(Paths.get("perfbench/src")).map(p => p.toString -> Files.readString(p))
    val found = uncalled(main, bench)

    val unlisted = found.filterNot { case (name, _) => allowed.contains(name) }
    assert(unlisted.isEmpty,
      "declarations only tests reach (give each a caller, delete it, or allowlist it " +
        "with a reason): " + unlisted.map { case (name, at) => s"$name ($at)" }.mkString(", "))
    val stale = allowed.keySet -- found.map(_._1)
    assert(stale.isEmpty,
      s"allowlisted names that now have a caller or no longer exist: ${stale.toSeq.sorted.mkString(", ")}")
  }
}

object TestOnlyCodeLintSpec {

  private val declaration =
    "(?:^|[^\\w$.])(def|val|object|class|trait|type)[ \\t]+([A-Za-z_]\\w*)".r
  private val mainDef = "(?:^|[^\\w$.])def[ \\t]+main\\b".r
  /** Identifiers split at `$`, so `s"v$FormatVersion"` names `FormatVersion`. */
  private val word = "[A-Za-z_]\\w*".r

  def words(code: String): Seq[String] = word.findAllIn(code).toSeq

  /** `src` with `//` and (nested) `/* */` comments removed; newlines are
    * preserved, so line numbers still match the file. String and
    * character literals are kept verbatim, or with `blankStrings` turned
    * into spaces of the same length, so literal text is never read as a
    * declaration. */
  def stripComments(src: String, blankStrings: Boolean = false): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String, k: Int) = src.startsWith(s, k)
    def literal(j: Int): Unit = {
      val text = src.substring(i, j)
      out ++= (if (blankStrings) text.map(c => if (c == '\n') c else ' ') else text)
      i = j
    }
    while (i < n) {
      if (at("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src(j) == '"') j += 1
        literal(j)
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        literal(math.min(j + 1, n))
      } else if (src(i) == '\'' && i + 2 < n &&
                 (src(i + 2) == '\'' || (src(i + 1) == '\\' && at("'", i + 3)))) {
        literal(src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2) + 1)
      } else if (at("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (at("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (at("/*", j)) { depth += 1; j += 2 }
          else if (at("*/", j)) { depth -= 1; j += 2 }
          else { if (src(j) == '\n') out += '\n'; j += 1 }
        }
        i = j
      } else { out += src(i); i += 1 }
    }
    out.result()
  }

  private val continued = "\\s*(extends|with|[({])".r

  /** Where the body of the object, class or trait declared just before
    * `from` in `code` opens and closes (the index after its `}`). The
    * header's parameter lists and its `extends`/`with` clauses, even on
    * later lines, are skipped; a header that ends without `{` has no body. */
  private def body(code: String, from: Int): Option[(Int, Int)] = {
    var depth = 0
    var open = -1
    var j = from
    while (open < 0 && j < code.length) {
      code(j) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case '{' if depth == 0 => open = j
        case '}' | ';' if depth == 0 => return None
        case '\n' if depth == 0 &&
                      continued.findPrefixOf(code.substring(j, math.min(code.length, j + 200))).isEmpty =>
          return None
        case _ =>
      }
      j += 1
    }
    if (open < 0) return None
    depth = 1
    while (j < code.length && depth > 0) {
      if (code(j) == '{') depth += 1 else if (code(j) == '}') depth -= 1
      j += 1
    }
    Some((open, j))
  }

  /** What one file says about names: how often it writes each word, the
    * `Owner.name` pairs it writes or imports, the words it writes after a
    * `.`, and the owners it imports with a wildcard. */
  private final case class Mentions(bare: Map[String, Int], qualified: Set[(String, String)],
                                    dotted: Set[String], wildcards: Set[String])

  private val importLine = "(?m)^[ \\t]*import[ \\t]+(.*)$".r
  private val selectors = "([A-Za-z_]\\w*)\\s*\\.\\s*\\{([^}]*)\\}".r
  private val wildcard = "([A-Za-z_]\\w*)\\s*\\.\\s*[_*](?!\\w)".r

  private def mentions(code: String): Mentions = {
    val ws = word.findAllMatchIn(code).toIndexedSeq
    val after = ws.zip(ws.drop(1)).flatMap { case (prev, m) =>
      val gap = code.substring(prev.end, m.start).trim
      if (gap == ".") Some(prev.matched -> m.matched)
      else Option.when(gap.endsWith("."))("" -> m.matched)
    }
    val imports = importLine.findAllMatchIn(code).map(_.group(1)).toSeq
    val selected = for {
      sel <- imports.flatMap(selectors.findAllMatchIn)
      name <- sel.group(2).split(",").map(_.split("=>")(0).trim)
    } yield (sel.group(1), name)
    Mentions(
      bare = ws.map(_.matched).groupMapReduce(identity)(_ => 1)(_ + _),
      qualified = (after ++ selected).toSet,
      dotted = after.map(_._2).toSet,
      wildcards = imports.flatMap(wildcard.findAllMatchIn).map(_.group(1)).toSet ++
        selected.collect { case (owner, "_" | "*") => owner })
  }

  /** (name, file:line) of every declaration in `sources` ((file, text)
    * pairs) that no other line of its file and no other file of `sources`
    * or `elsewhere` uses, in the sense of the class doc. `override` and
    * `implicit` declarations are skipped, and so are `main` and the
    * objects that define it: sbt runs them. */
  def uncalled(sources: Seq[(String, String)], elsewhere: Seq[(String, String)]): Seq[(String, String)] = {
    val code = sources.map { case (file, src) =>
      (file, stripComments(src).split("\n", -1), stripComments(src, blankStrings = true))
    }
    val said: Map[String, Mentions] =
      (sources ++ elsewhere).map { case (file, src) => file -> mentions(stripComments(src)) }.toMap
    for {
      (file, lines, decls) <- code
      lineStarts = lines.scanLeft(0)(_ + _.length + 1)
      found = declaration.findAllMatchIn(decls).toIndexedSeq
      owners = found.filter(m => Set("object", "class", "trait")(m.group(1)))
        .flatMap(m => body(decls, m.end).map { case (open, close) => (m.group(2), m.group(1), open, close) })
      m <- found
      name = m.group(2)
      k = lineStarts.lastIndexWhere(_ <= m.start(2))
      modifiers = words(decls.substring(lineStarts(k), m.start(1)))
      if !modifiers.exists(Set("override", "implicit")) && name != "main"
      if !(m.group(1) == "object" &&
           body(decls, m.end).exists { case (open, close) => mainDef.findFirstIn(decls.substring(open, close)).isDefined })
      owner = owners.filter { case (_, _, open, close) => open < m.start(1) && m.start(1) < close }
        .maxByOption(_._3)
      usedHere = said(file).bare.getOrElse(name, 0) > words(lines(k)).count(_ == name)
      usedElsewhere = said.exists { case (other, says) =>
        other != file && (owner match {
          case None => says.bare.contains(name)
          case Some((o, kind, _, _)) =>
            says.qualified((o, name)) || (says.wildcards(o) && says.bare.contains(name)) ||
              (kind != "object" && says.dotted(name))
        })
      }
      if !usedHere && !usedElsewhere
    } yield name -> s"$file:${k + 1}"
  }
}
