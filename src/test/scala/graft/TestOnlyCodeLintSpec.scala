package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint for test-only code. Every non-`override`, non-`implicit`
  * declaration in `src/main` (`def`, `val`, `lazy val`, `object`,
  * `class`, `case class`, `trait`, `type`) must be named somewhere else in
  * `src/main` (comments stripped) or in a `perfbench/src` file, i.e. have
  * a caller on a runnable path, or be on [[allowed]] with a one-line
  * reason. A definition that only specs reach is code the product carries
  * for no user; it either gets a caller or a written justification here.
  * `-Wunused` cannot do this: it only sees private members. */
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
    "GraftExtensions" -> "loaded by name through spark.sql.extensions",
    "hilbertCodedForSpec" -> "Relational: spec accessor to the private Hilbert coding",
    "zorderCodedForSpec" -> "Relational: spec accessor to the private Z-order coding",
    "hilbertCodedUnrolled" ->
      "Relational: reference implementation the native graft_hilbert is compared against",
    "bucketOf" -> "Sketches: JVM CMS bucket twin SketchesSpec checks the CMS cells against",
    "HllAggregate" -> "Sketches: JVM HLL twin SketchesSpec checks q107 against",
    "HistogramAggregate" -> "Sketches: JVM histogram twin SketchesSpec checks q74 against",
    "bloomContains" -> "Sketches: documented JVM membership probe for specs",
    "hllSumPow" -> "Sketches: JVM reader of the HLL registers, checked by SketchesSpec",
    "hllCorrected" -> "Sketches: documented JVM-side small-range correction reader",
    "ivfTopK" -> "Similarity: documented IVF build whose recall SimilaritySpec pins",
    "containmentFromShingles" -> "Dedup: documented frame-parameterized q78 for the skew specs",
    "evictBpeCache" -> "TextAnalysis: documented spec hook for the store-replay path",
    "minhash" -> "TextFns: Column MinHash the native signature specs compare against")

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
    assert(uncalled(Seq("Demo.scala" -> src), Set.empty) ===
      Seq("onlyInComment" -> "Demo.scala:5", "Unused" -> "Demo.scala:7"))
  }

  test("every src/main def has a caller on a runnable path or an allowlisted reason") {
    val main = scalaFiles(Paths.get("src/main")).map(p => p.toString -> Files.readString(p))
    assert(main.nonEmpty, "no Scala sources under src/main")
    val bench: Set[String] = scalaFiles(Paths.get("perfbench/src"))
      .flatMap(p => words(Files.readString(p))).toSet
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

  /** Whether the object declared just before `from` in `code` defines a
    * `main` in its body: the first `{` after `from`, up to its match. */
  private def definesMain(code: String, from: Int, nextDecl: Int): Boolean = {
    val open = code.indexOf('{', from)
    if (open < 0 || open > nextDecl) return false
    var depth = 1
    var j = open + 1
    while (j < code.length && depth > 0) {
      if (code(j) == '{') depth += 1 else if (code(j) == '}') depth -= 1
      j += 1
    }
    mainDef.findFirstIn(code.substring(open, j)).isDefined
  }

  /** (name, file:line) of every declaration in `sources` ((file, text)
    * pairs) that no other line of `sources` and no word of `elsewhere`
    * names. `override` and `implicit` declarations are skipped, and so are
    * `main` and the objects that define it: sbt runs them. */
  def uncalled(sources: Seq[(String, String)], elsewhere: Set[String]): Seq[(String, String)] = {
    val code = sources.map { case (file, src) =>
      (file, stripComments(src).split("\n", -1), stripComments(src, blankStrings = true))
    }
    val mentions: Map[String, Int] =
      code.flatMap(_._2).flatMap(words).groupMapReduce(identity)(_ => 1)(_ + _)
    for {
      (file, lines, decls) <- code
      lineStarts = lines.scanLeft(0)(_ + _.length + 1)
      found = declaration.findAllMatchIn(decls).toIndexedSeq
      (m, next) <- found.zip(found.drop(1).map(_.start) :+ decls.length)
      name = m.group(2)
      k = lineStarts.lastIndexWhere(_ <= m.start(2))
      modifiers = words(decls.substring(lineStarts(k), m.start(1)))
      if !modifiers.exists(Set("override", "implicit")) && name != "main"
      if !(m.group(1) == "object" && definesMain(decls, m.end, next))
      if mentions(name) == words(lines(k)).count(_ == name) && !elsewhere(name)
    } yield name -> s"$file:${k + 1}"
  }
}
