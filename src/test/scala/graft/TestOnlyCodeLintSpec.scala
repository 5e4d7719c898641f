package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint for test-only code. Every non-`override` `def` in `src/main` must
  * be named somewhere else in `src/main` (comments stripped) or in a
  * `perfbench/src` file, i.e. have a caller on a runnable path, or be on
  * [[allowed]] with a one-line reason. A definition that only specs reach
  * is code the product carries for no user; it either gets a caller or a
  * written justification here. `-Wunused` cannot do this: it only sees
  * private members. */
class TestOnlyCodeLintSpec extends AnyFunSuite {

  private val ngsiExample = "the reference's Example entry point in NgsiStreams"

  /** Name → why it stays without a caller on a runnable path. */
  private val allowed: Map[String, String] = Map(
    "avgTemperatureStream" -> s"$ngsiExample (Example4's windowed average)",
    "minBusPriceStream" -> s"$ngsiExample (Example5's structured-attribute minimum)",
    "toConsole" -> s"$ngsiExample (Example1's console sink)",
    "toOrionAndConsole" -> s"$ngsiExample (Example2/3's broker-and-console sink)",
    "toOrion" -> s"$ngsiExample (Example2's broker sink)",
    "joinSensorStreams" -> "NgsiStreams' watermarked stream-stream join (SURVEY §2B)",
    "hilbertCodedForSpec" -> "Relational: spec accessor to the private Hilbert coding",
    "zorderCodedForSpec" -> "Relational: spec accessor to the private Z-order coding",
    "hilbertCodedUnrolled" ->
      "Relational: reference implementation the native graft_hilbert is compared against",
    "decodeStub" -> "Multimodal: documented decode plug-point, checked by MultimodalSpec",
    "decodeImage" -> "Multimodal: documented javax.imageio decode, spec-only (not oracle-expressible)",
    "imageAHash" -> "Multimodal: documented spec-only image hash",
    "imagePHash" -> "Multimodal: documented spec-only image hash",
    "decodeVideo" -> "Multimodal: documented frame-sampling stub, spec-only",
    "decodeAudio" -> "Multimodal: documented javax.sound decode, spec-only",
    "audioFingerprint" -> "Multimodal: documented spec-only PCM fingerprint",
    "hammingPairs" -> "Multimodal: documented spec-only fingerprint join",
    "bloomContains" -> "Sketches: documented JVM membership probe for specs",
    "hllSumPow" -> "Sketches: JVM reader of the HLL registers, checked by SketchesSpec",
    "hllCorrected" -> "Sketches: documented JVM-side small-range correction reader",
    "bloomScan" -> "Curation: documented frozen-filter scan, compared with q71 by CurationSpec",
    "trainBloom" -> "Curation: documented store-backed words for bloomScan",
    "ivfTopK" -> "Similarity: documented IVF build whose recall SimilaritySpec pins",
    "containmentFromShingles" -> "Dedup: documented frame-parameterized q78 for the skew specs",
    "evictBpeCache" -> "TextAnalysis: documented spec hook for the store-replay path",
    "minhash" -> "TextFns: Column MinHash the native signature specs compare against")

  private val defName = "(?:^|[^\\w$])def\\s+([A-Za-z_][\\w$]*)".r
  private val word = "[A-Za-z_][\\w$]*".r

  /** `src` with `//` and (nested) `/* */` comments removed; string and
    * character literals are kept verbatim and newlines are preserved, so
    * line numbers still match the file. */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String, k: Int) = src.startsWith(s, k)
    while (i < n) {
      if (at("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src(j) == '"') j += 1
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '\'' && i + 2 < n &&
                 (src(i + 2) == '\'' || (src(i + 1) == '\\' && at("'", i + 3)))) {
        val j = src.indexOf('\'', if (src(i + 1) == '\\') i + 3 else i + 2) + 1
        out ++= src.substring(i, j); i = j
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

  private def scalaFiles(root: Path): Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
  }

  private def words(line: String): Seq[String] =
    word.findAllIn(line).toSeq

  test("every src/main def has a caller on a runnable path or an allowlisted reason") {
    val main: Seq[(Path, IndexedSeq[String])] = scalaFiles(Paths.get("src/main"))
      .map(p => p -> stripComments(Files.readString(p)).split("\n", -1).toIndexedSeq)
    assert(main.nonEmpty, "no Scala sources under src/main")
    val mainCounts: Map[String, Int] =
      main.flatMap(_._2).flatMap(words).groupMapReduce(identity)(_ => 1)(_ + _)
    val bench: Set[String] = scalaFiles(Paths.get("perfbench/src"))
      .flatMap(p => words(Files.readString(p))).toSet

    // (name, file:line) of every def no other src/main line or perfbench
    // file names; a main is its own caller (sbt runs it)
    val uncalled: Seq[(String, String)] = for {
      (path, lines) <- main
      (line, k) <- lines.zipWithIndex
      m <- defName.findAllMatchIn(line).toSeq
      name = m.group(1)
      if !line.substring(0, m.start(1)).contains("override") && name != "main"
      elsewhere = mainCounts(name) - words(line).count(_ == name)
      if elsewhere == 0 && !bench(name)
    } yield name -> s"$path:${k + 1}"

    val unlisted = uncalled.filterNot { case (name, _) => allowed.contains(name) }
    assert(unlisted.isEmpty,
      "defs only tests reach (give each a caller, delete it, or allowlist it with a reason): " +
        unlisted.map { case (name, at) => s"$name ($at)" }.mkString(", "))
    val stale = allowed.keySet -- uncalled.map(_._1)
    assert(stale.isEmpty,
      s"allowlisted names that now have a caller or no longer exist: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
