package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint for session options: every `"spark.graft.…"` string
  * literal in `src/main` must name one of the two deployment settings of
  * the pin mode ([[Pinned.ModeConf]], [[Pinned.DirConf]]). Each further
  * option doubles the configurations the specs must cover, so a new one
  * fails here until the allowed set is changed on purpose. */
class ConfKeysLintSpec extends AnyFunSuite {

  private val allowed = Set("spark.graft.checkpoint", "spark.graft.checkpoint.dir")

  private val literal = "\"(spark\\.graft\\.[^\"]*)\"".r

  test("src/main names exactly the two spark.graft options") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val sources = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    assert(sources.nonEmpty, s"no Scala sources under $root")
    val found: Map[String, Seq[Path]] = sources
      .flatMap(p => literal.findAllMatchIn(Files.readString(p)).map(_.group(1) -> p))
      .groupMap(_._1)(_._2)
    val extra = found.keySet -- allowed
    assert(extra.isEmpty, "spark.graft options outside the allowed set: " +
      extra.toSeq.sorted.map(k => s"$k (${found(k).distinct.mkString(", ")})")
        .mkString("; "))
    assert(found.keySet == allowed,
      s"allowed options no longer named in src/main: ${allowed -- found.keySet}")
  }
}
