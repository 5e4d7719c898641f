package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NgsiHttpSource

/** Lint for settable values. Every `"spark.graft.…"` string literal in
  * `src/main` must name one of the two deployment settings of the pin
  * mode ([[Pinned.ModeConf]], [[Pinned.DirConf]]), and the NGSI HTTP
  * source must take exactly `port` and `captureDir`. Each further option
  * doubles the configurations the specs must cover, so a new one fails
  * here until the allowed set is changed on purpose. */
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

  test("the NGSI source accepts exactly the options port and captureDir") {
    val source = new NgsiHttpSource
    def table(opts: (String, String)*) = source.getTable(
      source.inferSchema(CaseInsensitiveStringMap.empty()), Array.empty,
      opts.toMap.asJava)
    // both accepted options together, in any case: DSv2 keys are
    // case-insensitive
    table("port" -> "0", "captureDir" -> "/nonexistent")
    table("PORT" -> "0", "capturedir" -> "/nonexistent")
    // the four retired dials and two keys other sources take: each must
    // be refused by name, not fail on its value
    def refused(k: String) = Try(table("port" -> "0", k -> "1")).failed.toOption
      .exists(e => e.isInstanceOf[IllegalArgumentException] && e.getMessage.contains(k))
    val accepted = Seq("maxBufferBytes", "historyChunkRecords", "liveChunkBytes",
      "compactCommitted", "path", "host").filterNot(refused)
    assert(accepted.isEmpty,
      s"NGSI source options outside {port, captureDir}: ${accepted.mkString(", ")}")
  }
}
