package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Curation, TextAnalysis}

/** The streaming-ingest curation story, composed end to end: a document
  * stream flows through exact dedup (Spark's streaming `dropDuplicates` on
  * the content hash), the Gopher quality gate, and PII redaction — the
  * same expressions the batch pipeline (q70's stages 1/3/5) uses, because
  * every narrow stage is mode-agnostic by construction. Pins batch == stream on the real
  * documents table under doc_id-ordered replay.
  */
class StreamingCurationSpec extends SparkSpec {

  test("dedup -> gopher -> redact composes on a stream and matches batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val docs = graft.Tables.load(s, sfDir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)

    // batch reference: first doc per content hash (replay order = doc_id
    // order, so first arrival = min doc_id), then quality gate, then the
    // redacted fingerprint
    val firstPerHash = docs.groupBy(d => graft.operators.TextFns.md5hex(d._2))
      .map { case (_, ds) => ds.minBy(_._1) }
    val expected = firstPerHash.toSeq.map { case (id, text) => (id, text) }
    val batch = expected.toDF("doc_id", "text")
      .filter(TextAnalysis.gopherPass(col("text")))
      .select(col("doc_id"), md5(Curation.redact(col("text"))).as("red_fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batch.nonEmpty)

    val mem = MemoryStream[(String, String)]
    val deduped = mem.toDF().toDF("key", "payload").dropDuplicates("key")
    val curated = deduped
      .select(
        split(col("payload"), "\t").getItem(0).cast("long").as("doc_id"),
        split(col("payload"), "\t").getItem(1).as("text"))
      .filter(TextAnalysis.gopherPass(col("text")))
      .select(col("doc_id"), md5(Curation.redact(col("text"))).as("red_fp"))
    val q = curated.writeStream.format("memory")
      .queryName("curation_stream").outputMode("append").start()
    val streamed =
      try {
        docs.map { case (id, text) =>
            (graft.operators.TextFns.md5hex(text), s"$id\t$text") }
          .grouped((docs.length + 2) / 3)
          .foreach { c => mem.addData(c.toSeq); q.processAllAvailable() }
        s.table("curation_stream").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
      } finally q.stop()

    assert(streamed == batch,
      s"stream/batch diverged: ${streamed.size} vs ${batch.size} rows")
  }
}
