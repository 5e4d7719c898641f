package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: media payloads are opaque `binary` columns
  * with typed metadata alongside. The catalog queries exercise the
  * Spark-side plumbing only (schema, partitioning, metadata extraction,
  * frame sampling, payload dedup); no media is decoded, because pixel and
  * PCM decoding is not expressible in the DuckDB oracle.
  *
  * The oracle-checked queries (q60–q63) use the text bytes of `documents`
  * as the stand-in payload so DuckDB can verify the plumbing end-to-end.
  */
object Multimodal {

  /** One media object: opaque bytes + typed metadata. */
  case class MediaPayload(doc_id: Long, modality: String, payload: Array[Byte])

  val FrameSize = 32 // bytes per fake "frame" for sampling
  val FrameStride = 3

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  private val modalityCol =
    when(col("doc_id") % 3 === 0, "image")
      .when(col("doc_id") % 3 === 1, "audio")
      .otherwise("video")

  /** documents → typed payload Dataset (binary column + metadata). */
  def payloads(s: SparkSession, d: String): Dataset[MediaPayload] = {
    import s.implicits._
    docs(s, d)
      .select(col("doc_id"), modalityCol.as("modality"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaPayload]
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- binary payload + typed metadata extraction ------------------------
    "q60_multimodal_meta" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), modalityCol.as("modality"),
          encode(col("text"), "UTF-8").as("payload"), col("text"))
        .select(
          col("doc_id"),
          col("modality"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          (length(col("payload")).cast("long") % 640).as("fake_w"),
          (length(col("payload")).cast("long") % 480).as("fake_h"))),

    // --- "resize": deterministic 4:1 byte downsample of the payload --------
    // The stand-in for an image resize: keep every 4th byte, emit the
    // thumbnail's size and content hash (the plumbing — per-row binary
    // transform, metadata columns — is what this exercises).
    "q62_multimodal_resize" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          // empty-text guard: sequence(1, 0, 4) throws in Spark while the
          // oracle's range(1, 1, 4) yields an empty list -> '' thumb.
          // NULL text must stay NULL (as the oracle's expression does), so
          // the guard nests under isNotNull with no outer otherwise.
          when(col("text").isNotNull,
            when(length(col("text")) >= 1,
              array_join(
                transform(sequence(lit(1), length(col("text")), lit(4)),
                  i => col("text").substr(i, lit(1))), ""))
              .otherwise(lit("")))
            .as("thumb"))
        .select(col("doc_id"),
          length(col("thumb")).cast("long").as("thumb_bytes"),
          md5(col("thumb")).as("thumb_md5"))),

    // --- per-modality exact dedup over the binary payload ------------------
    // The dedup family extended to media columns: one hash aggregation on
    // (modality, md5(bytes)) — only the 16-byte digest and counts shuffle,
    // never payload bytes. At 100 TB this is the first pass of any media
    // pipeline (identical assets dominate crawled corpora).
    "q63_multimodal_dedup" -> ((s, d) =>
      payloads(s, d).toDF()
        .groupBy(col("modality"), md5(col("payload")).as("payload_md5"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))),

    // --- frame sampling over the binary payload (every 3rd 32-byte frame) --
    "q61_multimodal_frames" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), col("text"),
          floor(length(col("text")) / FrameSize).cast("int").as("nf"))
        .filter(col("nf") >= 1)
        .select(col("doc_id"),
          explode(sequence(lit(0), col("nf") - 1, lit(FrameStride))).as("f"),
          col("text"))
        .select(col("doc_id"), col("f").cast("long").as("f"),
          md5(col("text").substr(col("f") * FrameSize + 1, lit(FrameSize)))
            .as("frame_md5")))
  )

  val oracles: Map[String, String] = Map(
    "q60_multimodal_meta" ->
      """SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN 'image'
                 WHEN doc_id % 3 = 1 THEN 'audio'
                 ELSE 'video' END AS modality,
            octet_length(encode(text)) AS n_bytes,
            md5(text) AS payload_md5,
            octet_length(encode(text)) % 640 AS fake_w,
            octet_length(encode(text)) % 480 AS fake_h
         FROM documents""",

    "q62_multimodal_resize" ->
      """SELECT doc_id, length(thumb) AS thumb_bytes, md5(thumb) AS thumb_md5
         FROM (SELECT doc_id,
                 array_to_string(list_transform(range(1, length(text) + 1, 4),
                   i -> substr(text, CAST(i AS INT), 1)), '') AS thumb
               FROM documents)""",

    "q63_multimodal_dedup" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                 WHEN doc_id % 3 = 1 THEN 'audio'
                 ELSE 'video' END AS modality,
            md5(text) AS payload_md5,
            MIN(doc_id) AS keep_id, COUNT(1) AS n_copies
         FROM documents GROUP BY 1, 2""",

    "q61_multimodal_frames" ->
      s"""SELECT doc_id, f, md5(substr(text, CAST(f * $FrameSize + 1 AS INT), $FrameSize)) AS frame_md5
          FROM (SELECT doc_id, text,
                  unnest(range(0, CAST(floor(length(text) / $FrameSize) AS BIGINT), $FrameStride)) AS f
                FROM documents
                WHERE CAST(floor(length(text) / $FrameSize) AS BIGINT) >= 1)"""
  )
}
