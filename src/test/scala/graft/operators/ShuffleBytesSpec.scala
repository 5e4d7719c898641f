package graft.operators

import org.apache.spark.sql.functions._

import graft.{Shape, SparkSpec}

/** Measured proof of SCALE.md's central dedup claim, stated precisely:
  * past the one-time input spread, the LSH pipeline's shuffle volume
  * scales with DOCUMENT COUNT, not corpus bytes. [[graft.Shape]]
  * totals actual shuffle-write bytes for the full pipeline
  * (shingle → sign → band → pair-join → verify) with broadcast joins
  * DISABLED so the banded self-join really shuffles like it would at
  * 100 TB. The keyed stages emit NumHashes/BandSize band rows per doc
  * plus candidate pairs, and every row is CONSTANT-width (doc id + band
  * key + the 8-hash signature ≈ 100 B) — document text never enters an
  * exchange, so doubling average document length leaves these numbers
  * unchanged while a text-carrying band stage would scale them 2×.
  * (On this synthetic corpus of ~300 B docs the constant-width rows are
  * coincidentally of the same order as the text itself; at web-scale
  * 4 KB+ documents the same constants are ~2% of corpus volume.) */
class ShuffleBytesSpec extends SparkSpec {

  test("LSH keyed stages shuffle constant-width digest rows, never text (measured)") {
    val dir = sfDirAt("0.01") // enough docs for a clean signal
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val nDocs = docs.count()
    val bandsPerDoc = (Dedup.NumHashes / Dedup.BandSize).toLong

    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (_, Shape(_, _, _, _, bytes, records, _)) =
      try Shape.of(spark) {
        val pairs = Dedup.lshNearDupPairs(docs, 3, Dedup.NumHashes,
          Dedup.BandSize, 0, 7, 10)
        assert(pairs.collect().nonEmpty, "expected near-dup pairs in testdata")
      } finally saved match {
        case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }

    info(f"pipeline shuffled ${bytes}%,d B over ${records}%,d records " +
      f"(${bytes.toDouble / records}%.0f B/record; $nDocs docs × $bandsPerDoc bands)")
    // the banded self-join really shuffled (broadcast was off): at least
    // bandsPerDoc rows per doc crossed an exchange
    assert(records >= nDocs * bandsPerDoc,
      s"banded self-join did not shuffle ($records records)")
    // row-count bound: band rows + verified pair fetches + agg partials —
    // NOT tokens, NOT shingles (a per-shingle posting shuffle would be
    // ~50× more rows on this corpus)
    assert(records <= nDocs * bandsPerDoc * 3,
      s"shuffled $records records for $nDocs docs — a per-token stage leaked in")
    // width bound: doc id + band key + 8-hash signature, compressed —
    // constant per row, independent of document length. Text-carrying
    // rows (~300 B docs here, 4 KB at web scale) would blow through this.
    assert(bytes / records <= 160,
      s"${bytes / records} B/record — shuffle rows are carrying more than digests")
  }
}
