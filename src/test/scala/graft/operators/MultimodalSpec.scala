package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import Multimodal._

class MultimodalSpec extends SparkSpec {

  test("payloads: binary column + typed metadata, partitioning preserved") {
    val ds = payloads(spark, sfDir)
    assert(ds.schema("payload").dataType.typeName == "binary")
    assert(ds.schema("modality").dataType.typeName == "string")
    val reparted = ds.repartition(8)
    assert(reparted.rdd.getNumPartitions == 8)
    val row = ds.head()
    assert(new String(row.payload, "UTF-8").nonEmpty)
  }

  test("frame sampling emits every 3rd 32-byte frame") {
    val out = queries("q61_multimodal_frames")(spark, sfDir).collect()
    assert(out.nonEmpty)
    val fs = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(fs.forall(_._2 % FrameStride == 0))
    // frame count per doc matches ceil(nframes / stride)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), (floor(length(col("text")) / FrameSize)).as("nf"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counts = fs.groupBy(_._1).view.mapValues(_.length)
    counts.foreach { case (d, n) =>
      val nf = docs(d)
      assert(n == (nf + FrameStride - 1) / FrameStride)
    }
  }
}
