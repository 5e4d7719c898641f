package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Similarity

/** Streaming ANN serving against the frozen residual IVF-PQ index: replay
  * the corpus query vectors through [[AnnServeStream]] in shuffled
  * micro-batches and require EXACT row equality with batch q137 — the
  * static-index/live-queries production shape, proven equivalent to the
  * batch plan it twins. */
class StreamingAnnServeSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toSet

  test("streamed IVF-PQ serving equals batch q137 on replayed queries") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val expected = rows(
      Similarity.queries("q137_ivfpq_residual")(s, sfDir))
    assert(expected.nonEmpty)

    // replay the query vectors in deterministic-shuffled order over three
    // micro-batches: per-query answers may not depend on batch boundaries
    // or arrival order (each query is answered within its own batch)
    val queries = graft.Tables.load(s, sfDir, "embeddings")
      .filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
      .as[(Long, Seq[Double])].collect()
      .sortBy(q => graft.operators.TextFns.md5hex(q._1.toString))

    val mem = MemoryStream[(Long, Seq[Double])]
    val serve = new AnnServeStream(s, sfDir)
    val q = serve.start(mem.toDF().toDF("query_id", "qv"))
    try {
      var streamed = Set.empty[(Long, Long, Long, Long, Double)]
      var firstSnap: Option[(org.apache.spark.sql.DataFrame, Long)] = None
      queries.grouped((queries.length + 2) / 3).foreach { c =>
        mem.addData(c.toSeq)
        q.processAllAvailable()
        val snap = serve.results
        val now = rows(snap)
        if (firstSnap.isEmpty) firstSnap = Some((snap, now.size.toLong))
        // batches only ADD answers (static index: nothing is revised)
        assert(streamed.subsetOf(now))
        streamed = now
        // every already-replayed query is FULLY answered: exactly its
        // batch-q137 rows, bit-identical adc included
        val replayed = streamed.map(_._1)
        assert(streamed == expected.filter(r => replayed.contains(r._1)))
      }
      assert(streamed == expected,
        s"missing=${expected.diff(streamed).take(3)} extra=${streamed.diff(expected).take(3)}")
      // a results() frame obtained BEFORE later batches must still be
      // actionable after them: superseded checkpoints are retired (released
      // only by close()), never unpersisted under a live reader
      firstSnap.foreach { case (df, n) => assert(df.count() == n) }
    } finally { q.stop(); serve.close() }
  }

  test("a query batch disjoint from the corpus queries is answered from the same frozen index") {
    val s = spark

    // synthetic probes: corpus vectors re-labeled with fresh ids — the
    // serve path must answer ANY vector, not just the replayed corpus side
    val probes = graft.Tables.load(s, sfDir, "embeddings")
      .filter(col("vec_id") >= Similarity.NumQueries &&
        col("vec_id") < Similarity.NumQueries + 5)
      .select((col("vec_id") + 100000L).as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    val out = Similarity.serveIvfPq(s, sfDir, probes)
    val got = out.groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"), min(col("nn_rank")).as("rmin"),
        max(col("nn_rank")).as("rmax"))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 5)
    got.foreach { case (k, rmin, rmax) =>
      assert(k == Similarity.LshTopK && rmin == 1L && rmax == Similarity.LshTopK)
    }
    // the relabeled twin of vec_id v must surface v's OWN vector as its
    // top neighbor (adc over its own codes is minimal) — index really
    // answers by content, not by id
    val top1 = out.filter(col("nn_rank") === 1)
      .collect().map(r => (r.getLong(0) - 100000L, r.getLong(2))).toMap
    assert(top1.forall { case (orig, nn) => nn == orig },
      s"self not top-1: $top1")
  }
}
