package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q144 SemDeDup: the full decision — who clusters where, who is dropped —
  * recomputed in plain JVM collections and compared row for row, plus the
  * structural guarantee the operator exists to provide: survivors are an
  * independent set of the within-cluster τ-graph. */
class SemDedupSpec extends SparkSpec {

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  private lazy val vecs: Map[Long, Array[Double]] =
    graft.Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  private lazy val centroids: Array[(Long, Array[Double])] =
    Similarity.semDedupCentroidsFor(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** JVM recompute: (vec_id -> (cid, csim, kept)). */
  private lazy val expected: Map[Long, (Long, Double, Boolean)] = {
    val assigned = vecs.toSeq.map { case (id, v) =>
      // argmax cosine, tie -> smaller cid (the max(struct(csim, -cid)) twin)
      val (csim, cid) = centroids
        .map { case (cid, cv) => (cos(v, cv), cid) }
        .reduceLeft((x, y) =>
          if (y._1 > x._1 || (y._1 == x._1 && y._2 < x._2)) y else x)
      (id, cid, csim)
    }
    assigned.groupBy(_._2).iterator.flatMap { case (_, members) =>
      val ranked = members.sortBy { case (id, _, csim) => (csim, id) }
      ranked.zipWithIndex.map { case ((id, cid, csim), i) =>
        val dropped = ranked.take(i).exists { case (pid, _, _) =>
          cos(vecs(pid), vecs(id)) >= Similarity.SemDedupTau
        }
        id -> (cid, csim, !dropped)
      }
    }.toMap
  }

  test("q144 equals the JVM cluster-assign + rank + dominate recompute") {
    val got = graft.SparkEntry.queries("q144_semdedup")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, g) => assert(g == expected(id), s"vec $id") }
  }

  test("survivors are an independent set of the within-cluster tau-graph; drops and keeps both non-trivial") {
    val byCluster = expected.toSeq.groupBy(_._2._1)
    byCluster.foreach { case (cid, members) =>
      val kept = members.collect { case (id, (_, _, true)) => id }
      for (a <- kept; b <- kept if a < b)
        assert(cos(vecs(a), vecs(b)) < Similarity.SemDedupTau,
          s"kept pair ($a, $b) in cluster $cid is a tau-duplicate")
    }
    val keptN = expected.values.count(_._3)
    assert(keptN > 0 && keptN < expected.size,
      s"degenerate outcome: $keptN kept of ${expected.size}")
  }

  test("q144's executed plan assigns the corpus once") {
    val df = graft.SparkEntry.queries("q144_semdedup")(spark, sfDir)
    df.collect()
    val assigning = graft.PlanCheck.walk(df.queryExecution.executedPlan)
      .filter(_.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.NearestCentroid])))
    info(df.queryExecution.executedPlan.toString)
    assert(assigning.size == 1,
      s"graft_nearest_centroid evaluated in ${assigning.size} plan nodes")
  }
}
