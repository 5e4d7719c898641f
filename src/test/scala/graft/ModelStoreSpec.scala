package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the model-artifact persistence contract: trained models
  * (centroids, PQ/residual/OPQ codebooks, Bloom words) round-trip through
  * the content-addressed parquet store BIT FOR BIT, a second session
  * (simulated here by a cold JVM-cache key) reloads instead of
  * retraining, and the content address separates corpora and
  * hyperparameters. Bit-equality is asserted on raw IEEE-754 bits
  * (doubleToRawLongBits), not ==, so a parquet round-trip that
  * canonicalized -0.0/NaN or re-rounded would fail loudly. */
class ModelStoreSpec extends SparkSpec {
  import spark.implicits._

  private def withStore[A](f: String => A): A = {
    val saved = ModelStore.root
    val tmp = Files.createTempDirectory("graft-models").toString
    ModelStore.root = Some(tmp)
    try f(tmp) finally ModelStore.root = saved
  }

  private def bits(rows: ModelStore.Rows): Seq[(String, Long, Long, Seq[Long])] =
    rows.map { case (p, i, j, v) =>
      (p, i, j, v.toSeq.map(java.lang.Double.doubleToRawLongBits))
    }.sortBy(t => (t._1, t._2, t._3))

  test("getOrTrain trains once, then serves bit-identical rows from parquet") {
    withStore { _ =>
      var trained = 0
      // adversarial doubles: -0.0, denormal, an irrational, a huge value
      def model: ModelStore.Rows = {
        trained += 1
        Seq(("cent", 0L, 0L, Array(-0.0, java.lang.Double.MIN_VALUE, math.Pi)),
          ("cent", 1L, 0L, Array(1e300, -math.E, 0.1)))
      }
      val d = "digest-a"
      val first = ModelStore.getOrTrain(spark, "t", d, "k=1")(model)
      assert(trained == 1)
      val second = ModelStore.getOrTrain(spark, "t", d, "k=1")(model)
      assert(trained == 1, "second call must reload, not retrain")
      assert(bits(first) == bits(second))
      // different hyperparams and different corpus digests retrain
      ModelStore.getOrTrain(spark, "t", d, "k=2")(model)
      assert(trained == 2)
      ModelStore.getOrTrain(spark, "t", "digest-b", "k=1")(model)
      assert(trained == 3)
    }
  }

  test("counted reports the artifacts a call trained and loaded") {
    withStore { _ =>
      def model: ModelStore.Rows = Seq(("x", 0L, 0L, Array(1.0)))
      val train = ModelStore.counted(ModelStore.getOrTrain(spark, "c", "d", "k=1")(model))
      assert((train._2, train._3) == ((1L, 0L)))
      val load = ModelStore.counted(ModelStore.getOrTrain(spark, "c", "d", "k=1")(model))
      assert((load._2, load._3) == ((0L, 1L)))
      assert(bits(train._1) == bits(load._1))
    }
  }

  test("disabled store always retrains") {
    val saved = ModelStore.root
    ModelStore.root = None
    try {
      var trained = 0
      def model: ModelStore.Rows = { trained += 1; Seq(("x", 0L, 0L, Array(1.0))) }
      ModelStore.getOrTrain(spark, "t", "d", "h")(model)
      ModelStore.getOrTrain(spark, "t", "d", "h")(model)
      assert(trained == 2)
    } finally ModelStore.root = saved
  }

  test("shape adapters are exact inverses (codebooks, matrix)") {
    val cb = Array.tabulate(4, 16)((m, k) =>
      Array.tabulate(16)(i => math.sin(m * 1000 + k * 16 + i) * 1e3))
    assert(ModelStore.rowsToCodebooks(ModelStore.codebooksToRows(cb))
      .flatten.flatten.map(java.lang.Double.doubleToRawLongBits).toSeq ==
      cb.flatten.flatten.map(java.lang.Double.doubleToRawLongBits).toSeq)
    val rot = Array.tabulate(8, 8)((i, j) => math.cos(i * 8 + j))
    assert(ModelStore.rowsToMatrix(ModelStore.matrixToRows(rot)).flatten.toSeq
      == rot.flatten.toSeq)
  }

  test("trained IVF centroids reload from the store bit-for-bit (q52 artifact)") {
    withStore { tmp =>
      val d = sfDir
      // first call trains AND persists; the artifact lands content-addressed
      val a = operators.Similarity.centroidsFor(spark, d).collect()
        .map(r => (r.getLong(0),
          r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)))
        .sortBy(_._1)
      val kinds = new java.io.File(s"$tmp/ivf_centroids").listFiles()
      assert(kinds != null && kinds.nonEmpty, "centroid artifact not persisted")
      // second call hits the SAME address: served from parquet (training is
      // not memoized per-JVM for centroids, so equality here is
      // store-load == fresh-train equality)
      val b = operators.Similarity.centroidsFor(spark, d).collect()
        .map(r => (r.getLong(0),
          r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)))
        .sortBy(_._1)
      assert(a.toSeq == b.toSeq)
    }
  }

  test("PQ codebooks reload across 'sessions' (cold cache key) bit-for-bit") {
    withStore { _ =>
      val e = operators.Similarity.embs(spark, sfDir)
      // distinct cache keys simulate two JVM sessions: the second call
      // misses the per-JVM memo and must come back through the store
      val k1 = s"spec-pq-${System.nanoTime()}"
      val k2 = s"spec-pq-${System.nanoTime()}-b"
      val cb1 = operators.Similarity.trainPqCodebooks(e, k1)
      val cb2 = operators.Similarity.trainPqCodebooks(e, k2)
      assert(cb1.flatten.flatten.map(java.lang.Double.doubleToRawLongBits).toSeq
        == cb2.flatten.flatten.map(java.lang.Double.doubleToRawLongBits).toSeq)
    }
  }

  test("BPE ladder: store replay equals discovery training, and skips it") {
    withStore { tmp =>
      val q = operators.TextAnalysis.queries("q178_bpe_merges")
      val first = q(spark, sfDir).collect().map(_.toString).sorted
      assert(new java.io.File(s"$tmp/bpe_merges").listFiles().nonEmpty,
        "merge table not persisted")
      // simulate a fresh session on a warm store: drop the JVM memo, rerun
      operators.TextAnalysis.evictBpeCache(spark)
      val loadsBefore = ModelStore.loads.get()
      val trainsBefore = ModelStore.trains.get()
      val second = q(spark, sfDir).collect().map(_.toString).sorted
      assert(ModelStore.loads.get() > loadsBefore, "expected a store hit")
      assert(ModelStore.trains.get() == trainsBefore, "must not re-discover merges")
      assert(first.toSeq == second.toSeq)
      operators.TextAnalysis.evictBpeCache(spark)
    }
  }

  test("corpus digest is partitioning-independent and content-sensitive") {
    val df = (1 to 1000).map(i => (i.toLong, i * 0.5)).toDF("id", "x")
    val d1 = ModelStore.digestOf(df.repartition(3), Seq("id", "x"))
    val d2 = ModelStore.digestOf(df.repartition(17).sortWithinPartitions("x"),
      Seq("id", "x"))
    assert(d1 == d2, "digest must not depend on partitioning or order")
    val d3 = ModelStore.digestOf(
      df.withColumn("x", when(col("id") === 500, 0.25).otherwise(col("x"))),
      Seq("id", "x"))
    assert(d1 != d3, "digest must see a single changed value")
  }
}
