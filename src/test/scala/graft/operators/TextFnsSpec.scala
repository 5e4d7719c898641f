package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import TextFns._

class TextFnsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles: n-token windows, short docs yield empty") {
    val df = Seq("a b c d", "a b", "x").toDF("text")
      .select(shingles(toks(col("text")), 3).as("sh"))
    val got = df.as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
    assert(got(2) == Seq.empty)
  }

  test("md5hex (JVM) matches Spark md5 column — the oracle-portability anchor") {
    val s = "0|key agg row"
    val fromSpark = Seq(s).toDF("x").select(md5(col("x"))).as[String].head()
    assert(md5hex(s) == fromSpark)
  }

  test("jaccard: exact rational, dedupes inputs") {
    val df = Seq((Seq("a", "a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
      .select(jaccard(col("x"), col("y")).as("j"))
    assert(df.as[Double].head() == 2.0 / 4.0)
  }

  test("minhash: equal sets get equal signatures; disjoint sets almost surely differ") {
    val df = Seq(
      (1L, Seq("a b c", "b c d")),
      (2L, Seq("b c d", "a b c")), // same set, different order
      (3L, Seq("x y z", "y z w"))
    ).toDF("id", "sh")
      .select(col("id"), minhashSig(col("sh"), 2, 0).as("m"))
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(rows(1L) == rows(2L))
    assert(rows(1L) != rows(3L))
  }

  test("simhash: identical docs identical, one-token change moves few bits") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
                 (2L, "the quick brown fox jumps over the lazy dog"),
                 (3L, "the quick brown fox jumps over the lazy cat"))
      .toDF("doc_id", "text")
    val votes = df.select(col("doc_id") +:
      (0 until 8).map(b => simhashVote(toks(col("text")), b).as(s"v$b")): _*)
    val sh = votes.select(col("doc_id"),
      simhashFromVotes((0 until 8).map(b => col(s"v$b"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sh(1L) == sh(2L))
    val hamming = Integer.bitCount(sh(1L) ^ sh(3L))
    assert(hamming <= 4, s"near-identical docs should be close in simhash space, got $hamming")
  }

  test("hyperplanes are fixed and exactly representable") {
    assert(hyperplanes.length == NumPlanes)
    assert(hyperplanes.forall(_.length == EmbDim))
    // each coefficient is (int - 127.5): exact in binary64 and in its
    // decimal rendering, which is what makes the oracle SQL literal safe
    assert(hyperplanes.flatten.forall(c => (c * 2).isWhole))
    assert(hyperplanes(0)(0) == Integer.parseInt(md5hex("hp0-0").take(2), 16) - 127.5)
  }

  test("cosine: orthogonal ~0, identical 1") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 2.0), Seq(1.0, 2.0))
    ).toDF("a", "b").select(cosine(col("a"), col("b")).as("c"))
    val got = df.as[Double].collect()
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - 1.0) < 1e-12)
  }
}
