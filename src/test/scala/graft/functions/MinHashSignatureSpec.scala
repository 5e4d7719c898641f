package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TextFns

class MinHashSignatureSpec extends SparkSpec {
  import spark.implicits._

  test("native signature is value-identical to the per-seed column formulation") {
    val df = Seq(
      Seq("a b c", "b c d", "c d e", "zz yy xx"),
      Seq("one two three"),
      Seq.empty[String]
    ).toDF("sh")
    val native = df.select(TextFns.minhashSig(col("sh"), 8, 0).as("sig"))
      .as[Seq[String]].collect()
    // element `seed`: the lexicographically smallest seeded md5 across shingles
    def minhash(sh: Column, seed: Int): Column =
      array_min(transform(sh, x => TextFns.seededMd5(seed, x)))
    val columnar = df.select(
      array((0 until 8).map(i => minhash(col("sh"), i)): _*).as("sig"))
      .as[Seq[String]].collect()
    assert(native.toSeq == columnar.toSeq)
    // empty shingle array -> all-null elements, same as array_min
    assert(native(2).forall(_ == null))
  }

  test("signature matches JVM-side md5 ground truth") {
    val sh = Seq("key agg row", "agg row scan")
    val got = Seq(sh).toDF("sh")
      .select(TextFns.minhashSig(col("sh"), 2, 0)).as[Seq[String]].head()
    val expect = (0 until 2).map { seed =>
      sh.map(x => TextFns.md5hex(s"$seed|$x")).min
    }
    assert(got == expect)
  }
}
