package graft.functions

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

import graft.SparkSpec
import graft.operators.TextFns

/** Value identity of the native token-array kernels against the lambda
  * formulations they replaced, kept here (and only here) as the reference.
  * Every comparison runs once through generated code and once through the
  * interpreted `eval`, so both paths of each kernel are pinned. */
class TokenKernelsSpec extends SparkSpec {
  import spark.implicits._

  /** The Column form `TextFns.shingles` had before the native kernel. */
  private def refShingles(tk: Column, n: Int): Column =
    when(size(tk) >= n,
      transform(sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", slice(tk, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** The Column form q72 used for its top-token and top-bigram counts. */
  private def refTopCount(a: Column): Column =
    array_max(transform(array_distinct(a), x => size(filter(a, y => y === x))))

  /** (conf value, whole-stage codegen): generated code vs `eval`. */
  private val modes = Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")

  /** Each `(native, reference)` pair evaluated over `df` under both modes;
    * returns the mismatching rows (empty when identical). Local-relation
    * folding is excluded so the projection really runs in each mode. */
  private def mismatches(df: DataFrame, pairs: Seq[(Column, Column)]): Seq[String] =
    modes.flatMap { case (factory, wholeStage) =>
      val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage",
        "spark.sql.optimizer.excludedRules")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      try {
        val cols = pairs.flatMap { case (a, b) => Seq(a, b) }
        df.select(col("*") +: cols: _*).collect().toSeq.flatMap { r =>
          val base = df.columns.length
          pairs.indices.collect {
            case i if r.get(base + 2 * i) != r.get(base + 2 * i + 1) =>
              s"$factory pair $i on ${r.get(0)}: native=${r.get(base + 2 * i)} " +
                s"reference=${r.get(base + 2 * i + 1)}"
          }
        }
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

  private def allPairs(tk: Column): Seq[(Column, Column)] =
    (1 to 4).flatMap { n =>
      Seq(TextFns.shingles(tk, n) -> refShingles(tk, n),
        TextFns.topCount(TextFns.shingles(tk, n)) -> refTopCount(refShingles(tk, n)))
    } :+ (TextFns.topCount(tk) -> refTopCount(tk))

  test("degenerate and non-ASCII documents: both kernels equal the lambda forms") {
    val docs = Seq[String](
      null,                          // null text
      "",                            // empty string: one empty token
      "solo",                        // one token
      "a b",                         // shorter than n = 3, 4
      "a a a a a a",                 // all-identical tokens
      "a  b   c  ",                  // empty tokens from double spaces
      "  ",                          // only empty tokens
      "naïve café 日本 語 naïve café Ωμέγα 日本 語").toDF("text")
    assert(mismatches(docs, allPairs(TextFns.toks(col("text")))).isEmpty)
  }

  test("null array elements: skipped inside shingles, never counted") {
    val arrays = Seq[Seq[String]](
      null, Seq.empty, Seq(null), Seq(null, null, null),
      Seq("a", null, "b"), Seq("x", null, "x", null, "y"),
      Seq(null, "a", "a", null)).toDF("tk")
    assert(mismatches(arrays, allPairs(col("tk"))).isEmpty)
    // the documented edges, spelled out
    val got = arrays.select(TextFns.topCount(col("tk")), TextFns.shingles(col("tk"), 2))
      .collect().map(r => (Option(r.get(0)), r.getSeq[String](1)))
    assert(got(0) == (None -> Seq.empty))            // null array
    assert(got(1) == (None -> Seq.empty))            // empty array
    assert(got(3) == (Some(0) -> Seq("", "")))       // all null: count 0
    assert(got(4) == (Some(1) -> Seq("a", "b")))     // concat_ws skips nulls
  }

  test("random token arrays over a 4-word alphabet equal the lambda forms") {
    val word = Gen.frequency(8 -> Gen.oneOf("a", "b", "ü", ""), 1 -> Gen.const(null: String))
    val arrays = Gen.listOfN(40, Gen.frequency(
      1 -> Gen.const(null: List[String]), 12 -> Gen.choose(0, 9).flatMap(Gen.listOfN(_, word))))
    val prop = Prop.forAll(arrays) { xs =>
      val df = xs.map(a => Option(a).map(_.toSeq).orNull).toDF("tk")
      mismatches(df, allPairs(col("tk"))).isEmpty
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("TopCount rejects non-string arrays at analysis") {
    val e = intercept[AnalysisException] {
      Seq(Seq(1, 1, 2)).toDF("a").select(TextFns.topCount(col("a"))).collect()
    }
    assert(e.getMessage.contains("graft_top_count"), e.getMessage)
    intercept[AnalysisException] {
      Seq(Seq(1, 2)).toDF("a").select(TextFns.shingles(col("a"), 2)).collect()
    }
  }

  test("SQL names resolve to the same kernels") {
    val r = spark.sql(
      """SELECT graft_shingles(split('a b a b', ' '), 2) AS sh,
                graft_top_count(split('a b a b', ' ')) AS top""").head()
    assert(r.getSeq[String](0) == Seq("a b", "b a", "a b"))
    assert(r.getInt(1) == 2)
  }
}
