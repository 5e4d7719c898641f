package graft.operators

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Planted-skew stress for the dedup family beyond the q42 mega-bucket
  * test: q192 with a clone family putting ONE band key over half the
  * corpus, and q78 with one mega-doc that swallows hundreds of small docs
  * plus corpus-wide boilerplate shingles the df cap must refuse as block
  * keys. Both must complete, return exactly the planted truth, and keep
  * their equi-join plan shape (no nested-loop fallback under skew). The
  * containment pass must also survive degenerate corpora — empty, one
  * document, a null text — with no pairs and no exception. */
class DedupSkewSpec extends SparkSpec {

  private def assertNoBnl(df: org.apache.spark.sql.DataFrame): Unit = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec => p +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val bnl = walk(df.queryExecution.executedPlan)
      .collect { case j: BroadcastNestedLoopJoinExec => j }
      // scalar builds (1-row count frames) are sanctioned
      .filterNot { j =>
        (if (j.buildSide == BuildLeft) j.left else j.right)
          .schema.fieldNames.sameElements(Array("n_docs"))
      }
    assert(bnl.isEmpty, s"nested-loop join under skew: ${bnl.headOption}")
  }

  test("q192 skew: a clone family owning every band key of half the corpus completes exactly") {
    // 1500 clones (identical text -> identical 60-bit fingerprint -> ONE
    // 15-bit key per band owns half the corpus) + 1500 distinct docs
    val nClones = 1500
    val clones = spark.range(nClones).select(col("id").as("doc_id"),
      lit("the same boilerplate page header body and footer text").as("text"))
    val unique = spark.range(nClones).select((col("id") + nClones).as("doc_id"),
      concat(lit("unique document "), col("id"),
        lit(" with content token"), col("id") * 7,
        lit(" tail"), col("id") * 13).as("text"))
    val out = Dedup.simhash64Pairs(clones.unionAll(unique))
    val cloneRange = col("doc_a") < nClones && col("doc_b") < nClones
    val clonePairs = out.filter(cloneRange)
    // every clone pair surfaces, at Hamming 0, exactly once
    assert(clonePairs.count() == nClones.toLong * (nClones - 1) / 2)
    assert(clonePairs.filter(col("hamming") =!= 0).isEmpty)
    // and the mega-bucket did not leak false positives across the families:
    // any clone-unique pair in the output must genuinely be Hamming<=3
    out.filter(!cloneRange).collect().foreach { r =>
      assert(r.getLong(2) <= 3)
    }
    assertNoBnl(out)
  }

  test("q78 skew: one mega-doc containing 400 small docs; boilerplate never blocks") {
    import spark.implicits._
    val nSmall = 400
    // each small doc: 5 boilerplate tokens shared by ALL docs (df = 100% —
    // the df cap must exclude their shingles from blocking) + 24 unique
    // tokens; the mega-doc is the concatenation of every small doc's text
    val smallTexts = (0 until nSmall).map { i =>
      val unique = (0 until 24).map(j => s"w${i}x$j").mkString(" ")
      s"shared header boilerplate tokens here $unique"
    }
    val mega = smallTexts.mkString(" ")
    val docsDf = smallTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .unionAll(Seq((nSmall.toLong, mega)).toDF("doc_id", "text"))
    val shingled = docsDf.select(col("doc_id"),
      TextFns.shingles(TextFns.toks(col("text")), 3).as("sh"))
    val out = Dedup.containmentFromShingles(shingled)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // exactly the 400 (small ⊂ mega) pairs, each at full containment —
    // no boilerplate-induced small-small pairs, no misses
    assert(got.length == nSmall, s"got ${got.length} pairs")
    assert(got.forall { case (a, b, c) => b == nSmall.toLong && a < nSmall && c == 1.0 },
      got.take(5).mkString(", "))
    assertNoBnl(out)
  }

  test("q78 sharded verify: a forced 3-shard two-pass bit-matches the single pass") {
    import spark.implicits._
    // a fixture with pairs at EVERY hash(a) residue: 3 container docs,
    // each swallowing 40 distinct small docs (so the shard filter and
    // the a-side base filter both genuinely drop rows per shard), plus
    // near-miss docs sharing only a minority of shingles (must stay
    // excluded in both modes)
    val groups = 3
    val per = 40
    val texts = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    (0 until groups).foreach { g =>
      val smalls = (0 until per).map { i =>
        val id = (g * per + i).toLong
        val t = (0 until 20).map(j => s"g${g}d${i}w$j").mkString(" ")
        texts += ((id, t)); t
      }
      texts += (((groups * per + g).toLong, smalls.mkString(" ")))
      // near-miss: first 4 tokens of a small doc + unique tail (3 shared
      // trigrams out of 18 — containment 1/6, far under 0.8)
      texts += (((groups * per + groups + g).toLong,
        (0 until 4).map(j => s"g${g}d0w$j").mkString(" ") + " " +
          (0 until 16).map(j => s"miss${g}u$j").mkString(" ")))
    }
    val shingled = texts.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"),
        TextFns.shingles(TextFns.toks(col("text")), 3).as("sh"))
    def run(verifyShards: Int = 1): Seq[String] =
      Dedup.containmentFromShingles(shingled, verifyShards)
        .collect().map(_.toString).sorted.toSeq
    val single = run()
    assert(single.size == groups * per, s"planted truth: ${single.size}")
    assert(run(verifyShards = 3) == single,
      "sharded union diverged from the single-pass verify")
  }

  private def containmentPairs(docs: Seq[(Long, String)]): Long = {
    import spark.implicits._
    val shingled = docs.toDF("doc_id", "text").select(col("doc_id"),
      TextFns.shingles(TextFns.toks(col("text")), 3).as("sh"))
    Dedup.containmentFromShingles(shingled).count()
  }

  test("q78 degenerate: an empty corpus yields no pairs") {
    assert(containmentPairs(Seq.empty) == 0L)
  }

  test("q78 degenerate: a single document contains nothing but itself") {
    assert(containmentPairs(Seq(0L -> "one lone document with several tokens in it")) == 0L)
  }

  test("q78 degenerate: a null-text document yields no pairs") {
    assert(containmentPairs(Seq(0L -> null)) == 0L)
    // and does not disturb a corpus with no containment in it either
    assert(containmentPairs(Seq(0L -> null,
      1L -> "alpha beta gamma delta epsilon", 2L -> "zeta eta theta iota kappa")) == 0L)
  }
}
