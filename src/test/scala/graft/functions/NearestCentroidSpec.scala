package graft.functions

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

import graft.SparkSpec
import graft.operators.TextFns

/** Value identity of the native nearest-centroid kernel against the
  * relational form it replaced — broadcast join with the centroid table,
  * `max(struct(cosine, -cid))` grouped by the vector — kept here (and only
  * here) as the reference. Every comparison runs through generated code
  * and through the interpreted `eval`, under ANSI division (a zero norm
  * fails) and non-ANSI division (a zero norm is a null cosine). */
class NearestCentroidSpec extends SparkSpec {
  import spark.implicits._

  /** The assignment `semDeDup`, `ivfAssigned` and `ivfAssignTopK` made
    * before the kernel. */
  private def reference(e: DataFrame, cent: DataFrame): DataFrame =
    e.join(broadcast(cent))
      .select(col("vec_id"),
        struct(TextFns.cosine(col("v"), col("cv")).as("csim"),
          (-col("cid")).as("ncid")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(max(col("sc")).as("best"))
      .select(col("vec_id"), (-col("best.ncid")).as("cid"), col("best.csim").as("csim"))

  private def kernel(e: DataFrame, cent: DataFrame): DataFrame =
    e.select(col("vec_id"), TextFns.nearestCentroid(col("v"), cent).as("nc"))
      .filter(col("nc").isNotNull)
      .select(col("vec_id"), col("nc.cid").as("cid"), col("nc.csim").as("csim"))

  /** Rows as (vec_id, cid, csim bits), NaN canonical; or the error class. */
  private def run(df: => DataFrame): Either[String, Seq[(Long, Option[Long], Option[Long])]] =
    try Right(df.collect().toSeq.map(r => (r.getLong(0),
      Option(r.get(1)).map(_.asInstanceOf[Long]),
      Option(r.get(2)).map(d => java.lang.Double.doubleToLongBits(d.asInstanceOf[Double]))))
      .sortBy(_._1))
    catch {
      case e: Exception =>
        val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" / ")
        Left(if (msg.contains("DIVIDE_BY_ZERO")) "DIVIDE_BY_ZERO" else msg)
    }

  /** (factory mode, whole-stage codegen, ANSI): generated code vs `eval`. */
  private val modes = for {
    (factory, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
    ansi <- Seq("true", "false")
  } yield (factory, wholeStage, ansi)

  /** Kernel and reference over `vecs` × `cents` under every mode; returns
    * each mode's disagreement (empty when identical) and the kernel's
    * outcomes. The frames are built inside the mode, as `Divide` and the
    * kernel capture the ANSI flag at construction. */
  private def compare(vecs: Seq[(Long, Seq[Double])], cents: Seq[(Long, Seq[Double])])
      : (Seq[String], Seq[Either[String, Seq[(Long, Option[Long], Option[Long])]]]) = {
    val outcomes = modes.map { case (factory, wholeStage, ansi) =>
      val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage",
        "spark.sql.ansi.enabled", "spark.sql.optimizer.excludedRules")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.ansi.enabled", ansi)
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      try {
        val e = vecs.toDF("vec_id", "v")
        val c = cents.toDF("cid", "cv")
        val (k, r) = (run(kernel(e, c)), run(reference(e, c)))
        (if (k == r) None else Some(s"$factory ansi=$ansi: kernel=$k reference=$r"), k)
      } finally saved.foreach {
        case (key, Some(v)) => spark.conf.set(key, v)
        case (key, None) => spark.conf.unset(key)
      }
    }
    (outcomes.flatMap(_._1), outcomes.map(_._2))
  }

  private val cents3 = Seq(7L -> Seq(1.0, 0.0), 3L -> Seq(0.0, 1.0), 5L -> Seq(0.6, 0.8))

  test("plain vectors and ties: the higher cosine wins, a tie goes to the smaller cid") {
    val vecs = Seq(1L -> Seq(2.0, 0.1), 2L -> Seq(0.1, 2.0), 3L -> Seq(0.6, 0.8),
      4L -> Seq(-1.0, -1.0), 5L -> Seq(1.0, 1.0))
    // 9 duplicates 3 and 4 duplicates 7: exact ties
    val cents = cents3 ++ Seq(9L -> Seq(0.0, 1.0), 4L -> Seq(1.0, 0.0))
    val (bad, got) = compare(vecs, cents)
    assert(bad.isEmpty, bad.mkString("\n"))
    val cids = got.head.toOption.get.map(r => r._1 -> r._2.get).toMap
    assert(cids == Map(1L -> 4L, 2L -> 3L, 3L -> 5L, 4L -> 3L, 5L -> 5L))
  }

  test("a zero vector and a zero centroid divide by zero as Spark does") {
    // zero v: every denominator is 0; zero centroid: one denominator is 0
    Seq(Seq(1L -> Seq(0.0, 0.0)) -> cents3,
        Seq(1L -> Seq(1.0, 2.0)) -> (cents3 :+ (2L -> Seq(0.0, 0.0)))).foreach {
      case (vecs, cents) =>
        val (bad, got) = compare(vecs, cents)
        assert(bad.isEmpty, bad.mkString("\n"))
        // ANSI fails loudly; non-ANSI makes the cosine null, ranked lowest
        assert(got.zip(modes).forall { case (g, (_, _, ansi)) =>
          (ansi == "true") == (g == Left("DIVIDE_BY_ZERO")) })
    }
    val (_, got) = compare(Seq(1L -> Seq(0.0, 0.0)), cents3)
    assert(got(1) == Right(Seq((1L, Some(3L), None))))
  }

  test("NaN ranks highest, null lowest: NaN elements, a null vector, a length mismatch") {
    val nan = Double.NaN
    val vecs = Seq(1L -> Seq(nan, 1.0), 2L -> (null: Seq[Double]), 3L -> Seq(1.0, 0.0, 0.0),
      4L -> Seq(0.2, 0.9))
    // a NaN centroid beats every finite cosine; a 3-dim centroid gives the
    // 2-dim vectors a null cosine and the 3-dim vector its only value
    val cents = cents3 ++ Seq(8L -> Seq(nan, 0.0), 1L -> Seq(0.0, 0.0, 1.0))
    val (bad, got) = compare(vecs, cents)
    assert(bad.isEmpty, bad.mkString("\n"))
    val nanBits = java.lang.Double.doubleToLongBits(nan)
    assert(got.head == Right(Seq(
      (1L, Some(3L), Some(nanBits)),  // NaN with every 2-dim centroid: smallest cid
      (2L, Some(1L), None),           // null v: every cosine null, smallest cid
      (3L, Some(1L), Some(java.lang.Double.doubleToLongBits(0.0))),
      (4L, Some(8L), Some(nanBits)))))
  }

  test("an empty centroid table assigns no vector") {
    val (bad, got) = compare(Seq(1L -> Seq(1.0, 0.0), 2L -> (null: Seq[Double])), Seq.empty)
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(got.forall(_ == Right(Seq.empty)))
  }

  test("random vectors over a small value set equal the relational form") {
    val value = Gen.oneOf(-1.0, 0.0, 0.5, 1.0, 2.0, Double.NaN)
    def vec(dims: Gen[Int]) = Gen.frequency(
      1 -> Gen.const(null: Seq[Double]), 12 -> dims.flatMap(Gen.listOfN(_, value)))
    val gen = for {
      vs <- Gen.listOfN(12, vec(Gen.oneOf(2, 2, 2, 3)))
      k <- Gen.choose(0, 5)
      cids <- Gen.listOfN(k, Gen.choose(-3L, 6L))
      cvs <- Gen.listOfN(k, vec(Gen.oneOf(2, 2, 2, 3)))
    } yield (vs.zipWithIndex.map { case (v, i) => i.toLong -> v }, cids.zip(cvs))
    val prop = Prop.forAll(gen) { case (vecs, cents) => compare(vecs, cents)._1.isEmpty }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("the driver-side table ranks a NaN centroid first wherever it sits") {
    val nan = Double.NaN
    Seq(Seq(4L -> Array(1.0, 0.0), 6L -> Array(nan, 1.0)),
        Seq(6L -> Array(nan, 1.0), 4L -> Array(1.0, 0.0))).foreach { cs =>
      val r = NearestCentroid.compute(Array(1.0, 0.0), CentroidTable(cs), true)
      assert(r.getLong(0) == 6L && r.getDouble(1).isNaN)
    }
  }

  test("a non-constant or mistyped centroid table fails analysis; the SQL name resolves") {
    Seq(
      "SELECT graft_nearest_centroid(v, c) FROM VALUES " +
        "(array(1d, 0d), array(named_struct('cid', 1L, 'cv', array(1d, 0d)))) AS t(v, c)",
      "SELECT graft_nearest_centroid(array(1d, 0d), " +
        "array(named_struct('cid', 1, 'cv', array(1d, 0d))))",
      "SELECT graft_nearest_centroid(array(1, 0), " +
        "array(named_struct('cid', 1L, 'cv', array(1d, 0d))))").foreach { q =>
      val e = intercept[AnalysisException](spark.sql(q).collect())
      assert(e.getMessage.contains("graft_nearest_centroid"), e.getMessage)
    }
    val r = spark.sql(
      """SELECT graft_nearest_centroid(array(3d, 4d),
           array(named_struct('cid', 7L, 'cv', array(1d, 0d)),
                 named_struct('cid', 3L, 'cv', array(0d, 1d)))) AS nc""").head()
    assert(r.getStruct(0).getLong(0) == 3L && r.getStruct(0).getDouble(1) == 0.8)
  }
}
