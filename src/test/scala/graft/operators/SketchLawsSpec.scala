package graft.operators

import org.scalacheck.{Gen, Prop, Properties}

/** Merge laws for the three fixed-size mergeable sketch accumulators
  * (Bloom, histogram, HLL). Spark's partial+final aggregation — and the
  * streaming state-store reuse of the same buffers — relies on merge being
  * associative/commutative with zero as identity, and on any partition
  * split folding to the same cells as the sequential pass. The buffers
  * mutate in place (the Aggregator contract allows it), so every law
  * folds fresh copies rather than reusing a merged buffer.
  */
object SketchLawsSpec extends Properties("SketchAggregates") {

  private val terms = Gen.listOf(Gen.oneOf(
    (0 until 40).map(i => s"term$i")))
  private val values = Gen.listOf(Gen.chooseNum(0.0, 100.0))

  // --- Bloom --------------------------------------------------------------

  private def bloomFold(xs: List[String]) =
    xs.foldLeft(Sketches.BloomAggregate.zero)(Sketches.BloomAggregate.reduce)

  property("bloom: any partition split = sequential fold") =
    Prop.forAll(terms, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val k = cut % (xs.size + 1)
      val (l, r) = xs.splitAt(k)
      Sketches.BloomAggregate.merge(bloomFold(l), bloomFold(r))
        .sameElements(bloomFold(xs))
    }

  property("bloom: merge is idempotent (OR semantics)") =
    Prop.forAll(terms) { xs =>
      Sketches.BloomAggregate.merge(bloomFold(xs), bloomFold(xs))
        .sameElements(bloomFold(xs))
    }

  // --- HLL ----------------------------------------------------------------

  private def hllFold(xs: List[String]) =
    xs.foldLeft(SketchTwins.HllAggregate.zero)(SketchTwins.HllAggregate.reduce)

  property("hll: any partition split = sequential fold") =
    Prop.forAll(terms, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val k = cut % (xs.size + 1)
      val (l, r) = xs.splitAt(k)
      SketchTwins.HllAggregate.merge(hllFold(l), hllFold(r))
        .sameElements(hllFold(xs))
    }

  property("hll: merge is idempotent, commutative, zero is identity") =
    Prop.forAll(terms, terms) { (x, y) =>
      SketchTwins.HllAggregate.merge(hllFold(x), hllFold(x))
        .sameElements(hllFold(x)) &&
      SketchTwins.HllAggregate.merge(hllFold(x), hllFold(y))
        .sameElements(SketchTwins.HllAggregate.merge(hllFold(y), hllFold(x))) &&
      SketchTwins.HllAggregate.merge(hllFold(x), SketchTwins.HllAggregate.zero)
        .sameElements(hllFold(x))
    }

  property("hll: insert-again never changes registers (distinct semantics)") =
    Prop.forAll(terms) { xs =>
      hllFold(xs ++ xs).sameElements(hllFold(xs)) &&
      hllFold(xs.reverse).sameElements(hllFold(xs))
    }

  // --- Histogram ----------------------------------------------------------

  private val hist = new SketchTwins.HistogramAggregate(0.0, 100.0)

  private def histFold(xs: List[Double]) =
    xs.foldLeft(hist.zero)(hist.reduce)

  property("hist: any partition split = sequential fold") =
    Prop.forAll(values, Gen.chooseNum(0, 100)) { (xs, cut) =>
      val k = cut % (xs.size + 1)
      val (l, r) = xs.splitAt(k)
      hist.merge(histFold(l), histFold(r)).sameElements(histFold(xs))
    }

  property("hist: mass is conserved and buckets stay in range") =
    Prop.forAll(values) { xs =>
      val cells = histFold(xs)
      cells.sum == xs.length.toLong && cells.forall(_ >= 0L)
    }
}
