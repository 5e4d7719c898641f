package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import TextFns._

/** Behavioral tests for the dedup operators on crafted data (the DuckDB
  * oracle covers determinism on the driver testdata; these cover semantics —
  * does near-dup detection actually catch near-dups?). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "key agg row scan slow fast table value part hash merge batch line sort window"
  private val nearDup = base.replace("slow", "quick") // 1 of 15 tokens changed
  private val unrelated = "completely different words nothing shared here at all in any way whatsoever ok fine"

  private def docsDf = Seq(
    (0L, base), (1L, base), (2L, nearDup), (3L, unrelated)
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts under one hash") {
    val out = docsDf.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out(0L) == 2L) // docs 0 and 1 collapse
    assert(out(2L) == 1L)
    assert(out(3L) == 1L)
  }

  test("minhash-LSH candidates include the near-dup pair, exclude unrelated") {
    val sh = docsDf.select(col("doc_id"), shingles(toks(col("text")), 3).as("sh"))
    val sig = sh.select(col("doc_id"), minhashSig(col("sh"), 8, 0).as("mh"))
    val banded = sig.select(col("doc_id"),
      explode(array((0 until 4).map(j =>
        md5(concat(element_at(col("mh"), 2 * j + 1), element_at(col("mh"), 2 * j + 2)))): _*))
        .as("k"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.k") === col("y.k") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((0L, 1L)), "identical docs must collide in every band")
    assert(!cand.exists { case (i, j) => j == 3L || i == 3L },
      s"unrelated doc should not be a candidate, got $cand")
  }

  test("trigram jaccard verifies: identical=1.0, near-dup high, unrelated 0") {
    val sh = docsDf.select(col("doc_id"), shingles(toks(col("text")), 3).as("sh"))
    val pairs = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"),
        jaccard(col("x.sh"), col("y.sh")).as("jac"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(pairs((0L, 2L)) > 0.5 && pairs((0L, 2L)) < 1.0)
    assert(pairs((0L, 3L)) == 0.0)
  }

  test("q42 pipeline finds real near-dup pairs in the driver testdata") {
    val got = Dedup.queries("q42_dedup_lsh_pairs")(spark, sfDir)
    val rows = got.collect()
    assert(rows.nonEmpty, "sf0.001 documents contain near-duplicates; LSH must surface some")
    assert(rows.forall(_.getDouble(2) >= Dedup.TrigramTNum.toDouble / Dedup.TrigramTDen))
  }

  test("adversarial mega-bucket: 5k identical docs complete without a single-row bucket") {
    // Boilerplate mega-clusters (identical headers/templates) put millions
    // of docs in ONE (band, key) bucket at web scale. The r01 collect_list
    // formulation materialized the whole bucket's ids in one row before pair
    // expansion; the self-join streams it (SMJ spills its per-key match
    // buffer), so this must finish and produce exactly C(n,2) = 12.5M
    // verified pairs. (10k clones = 50M pairs also completes — ~4x this
    // test's runtime, all in the linear per-pair verify stage — trimmed to
    // keep the suite fast.)
    val n = 5000
    val mega = spark.range(n).select(col("id").as("doc_id"), lit(base).as("text"))
    // one band of 2 hashes: all docs land in ONE bucket (the worst case);
    // more bands would only duplicate the same candidates per band.
    val pairs = Dedup.lshNearDupPairs(mega, n = 3, numHashes = 2, bandSize = 2,
      seedBase = 0, tNum = 7, tDen = 10)
    val cnt = pairs.count()
    assert(cnt == n.toLong * (n - 1) / 2, s"expected all-pairs of the clone cluster, got $cnt")
  }

  test("connected components: chain, cycle, and disjoint pair resolve to min labels") {
    // chain 1-2-3-4 (transitive closure: 1 and 4 never pair directly),
    // cycle 20-21-22-20, disjoint pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("i", "j")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("star CC matches label-prop on chain, cycle, and disjoint pair") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("i", "j")
    val got = Dedup.ccAlternatingStars(pairs)._1.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("star CC converges in O(log n) rounds on an adversarial 10k-node path") {
    // A 10k-node path graph has diameter 10k: min-label propagation needs
    // ~10k rounds (it exhausts any sane cap), while alternating large/small
    // star — the default's fallback — halves the remaining depth every round.
    val n = 10000
    val path = spark.range(n - 1)
      .select(col("id").as("i"), (col("id") + 1).as("j"))
    // contract = false pins the distributed loop itself: the union-find
    // pre-pass would collapse the whole path inside one partition.
    val (labels, rounds) =
      Dedup.ccAlternatingStars(path, maxIters = 25, contract = false)
    assert(rounds <= 20, s"expected O(log n) rounds, took $rounds")
    val comps = labels.select(col("component")).distinct().collect()
    assert(comps.length == 1 && comps.head.getLong(0) == 0L)
    assert(labels.count() == n)
    // The default entry point must survive the same adversarial shape.
    val viaDefault = Dedup.connectedComponents(path)
      .select(col("component")).distinct().collect()
    assert(viaDefault.length == 1 && viaDefault.head.getLong(0) == 0L)
  }

  test("partition-local contraction: same labels, fewer rounds, tiny flush chunks") {
    // An adversarial mix — a path (cross-partition chains), a cycle, dupes,
    // both pair orientations, and disjoint islands — must label identically
    // with and without the union-find pre-pass, including when the flush
    // threshold forces the per-task map to drain every handful of nodes
    // (chunked contraction must still preserve connectivity).
    val pairs = spark.range(200)
      .select(col("id").as("i"), (col("id") + 1).as("j")) // path 0..200
      .union(spark.range(4).select((col("id") + 500).as("i"),
        ((col("id") + 1) % 4 + 500).as("j")))             // cycle 500..503
      .union(spark.range(3).select((col("id") * 2 + 600).as("i"),
        (col("id") * 2 + 601).as("j")))                   // 3 disjoint pairs
      .union(spark.range(50).select((col("id") + 1).as("i"),
        col("id").as("j")))                               // swapped dupes
      .repartition(16)
    def run(contract: Boolean) =
      Dedup.ccAlternatingStars(pairs, maxIters = 25, contract = contract)
    val (base, baseRounds) = run(contract = false)
    val (fast, fastRounds) = run(contract = true)
    assert(fast.collect().map(_.toString).sorted.toSeq ==
      base.collect().map(_.toString).sorted.toSeq)
    assert(fastRounds <= baseRounds,
      s"contraction must not add rounds ($fastRounds vs $baseRounds)")
    // chunked drain path: flush after every ~8 tracked nodes
    val chunked = Dedup.ccAlternatingStars(
      Dedup.ccLocalContract(
        pairs.select(greatest(col("i"), col("j")).as("src"),
          least(col("i"), col("j")).as("dst")), flushNodes = 8)
        .select(col("src").as("i"), col("dst").as("j")),
      maxIters = 25, contract = false)._1
    assert(chunked.collect().map(_.toString).sorted.toSeq ==
      base.collect().map(_.toString).sorted.toSeq)
  }

  test("star CC matches label-prop on the real q42 pair set") {
    val pairs = Dedup.queries("q42_dedup_lsh_pairs")(spark, sfDir)
      .select(col("i"), col("j"))
    // the default entry point (label-prop, star only on its fallback)
    val lp = Dedup.connectedComponents(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val st = Dedup.ccAlternatingStars(pairs)._1.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lp == st && lp.nonEmpty)
  }

  test("q47 canonical corpus keeps exactly one representative per near-dup cluster") {
    val comp = Dedup.queries("q46_dedup_components")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(comp.nonEmpty, "sf0.001 has near-dup clusters")
    val kept = Dedup.queries("q47_dedup_canonical")(spark, sfDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val total = spark.read.parquet(s"$sfDir/documents.parquet").count()
    // every cluster contributes exactly its min member; all others survive
    comp.foreach { case (id, c) =>
      assert(kept.contains(id) == (id == c), s"doc $id component $c kept=${kept.contains(id)}")
    }
    assert(kept.size == total - comp.count { case (id, c) => id != c })
  }

  test("q88: source signatures obey the MinHash union law (JVM recompute)") {
    val out = Dedup.queries("q88_source_similarity")(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getDouble(3)))
    // per-source signature ground truth: min seeded-md5 over the UNION of
    // the source's shingle sets (the union law the query relies on)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val sig = docs.groupBy(_._1).flatMap { case (src, rows) =>
      val sh = rows.flatMap { case (_, text) =>
        val tk = text.split(" ")
        if (tk.length >= 3) tk.sliding(3).map(_.mkString(" ")).toSeq
        else Seq.empty
      }.toSet
      if (sh.isEmpty) None
      else Some(src -> (0 until Dedup.NumHashes).map(seed =>
        sh.map(x => md5hex(s"$seed|$x")).min))
    }
    val expected = (for {
      a <- sig.keys.toSeq; b <- sig.keys.toSeq if a < b
    } yield (a, b) ->
      sig(a).zip(sig(b)).count { case (x, y) => x == y }.toLong).toMap
    assert(out.map(o => o._1 -> o._2).toMap == expected)
    // estimate is the exact rational n/NumHashes
    out.foreach { case (_, n, est) =>
      assert(est == n.toDouble / Dedup.NumHashes)
    }
  }

  test("q93: sparse cosine finds weighted overlap; mega-terms are out of the subspace") {
    // docs 1/2: identical rare-term content -> cosine exactly 1.
    // docs 3/4: overlap only on the term "common", which appears in ALL
    // docs (df = 6 > dfCap = 5) -> no candidate pair at all.
    // doc 5/6: partial rare overlap -> 0 < cos < 1, hand-computable.
    val docs = Seq(
      (1L, "alpha beta gamma common"),
      (2L, "alpha beta gamma common"),
      (3L, "delta delta common"),
      (4L, "epsilon common"),
      (5L, "zeta zeta eta common"),
      (6L, "zeta eta common")
    ).toDF("doc_id", "text")
    val out = Dedup.sparseCosinePairs(docs, dfCap = 5, minCos = 0.0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // identical docs: dot = |v|² = 3, cos = 3/(√3·√3) — which in IEEE is
    // 1.0000000000000002, the exact double both engines produce
    assert(out((1L, 2L)) ==
      ((3L, 3L, 3.0 / (math.sqrt(3.0) * math.sqrt(3.0)))))
    // doc5 = {zeta:2, eta:1}, doc6 = {zeta:1, eta:1}: dot = 3,
    // |5|² = 5, |6|² = 2 -> cos = 3/sqrt(10)
    val (n56, d56, c56) = out((5L, 6L))
    assert(n56 == 2L && d56 == 3L)
    assert(c56 == 3.0 / (math.sqrt(5.0) * math.sqrt(2.0)))
    // "common" (df 6 > cap) forms no pair and is absent from the dot of
    // pairs that DO exist (1-2 dot is 3, not 4)
    assert(!out.contains((3L, 4L)))
  }

  test("q103: no near-dup pair ever crosses the train/valid split") {
    val split = Dedup.queries("q103_leakage_safe_split")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val pairs = Dedup.queries("q42_dedup_lsh_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (i, j) =>
      assert(split(i) == split(j), s"pair ($i,$j) crosses the split")
    }
    // every doc is assigned, and both sides are populated
    assert(split.size == spark.read.parquet(s"$sfDir/documents.parquet").count())
    assert(split.values.toSet == Set("train", "valid"))
    // q36's doc-hash split DOES leak across at least one near-dup pair on
    // this corpus — the failure mode q103 exists to remove
    val q36 = TextAnalysis.queries("q36_train_split")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(pairs.exists { case (i, j) => q36(i) != q36(j) },
      "expected q36 to exhibit cross-split leakage on the clone clusters")
  }

  test("q106: the longest cluster member is canonical; exactly one per cluster") {
    val rows = Dedup.queries("q106_canonical_longest")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._3).foreach { case (cl, members) =>
      val canon = members.filter(_._4)
      assert(canon.length == 1, s"cluster $cl")
      // the flagged member is the (n_chars desc, doc_id asc) max
      val best = members.minBy(m => (-m._2, m._1))
      assert(canon.head._1 == best._1, s"cluster $cl")
    }
    // multi-member clusters exist AND at least one canonical pick differs
    // from q47's min-id rule (the policy change is observable)
    val multi = rows.groupBy(_._3).filter(_._2.length > 1)
    assert(multi.nonEmpty)
    assert(multi.exists { case (_, ms) =>
      ms.filter(_._4).head._1 != ms.map(_._1).min
    }, "expected some cluster whose longest member is not its min-id member")
  }

  test("q99: cluster-size histogram is consistent with the q46 component labels") {
    val comp = Dedup.queries("q46_dedup_components")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(comp.nonEmpty)
    val expected = comp.groupBy(_._2).values.map(_.length)
      .groupBy(identity).map { case (sz, cs) =>
        sz.toLong -> (cs.size.toLong, (sz * cs.size).toLong, 1.0 / sz)
      }
    val out = Dedup.queries("q99_cluster_sizes")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out == expected)
  }

  test("q96: edit distance on the pair list matches a JVM Levenshtein recompute") {
    val rows = Dedup.queries("q96_edit_distance")(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(3), r.getLong(4),
        r.getDouble(5))))
    assert(rows.nonEmpty, "sf0.001 has near-dup pairs")
    val txt = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Long = {
      val prev = Array.tabulate(b.length + 1)(_.toLong)
      val cur = new Array[Long](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i.toLong
        for (j <- 1 to b.length) {
          val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        }
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }
    rows.foreach { case ((i, j), (d, m, sim)) =>
      val (a, b) = (txt(i), txt(j))
      assert(d == lev(a, b), s"pair ($i,$j)")
      assert(m == math.max(a.length, b.length).toLong)
      assert(sim == 1.0 - d.toDouble / m)
      // near-dup pairs from the trigram tier should be character-close too
      assert(sim > 0.5, s"pair ($i,$j) sim=$sim")
    }
  }

  test("q110: cross-doc duplicated spans flagged, within-doc repeats excluded") {
    import graft.operators.{Dedup => D}
    val span = (1 to 32).map(i => s"w$i").mkString(" ")
    val docsDf = Seq(
      // A and B share the 32-token span embedded in different contexts
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"x $span y z"),
      // C repeats the span TWICE within itself but shares nothing cross-doc
      (3L, (1 to 32).map(i => s"c$i").mkString(" ") + " " +
        (1 to 32).map(i => s"c$i").mkString(" ")),
      // D is too short to hold a single window
      (4L, "tiny doc")
    ).toDF("doc_id", "text").withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")))
    // drive through a temp dir so the query reads it like the real table
    val dir = java.nio.file.Files.createTempDirectory("q110").toString
    docsDf.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = D.queries("q110_dup_spans")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    // A: 36 tokens -> 5 windows; those containing the full span = positions
    // overlapping it... exactly the window starting at token 3 matches B's
    // window at 2 — both docs must flag >= 1 duplicated window
    assert(out(1L)._3 >= 1L && out(2L)._3 >= 1L,
      s"cross-doc span not flagged: $out")
    // C: within-doc repetition only -> ZERO duplicated windows (q72's axis)
    assert(out(3L)._3 == 0L, s"within-doc repeat wrongly flagged: ${out(3L)}")
    // D: no window fits; frame still carries the doc with zeros
    assert(out(4L) == ((2L, 0L, 0L, 0.0)))
    // duplicated fraction is the exact rational n_dup/n_windows
    val (_, nw, nd, frac) = out(1L)
    assert(frac == nd.toDouble / nw)
  }

  test("q143: triangle census equals a JVM recompute from the pair list") {
    val edges = Dedup.queries("q42_dedup_lsh_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = edges.toSeq.flatMap { case (i, j) => Seq(i -> j, j -> i) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet
    val expTri = nodes.map { v =>
      val nb = adj(v).toSeq
      v -> nb.combinations(2).count { p =>
        edges.contains((math.min(p(0), p(1)), math.max(p(0), p(1)))) }
    }.toMap
    val out = Dedup.queries("q143_dup_graph_triangles")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out.keySet == nodes)
    nodes.foreach { v =>
      val (deg, tri, cc) = out(v)
      assert(deg == adj(v).size.toLong, s"doc $v degree")
      assert(tri == expTri(v).toLong, s"doc $v triangles")
      val expCc = if (deg >= 2) 2.0 * expTri(v) / (deg * (deg - 1)) else 0.0
      assert(cc == expCc, s"doc $v clustering")
      assert(cc >= 0.0 && cc <= 1.0)
    }
    // the testdata's clone families must actually close triangles
    assert(out.values.exists(_._2 > 0), "no triangles in the near-dup graph")
  }

  test("q150: label propagation equals a 3-round JVM sync recompute; pairs converge") {
    val edges = Dedup.queries("q42_dedup_lsh_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = edges.toSeq.flatMap { case (i, j) => Seq(i -> j, j -> i) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = adj.keySet
    var lbl: Map[Long, Long] = nodes.map(v => v -> v).toMap
    (1 to 3).foreach { _ =>
      lbl = nodes.map { v =>
        // vote = neighbor labels + own label once (the self-loop)
        val votes = (adj(v).map(lbl) :+ lbl(v))
          .groupBy(identity).view.mapValues(_.size).toSeq
        v -> votes.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val out = Dedup.queries("q150_label_prop")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == nodes)
    nodes.foreach { v =>
      assert(out(v) == ((lbl(v), sizes(lbl(v)))), s"doc $v")
    }
    // structure: labels are node ids; an isolated pair must share one
    // community (the self-vote kills the LPA swap oscillation)
    assert(lbl.values.toSet.subsetOf(nodes))
    val deg = adj.view.mapValues(_.size).toMap
    edges.filter { case (i, j) => deg(i) == 1 && deg(j) == 1 }
      .foreach { case (i, j) =>
        assert(lbl(i) == lbl(j), s"isolated pair ($i,$j) did not converge")
      }
    assert(lbl.values.toSet.size < nodes.size, "no community ever merged")
  }

  test("q139: max duplicated span equals a brute-force longest-common-substring DP") {
    val W = 32
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    // candidate pairs: docs sharing at least one cross-doc-duplicated
    // W-window content (modulo md5, which the DP below doesn't use at all,
    // so a digest collision would surface here as a length mismatch)
    val byWin = scala.collection.mutable.Map.empty[String, Set[Long]]
    docs.foreach { case (id, tk) =>
      if (tk.length >= W)
        (0 to tk.length - W).foreach { i =>
          val key = tk.slice(i, i + W).mkString(" ")
          byWin(key) = byWin.getOrElse(key, Set.empty) + id
        }
    }
    val cands = byWin.values.filter(_.size >= 2)
      .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet
    // exact longest common token-substring per candidate pair (O(na*nb) DP)
    val tkById = docs.toMap
    def lcs(a: Array[String], b: Array[String]): Int = {
      var best = 0
      val prev = new Array[Int](b.length + 1)
      val cur = new Array[Int](b.length + 1)
      var i = 1
      while (i <= a.length) {
        var j = 1
        while (j <= b.length) {
          cur(j) = if (a(i - 1) == b(j - 1)) prev(j - 1) + 1 else 0
          if (cur(j) > best) best = cur(j)
          j += 1
        }
        System.arraycopy(cur, 0, prev, 0, cur.length)
        i += 1
      }
      best
    }
    val expected = cands.map { case (a, b) => ((a, b), lcs(tkById(a), tkById(b))) }
      .filter(_._2 >= W).toMap
    val got = Dedup.queries("q139_max_dup_span")(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2).toInt)).toMap
    assert(got == expected,
      s"missing=${expected.keySet.diff(got.keySet)} extra=${got.keySet.diff(expected.keySet)} " +
        s"diffs=${expected.collect { case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }}")
    assert(expected.nonEmpty, "testdata must contain a cross-doc duplicated span")
  }

  test("q176/q177: dup mass and clip accounting match a JVM interval-union recompute") {
    val W = 32
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    // hash-free recompute: group window CONTENT directly (an md5 collision
    // in the engine path would surface here as a mass mismatch)
    val byWin = scala.collection.mutable.Map.empty[String, List[(Long, Int)]]
    docs.foreach { case (id, tk) =>
      if (tk.length >= W)
        (1 to tk.length - W + 1).foreach { p =>
          val key = tk.slice(p - 1, p - 1 + W).mkString(" ")
          byWin(key) = (id, p) :: byWin.getOrElse(key, Nil)
        }
    }
    val dupGroups = byWin.values.filter(_.map(_._1).distinct.size >= 2).toList
    def unionLen(ps: Seq[Int]): Long = {
      var total = 0L; var start = -1; var end = -1
      ps.sorted.foreach { p =>
        if (start < 0) { start = p; end = p + W }
        else if (p > end) { total += end - start; start = p; end = p + W }
        else end = math.max(end, p + W)
      }
      if (start >= 0) total += end - start
      total
    }
    val dupPos = dupGroups.flatten.groupBy(_._1).view
      .mapValues(_.map(_._2)).toMap
    val owners = dupGroups.map(g => g -> g.map(_._1).min)
    val foreignPos = owners
      .flatMap { case (g, own) => g.filter(_._1 != own) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nTok = docs.map { case (id, tk) => id -> tk.length.toLong }.toMap
    val expMass = docs.map { case (id, _) =>
      id -> unionLen(dupPos.getOrElse(id, Nil)) }.toMap
    val expClip = docs.map { case (id, _) =>
      id -> unionLen(foreignPos.getOrElse(id, Nil)) }.toMap
    val gotMass = Dedup.queries("q176_dup_mass")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(gotMass.keySet == nTok.keySet)
    gotMass.foreach { case (id, (n, mass, frac)) =>
      assert(n == nTok(id) && mass == expMass(id) &&
        frac == mass.toDouble / n, s"doc $id")
    }
    val gotClip = Dedup.queries("q177_exactsubstr_clip")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    gotClip.foreach { case (id, (n, clip, kept)) =>
      assert(n == nTok(id) && clip == expClip(id) && kept == n - clip,
        s"doc $id")
    }
    // semantics visible on the testdata: some doc clips, every digest's
    // owner doc clips nothing it owns (mass > 0 but possibly clip == 0),
    // and clipped mass never exceeds total dup mass.
    assert(gotClip.values.exists(_._2 > 0))
    assert(gotMass.keys.forall(id => expClip(id) <= expMass(id)))
    assert(gotMass.values.exists { case (_, m, _) => m > 0 } &&
      gotClip.exists { case (id, (_, c, _)) => c == 0 && expMass(id) > 0 })
  }

  test("q190/q191: span leakage and decontam match hash-free JVM recomputes") {
    val W = 32
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").filter(_.nonEmpty)))
    val byWin = scala.collection.mutable.Map.empty[String, List[(Long, Int)]]
    docs.foreach { case (id, _, tk) =>
      if (tk.length >= W)
        (1 to tk.length - W + 1).foreach { p =>
          val key = tk.slice(p - 1, p - 1 + W).mkString(" ")
          byWin(key) = (id, p) :: byWin.getOrElse(key, Nil)
        }
    }
    val srcOf = docs.map(d => d._1 -> d._2).toMap
    val dupGroups = byWin.values
      .filter(_.map(_._1).distinct.size >= 2).toList
    // q190: distinct shared digests per source pair
    val expPairs = dupGroups.flatMap { g =>
      val srcs = g.map(x => srcOf(x._1)).distinct.sorted
      for (a <- srcs; b <- srcs if a < b) yield (a, b)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val gotPairs = Dedup.queries("q190_span_leakage")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(gotPairs == expPairs && gotPairs.nonEmpty)
    // q191: leaked mass per train doc under the md5 split
    def heldout(id: Long): Boolean =
      graft.operators.TextFns.md5hex(id.toString) < "1a"
    def unionLen(ps: Seq[Int]): Long = {
      var total = 0L; var start = -1; var end = -1
      ps.sorted.foreach { p =>
        if (start < 0) { start = p; end = p + W }
        else if (p > end) { total += end - start; start = p; end = p + W }
        else end = math.max(end, p + W)
      }
      if (start >= 0) total += end - start
      total
    }
    val leakedPos = dupGroups
      .filter(_.exists(x => heldout(x._1)))
      .flatMap(_.filterNot(x => heldout(x._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val expected = docs.filterNot(d => heldout(d._1)).map { case (id, _, tk) =>
      val leaked = unionLen(leakedPos.getOrElse(id, Nil))
      id -> (tk.length.toLong, leaked, tk.length - leaked)
    }.toMap
    val got = Dedup.queries("q191_span_decontam")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected)
    // the semantics are exercised: some train doc leaks, some is clean
    assert(got.values.exists(_._2 > 0) && got.values.exists(_._2 == 0))
  }

  test("q192: banded Hamming join finds EVERY Hamming<=3 pair (pigeonhole completeness)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    def sim60(tk: Array[String]): Long = {
      val votes = new Array[Int](60)
      tk.foreach { w =>
        val h = java.lang.Long.parseLong(
          graft.operators.TextFns.md5hex(w).take(15), 16)
        (0 until 60).foreach { b =>
          votes(b) += (if (((h >> b) & 1) == 1) 1 else -1)
        }
      }
      (0 until 60).map(b => if (votes(b) >= 0) 1L << b else 0L).sum
    }
    val fps = docs.map { case (id, tk) => id -> sim60(tk) }
    // brute all-pairs ground truth at this SF
    val expected = (for {
      i <- fps.indices; j <- (i + 1) until fps.length
      (ia, sa) = fps(i); (ib, sb) = fps(j)
      h = java.lang.Long.bitCount(sa ^ sb)
      if h <= 3
    } yield (math.min(ia, ib), math.max(ia, ib), h.toLong)).toSet
    val got = Dedup.queries("q192_simhash64_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"missed=${expected.diff(got)} extra=${got.diff(expected)}")
    assert(got.nonEmpty, "testdata should contain simhash near-dups")
  }

  /** Independent JVM recompute of the pre-verify LSH candidates the
    * minhash audits (q133, q220) read: trigram shingles, 8-seed minhash
    * (lexicographic min of md5("<seed>|<shingle>")) and banded candidate
    * pairs — (shingles, signatures, candidates). */
  private def jvmMinhashCandidates()
      : (Map[Long, Vector[String]], Map[Long, Vector[String]], Set[(Long, Long)]) = {
    import graft.operators.{Dedup => D}
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val sh = docs.map { case (id, t) =>
      val tk = t.split(" ", -1)
      id -> (if (tk.length >= 3) tk.sliding(3).map(_.mkString(" ")).toVector
             else Vector.empty[String])
    }.toMap
    val sig = sh.collect { case (id, ss) if ss.nonEmpty =>
      id -> (0 until D.NumHashes).map(seed =>
        ss.iterator.map(x => md5hex(s"$seed|$x")).min).toVector
    }
    val byBand = sig.toSeq
      .flatMap { case (id, sg) =>
        (0 until D.NumBands).map(j =>
          (j, sg(j * D.BandSize) + sg(j * D.BandSize + 1)) -> id)
      }
      .groupBy(_._1).values.map(_.map(_._2).sorted)
    val cand = byBand.flatMap(ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    (sh, sig, cand)
  }

  test("q133: estimator audit matches a JVM minhash+jaccard recompute") {
    import graft.operators.{Dedup => D}
    // Independent recompute of the whole audit: the candidates, then
    // positional agreement and exact Jaccard.
    val (sh, sig, cand) = jvmMinhashCandidates()
    val expected = cand.map { case (i, j) =>
      val nAgree = (0 until D.NumHashes).count(p => sig(i)(p) == sig(j)(p))
      val (a, b) = (sh(i).toSet, sh(j).toSet)
      val jac = (a & b).size.toDouble / (a | b).size
      (i, j) -> (nAgree.toLong, jac)
    }.toMap
    val rows = Dedup.queries("q133_minhash_estimate")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(4), r.getDouble(3), r.getDouble(5))).toMap
    assert(rows.nonEmpty, "sf0.001 documents must yield candidate pairs")
    assert(rows.keySet == expected.keySet,
      s"candidate sets differ: ${rows.keySet.diff(expected.keySet)} / " +
        s"${expected.keySet.diff(rows.keySet)}")
    rows.foreach { case (k, (nAgree, jac, est, absErr)) =>
      assert((nAgree, jac) == expected(k), s"pair $k mismatch")
      assert(est == nAgree.toDouble / D.NumHashes && absErr == math.abs(est - jac))
    }
    // The audit runs PRE-verify, so the verified q42 pair list is a subset
    // of its candidate set.
    val q42 = Dedup.queries("q42_dedup_lsh_pairs")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(q42.subsetOf(rows.keySet),
      "every verified near-dup pair must appear in the pre-verify audit")
  }

  test("q220: 1-bit minhash audit matches a JVM parity recompute") {
    import graft.operators.{Dedup => D}
    val (sh, sig, cand) = jvmMinhashCandidates()
    def bits(sg: Vector[String]): Vector[Int] =
      sg.map(m => Integer.parseInt(m.substring(31), 16) % 2)
    val expected = cand.map { case (i, j) =>
      val a = (0 until D.NumHashes)
        .count(p => bits(sig(i))(p) == bits(sig(j))(p))
      val (x, y) = (sh(i).toSet, sh(j).toSet)
      (i, j) -> (a.toLong, (x & y).size.toDouble / (x | y).size)
    }.toMap
    val rows = D.queries("q220_bbit_minhash")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(rows.nonEmpty && rows.keySet == expected.keySet)
    rows.foreach { case (k, (a, est, jac, absErr)) =>
      assert((a, jac) == expected(k), s"pair $k")
      assert(est == math.max(0.0, 2.0 * a / D.NumHashes - 1.0))
      assert(absErr == math.abs(est - jac))
    }
    // the compression is honest: bit agreement can only blur the full
    // signature's read, never sharpen the candidate set (same candidates)
    val full = D.queries("q133_minhash_estimate")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.keySet == full)
  }

  test("embedding near-dup: identical vectors share an LSH bucket with sim 1") {
    val e = Seq(
      (0L, Seq.fill(64)(0.5)), (1L, Seq.fill(64)(0.5)),
      (2L, (0 until 64).map(i => if (i % 2 == 0) 1.0 else -1.0))
    ).toDF("vec_id", "v").withColumn("bucket", lshBucket(col("v")))
    val pairs = e.as("x").join(e.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id"), col("y.vec_id"),
        cosine(col("x.v"), col("y.v")).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.get((0L, 1L)).contains(1.0))
  }

  test("q160: cross-key chain merges transitively; singletons keep themselves") {
    // A≡B by exact text; B≡C only by 128-char prefix (C diverges after);
    // D is alone. One entity {A,B,C} labeled min id, D -> D.
    val long = ("tok " * 40).trim // 159 chars, prefix cut mid-corpus
    val docs = Seq(
      (10L, long), (11L, long), (12L, long.take(128) + " divergent tail"),
      (13L, "completely different")
    ).toDF("doc_id", "text")
    val out = Dedup.crossKeyEntities(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 13L))
  }

  test("q160: testdata entities equal a JVM union-find over both key families") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // union-find over namespaced keys
    val parent = scala.collection.mutable.Map(docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    def unionGroups(groups: Iterable[Array[Long]]): Unit =
      groups.foreach(g => g.sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) => union(a, b)
        case _ =>
      })
    unionGroups(docs.groupBy(d => "e|" + d._2).values.map(_.map(_._1)))
    val exactOnlyEntities = docs.map(d => find(d._1)).distinct.length
    unionGroups(docs.groupBy(d => "p|" + d._2.take(128)).values.map(_.map(_._1)))
    val expected = docs.map(d => d._1 -> find(d._1)).toMap
    val out = Dedup.queries("q160_crosskey_entities")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == expected)
    // the prefix family genuinely adds merges beyond exact-only on the
    // testdata (q75 catches truncation twins q40 cannot)
    assert(expected.values.toSet.size < exactOnlyEntities,
      "cross-key closure merged more than exact duplicates alone")
  }

  test("q162: composed bucket ranks equal the single-ordering SNM recompute; volume is w·n-bounded") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3).split(" ").sorted.take(5).mkString(" ")))
    val ranked = docs.sortBy(d => (d._4, d._1))
    val w = 2
    val expected = (for {
      i <- ranked.indices
      delta <- 1 to w if i + delta < ranked.length
    } yield {
      val a = ranked(i); val b = ranked(i + delta)
      (a._1, b._1, delta.toLong, a._2 == b._2, (a._3 - b._3).abs)
    }).toSet
    val out = Dedup.queries("q162_sorted_neighborhood")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getLong(4))).toSet
    assert(out == expected)
    // candidate volume is exactly w·n − w(w+1)/2 — the SNM contract
    assert(out.size == w * ranked.length - w * (w + 1) / 2)
  }

  test("q226: FS weights and verdicts equal a JVM recompute over the SNM pairs") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "source", "n_chars", "text").collect()
      .map { r =>
        val text = r.getString(4)
        (r.getLong(0), (r.getString(1), r.getString(2), r.getLong(3) / 64,
          TextFns.md5hex(text.substring(0, math.min(64, text.length))),
          text.split(" ").sorted.take(5).mkString(" ")))
      }.toMap
    val ranked = docs.toSeq.sortBy { case (id, f) => (f._5, id) }
    val pairs = for {
      i <- ranked.indices; delta <- 1 to 2 if i + delta < ranked.length
    } yield (ranked(i)._1, ranked(i + delta)._1)
    def agree(a: Long, b: Long) = {
      val (fa, fb) = (docs(a), docs(b))
      Seq(fa._1 == fb._1, fa._2 == fb._2, fa._3 == fb._3, fa._4 == fb._4)
    }
    val n = pairs.length.toLong
    val aCounts = pairs.map { case (a, b) => agree(a, b) }
      .transpose.map(_.count(identity).toLong)
    def bits(x: Long) = java.lang.Long.toBinaryString(x).length.toLong
    val expected = pairs.map { case (a, b) =>
      val ws = agree(a, b).zip(aCounts).map { case (ag, cnt) =>
        if (ag) bits(n * 9) - bits(math.max(cnt, 1L) * 10)
        else bits(n) - bits(math.max(n - cnt, 1L) * 10)
      }
      val score = ws.sum
      (a, b) -> (agree(a, b), score, score > 0)
    }.toMap
    val got = Dedup.queries("q226_fs_linkage")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (Seq(r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5)), r.getLong(6), r.getBoolean(7))).toMap
    assert(got == expected)
    // FS semantics hold, not just plumbing: agreement on the RARE field
    // (prefix hash) carries strictly more positive weight than agreement
    // on the common one (lang), and both verdicts occur
    val (aLang, aPfx) = (aCounts(0), aCounts(3))
    assert(aPfx < aLang)
    assert(bits(n * 9) - bits(math.max(aPfx, 1L) * 10) >
      bits(n * 9) - bits(aLang * 10))
    assert(got.values.exists(_._3) && got.values.exists(!_._3))
  }
}
