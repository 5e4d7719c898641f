package graft.operators

import graft.Pinned._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.internal.SQLConf

import graft.Tables
import graft.functions.{CentroidTable, NearestCentroid}
import TextFns._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Three strategies, in ascending scale-fitness:
  *  - q50 brute force: the correctness baseline. The (small) query set is
  *    broadcast against the full corpus — at cluster scale this is one
  *    broadcast-nested-loop stage over corpus partitions, no shuffle of the
  *    corpus itself.
  *  - q51 hyperplane-LSH: corpus and queries get a bucket key from fixed
  *    random hyperplanes; candidate generation is a shuffled equi-join on
  *    bucket — the 100 TB path (bucket count scales with corpus size).
  *  - q52 IVF: learned k-means coarse quantization; queries probe only
  *    their nearest centroids' inverted lists. Training is spec-verified
  *    (learned doubles are not ANSI-expressible); assignment + search run
  *    under FIXED centroids that Verify exports to parquet, so that stage
  *    has a full DuckDB oracle like every other query.
  */
object Similarity {

  val NumQueries = 20 // vec_id < 20 are the query vectors
  val TopK = 5
  val LshTopK = 3
  val IvfNProbe = 2 // lists probed per query (q52) — shared with the oracle

  /** Embeddings widened to double with the L2 norm precomputed once per
    * vector (pair scoring then divides by the two cached norms — same
    * arithmetic, same bits as computing norms inside the pair). */
  private[graft] def embs(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // spread the per-pair dot products across cores (gated: no exchange
    // once the scan itself out-splits them — TextFns.fanCpu)
    TextFns.fanCpu(Tables.load(s, d, "embeddings"), col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
  }

  private def pairSim(qv: Column, qn: Column, cv: Column, cn: Column): Column =
    dot(qv, cv) / (qn * cn)

  // ---------------------- JL random projection (q81/q82) -------------------

  /** Projected dimensionality for the Johnson–Lindenstrauss sketch: 64 -> 16
    * doubles per vector (4× less ANN arithmetic and shuffle). */
  val ProjDim = 16

  /** EmbDim × EmbDim fixed pseudo-random projection rows, derived from md5
    * exactly like [[TextFns.hyperplanes]] (integer − 127.5: exact in binary64
    * AND in its decimal SQL rendering, so the oracle embeds the same
    * literals). A projection to d dims uses the first d rows; the full
    * square is tabulated so specs can measure the distortion-vs-dim curve.
    * Unnormalized is fine for cosine work: a global scale cancels, and the
    * JL cosine-distortion guarantee needs only row independence. */
  val jlPlanes: Array[Array[Double]] =
    Array.tabulate(EmbDim, EmbDim) { (o, k) =>
      Integer.parseInt(md5hex(s"jl$o-$k").substring(0, 2), 16) - 127.5
    }

  /** q225 DBSCAN dials, all in the ×16-quantized integer space of the
    * first two JL projections: eps = 15.0 (240 quantized), MinPts = 4
    * eps-neighbors (self excluded), and the positive shift that makes
    * truncating `div` equal floor division for the cell keys on both
    * engines. The eps dial, MEASURED (full sweep in SCALE.md): 240 is
    * the smallest grid width giving every driver tier live structure —
    * below 100 the sf0.001/sf0.01 tiers have ZERO cores (all noise);
    * at 240 sf0.01 yields 10 clusters / 298 cores and sf0.1 six. No
    * fixed eps is scale-invariant on the jittered-replica sf1 corpus
    * (10× local density ⇒ DBSCAN correctly percolates at every eps
    * 40–240 — at 40 the giant component already holds 10,085 of 12,536
    * cores), which is the textbook DBSCAN property the 100 TB story
    * documents: eps is a per-corpus density dial, and the engine's job —
    * oracle-gated at sf0.01 AND sf1 — is to compute the verdict for the
    * dialed density exactly, giant component or not. */
  val DbscanEpsQ = 240L
  val DbscanMinPts = 4L
  val DbscanShift = 1L << 24

  /** The q231/q232 eps AUTO-CALIBRATION dials. No fixed eps is
    * scale-invariant (see the q225 note above: a 10× denser corpus
    * percolates at every hand dial), so the calibrated tier derives eps
    * from a measured density profile instead: per ladder rung (fine cell
    * width ×1,2,4,8,16 — the top rung IS the q225 hand dial), the EXACT
    * candidate volume of the half-neighborhood grid join is computed from
    * a fine-grid histogram by integer algebra alone (center-cell pairs +
    * the 4 canonical adjacent-cell products — no corpus join runs), and
    * the chosen eps is the largest rung whose candidate volume stays
    * within [[DbscanCandBudget]] pairs per point (fallback: the finest
    * rung). Measured (r12): the calibration recovers the 240 hand dial at
    * sf0.001/sf0.01/sf0.1 (6.3/6.2/26.6 pairs/point) and tightens to 60
    * at sf1 (17.0), 15 at sf10 (10.6) and 5 at sf100 (11.8) — candidate
    * work per point stays ≤ the budget across 20,000× of scale while the
    * hand dial's grows 6.3 → 26,648. Everything is engine-portable
    * integer arithmetic, so the DuckDB oracle reproduces the profile, the
    * choice, and the clustering.
    *
    * The 5 floor is itself a third-decade catch: the original {15..240}
    * ladder had NO rung within budget at sf100 (the floor carried 105.7
    * pairs/point) — the ladder floor was a corpus-relative constant,
    * exactly the q78-df-cap defect class one decade later. Rung
    * coarsening is exact integer-division composition ((x div 5) div k ==
    * x div 5k), so adding the finer base changes no other rung's volume
    * or choice — re-gated green at every SF. */
  val DbscanLadder: Seq[Long] = Seq(5L, 15L, 30L, 60L, 120L, 240L)
  val DbscanCandBudget = 32L

  /** q227 margin-mining dials: k neighbors per end in the margin
    * denominator; τ in millis (1150 ⇔ ratio margin 1.15 — sits between
    * the median and p90 of the measured margin distribution at both test
    * SFs, so both verdicts occur). The inequality form
    * s·(2000k) > τ·(Σtop_src + Σtop_dst) is the ratio margin
    * s / ((avg_src + avg_dst)/2) > τ/1000 cleared of divisions. */
  val MarginK = 4
  val MarginTauMillis = 1150L

  /** The projected vector as ProjDim codegen'd dot products (narrow). */
  def jlProject(v: Column): Column =
    array(jlPlanes.take(ProjDim).toIndexedSeq.map { row =>
      dot(v, array(row.toIndexedSeq.map(lit): _*))
    }: _*)

  /** DuckDB twin of one projected coordinate. */
  private def oJlDot(e: String, o: Int): String = {
    val litArr = jlPlanes(o).mkString("[", ", ", "]")
    s"list_sum(list_transform(range(1, ${EmbDim + 1}), k -> ($e)[k] * ($litArr)[k]))"
  }

  private def oJlProject(e: String): String =
    (0 until ProjDim).map(o => oJlDot(e, o)).mkString("[", ", ", "]")

  /** Per-label centroid outliers over a (vec_id, label, embedding) frame —
    * the anomaly axis of embedding curation: vectors far from their class
    * centroid are label-noise / outlier candidates (the SemDeDup-family
    * prune step). Determinism at hash-gate strictness comes from working in
    * an exact integer space: elements are quantized q = floor(1024·x)
    * (float→double widening is exact, floor is portable), the centroid is
    * kept as the exact rational (Σq, n), and the squared distance is the
    * integer d2 = Σ_pos (q·n − Σq)² = n²·‖v − c‖² — same ranking as the
    * float distance, zero engine-order-dependent float folds.
    *
    * Scale shape: posexplode → hash agg on (label, pos) with map-side
    * partials (the shuffle after combine is labels×dims cells, not
    * rows×dims), the labels×dims centroid table broadcast back (KBs), one
    * narrow per-vector agg, then [[MinKWeighted]] bounded top-k per label —
    * never a per-label sort. At 1e9+ rows per label the q·n products
    * approach int64 range; the DECIMAL(38) headroom switch is mechanical. */
  def centroidOutliers(embeddings: DataFrame, k: Int): DataFrame = {
    val q = embeddings
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"), col("pos"),
        floor(col("x").cast("double") * lit(1024.0)).cast("long").as("q"))
    val cent = q.groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("cnt"))
    val d2 = q.join(broadcast(cent), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("q") * col("cnt") - col("sq")) *
        (col("q") * col("cnt") - col("sq"))).as("d2num"))
    val mink = udaf(new MinKWeighted(k))
    d2.groupBy(col("label"))
      .agg(mink(-col("d2num"), col("vec_id")).as("worst"))
      .select(col("label"), posexplode(col("worst")).as(Seq("p", "r")))
      .select(col("label"), (col("p") + 1).cast("long").as("nn_rank"),
        col("r.id").as("vec_id"), (-col("r.pri")).as("d2num"))
  }

  /** The recall-audit reduction shared by q124/q129: per query,
    * |approx top-k ∩ exact top-k| with the fixed-k denominator. Both
    * inputs are (queries × k)-sized; only integers feed the hash. */
  private def recallReduce(exact: DataFrame, approx: DataFrame): DataFrame = {
    val ex = exact.select(col("query_id"), col("vec_id"))
    val ap = approx.select(col("query_id"), col("vec_id"))
    val nEx = ex.groupBy(col("query_id")).agg(count(lit(1)).as("n_exact"))
    val nAp = ap.groupBy(col("query_id")).agg(count(lit(1)).as("n_approx"))
    val nHit = ex.join(ap, Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
    nEx.join(nAp, Seq("query_id"), "left")
      .join(nHit, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / LshTopK)
          .as("recall"))
  }

  // -------------------- distributed Lloyd k-means (q203) --------------------

  /** Clusters for the q203 Lloyd fixpoint; init = the quantized vectors of
    * vec_id 0..KmK-1 (deterministic, data-dependent, oracle-expressible). */
  val KmK = 8
  val KmIters = 2

  /** Embeddings quantized to non-negative integer coordinates:
    * ⌊(x+1)·1000⌋ per dimension. Lloyd's iteration in float is
    * order-dependent (centroid means drift with partition addition order);
    * in scaled integers every distance, sum, and floor-divided mean is
    * exact and reproducible across any partitioning — the same
    * integer-exactness discipline as the PageRank board. Quantization loss
    * (≤ 1e-3 per coordinate) is far below the inter-cluster scale. */
  private val kmVecsMemo = graft.SessionMemo.ofFrames()

  private def kmQuantized(s: SparkSession, d: String): DataFrame =
    kmVecsMemo.getOrCompute(s, d) {
      // lazily checkpointed: the unrolled Lloyd plan references the
      // quantized corpus 2·KmIters+1 times (each assign + each update);
      // one materialization replaces five scan+quantize subtrees.
      Tables.load(s, d, "embeddings")
        .select(col("vec_id"), expr(
          "transform(cast(embedding as array<double>), x -> cast(floor((x + 1.0d) * 1000.0d) as bigint))")
          .as("qv"))
        .pin(false)
    }

  /** One assignment pass: nearest centroid (squared L2, tie → lowest cid)
    * under the K-row broadcast centroid frame. Each row scores K distances
    * inside codegen (zip_with fold); the argmin is a plain `min` over the
    * packed key dist·KmK + cid — the same total order as (dist, cid)
    * lexicographic, but a LONG, so the aggregate stays a HashAggregate
    * with map-side partials (one row per vector crosses the exchange).
    * A min(struct) spelling falls back to SortAggregate; a rank window
    * adds a per-partition sort — both regress to sorting what a hash can
    * fold. Packing headroom: dist ≤ dims·(coord span)² < 2^27 here, and
    * even 2^59 keeps dist·KmK+cid exact in int64. */
  private def kmAssign(vecs: DataFrame, cent: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("qv"), col("cid"), expr(
        "aggregate(zip_with(qv, cv, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)")
        .as("dist"))
      .groupBy(col("vec_id"))
      .agg(min(col("dist") * KmK + col("cid")).as("bestkey"),
        first(col("qv")).as("qv"))
      .select(col("vec_id"), col("qv"),
        (col("bestkey") % KmK).as("cid"),
        expr(s"bestkey div $KmK").as("dist"))

  /** Centroid update: per-cluster floor-divided integer means, computed as
    * EmbDim unrolled `sum(qv[d])` aggregates (map-side partial, no explode,
    * no (row × dim) blow-up) reassembled into the centroid array. Empty
    * clusters drop out — identically in the oracle's inner join. */
  private def kmUpdate(assigned: DataFrame): DataFrame = {
    val sums = (0 until EmbDim).map(k =>
      sum(element_at(col("qv"), k + 1)).as(s"s$k"))
    assigned.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("cid"),
        array((0 until EmbDim).map(k => expr(s"s$k div n")): _*).as("cv"))
  }

  // lazy: queriesA/B initialize below this declaration site
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesA ++ queriesB

  private val queriesA: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- distributed k-means (Lloyd), integer-exact, 2 unrolled rounds -------
    // The clustering workload behind SemDeDup/IVF made a first-class
    // operator: KmK centroids seeded from vec_id < KmK, KmIters full
    // assign→update rounds, then a final assignment; output is the
    // per-cluster census (size, total distortion, centroid coordinate sum —
    // a scalar digest that pins the centroid arrays without comparing
    // lists). Scale shape: per round, one broadcast of the K-row centroid
    // frame + one corpus-sized groupBy(cid) with EmbDim running sums —
    // Lloyd's cost is O(corpus × K × dim) compute and ONE shuffle per
    // round, which is exactly how petabyte k-means is run (the corpus
    // stays put; only K × dim state moves).
    "q203_kmeans_lloyd" -> ((s, d) => {
      val vecs = kmQuantized(s, d)
      val init = vecs.filter(col("vec_id") < KmK)
        .select(col("vec_id").cast("long").as("cid"), col("qv").as("cv"))
      // fin is referenced TWICE (the final assign and the centroid_sum
      // join): pinned, the K-row frame materializes once and the whole
      // unrolled Lloyd chain is evaluated once, not once per reference
      val fin = (1 to KmIters).foldLeft(init)((c, _) => kmUpdate(kmAssign(vecs, c)))
        .pin(false)
      val last = kmAssign(vecs, fin)
      last.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("distortion"))
        .join(fin.select(col("cid"),
          expr("aggregate(cv, 0L, (acc, x) -> acc + x)").as("centroid_sum")), "cid")
        .select(col("cid").as("cluster_id"), col("n_members"),
          col("distortion"), col("centroid_sum"))
    }),

    // --- brute-force cosine top-k (baseline) -------------------------------
    "q50_knn_brute" -> ((s, d) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      val scored = broadcast(q).join(e, col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          pairSim(col("qv"), col("qn"), col("v"), col("nrm")).as("sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("nn_rank", row_number().over(w).cast("long"))
        .filter(col("nn_rank") <= TopK)
        .select(col("query_id"), col("nn_rank"), col("vec_id"), col("sim"))
    }),

    // --- hard-negative mining (contrastive-training pair generation) -------
    // For each query vector, the top-k most-similar vectors with a DIFFERENT
    // label: the near-miss negatives contrastive training (retrieval
    // embedders, rerankers) is built on — easy negatives teach nothing,
    // same-label "negatives" are false negatives, so the valuable rows are
    // exactly the highest-cosine cross-label ones. Same broadcast shape as
    // q50 (query side tiny and broadcast, corpus never shuffles) with the
    // label-mismatch predicate fused into the join; the 100 TB path swaps
    // the broadcast-nested-loop candidate stage for q51's LSH buckets or
    // q52's IVF lists and keeps this ranking stage unchanged.
    "q112_hard_negatives" -> ((s, d) => {
      val e = embs(s, d)
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("v").as("qv"), col("nrm").as("qn"))
      val scored = broadcast(q).join(e, col("label") =!= col("qlabel"))
        .select(col("query_id"), col("qlabel"), col("vec_id"),
          col("label").as("neg_label"),
          pairSim(col("qv"), col("qn"), col("v"), col("nrm")).as("sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("nn_rank", row_number().over(w).cast("long"))
        .filter(col("nn_rank") <= TopK)
        .select(col("query_id"), col("qlabel"), col("nn_rank"),
          col("vec_id"), col("neg_label"), col("sim"))
    }),

    // --- hyperplane-LSH bucketed top-k (scale path) ------------------------
    "q51_knn_lsh" -> ((s, d) => {
      val e = embs(s, d).withColumn("bucket", lshBucket(col("v")))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("bucket").as("qbucket"))
      val scored = broadcast(q).join(e,
          col("qbucket") === col("bucket") && col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          pairSim(col("qv"), col("qn"), col("v"), col("nrm")).as("sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("nn_rank", row_number().over(w).cast("long"))
        .filter(col("nn_rank") <= LshTopK)
        .select(col("query_id"), col("nn_rank"), col("vec_id"), col("sim"))
    }),

    // --- ANN recall evaluation (index-quality audit) -----------------------
    // The acceptance gate an index build ships with: per query, how much of
    // the EXACT top-k the LSH tier's top-k actually recovered. Composes the
    // two existing pipelines (self-reference resolves at call time) and
    // reduces the two k-row-per-query lists with counting joins; the recall
    // denominator is the fixed k, so every number is an exact integer ratio
    // — no float comparisons feed the hash. Scale shape: both inputs are
    // (queries × k)-sized regardless of corpus bytes, so the evaluation
    // itself costs nothing beyond the two searches it audits; at 100 TB the
    // exact side runs on a held-out SAMPLE of queries (the standard
    // recall-audit protocol) and this reduction is unchanged.
    "q124_ann_recall" -> ((s, d) =>
      recallReduce(
        queries("q50_knn_brute")(s, d).filter(col("nn_rank") <= LshTopK),
        queries("q51_knn_lsh")(s, d))),

    // --- IVF tier recall audit (q124's gate for the q52 index) -------------
    // Same (queries × k)-sized reduction over the IVF search instead of
    // LSH: together the two audits grade every scale tier of the ANN board
    // against the same exact baseline. At 100 TB the IVF tier is the one
    // actually deployed (billion-vector shape), so this is the number the
    // nProbe dial is tuned against — the spec already pins recall monotone
    // in nProbe; this query makes the per-query evidence oracle-checked.
    "q129_ivf_recall" -> ((s, d) =>
      recallReduce(
        queries("q50_knn_brute")(s, d).filter(col("nn_rank") <= LshTopK),
        queries("q52_knn_ivf")(s, d))),

    // --- IVF: learned k-means lists, probe nearest lists -------------------
    "q52_knn_ivf" -> ((s, d) => {
      val e = embs(s, d)
      ivfAssignTopK(e, trainCentroids(e), NumQueries, LshTopK,
        listsOpt = Some(ivfAssigned(s, d)))
    }),

    // --- Matryoshka prefix-dim recall audit (q142) -------------------------
    // The MRL evaluation (Kusupati et al.): embeddings trained matryoshka-
    // style are served TRUNCATED — the first D dims are themselves a valid
    // embedding — so the serving decision "how many dims do we pay for" is
    // a recall-vs-dim curve. This audit computes it: per prefix dim, brute
    // cosine top-k over the truncated vectors vs the full-dim exact top-k,
    // reduced by counting joins to exact integers (q124's economics: the
    // evaluation is (queries × k × dims)-sized whatever the corpus; at
    // 100 TB the brute tiers run on a held-out query sample). On random
    // testdata the curve is the worst case — prefixes carry no privileged
    // mass — making the measured floor honest.
    "q142_matryoshka_recall" -> ((s, d) => {
      val e = embs(s, d)
      val exact = queries("q50_knn_brute")(s, d)
        .filter(col("nn_rank") <= LshTopK)
        .select(col("query_id"), col("vec_id"))
      val spine = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"))
      val perDim = MrlDims.map { dim =>
        val p = e.select(col("vec_id"), slice(col("v"), 1, dim).as("pv"))
        val q = p.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("pv").as("qv"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("sim").desc, col("vec_id"))
        val top = broadcast(q).join(p, col("query_id") =!= col("vec_id"))
          .select(col("query_id"), col("vec_id"),
            cosine(col("qv"), col("pv")).as("sim"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= LshTopK)
          .select(col("query_id"), col("vec_id"))
        val hits = top.join(exact, Seq("query_id", "vec_id"), "left_semi")
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
        spine.join(hits, Seq("query_id"), "left")
          .select(lit(dim.toLong).as("dim"), col("query_id"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (coalesce(col("n_hit"), lit(0L)).cast("double") / LshTopK)
              .as("recall"))
      }
      perDim.reduce(_.unionByName(_))
    }),

    // --- reciprocal-rank fusion of retriever tiers (q141) ------------------
    // The ensemble-retrieval shape (Cormack et al.'s RRF, the standard
    // hybrid-search combiner): two independent ANN tiers — hyperplane LSH
    // (q51) and learned IVF (q52) — each contribute 1/(K + rank) for every
    // (query, doc) they retrieved; candidates found by BOTH tiers rise.
    // Rank lists are (queries × k)-sized whatever the corpus, so fusion
    // costs one tiny full-outer join + window — the audit-stage economics
    // of q124/q129. The two-term score is summed in a fixed order (LSH term
    // + IVF term), bit-identical in both engines; absent-tier ranks emit 0
    // (1-based ranks make 0 unambiguous).
    "q141_rrf_fusion" -> ((s, d) => {
      val lsh = queries("q51_knn_lsh")(s, d)
        .select(col("query_id"), col("vec_id"), col("nn_rank").as("rl"))
      val ivf = queries("q52_knn_ivf")(s, d)
        .select(col("query_id"), col("vec_id"), col("nn_rank").as("ri"))
      val fused = lsh.join(ivf, Seq("query_id", "vec_id"), "full_outer")
        .select(col("query_id"), col("vec_id"), col("rl"), col("ri"),
          (coalesce(lit(1.0) / (lit(RrfK) + col("rl")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(RrfK) + col("ri")), lit(0.0))).as("rrf"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("vec_id"))
      fused.withColumn("fused_rank", row_number().over(w).cast("long"))
        .filter(col("fused_rank") <= LshTopK)
        .select(col("query_id"), col("fused_rank"), col("vec_id"),
          coalesce(col("rl"), lit(0L)).as("rank_lsh"),
          coalesce(col("ri"), lit(0L)).as("rank_ivf"),
          col("rrf"))
    }),

    // --- Johnson–Lindenstrauss projection (dimensionality reduction) -------
    // 64 -> 16 dims via fixed pseudo-random planes: the cheap pre-pass that
    // cuts every downstream ANN stage's arithmetic and shuffle bytes 4×
    // while approximately preserving cosines (distortion bounded by JL; the
    // preservation is spec-measured, the values oracle-hashed). Narrow:
    // ProjDim codegen'd dot products per row, zero shuffles. Output is the
    // projection POSEXPLODED to (vec_id, label, pos, value) scalar rows —
    // the driver's comparator hashes scalar cells only (an array<double>
    // column crashed its sort in round 5), and the long format is also the
    // layout a downstream columnar store wants.
    "q81_jl_project" -> ((s, d) =>
      embs(s, d).select(col("vec_id"), col("label"),
        posexplode(jlProject(col("v"))).as(Seq("p", "value")))
        .select(col("vec_id"), col("label"),
          (col("p") + 1).cast("long").as("pos"), col("value"))),

    // --- ANN in the projected space (the compressed search shape) ----------
    // Same broadcast shape as q50 over 4×-smaller vectors; sims are
    // projected-space cosines (deterministic — oracle-hashed). What JL
    // guarantees — and what SimilaritySpec pins — is bounded COSINE
    // DISTORTION shrinking as ~1/sqrt(dim); top-k fidelity then depends on
    // the corpus's similarity gaps exceeding that distortion. This
    // testdata's embeddings are near-isotropic (exact top-1..top-5 sims
    // span ~0.07), so projected ranking diverges here by construction —
    // the rank-faithful compression tier on gap-less data is q54's int8
    // path (spec-pinned ≥0.8 top-5 overlap), while q82 carries the
    // projection pipeline end-to-end for corpora whose neighbors are
    // actually separated.
    "q82_knn_projected" -> ((s, d) => {
      val e = embs(s, d).select(col("vec_id"), jlProject(col("v")).as("pv"))
        .withColumn("pn", norm(col("pv")))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("pv").as("qv"),
          col("pn").as("qn"))
      val scored = broadcast(q).join(e, col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          pairSim(col("qv"), col("qn"), col("pv"), col("pn")).as("sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("nn_rank", row_number().over(w).cast("long"))
        .filter(col("nn_rank") <= LshTopK)
        .select(col("query_id"), col("nn_rank"), col("vec_id"), col("sim"))
    }),

    // --- per-label centroid outliers (embedding-quality filtering) ---------
    "q87_centroid_outliers" -> ((s, d) =>
      centroidOutliers(
        TextFns.fanCpu(Tables.load(s, d, "embeddings"), col("vec_id")),
        TopK)),

    // --- semantic decontamination (embedding-space benchmark overlap) ------
    // The SEMANTIC member of the decontamination family: q57/q71 catch
    // verbatim benchmark text by n-gram overlap; this catches paraphrased
    // leakage by embedding similarity. Benchmark = label 0 (the held-out
    // suite), corpus = everything else; a corpus vector is contaminated iff
    // it shares a hyperplane-LSH bucket with a benchmark vector at cosine
    // ≥ 0.4 (the q45 near-dup threshold — bucket-blocked, so recall follows
    // the same LSH contract as q45/q51). Scale shape mirrors q57: the
    // benchmark side is small by nature and BROADCASTS with its buckets and
    // norms precomputed; the corpus streams through map-side — it never
    // shuffles, and the output keeps all corpus rows with a boolean flag
    // (the keep-set is the anti-join, the drop-set the semi-join, both
    // derivable downstream without re-scoring).
    "q94_semantic_decontam" -> ((s, d) => {
      val e = embs(s, d).withColumn("bucket", lshBucket(col("v")))
      val bench = e.filter(col("label") === 0)
        .select(col("bucket").as("b_bucket"), col("v").as("bv"),
          col("nrm").as("bn"))
      val corpus = e.filter(col("label") =!= 0)
      val hits = corpus.join(broadcast(bench),
          col("bucket") === col("b_bucket"))
        .filter(pairSim(col("v"), col("nrm"), col("bv"), col("bn")) >= 0.4)
        .select(col("vec_id")).distinct()
      // hits is bounded by the benchmark's similarity reach — broadcast it
      // so the flagging join keeps the documented corpus-never-shuffles
      // shape instead of a sort-merge join on vec_id
      corpus.join(broadcast(hits.withColumn("hit", lit(true))),
          Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          coalesce(col("hit"), lit(false)).as("contaminated"))
    }),

    // --- ANN over int8-quantized vectors (the compressed search path) ------
    // Search the 4x-compressed store directly: cosine over quantized codes.
    // The per-vector amax scale CANCELS in the cosine (q8 = round(127 v /
    // amax) -> cos(q8_a, q8_b) needs no dequantization), and every term is
    // small-integer-exact in doubles (|q8| <= 127, 64-dim products/sums <<
    // 2^53), so unlike float ANN this is fully oracle-hashable: integer dot
    // / sqrt(int)*sqrt(int), both correctly rounded IEEE. Same broadcast
    // shape as q50.
    "q54_knn_quantized" -> ((s, d) => {
      val e = embs(s, d)
        .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
        // Spark floor() yields BIGINT — cast back so q8 is array<double>
        // (what the native dot/norm expressions consume; values stay
        // small-integer-exact)
        .withColumn("q8", transform(col("v"),
          x => floor(x * lit(127.0) / col("amax") + lit(0.5)).cast("double")))
        .withColumn("n8", norm(col("q8")))
        .select(col("vec_id"), col("q8"), col("n8"))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("q8").as("qq8"), col("n8").as("qn8"))
      val scored = broadcast(q).join(e, col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          (dot(col("qq8"), col("q8")) / (col("qn8") * col("n8"))).as("qsim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("qsim").desc, col("vec_id"))
      scored.withColumn("nn_rank", row_number().over(w).cast("long"))
        .filter(col("nn_rank") <= TopK)
        .select(col("query_id"), col("nn_rank"), col("vec_id"), col("qsim"))
    }),

    // --- symmetric int8 quantization (embedding storage at scale) ----------
    // 4x compression for a 100 TB embedding store. Rounding is
    // floor(x*127/amax + 0.5) — floor is exact in both engines, unlike
    // round() whose half-way rule differs. Quantized vectors are emitted as
    // a checksum + stats (arrays round-trip awkwardly through the oracle
    // compare); the reconstruction error uses the pinned left-fold.
    "q53_embed_quantize" -> ((s, d) => {
      val e = embs(s, d)
        .withColumn("amax", array_max(transform(col("v"), x => abs(x))))
      val qi = transform(col("v"),
        x => floor(x * lit(127.0) / col("amax") + lit(0.5)).cast("int"))
      e.withColumn("qi", qi)
        .select(
          col("vec_id"),
          col("amax"),
          aggregate(col("qi"), lit(0L), (acc, q) => acc + q).as("qsum"),
          md5(concat_ws(",", transform(col("qi"), q => q.cast("string"))))
            .as("qmd5"),
          aggregate(
            zip_with(col("v"), col("qi"),
              (x, q) => {
                val diff = x - (q * col("amax") / lit(127.0))
                diff * diff
              }),
            lit(0.0), (acc, x) => acc + x).as("err"))
    }),

    // --- product quantization: encode (q115) -------------------------------
    // Each vector as PqM 4-bit codes + the per-subspace quantization error:
    // the 128× storage tier of the compression ladder (q53 int8 = 4×,
    // q81 JL = 4× fewer dims). Long-form scalar output (vec_id, sub, code,
    // d2) — codes oracle-checked under the Verify-exported codebooks.
    "q115_pq_encode" -> ((s, d) => {
      pqEncodedCorpus(s, d)
        .select(col("vec_id"), posexplode(array(
          (0 until PqM).map(m => col(s"s$m")): _*)).as(Seq("sub", "r")))
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("r.code").as("code"), col("r.d2").as("d2"))
    }),

    // --- OPQ-rotated product quantization: encode (q138) -------------------
    // q115 with a LEARNED orthonormal pre-rotation (OPQ alternation — see
    // trainOpqModel): vectors are rotated by literal dot-product rows
    // (narrow, zero-shuffle — the q81 projection shape at full dim), then
    // PQ-encoded under codebooks trained in rotated space. The rotation is
    // orthonormal, so the emitted d2 are reconstruction errors in the
    // ORIGINAL space too — spec-pinned ≤ raw-PQ's corpus-wide. Exact
    // oracle under the exported rotation + codebook tables.
    "q138_opq_encode" -> ((s, d) => {
      val e = embs(s, d)
      val (rot, cb) = trainOpqModel(e, d)
      pqEncoded(e.select(col("vec_id"), opqRotate(col("v"), rot).as("v")), cb)
        .select(col("vec_id"), posexplode(array(
          (0 until PqM).map(m => col(s"s$m")): _*)).as(Seq("sub", "r")))
        .select(col("vec_id"), col("sub").cast("long").as("sub"),
          col("r.code").as("code"), col("r.d2").as("d2"))
    }),

    // --- PCA projection (see [[trainPcaModel]]) ----------------------------
    // The learned-projection tier above q81's random JL planes: each vector
    // centers against the broadcast literal mean and projects onto the
    // top-PcaK eigenvector rows as codegen'd fixed-order dot products —
    // narrow, ZERO shuffles, the q81/q138 corpus shape. Training is the
    // bounded driver-side sample (model-scale, corpus-independent); at
    // scale the projection pass is where PCA whitening, embedding
    // compression, and visualization coordinates all come from. Oracle
    // recomputes every projection from the Verify-exported model rows.
    "q221_pca_project" -> ((s, d) => {
      val e = embs(s, d)
      val (mu, w, _) = trainPcaModel(e, d)
      val centered = zip_with(col("v"),
        array(mu.toIndexedSeq.map(lit): _*), (a, b) => a - b)
      e.select(col("vec_id") +: col("label") +:
        w.toIndexedSeq.zipWithIndex.map { case (row, k) =>
          dot(centered, array(row.toIndexedSeq.map(lit): _*)).as(s"pc$k")
        }: _*)
    }),

    // --- IVF-PQ: coarse lists + ADC scoring (q117) -------------------------
    // The composition that IS the production 100 TB ANN index (FAISS
    // IVFPQ's shape): q52's learned coarse quantizer prunes the corpus to
    // nProbe inverted lists per query, and within the probed lists vectors
    // are scored by q116's asymmetric distance over their 2-byte PQ codes —
    // so search touches neither the full corpus nor any raw floats. This
    // variant PQ-encodes raw vectors (IVFFlat+PQ); residual encoding
    // (PQ on v − centroid) is the mechanical next rung and changes only
    // the encode expression. Both learned tables are Verify-exported, so
    // the whole search stage has an exact DuckDB oracle.
    "q117_ivf_pq" -> ((s, d) => {
      val e = embs(s, d)
      val cb = trainPqCodebooks(e, d)
      val cent = trainCentroids(e)
      // both corpus-scale build columns come from the MEMOIZED index-store
      // frames (assignment + raw codes) — at scale they live materialized
      // in the index store, written once in the build pass.
      val lists = ivfAssigned(s, d).select(col("vec_id"), col("cid"))
      val corpus = pqEncodedCorpus(s, d)
        .select(col("vec_id") +:
          (0 until PqM).map(m => col(s"s$m.code").as(s"c$m")): _*)
        .join(lists, Seq("vec_id"))
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val wc = Window.partitionBy(col("query_id"))
        .orderBy(col("csim").desc, col("cid"))
      val probed = q.join(broadcast(cent))
        .select(col("query_id"), col("qv"), col("cid"),
          cosine(col("qv"), col("cv")).as("csim"))
        .withColumn("crank", row_number().over(wc).cast("long"))
        .filter(col("crank") <= IvfNProbe)
        .select(col("query_id") +: col("cid") +:
          (0 until PqM).map(m => subDists(col("qv"), m, cb).as(s"dt$m")): _*)
      val adc = (0 until PqM).map(m =>
          element_at(col(s"dt$m"), (col(s"c$m") + 1).cast("int")))
        .reduceLeft(_ + _)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").asc, col("vec_id"))
      broadcast(probed).join(corpus, Seq("cid"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"), col("cid").as("list_id"),
          adc.as("adc"))
        .withColumn("nn_rank", row_number().over(w).cast("long"))
        .filter(col("nn_rank") <= LshTopK)
        .select(col("query_id"), col("nn_rank"), col("vec_id"),
          col("list_id"), col("adc"))
    }),

    // --- IVF-PQ with residual encoding (q137) ------------------------------
    // The accuracy rung q117's comment promises — what FAISS IVFPQ actually
    // ships: PQ codes describe v − c(list), not v. Residuals concentrate
    // around the origin, so the 16 codes per subspace resolve within-list
    // displacement instead of re-describing the list center; recall at
    // equal nProbe is spec-pinned ≥ the raw-encode tier's. Same plan shape
    // as q117 — the one extra broadcast join rides the centroid vector back
    // to form the residual inside the SAME narrow encode projection (still
    // exactly two corpus passes, zero extra shuffles); the query-side ADC
    // table is now per (query, probed list) since the query residual is
    // list-relative — nProbe× more tiny rows on the broadcast side, corpus
    // side unchanged. Exact oracle under both exported tables.
    "q137_ivfpq_residual" -> ((s, d) => {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").asc, col("vec_id"))
      residualAdcScored(s, d)
        .withColumn("nn_rank", row_number().over(w).cast("long"))
        .filter(col("nn_rank") <= LshTopK)
        .select(col("query_id"), col("nn_rank"), col("vec_id"),
          col("list_id"), col("adc"))
    }),

    // --- IVF-PQ + exact re-rank (q140) -------------------------------------
    // The FAISS refine stage — stage two of every production ANN serve
    // path: the compressed index produces a SHORTLIST (ADC top RerankFactor
    // × k), then ONLY those rows fetch their raw vectors (an equi join on
    // vec_id — the random-access-by-id pattern; queries×R×k rows, never a
    // list scan) and are re-ranked by exact squared L2. Compression errors
    // inside the shortlist cost nothing; recall at equal nProbe is
    // spec-pinned ≥ q137's. Exact oracle (q137's CTEs + the refine join).
    "q140_ivfpq_rerank" -> ((s, d) => {
      val e = embs(s, d)
      val wa = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").asc, col("vec_id"))
      val shortlist = residualAdcScored(s, d)
        .withColumn("adc_rank", row_number().over(wa).cast("long"))
        .filter(col("adc_rank") <= RerankFactor * LshTopK)
      val exact = shortlist
        .join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
        .join(broadcast(e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))), Seq("query_id"))
        .select(col("query_id"), col("vec_id"), col("list_id"),
          aggregate(zip_with(col("qv"), col("v"),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, x) => acc + x).as("l2"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("l2").asc, col("vec_id"))
      exact
        .withColumn("nn_rank", row_number().over(w).cast("long"))
        .filter(col("nn_rank") <= LshTopK)
        .select(col("query_id"), col("nn_rank"), col("vec_id"),
          col("list_id"), col("l2"))
    }),

    // --- product quantization: ADC top-k search (q116) ---------------------
    // Asymmetric distance computation, the FAISS search shape: each query
    // precomputes a PqM×PqK distance TABLE against the codebooks (narrow,
    // query-side only), and a corpus vector's approximate squared L2 is
    // just PqM table lookups summed in fixed order — no per-pair
    // arithmetic over raw floats at all. The query table set is tiny and
    // broadcast; the corpus side carries only its 2-byte codes through the
    // scoring join, so at 100 TB the search reads the PQ-compressed store,
    // never the float vectors. Exact oracle under exported codebooks.
    "q116_pq_adc" -> ((s, d) => {
      val e = embs(s, d)
      val cb = trainPqCodebooks(e, d)
      val codes = pqEncodedCorpus(s, d)
        .select(col("vec_id") +:
          (0 until PqM).map(m => col(s"s$m.code").as(s"c$m")): _*)
      val qt = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id") +:
          (0 until PqM).map(m => subDists(col("v"), m, cb).as(s"dt$m")): _*)
      val adc = (0 until PqM).map(m =>
          element_at(col(s"dt$m"), (col(s"c$m") + 1).cast("int")))
        .reduceLeft(_ + _)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").asc, col("vec_id"))
      broadcast(qt).join(codes, col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"), adc.as("adc"))
        .withColumn("nn_rank", row_number().over(w).cast("long"))
        .filter(col("nn_rank") <= TopK)
        .select(col("query_id"), col("nn_rank"), col("vec_id"), col("adc"))
    }),

    // --- kNN label purity (embedding-quality audit, q148) ------------------
    // The standard intrinsic check on an embedding space: for each query,
    // what fraction of its exact top-k neighbors carry the query's own
    // label? High purity = the space clusters the supervision signal;
    // purity ~ label-prior = the embeddings are noise for this task (the
    // honest expectation on random testdata). Composes the exact q50 tier
    // (self-reference, plan reuse) with two label lookups: the query side
    // is a NumQueries-row broadcast, the neighbor side joins the
    // (queries × k)-row rank list against the corpus BY ID — broadcast the
    // tiny rank list, the corpus never shuffles. All outputs are exact
    // integers over the fixed k denominator (q124's economics); at 100 TB
    // this audit runs on a held-out query sample and costs nothing beyond
    // the search it grades.
    "q148_knn_purity" -> ((s, d) => {
      val lbl = embs(s, d).select(col("vec_id"), col("label").cast("long"))
      val nn = queries("q50_knn_brute")(s, d)
        .select(col("query_id"), col("vec_id"))
      val withLabels = broadcast(nn)
        .join(lbl.select(col("vec_id"), col("label").as("nlabel")), Seq("vec_id"))
        .join(broadcast(lbl.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("label").as("qlabel"))),
          Seq("query_id"))
      withLabels.groupBy(col("query_id"), col("qlabel"))
        .agg(sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
          .as("n_same"))
        .select(col("query_id"), col("qlabel"), col("n_same"),
          (col("n_same").cast("double") / TopK).as("purity"))
    }),

    // --- SemDeDup: cluster-then-dedup semantic deduplication (q144) --------
    // The embedding-space dedup tier that complements the lexical MinHash
    // family: k-means cluster the corpus, then inside each cluster drop
    // every member at cosine ≥ τ to an earlier-keep-priority member (full
    // semantics + scale notes on [[semDeDup]]). Training is the same
    // bit-deterministic bounded-sample Lloyd's as q52 (spec-verified);
    // assignment + dedup run under FIXED centroids that Verify exports, so
    // the whole decision — who clusters where, who is dropped — is
    // oracle-checked end to end.
    "q144_semdedup" -> ((s, d) =>
      semDeDup(embs(s, d), trainCentroids(embs(s, d), SemDedupLists),
        SemDedupTau)),

    // --- grid-bucketed DBSCAN (density clustering without a kNN graph) -----
    // The density-based sibling of q203's k-means / q144's SemDeDup: no
    // cluster count chosen up front, noise is a first-class verdict, and
    // arbitrary-shape clusters survive. The naive DBSCAN needs an
    // all-pairs (or kNN-index) neighborhood query; this is the textbook
    // grid relaxation — project to 2 JL dims (the q81 planes, so the
    // oracle embeds the same literals), quantize ×16 to an exact integer
    // space, cell width = eps ⇒ every eps-neighbor lives in the 3×3
    // adjacent cells, so candidate generation is an EQUI-join on cell
    // keys over the 5-offset HALF neighborhood (each unordered pair
    // once — never all-pairs; candidate volume = Σ|cell|·|half
    // neighborhood|, bounded by the density dial eps). Core = ≥MinPts
    // eps-neighbors; clusters = connected components over CORE-CORE
    // edges (the shared star/label-prop CC); border points attach to
    // their min core neighbor's cluster; everything else is noise
    // (cluster −1). Integer d² everywhere ⇒ engine- and
    // partitioning-independent verdicts. 100 TB: the grid join shuffles
    // fixed-width (id, qx, qy, cell) rows; CC runs over core pairs only.
    "q225_grid_dbscan" -> ((s, d) =>
      gridDbscan(dbscanProjected(s, d).withColumn("epsq", lit(DbscanEpsQ)))),

    // --- eps calibration profile (the density dial, measured) ---------------
    // The q120-skew-profiler move applied to DBSCAN's one hand dial: for
    // each ladder rung, the EXACT candidate volume the half-neighborhood
    // grid join would produce — computed from a fine-grid histogram by
    // integer algebra (center pairs + 4 adjacent-cell products), never by
    // running the join — plus the chosen verdict: the largest eps within
    // [[DbscanCandBudget]] pairs/point. 5 deterministic rows; everything
    // downstream of one corpus projection is histogram-sized.
    "q231_eps_calibration" -> ((s, d) => dbscanCalibration(s, d)),

    // --- calibrated grid DBSCAN (the scale tier of q225) --------------------
    // q225 with eps = the q231 choice instead of the hand dial: the same
    // grid relaxation, candidate join, core/border/noise verdicts and CC,
    // but the density dial derives from the corpus's own profile, so
    // candidate work per point stays budget-bounded as corpora densify
    // (the sf1/sf10 failure mode of ANY fixed eps). The chosen eps rides
    // in as a broadcast 1-row scalar — plan shape is q225's plus the
    // histogram-sized calibration subtree.
    "q232_dbscan_calibrated" -> ((s, d) =>
      gridDbscan(dbscanProjected(s, d).crossJoin(broadcast(
        dbscanCalibration(s, d).where(col("chosen"))
          .agg(max(col("epsq")).as("epsq")))))),
  )

  /** The 2-JL-dim ×16-quantized integer point cloud q225/q231/q232 share. */
  private def dbscanProjected(s: SparkSession, d: String): DataFrame =
    embs(s, d).select(col("vec_id").as("id"),
      floor(dot(col("v"),
        array(jlPlanes(0).toIndexedSeq.map(lit): _*)) * 16)
        .cast("long").as("qx"),
      floor(dot(col("v"),
        array(jlPlanes(1).toIndexedSeq.map(lit): _*)) * 16)
        .cast("long").as("qy"))

  /** Ladder profile + choice (q231): (epsq, n_cells, cand_pairs, n_points,
    * chosen). See [[DbscanLadder]] for semantics and measurements.
    *
    * ONE shuffle serves every rung: each fine cell explodes into its 5
    * rung-coarsened keys and a single (k, cx, cy) aggregation builds all
    * five coarse histograms as one TALL frame (5× the fine histogram's
    * rows, still grid-bounded). Center pairs are a per-rung agg over it;
    * the 4 adjacency products are self-equi-joins keyed by (k, cell) —
    * the per-rung plan repeated 5× would pay 5× the stage latency for
    * the same integers (measured 2.6 s → the tall shape at sf0.1). */
  private[operators] def dbscanCalibration(s: SparkSession, d: String): DataFrame = {
    val fineW = DbscanLadder.head
    val fine = dbscanProjected(s, d)
      .select(expr(s"(qx + $DbscanShift) div $fineW").as("fx"),
        expr(s"(qy + $DbscanShift) div $fineW").as("fy"))
      .groupBy(col("fx"), col("fy")).agg(count(lit(1)).as("c"))
    // tall coarse histogram over all rungs; pinned — read by the center
    // agg, both sides of the adjacency join, and the cell census
    val tall = fine
      .select(explode(array(DbscanLadder.map(e => lit(e / fineW)): _*)).as("k"),
        col("fx"), col("fy"), col("c"))
      .groupBy(col("k"), expr("fx div k").as("cx"), expr("fy div k").as("cy"))
      .agg(sum(col("c")).as("nc"))
      .pin(false)
    // n_points off the PINNED tall instead of a second corpus pass (r17):
    // rung k=1 is the fine histogram itself (cx=fx div 1), so Σ nc over it
    // IS the exact point count — the old `fine.agg(sum(c))` planned the
    // whole projection+histogram subtree (and its parquet scan) a second
    // time, and `best`'s copy of `table` doubled THAT too (2 extra corpus
    // scans visible in the before plan).
    val nPts = tall.filter(col("k") === 1)
      .agg(sum(col("nc")).as("n_points"))
    // exact candidate volume of the HALF-neighborhood probe join:
    // within-cell unordered pairs + the 4 canonical direction products.
    // ONE join serves all 4 directions (r17): the probe side explodes each
    // cell into its 4 shifted keys and equi-joins tall once — the sum of
    // per-(cell, direction) products is identical to the old 4 self-joins'
    // union (each (a, b, direction) hit contributes a.nc·b.nc exactly
    // once), but the plan pays 2 exchanges instead of 5 (4 distinct
    // probe-side exchanges + the reused build side). q231 jobs 21 -> 15,
    // q232 rides the same subtree.
    val center = tall.select(col("k"), expr("(nc * (nc - 1)) div 2").as("p"))
    val shifted = tall.select(col("k"), col("nc"), explode(array(
        struct((col("cx") + 1).as("cx"), col("cy").as("cy")),
        struct((col("cx") - 1).as("cx"), (col("cy") + 1).as("cy")),
        struct(col("cx").as("cx"), (col("cy") + 1).as("cy")),
        struct((col("cx") + 1).as("cx"), (col("cy") + 1).as("cy")))).as("t"))
      .select(col("k"), col("t.cx").as("cx"), col("t.cy").as("cy"), col("nc"))
    val adj = shifted
      .join(tall.select(col("k"), col("cx"), col("cy"), col("nc").as("ncb")),
        Seq("k", "cx", "cy"))
      .select(col("k"), (col("nc") * col("ncb")).as("p"))
    val cand = center.unionAll(adj)
      .groupBy(col("k")).agg(sum(col("p")).as("cand_pairs"))
    val cells = tall.groupBy(col("k")).agg(count(lit(1)).as("n_cells"))
    // table is LADDER-sized (6 rows) but was planned TWICE — once for the
    // output and once under `best`'s broadcast — so the whole cand/cells
    // chain ran double. Pinned (lazy; `best`'s broadcast collect is the
    // materializing action), the plan is linear. (r17)
    val table = cand.join(cells, "k")
      .select((col("k") * fineW).as("epsq"), col("n_cells"), col("cand_pairs"))
      .crossJoin(broadcast(nPts))
      .pin(false)
    val best = table.agg(max(when(
      col("cand_pairs") <= lit(DbscanCandBudget) * col("n_points"),
      col("epsq"))).as("best"))
    table.crossJoin(broadcast(best))
      .select(col("epsq"), col("n_cells"), col("cand_pairs"), col("n_points"),
        (col("epsq") === coalesce(col("best"), lit(fineW))).as("chosen"))
  }

  /** Grid DBSCAN over (id, qx, qy, epsq) — epsq constant per corpus (a
    * literal for q225, the q231-calibrated broadcast scalar for q232). */
  private[operators] def gridDbscan(ptsIn: DataFrame): DataFrame = {
    {
      // pts/edges/cores pins are LAZY (r17): the first action downstream —
      // the CC loop's init count — materializes the whole pts -> probe-join
      // -> degree chain as ONE job (the three eager pins paid three
      // scheduling round-trips for the same stages). Every release at the
      // end of this function runs after `out.pin(true)`, by which point all
      // three are long materialized, so the replay invariant holds.
      val pts = ptsIn
        .select(col("id"), col("qx"), col("qy"), col("epsq"),
          expr(s"(qx + $DbscanShift) div epsq").as("cx"),
          expr(s"(qy + $DbscanShift) div epsq").as("cy"))
        .pin(false)
      // Each unordered pair is generated ONCE: probe only the 5-offset
      // HALF neighborhood — the center cell (deduped by ia < ib) plus the
      // 4 canonical directions {(1,0),(-1,1),(0,1),(1,1)}, one of ±δ per
      // cell-pair — instead of all 9 offsets with both orientations.
      // Candidate volume (the cost driver: join output × distance
      // evaluations) drops 9/5 ≈ 1.8×; the symmetric views the later
      // stages need (degree count, border attachment) are rebuilt from
      // the FILTERED edge list, which is orders of magnitude smaller
      // than the candidate set.
      val probe = pts
        .select(col("id").as("ia"), col("qx").as("qxa"), col("qy").as("qya"),
          col("epsq"), explode(expr("array(-1L, 0L, 1L)")).as("dx"),
          col("cx"), col("cy"))
        .select(col("ia"), col("qxa"), col("qya"), col("epsq"), col("dx"),
          (col("cx") + col("dx")).as("jx"), col("cy"),
          explode(expr("array(-1L, 0L, 1L)")).as("dy"))
        .where(col("dy") > 0 || (col("dy") === 0 && col("dx") >= 0))
        .select(col("ia"), col("qxa"), col("qya"), col("epsq"), col("jx"),
          (col("cy") + col("dy")).as("jy"),
          (col("dx") === 0 && col("dy") === 0).as("same_cell"))
      val edges = probe
        .join(pts.select(col("id").as("ib"), col("qx").as("qxb"),
            col("qy").as("qyb"), col("cx").as("jx"), col("cy").as("jy")),
          Seq("jx", "jy"))
        .where((!col("same_cell") || col("ia") < col("ib")) &&
          (col("qxa") - col("qxb")) * (col("qxa") - col("qxb")) +
            (col("qya") - col("qyb")) * (col("qya") - col("qyb"))
            <= col("epsq") * col("epsq"))
        .select(col("ia"), col("ib"))
        .pin(false)
      // symmetrized degree: each once-generated pair contributes one
      // neighbor to BOTH endpoints (self excluded, as before)
      val cores = edges
        .select(explode(array(col("ia"), col("ib"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= DbscanMinPts).select(col("id"))
        .pin(false)
      val corePairs = edges
        .join(cores.select(col("id").as("ia")), "ia")
        .join(cores.select(col("id").as("ib")), "ib")
        .select(least(col("ia"), col("ib")).as("i"),
          greatest(col("ia"), col("ib")).as("j"))
      // density blobs are long-diameter by construction (chains of
      // eps-balls), so min-label propagation would burn its round cap
      // before converging — go straight to the O(log n)-round star CC
      val comp = Dedup.ccAlternatingStars(corePairs)._1
        .select(col("doc_id").as("id"), col("component"))
      // a core with no core neighbor is its own singleton cluster
      val coreLbl = cores.join(comp, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id"))
          .as("cluster"))
      // both orientations of the (small, filtered) edge list: a border
      // point may sit on either end of a once-generated pair
      val edgesSym = edges.union(
        edges.select(col("ib").as("ia"), col("ia").as("ib")))
      val borderLbl = edgesSym
        .join(coreLbl.select(col("id").as("ib"), col("cluster")), "ib")
        .join(cores.select(col("id").as("ia")), Seq("ia"), "left_anti")
        .groupBy(col("ia")).agg(min(col("cluster")).as("cluster"))
        .select(col("ia").as("id"), col("cluster"))
      // ONE labeled-point frame instead of two successive left joins
      // (r17): coreLbl and borderLbl are DISJOINT by construction
      // (borderLbl anti-joins cores), so each id has at most one row in
      // the union and a single left join reproduces the old two-join
      // verdict bit for bit — role precedence included, since a core id
      // can never appear with the border tag.
      val lbl = coreLbl
        .select(col("id"), lit("core").as("role"), col("cluster"))
        .unionAll(borderLbl
          .select(col("id"), lit("border").as("role"), col("cluster")))
      val out = pts.select(col("id"))
        .join(lbl, Seq("id"), "left")
        .select(col("id").as("vec_id"),
          coalesce(col("role"), lit("noise")).as("role"),
          coalesce(col("cluster"), lit(-1L)).as("cluster"))
        // re-root the result so the intermediate checkpoints can be freed
        // NOW (the graft.Fixpoint discipline — returning a plan over them
        // would pin their blocks for the session)
        .pin(true)
      graft.FrameBlocks.release(pts)
      graft.FrameBlocks.release(edges)
      graft.FrameBlocks.release(cores)
      out
    }
  }

  private val queriesB: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- margin-criterion pair mining (bitext-mining shape) ----------------
    // The CCMatrix/LASER method for mining ALIGNED pairs across two
    // corpora: absolute cosine is useless (hubness — some vectors are
    // close to everything), so a pair is mined only if its similarity
    // beats the MARGIN — the candidate's own neighborhood average on BOTH
    // ends (Artetxe & Schwenk ratio margin, k=4, top-k inclusive of the
    // candidate). Sides here are vec_id parity; candidates come from the
    // SAME q51 hyperplane buckets (an equi-join — never the A×B cross
    // product), and the margin is evaluated over the retrieved
    // neighborhood, exactly what FAISS-based mining pipelines do.
    // Determinism: sims quantize to floor(1e6·cos) integers BEFORE any
    // sum, so top-4 sums are order-independent and the mined verdict is
    // the pure integer inequality 8000·s > τ·(Σtop4_src + Σtop4_dst).
    // Only nodes with a full k=4 retrieved neighborhood on both ends are
    // judged (a margin against a 2-element neighborhood is noise).
    // 100 TB: pair volume is the bucket equi-join's, per-node state is
    // the top-4 window over in-bucket candidates, everything after is
    // node-sized.
    "q227_margin_mining" -> ((s, d) => {
      val e = embs(s, d).withColumn("bucket", lshBucket(col("v")))
      val a = e.filter(col("vec_id") % 2 === 0).select(col("bucket"),
        col("vec_id").as("src"), col("v").as("av"), col("nrm").as("an"))
      val b = e.filter(col("vec_id") % 2 === 1).select(col("bucket"),
        col("vec_id").as("dst"), col("v").as("bv"), col("nrm").as("bn"))
      val cand = a.join(b, "bucket")
        .select(col("src"), col("dst"),
          floor(pairSim(col("av"), col("an"), col("bv"), col("bn")) * 1e6)
            .cast("long").as("s"))
        .pin(true)
      val wA = Window.partitionBy(col("src")).orderBy(col("s").desc, col("dst"))
      val rankedA = cand.withColumn("rn", row_number().over(wA))
      val topA = rankedA.filter(col("rn") <= MarginK)
        .groupBy(col("src"))
        .agg(count(lit(1)).as("na"), sum(col("s")).as("sum4_src"))
        .where(col("na") === MarginK)
      val wB = Window.partitionBy(col("dst")).orderBy(col("s").desc, col("src"))
      val topB = cand.withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= MarginK)
        .groupBy(col("dst"))
        .agg(count(lit(1)).as("nb"), sum(col("s")).as("sum4_dst"))
        .where(col("nb") === MarginK)
      val out = rankedA.filter(col("rn") === 1)
        .select(col("src"), col("dst"), col("s"))
        .join(topA.select(col("src"), col("sum4_src")), "src")
        .join(topB.select(col("dst"), col("sum4_dst")), "dst")
        .select(col("src"), col("dst"), col("s").as("sim_u"),
          col("sum4_src"), col("sum4_dst"),
          (col("s") * (MarginK * 2000L) >
            (col("sum4_src") + col("sum4_dst")) * MarginTauMillis)
            .as("mined"))
        .pin(true)
      graft.FrameBlocks.release(cand)
      out
    }),

    // --- multi-probe LSH (the query-side recall dial) -----------------------
    // The standard fix for LSH's recall cliff WITHOUT rebuilding or
    // widening the index: each query probes its own bucket PLUS the
    // NumPlanes buckets at Hamming distance 1 (one hyperplane bit
    // flipped) — near neighbors that landed just across one hyperplane
    // become reachable at the cost of probes, not index size
    // (Lv et al.'s multi-probe LSH, the query-side knob FAISS exposes as
    // nprobe). Plan shape is EXACTLY q51 with a 5-row probe explode on
    // the (tiny, broadcast) query side; the corpus is untouched — same
    // bucket equi-join, candidate volume multiplied by probes, never
    // quadratic. Probe buckets are distinct by construction (distinct
    // XOR masks), so no candidate dedup stage is needed. The spec pins
    // the monotonicity the superset guarantees: per-query exact-top-k
    // hits ≥ q51's single-probe hits.
    "q228_knn_multiprobe" -> ((s, d) => {
      val e = embs(s, d).withColumn("bucket", lshBucket(col("v")))
      val probes = (lit(-1) +: (0 until TextFns.NumPlanes).map(lit(_))).toSeq
      val q = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("bucket").as("b0"))
        .select(col("query_id"), col("qv"), col("qn"), col("b0"),
          explode(array(probes: _*)).as("flip"))
        .select(col("query_id"), col("qv"), col("qn"),
          when(col("flip") === -1, col("b0"))
            .otherwise(col("b0").bitwiseXOR(expr("shiftleft(1, flip)")))
            .as("qbucket"))
      val scored = broadcast(q).join(e,
          col("qbucket") === col("bucket") && col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"),
          pairSim(col("qv"), col("qn"), col("v"), col("nrm")).as("sim"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("vec_id"))
      scored.withColumn("nn_rank", row_number().over(w).cast("long"))
        .filter(col("nn_rank") <= LshTopK)
        .select(col("query_id"), col("nn_rank"), col("vec_id"), col("sim"))
    })
  )

  // ------------------- product quantization (q115/q116) -------------------

  /** PQ geometry: EmbDim split into M contiguous subspaces of SubDim dims,
    * each quantized to K learned centroids — a vector becomes M 4-bit codes
    * (2 bytes total vs 256 bytes of float32: 128× compression, the
    * FAISS-PQ storage tier below q53's 4× int8). */
  val PqM = 4
  val PqSubDim: Int = EmbDim / PqM
  val PqK = 16
  private val PqSample = 1024

  /** Per-subspace codebooks, trained like [[trainCentroids]] (bounded
    * md5-ordered sample, driver-side Lloyd's, bit-deterministic) but with
    * L2 distance (PQ quantizes raw subvectors; cosine has no meaning on a
    * slice) and DENSE code ids: an empty cluster keeps its previous center
    * rather than dropping, because codes must stay exactly 0..K−1.
    * Memoized per (session, sf dir) — q115, q116, and the Verify export all
    * read the same training run (it is deterministic anyway; the memo just
    * saves the repeated sample collect). A new session goes back through
    * [[graft.ModelStore]], which makes the artifact survive the session. */
  private val pqCache = graft.SessionMemo.ofValues[Array[Array[Array[Double]]]]()
  def trainPqCodebooks(e: DataFrame, key: String): Array[Array[Array[Double]]] =
    pqCache.getOrCompute(e.sparkSession, key)(
      graft.ModelStore.rowsToCodebooks(
        graft.ModelStore.getOrTrain(e.sparkSession, "pq_codebook",
          graft.ModelStore.digestOf(e, Seq("vec_id", "v")),
          s"M=$PqM,K=$PqK,n=$PqSample")(
          graft.ModelStore.codebooksToRows(
            lloydSubspaceCodebooks(pqTrainSample(e))))))

  /** The shared PQ training sample: `PqSample` vectors in fixed md5(vec_id)
    * order (deterministic, value-unbiased, a TakeOrdered — no global sort),
    * collected to the driver. Model-scale (~0.5 MB), not a data path. */
  private def pqTrainSample(e: DataFrame): Array[Array[Double]] = e
    .select(md5(col("vec_id").cast("string")).as("so"), col("v"))
    .orderBy(col("so")).limit(PqSample)
    .collect()
    .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
    .sortBy(_._1).map(_._2) // fixed fold order -> bit-deterministic

  /** Per-subspace Lloyd's over an in-driver sample — the training core
    * shared by raw-vector PQ (q115) and residual PQ (q137); the input
    * decides which flavor is learned. */
  private def lloydSubspaceCodebooks(
      sample: Array[Array[Double]]): Array[Array[Array[Double]]] = {
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val df = a(i) - b(i); s += df * df; i += 1 }
        s
      }
      Array.tabulate(PqM) { mi =>
        val sub = sample.map(_.slice(mi * PqSubDim, (mi + 1) * PqSubDim))
        var centers: Array[Array[Double]] = sub.take(PqK).map(_.clone())
        def nearestJ(v: Array[Double]): Int = {
          var best = 0; var bd = d2(v, centers(0)); var j = 1
          while (j < centers.length) {
            val dj = d2(v, centers(j))
            if (dj < bd) { bd = dj; best = j } // tie keeps smaller j
            j += 1
          }
          best
        }
        for (_ <- 1 to 5) {
          val byJ = sub.map(v => (nearestJ(v), v)).groupBy(_._1)
          centers = centers.zipWithIndex.map { case (c, j) =>
            byJ.get(j).map { members =>
              val m = Array.fill(PqSubDim)(0.0)
              members.foreach { case (_, v) =>
                var i = 0; while (i < m.length) { m(i) += v(i); i += 1 } }
              var i = 0; while (i < m.length) { m(i) /= members.length; i += 1 }
              m
            }.getOrElse(c)
          }
        }
        centers
      }
    }

  /** Shortlist multiplier for the q140 refine stage: the index serves
    * RerankFactor × k ADC candidates per query to the exact re-ranker. */
  val RerankFactor = 3

  /** RRF smoothing constant (q141) — the literature-standard 60: large
    * enough that rank differences deep in the list stay gentle, small
    * enough that rank 1 still clearly outweighs rank 3. */
  val RrfK = 60

  /** Prefix dims for the matryoshka audit (q142): the 8×/4×/2× truncation
    * tiers below the full EmbDim = 64. */
  val MrlDims: Seq[Int] = Seq(8, 16, 32)

  /** SemDeDup duplicate threshold (q144): pairs at cosine ≥ τ are semantic
    * duplicates. 0.35 sits between the testdata's random-pair mass
    * (p99 ≈ 0.29) and its planted near-dup ceiling (~0.48-0.51), so the
    * operator both keeps and drops non-trivially at every SF. */
  val SemDedupTau = 0.35

  /** Cluster count for q144's coarse quantizer. More lists than q52's 8 on
    * purpose: SemDeDup's cost is Σ|cluster|² pairwise work, so the cluster
    * count — not the corpus — is the dial that keeps the pair stage
    * near-linear (the paper's k ≈ √N discipline). */
  val SemDedupLists = 64

  /** Trained q144 centroids for a sf dir — what Verify exports so the
    * DuckDB oracle re-runs assignment + dedup under the exact clustering
    * the Spark side used (training is bit-deterministic per corpus). */
  def semDedupCentroidsFor(s: SparkSession, d: String): DataFrame =
    trainCentroids(embs(s, d), SemDedupLists)

  /** SemDeDup (Abbas et al. 2023): cluster-then-dedup semantic
    * deduplication — the embedding-space analog of the MinHash pipeline.
    * Stage 1 clusters the corpus with the IVF coarse quantizer (ONE
    * nearest-centroid map, the q52 shape); stage 2 ranks each
    * cluster's members by keep-priority — ascending cosine to the centroid
    * (the paper's default: prototypical points are the redundant ones,
    * edge points carry the information) with vec_id as the total-order tie
    * break — and drops every member that sits at cosine ≥ τ to ANY
    * earlier-ranked member of its cluster (the paper's released
    * upper-triangular-max semantics; survivors are therefore an
    * independent set of the within-cluster τ-graph, spec-asserted).
    *
    * Scale shape (100 TB): all-pairs work happens ONLY inside a cluster —
    * the equi self-join on the list id is Σ|c|²-sized, dialed by
    * [[SemDedupLists]] (production: k grows with N so |c| stays ~constant
    * and the stage is near-linear), never corpus². The corpus itself makes
    * exactly one pass (a per-row nearest-centroid map, no join and no
    * aggregate); ranking is a per-cluster window, embarrassingly parallel
    * across lists. */
  def semDeDup(e: DataFrame, cent: DataFrame, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(e.sparkSession)
    val lists = assigned(e, cent)
    val w = Window.partitionBy(col("cid"))
      .orderBy(col("csim").asc, col("vec_id"))
    val ranked = lists.withColumn("krank", row_number().over(w).cast("long"))
    // Both sides of the one self-join read the window, so the output rows
    // come from the same cid exchange as the pairs: a member is kept when
    // no earlier-ranked member of its cluster dominates it. A separate
    // dropped-set join back onto the members would not reference krank,
    // and column pruning would give it its own scan and assignment.
    ranked
      .select(col("cid"), col("vec_id"), col("csim"), col("krank").as("kb"),
        col("v").as("vb"))
      .join(ranked.select(col("cid").as("ca"), col("krank").as("ka"),
          col("v").as("va")),
        col("ca") === col("cid") && col("ka") < col("kb") &&
          cosine(col("va"), col("vb")) >= tau, "left")
      .groupBy(col("vec_id"), col("cid")) // vec_id is the key: one csim
      .agg(first(col("csim")).as("centroid_sim"),
        (count(col("ka")) === 0).as("kept"))
      .select(col("vec_id"), col("cid").as("list_id"), col("centroid_sim"),
        col("kept"))
  }

  /** The residual IVF-PQ scored frame — (query_id, vec_id, list_id, adc),
    * every probed-list candidate, pre-ranking — shared by q137 (ADC top-k)
    * and q140 (ADC shortlist → exact re-rank). Shape notes live on the
    * q137/q140 query comments; the corpus makes exactly two passes (list
    * assignment + narrow residual encode) and search is an equi join on
    * list id over 2-byte codes with the query side broadcast. */
  // ---- memoized index-store frames (the materialize-once story) ----------
  // A production IVF/PQ deployment writes the assignment column and the
  // code columns INTO the index store in one build pass; every search then
  // reads the stored columns. The bench equivalent: memoize the three
  // corpus-scale build artifacts per (session, dir) — 8-list assignment,
  // raw PQ codes, residual PQ codes — lazily checkpointed, first consumer
  // pays (q115/q116/q117/q137/q140 all read them; the Dedup memo
  // discipline).
  private val ivfAssignCache = graft.SessionMemo.ofFrames()
  private val pqCodesFrameCache = graft.SessionMemo.ofFrames()
  private val resCodesFrameCache = graft.SessionMemo.ofFrames()

  /** Corpus IVF assignment under the default trained 8-list centroids —
    * (vec_id, v, cid), one per-row nearest-centroid map, memoized. */
  private def ivfAssigned(s: SparkSession, d: String): DataFrame =
    ivfAssignCache.getOrCompute(s, d) {
      val e = embs(s, d)
      assigned(e, trainCentroids(e)).drop("csim").pin(false)
    }

  /** (vec_id, v, cid, csim): each vector's nearest centroid by cosine, tie
    * to the smaller cid, through [[TextFns.nearestCentroid]]. A vector
    * keeps its own row (vec_id is the corpus key); with no centroid at all
    * there is no row, as the inner join with the table gave none. */
  private def assigned(e: DataFrame, cent: DataFrame): DataFrame =
    e.select(col("vec_id"), col("v"), nearestCentroid(col("v"), cent).as("nc"))
      .filter(col("nc").isNotNull)
      .select(col("vec_id"), col("v"), col("nc.cid").as("cid"),
        col("nc.csim").as("csim"))

  /** Raw-codebook PQ codes of the full corpus — (vec_id, s0..s{M−1}
    * struct(code, d2)) — memoized. */
  private def pqEncodedCorpus(s: SparkSession, d: String): DataFrame =
    pqCodesFrameCache.getOrCompute(s, d) {
      val e = embs(s, d)
      pqEncoded(e, trainPqCodebooks(e, d)).pin(false)
    }

  /** Residual PQ codes (PQ over v − c(list)) with the list id —
    * (vec_id, cid, c0..c{M−1}) — memoized. */
  private def residualCodes(s: SparkSession, d: String): DataFrame =
    resCodesFrameCache.getOrCompute(s, d) {
      val e = embs(s, d)
      val cb = trainResidualCodebooks(e, d)
      val cent = trainCentroids(e)
      ivfAssigned(s, d).join(broadcast(cent), Seq("cid"))
        .select(col("vec_id") +: col("cid") +: {
          val r = zip_with(col("v"), col("cv"), (x, c) => x - c)
          (0 until PqM).map { m =>
            val darr = subDists(r, m, cb)
            (array_position(darr, array_min(darr)) - 1).as(s"c$m")
          }
        }: _*)
        .pin(false)
    }

  /** ADC scores of the first NumQueries embeddings against the FROZEN
    * residual IVF-PQ index of `d` — the core of the q137/q140 batch
    * queries: the index (centroids, residual codebooks, corpus code frame)
    * is built/memoized once; each call touches only the probed lists'
    * 2-byte codes with the query side broadcast. */
  private def residualAdcScored(s: SparkSession, d: String): DataFrame = {
    val q = embs(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val e = embs(s, d)
    val cb = trainResidualCodebooks(e, d)
    val cent = trainCentroids(e)
    val corpus = residualCodes(s, d)
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cid"))
    val probed = q.join(broadcast(cent))
      .select(col("query_id"), col("qv"), col("cid"), col("cv"),
        cosine(col("qv"), col("cv")).as("csim"))
      .withColumn("crank", row_number().over(wc).cast("long"))
      .filter(col("crank") <= IvfNProbe)
      .select(col("query_id") +: col("cid") +: {
        val qr = zip_with(col("qv"), col("cv"), (x, c) => x - c)
        (0 until PqM).map(m => subDists(qr, m, cb).as(s"dt$m"))
      }: _*)
    val adc = (0 until PqM).map(m =>
        element_at(col(s"dt$m"), (col(s"c$m") + 1).cast("int")))
      .reduceLeft(_ + _)
    broadcast(probed).join(corpus, Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cid").as("list_id"),
        adc.as("adc"))
  }

  // --------------- residual IVF-PQ (q137): PQ over v − c(list) ------------

  private val pqResCache = graft.SessionMemo.ofValues[Array[Array[Array[Double]]]]()

  /** Per-subspace codebooks trained over coarse-quantization RESIDUALS —
    * v minus the centroid of the vector's nearest list — the FAISS IVFPQ
    * training recipe (residuals concentrate around the origin, so the same
    * 16 codes per subspace spend their resolution on the within-list
    * displacement instead of re-describing the list center; that is the
    * accuracy rung over raw-vector PQ). Same bounded md5-ordered sample,
    * same driver-side Lloyd's, bit-deterministic like every other trained
    * model here. The driver-side nearest-centroid uses the SAME tie-break
    * as the distributed assignment (max cosine, tie → smaller cid); exact
    * bit agreement with the cluster pass is not load-bearing for the
    * oracle (training only shapes codebook QUALITY — the oracle rechecks
    * encode/search under the exported tables, whatever they contain). */
  def trainResidualCodebooks(e: DataFrame, key: String): Array[Array[Array[Double]]] =
    pqResCache.getOrCompute(e.sparkSession, key)(
      graft.ModelStore.rowsToCodebooks(
        graft.ModelStore.getOrTrain(e.sparkSession, "pq_residual",
          graft.ModelStore.digestOf(e, Seq("vec_id", "v")),
          s"M=$PqM,K=$PqK,n=$PqSample,cents=8x5")(
          graft.ModelStore.codebooksToRows {
            val cents = trainCentroidArrays(e)
            val byId = cents.toMap
            val table = CentroidTable(cents.toSeq)
            val residuals = pqTrainSample(e).map { v =>
              val c = byId(nearest(table, v))
              Array.tabulate(v.length)(i => v(i) - c(i))
            }
            lloydSubspaceCodebooks(residuals)
          })))

  // ---------------- learned OPQ rotation (q138) ----------------------------

  /** OPQ iterations: alternations of Procrustes rotation solve + Lloyd
    * codebook refinement. Few are needed — the objective is monotone (see
    * [[trainOpqModel]]) and the bulk of the gain lands in the first two. */
  val OpqIters = 4

  private val opqCache =
    graft.SessionMemo.ofValues[(Array[Array[Double]], Array[Array[Array[Double]]])]()

  /** Learned OPQ model — an orthonormal rotation R plus per-subspace
    * codebooks over R-rotated vectors, trained by the OPQ non-parametric
    * alternation (Ge et al., "Optimized Product Quantization", CVPR'13;
    * also FAISS's OPQMatrix):
    *
    *   init:  R = I, codebooks = the raw q115 codebooks;
    *   T times: (a) encode the sample under (R, cb); (b) R ← the orthogonal
    *   Procrustes solution min_R Σ‖R·x − recon(x)‖² (SVD of Σ x·reconᵀ, via
    *   deterministic one-sided Jacobi); (c) refine cb by Lloyd rounds in the
    *   new rotated space STARTING FROM the previous centers.
    *
    * Every step is non-increasing in training reconstruction error — (a)
    * re-assigns to nearer centers, (b) is optimal over rotations at fixed
    * codes, (c) continues k-means from the incumbent — so the final error
    * is ≤ raw-PQ's BY CONSTRUCTION on the training sample (and the spec
    * pins it corpus-wide; at sf0.001 the sample IS the corpus). A fixed
    * md5-derived random rotation was measured first and is exactly neutral
    * on this near-isotropic testdata (ratio 1.007 / 0.997 at
    * sf0.001/sf0.01) — rotations only pay when LEARNED against the
    * codebooks, hence this variant. Driver-side and bit-deterministic:
    * fixed sample order, fixed Jacobi sweep count, no data-dependent early
    * exits. Model-scale cost (≤ ~20M flops), corpus-independent. */
  def trainOpqModel(e: DataFrame, key: String)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    opqCache.getOrCompute(e.sparkSession, key) {
      val rows = graft.ModelStore.getOrTrain(e.sparkSession, "opq",
        graft.ModelStore.digestOf(e, Seq("vec_id", "v")),
        s"iters=$OpqIters,M=$PqM,K=$PqK,n=$PqSample") {
        val (rot, cb) = trainOpqModelUncached(e)
        graft.ModelStore.matrixToRows(rot) ++
          graft.ModelStore.codebooksToRows(cb)
      }
      (graft.ModelStore.rowsToMatrix(rows),
        graft.ModelStore.rowsToCodebooks(rows))
    }

  private def trainOpqModelUncached(e: DataFrame)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
      val sample = pqTrainSample(e)
      val n = EmbDim
      def matVec(r: Array[Array[Double]], v: Array[Double]): Array[Double] =
        Array.tabulate(n) { o =>
          var s = 0.0; var i = 0
          while (i < n) { s += r(o)(i) * v(i); i += 1 }
          s
        }
      def subD2(v: Array[Double], m: Int, c: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < c.length) { val d = v(m * PqSubDim + i) - c(i); s += d * d; i += 1 }
        s
      }
      var rot = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
      var cb = lloydSubspaceCodebooks(sample)
      for (_ <- 1 to OpqIters) {
        val rx = sample.map(matVec(rot, _))
        // reconstruction of each rotated sample from its nearest codes
        val recon = rx.map { v =>
          val y = new Array[Double](n)
          var m = 0
          while (m < PqM) {
            val j = (0 until PqK).minBy(j => (subD2(v, m, cb(m)(j)), j))
            System.arraycopy(cb(m)(j), 0, y, m * PqSubDim, PqSubDim)
            m += 1
          }
          y
        }
        // Procrustes: maximize tr(R M) with M = Σ x·yᵀ (x ORIGINAL vectors,
        // y the rotated-space reconstructions) → R = V·Uᵀ from M = U·S·Vᵀ
        val mm = Array.ofDim[Double](n, n)
        var s = 0
        while (s < sample.length) {
          val x = sample(s); val y = recon(s)
          var i = 0
          while (i < n) {
            val xi = x(i); var j = 0
            while (j < n) { mm(i)(j) += xi * y(j); j += 1 }
            i += 1
          }
          s += 1
        }
        val (u, v) = jacobiSvdUV(mm)
        rot = Array.tabulate(n, n) { (i, j) =>
          var t = 0.0; var k = 0
          while (k < n) { t += v(i)(k) * u(j)(k); k += 1 }
          t
        } // R = V·Uᵀ, rows are R's rows
        // Lloyd refinement FROM the incumbent centers in the new space
        val rx2 = sample.map(matVec(rot, _))
        cb = Array.tabulate(PqM) { m =>
          val sub = rx2.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim))
          var centers = cb(m).map(_.clone())
          for (_ <- 1 to 3) {
            def nearestJ(x: Array[Double]): Int = {
              var best = 0; var bd = Double.MaxValue; var j = 0
              while (j < centers.length) {
                var dd = 0.0; var i = 0
                while (i < x.length) { val df = x(i) - centers(j)(i); dd += df * df; i += 1 }
                if (dd < bd) { bd = dd; best = j }
                j += 1
              }
              best
            }
            val byJ = sub.map(x => (nearestJ(x), x)).groupBy(_._1)
            centers = centers.zipWithIndex.map { case (c, j) =>
              byJ.get(j).map { members =>
                val acc = Array.fill(PqSubDim)(0.0)
                members.foreach { case (_, x) =>
                  var i = 0; while (i < acc.length) { acc(i) += x(i); i += 1 } }
                var i = 0; while (i < acc.length) { acc(i) /= members.length; i += 1 }
                acc
              }.getOrElse(c)
            }
          }
          centers
        }
      }
      (rot, cb)
    }

  /** Deterministic one-sided Jacobi SVD of a square matrix: returns (U, V)
    * with M = U·S·Vᵀ (S implicit in the column norms consumed away by the
    * Procrustes product). Fixed 30 sweeps over a fixed (p, q) order — no
    * data-dependent control flow, so the factors are bit-stable. */
  private def jacobiSvdUV(m: Array[Array[Double]])
      : (Array[Array[Double]], Array[Array[Double]]) = {
    val n = m.length
    // work on columns: a(i)(j) = column j's i-th entry
    val a = Array.tabulate(n, n)((i, j) => m(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to 30; p <- 0 until n; q <- (p + 1) until n) {
      var app = 0.0; var aqq = 0.0; var apq = 0.0
      var i = 0
      while (i < n) {
        app += a(i)(p) * a(i)(p); aqq += a(i)(q) * a(i)(q)
        apq += a(i)(p) * a(i)(q); i += 1
      }
      if (math.abs(apq) > 1e-15) {
        val zeta = (aqq - app) / (2.0 * apq)
        val t = math.signum(zeta) / (math.abs(zeta) + math.sqrt(1.0 + zeta * zeta))
        val cs = 1.0 / math.sqrt(1.0 + t * t)
        val sn = cs * t
        i = 0
        while (i < n) {
          val ap = a(i)(p); val aq = a(i)(q)
          a(i)(p) = cs * ap - sn * aq; a(i)(q) = sn * ap + cs * aq
          val vp = v(i)(p); val vq = v(i)(q)
          v(i)(p) = cs * vp - sn * vq; v(i)(q) = sn * vp + cs * vq
          i += 1
        }
      }
    }
    // U's columns are the normalized A columns — but a rank-deficient M
    // (reconstructions need not span all of R^n) leaves zero-norm columns
    // whose direction is undefined. Complete them deterministically to an
    // orthonormal basis (Gram-Schmidt over canonical vectors in fixed
    // order): any completion is Procrustes-optimal — the rotation is
    // arbitrary on M's null space — and a garbage 0/0 column would destroy
    // R's orthogonality.
    val u = Array.ofDim[Double](n, n)
    val filled = Array.fill(n)(false)
    for (j <- 0 until n) {
      var nrm = 0.0; var k = 0
      while (k < n) { nrm += a(k)(j) * a(k)(j); k += 1 }
      if (math.sqrt(nrm) > 1e-9 * n) {
        val inv = 1.0 / math.sqrt(nrm)
        k = 0; while (k < n) { u(k)(j) = a(k)(j) * inv; k += 1 }
        filled(j) = true
      }
    }
    for (j <- 0 until n if !filled(j)) {
      // best canonical candidate (largest residual after projecting out the
      // filled columns) — always ≥ 1/√n in exact arithmetic, and taking the
      // max keeps the choice deterministic and well-conditioned
      val residuals = (0 until n).map { cand =>
        val w = Array.tabulate(n)(i => if (i == cand) 1.0 else 0.0)
        for (jj <- 0 until n if filled(jj)) {
          var d = 0.0; var k = 0
          while (k < n) { d += w(k) * u(k)(jj); k += 1 }
          k = 0; while (k < n) { w(k) -= d * u(k)(jj); k += 1 }
        }
        (w, math.sqrt(w.map(x => x * x).sum))
      }
      val (w, wn) = residuals.maxBy(_._2)
      var k = 0; while (k < n) { u(k)(j) = w(k) / wn; k += 1 }
      filled(j) = true
    }
    (u, v)
  }

  /** The rotated vector as EmbDim codegen'd dot products against literal
    * rotation rows — narrow, zero-shuffle, the q81 projection shape at full
    * dimensionality. */
  private def opqRotate(v: Column, rot: Array[Array[Double]]): Column =
    array(rot.toIndexedSeq.map { row =>
      dot(v, array(row.toIndexedSeq.map(lit): _*))
    }: _*)

  /** Rotation matrix table (row, rv) for a sf dir — Verify-exported so the
    * q138 oracle reconstructs the exact rotated vectors in SQL. */
  def opqRotationTable(s: SparkSession, d: String): DataFrame = {
    val rot = trainOpqModel(embs(s, d), d)._1
    import s.implicits._
    rot.zipWithIndex
      .map { case (rv, o) => (o.toLong, rv.toSeq) }.toSeq.toDF("row", "rv")
  }

  /** OPQ codebook table (sub, code, cv) for a sf dir — Verify-exported. */
  def opqCodebookFor(s: SparkSession, d: String): DataFrame = {
    val cb = trainOpqModel(embs(s, d), d)._2
    import s.implicits._
    (for (m <- 0 until PqM; j <- 0 until PqK)
      yield (m.toLong, j.toLong, cb(m)(j).toSeq)).toDF("sub", "code", "cv")
  }

  /** Residual codebook table (sub, code, cv) for a sf dir — Verify exports
    * this next to the q115 codebooks so the q137 oracle rechecks residual
    * encode + ADC search under the exact tables the Spark side trained. */
  def pqResidualCodebookFor(s: SparkSession, d: String): DataFrame = {
    val cb = trainResidualCodebooks(embs(s, d), d)
    import s.implicits._
    (for (m <- 0 until PqM; j <- 0 until PqK)
      yield (m.toLong, j.toLong, cb(m)(j).toSeq)).toDF("sub", "code", "cv")
  }

  /** Codebook table (sub, code, cv) for a sf dir — Verify exports this to
    * parquet so the q115/q116 oracles recheck encode + ADC search under the
    * exact codebooks the Spark side trained. */
  def pqCodebookFor(s: SparkSession, d: String): DataFrame = {
    val cb = trainPqCodebooks(embs(s, d), d)
    import s.implicits._
    (for (m <- 0 until PqM; j <- 0 until PqK)
      yield (m.toLong, j.toLong, cb(m)(j).toSeq)).toDF("sub", "code", "cv")
  }

  // ---------------------- PCA learned projection (q221) -------------------

  /** Principal components kept by q221 (64 → 8, the learned counterpart of
    * q81's random 64 → 16 JL sketch). */
  val PcaK = 8

  private val pcaCache =
    graft.SessionMemo.ofValues[(Array[Double], Array[Array[Double]], Array[Double])]()

  /** Learned PCA model (mean, top-[[PcaK]] components as rows, their
    * eigenvalues) — the LEARNED projection tier above q81's fixed random
    * planes: where JL preserves all directions equally well, PCA spends its
    * budget on the directions the data actually varies in. Training follows
    * the established bounded-sample discipline (the same deterministic
    * md5-ordered [[pqTrainSample]] the PQ/OPQ/IVF models train on — FAISS's
    * train-on-sample contract): exact fixed-order mean + covariance
    * accumulation, then a cyclic symmetric Jacobi eigensolve (fixed 30
    * sweeps, no data-dependent control flow — the [[jacobiSvdUV]]
    * determinism rules), components ordered by (eigenvalue DESC, index) and
    * sign-fixed so each component's largest-|entry| coordinate is positive.
    * Model-scale cost, corpus-independent; persisted content-addressed via
    * [[graft.ModelStore]] like every other trained artifact. */
  def trainPcaModel(e: DataFrame, key: String)
      : (Array[Double], Array[Array[Double]], Array[Double]) =
    pcaCache.getOrCompute(e.sparkSession, key) {
      val rows = graft.ModelStore.getOrTrain(e.sparkSession, "pca",
        graft.ModelStore.digestOf(e, Seq("vec_id", "v")),
        s"k=$PcaK,n=$PqSample,dim=$EmbDim") {
        val (mu, w, ev) = trainPcaUncached(e)
        graft.ModelStore.matrixToRows(Array(mu), "mu") ++
          graft.ModelStore.matrixToRows(w, "w") ++
          graft.ModelStore.matrixToRows(Array(ev), "ev")
      }
      (graft.ModelStore.rowsToMatrix(rows, "mu")(0),
        graft.ModelStore.rowsToMatrix(rows, "w"),
        graft.ModelStore.rowsToMatrix(rows, "ev")(0))
    }

  private def trainPcaUncached(e: DataFrame)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    val sample = pqTrainSample(e)
    val n = EmbDim
    val m = sample.length
    val mu = Array.fill(n)(0.0)
    sample.foreach { x =>
      var i = 0; while (i < n) { mu(i) += x(i); i += 1 }
    }
    var i0 = 0
    while (i0 < n) { mu(i0) /= m; i0 += 1 }
    val c = Array.ofDim[Double](n, n)
    sample.foreach { x =>
      var i = 0
      while (i < n) {
        val xi = x(i) - mu(i); var j = i
        while (j < n) { c(i)(j) += xi * (x(j) - mu(j)); j += 1 }
        i += 1
      }
    }
    for (i <- 0 until n; j <- i until n) { c(i)(j) /= m; c(j)(i) = c(i)(j) }
    val (evals, vecs) = jacobiEigSym(c)
    val order = evals.indices.sortBy(i => (-evals(i), i)).take(PcaK)
    val comps = order.map { j =>
      val w = Array.tabulate(n)(i => vecs(i)(j)) // column j = eigenvector
      val piv = w.indices.maxBy(i => (math.abs(w(i)), -i))
      if (w(piv) < 0) w.map(-_) else w
    }.toArray
    (mu, comps, order.map(evals(_)).toArray)
  }

  /** Deterministic cyclic Jacobi eigensolve for a symmetric matrix: fixed
    * 30 sweeps over a fixed (p, q) order; returns (diagonal eigenvalues,
    * eigenvector COLUMNS). The symmetric sibling of [[jacobiSvdUV]]. */
  private def jacobiEigSym(c0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val n = c0.length
    val a = Array.tabulate(n, n)((i, j) => c0(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 1 to 30; p <- 0 until n; q <- (p + 1) until n) {
      val apq = a(p)(q)
      if (math.abs(apq) > 1e-15) {
        val zeta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
        val t = (if (zeta >= 0) 1.0 else -1.0) /
          (math.abs(zeta) + math.sqrt(1.0 + zeta * zeta))
        val cs = 1.0 / math.sqrt(1.0 + t * t)
        val sn = cs * t
        var k = 0
        while (k < n) { // column rotation on a and v
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = cs * akp - sn * akq; a(k)(q) = sn * akp + cs * akq
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = cs * vkp - sn * vkq; v(k)(q) = sn * vkp + cs * vkq
          k += 1
        }
        k = 0
        while (k < n) { // row rotation on a (A ← JᵀAJ)
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = cs * apk - sn * aqk; a(q)(k) = sn * apk + cs * aqk
          k += 1
        }
      }
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** PCA model table (row, rv) for a sf dir — Verify-exported: row 0 is the
    * mean, rows 1..PcaK the components, so the q221 oracle reconstructs the
    * exact projections in SQL. */
  def pcaModelTable(s: SparkSession, d: String): DataFrame = {
    val (mu, w, _) = trainPcaModel(embs(s, d), d)
    import s.implicits._
    ((0L, mu.toSeq) +: w.toIndexedSeq.zipWithIndex
      .map { case (r, k) => ((k + 1).toLong, r.toSeq) })
      .toDF("row", "rv")
  }

  /** Squared L2 distance between subvector `sub` of `v` and a literal
    * codebook row — a codegen'd fixed-order fold, identical arithmetic to
    * the oracle's list_sum(list_transform(...)). */
  private def subD2(v: Column, m: Int, cv: Array[Double]): Column =
    aggregate(
      zip_with(slice(v, m * PqSubDim + 1, PqSubDim),
        array(cv.toIndexedSeq.map(lit): _*),
        (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x)

  /** Per-subspace distance array (16 doubles) against the codebook of
    * subspace m — the building block of both encoding (argmin) and the
    * query-side ADC distance table. */
  private def subDists(v: Column, m: Int, cb: Array[Array[Array[Double]]]): Column =
    array(cb(m).toIndexedSeq.map(cv => subD2(v, m, cv)): _*)

  /** PQ-encode: per subspace, the 1-based argmin position into the distance
    * array (array_position finds the FIRST occurrence of the min — tie
    * breaks to the smaller code, mirroring the oracle's ORDER BY d2, code).
    * Entirely narrow: the codebook rides in the plan as literals, so
    * encoding is a zero-shuffle projection — the shape that PQ-compresses
    * a 100 TB embedding store in one scan. */
  private def pqEncoded(e: DataFrame, cb: Array[Array[Array[Double]]]): DataFrame =
    e.select(col("vec_id") +: (0 until PqM).map { m =>
      val darr = subDists(col("v"), m, cb)
      struct((array_position(darr, array_min(darr)) - 1).as("code"),
        array_min(darr).as("d2")).as(s"s$m")
    }: _*)

  /** IVF search: coarse quantization by Lloyd's k-means (learned, not the
    * testdata's labels), then each query probes only its `nProbe` nearest
    * centroids' inverted lists.
    *
    * Every stage is the shape that survives 100 TB:
    *  - train: Lloyd's runs on a BOUNDED md5-ordered sample (nLists*256
    *    vectors, ~1 MB) collected to the driver — model training, not a
    *    data path; cost is independent of corpus size and of `iters`.
    *    Fixed sample order makes every centroid bit-deterministic —
    *    floating sums in shuffle order would make recall flap run to run.
    *  - assign: the (tiny) centroid table rides the plan as a literal and
    *    each vector maps to its argmax-cosine list in one pass
    *    ([[TextFns.nearestCentroid]]) — the corpus is scanned once and
    *    never shuffles for assignment.
    *  - probe/search: broadcast centroids to rank lists per query, then ONE
    *    equi-join on the probed list id; only ~nProbe/nLists of the corpus
    *    is scored per query.
    * Fixed `iters` Lloyd rounds: k-means converges geometrically; 5 rounds
    * on a seeded init is the standard IVF build trade-off.
    * Training has no SQL twin (learned doubles are not ANSI-expressible) —
    * SimilaritySpec pins recall@k against the exact q50 baseline; the
    * assignment+search stage IS oracle-checked via the exported centroids. */
  def ivfTopK(e: DataFrame, numQueries: Int, k: Int, nLists: Int = 8,
              iters: Int = 5, nProbe: Int = IvfNProbe): DataFrame =
    ivfAssignTopK(e, trainCentroids(e, nLists, iters), numQueries, k, nProbe)

  /** Trained centroids for a sf dir — what Verify exports to parquet for
    * the q52 oracle (training is bit-deterministic, so re-training here
    * reproduces exactly the centroids the q52 query used). */
  def centroidsFor(s: SparkSession, d: String): DataFrame =
    trainCentroids(embs(s, d))

  /** Stage 1 — centroid training (spec-verified, not SQL-expressible): the
    * learned (cid, cv) coarse-quantizer table, bit-deterministic for a given
    * corpus. Exported to parquet by Verify so the DuckDB oracle can check
    * stage 2 (assignment + search) under the exact same centroids. */
  def trainCentroids(e: DataFrame, nLists: Int = 8, iters: Int = 5): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    trainCentroidArrays(e, nLists, iters).toSeq.toDF("cid", "cv")
  }

  /** Driver-side form of [[trainCentroids]] — the learned (cid, centroid)
    * arrays, for consumers that need the model IN driver memory (residual
    * codebook training subtracts each sample vector's centroid before
    * Lloyd's). Same bit-deterministic training run.
    *
    * Store-backed: the artifact is content-addressed on (corpus digest,
    * nLists, iters) in [[graft.ModelStore]], so a NEW session reloads the
    * persisted centroids instead of retraining — at 100 TB the trained
    * index artifacts are the deliverable, not a per-JVM cache entry.
    * Training is bit-deterministic and parquet round-trips the doubles
    * exactly, so reload == retrain bit for bit (ModelStoreSpec). */
  private def trainCentroidArrays(e: DataFrame, nLists: Int = 8,
                                  iters: Int = 5): Array[(Long, Array[Double])] =
    graft.ModelStore.rowsToCentroids(
      graft.ModelStore.getOrTrain(e.sparkSession, "ivf_centroids",
        graft.ModelStore.digestOf(e, Seq("vec_id", "v")),
        s"lists=$nLists,iters=$iters")(
        graft.ModelStore.centroidsToRows(
          trainCentroidArraysUncached(e, nLists, iters))))

  private def trainCentroidArraysUncached(e: DataFrame, nLists: Int,
                                          iters: Int): Array[(Long, Array[Double])] = {
    graft.functions.GraftFunctions.register(e.sparkSession)

    // Training sample: k-means for a coarse quantizer is trained on a
    // BOUNDED sample, not the corpus (the FAISS discipline — nLists*256
    // vectors saturate centroid quality). The sample is the nLists*256
    // smallest md5(vec_id): deterministic, value-unbiased, a TakeOrdered
    // (no global sort). It is model-scale (nLists*256 x dim doubles, ~1 MB
    // at the defaults), so Lloyd's rounds run ON THE DRIVER over the
    // collected sample — zero cluster jobs per iteration. This is NOT a
    // driver data-path: the corpus-sized work is exactly two distributed
    // passes (the sample TakeOrdered and the final list assignment),
    // independent of `iters`.
    val sample: Array[(String, Array[Double])] = e
      .select(md5(col("vec_id").cast("string")).as("so"), col("v"))
      .orderBy(col("so")).limit(nLists * 256)
      .collect()
      .map(r => (r.getString(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1) // fixed fold order -> bit-deterministic centroids

    // seeding: the nLists sample vectors with the smallest md5(vec_id); the
    // list id is the first 15 hex chars of that md5 as a long.
    def cidOf(so: String): Long = java.lang.Long.parseLong(so.take(15), 16)
    var centers: Array[(Long, Array[Double])] =
      sample.take(nLists).map { case (so, v) => (cidOf(so), v.clone()) }

    for (_ <- 1 to iters) {
      val table = CentroidTable(centers.toSeq)
      val byList = sample.map { case (_, v) => (nearest(table, v), v) }
        .groupBy(_._1)
      // empty lists drop (standard Lloyd's); sample order is fixed, so the
      // mean's summation order — and therefore every centroid bit — is too.
      centers = centers.flatMap { case (cid, _) =>
        byList.get(cid).map { members =>
          val m = Array.fill(members.head._2.length)(0.0)
          members.foreach { case (_, v) =>
            var i = 0; while (i < m.length) { m(i) += v(i); i += 1 } }
          var i = 0; while (i < m.length) { m(i) /= members.length; i += 1 }
          (cid, m)
        }
      }
    }

    centers
  }

  /** Driver-side argmax-centroid, used by Lloyd's rounds and by
    * residual-sample construction: the assignment kernel's own `compute`,
    * so training and the distributed assignment share one argmax rule
    * (NaN highest, tie → smaller cid, a zero norm fails as Spark's
    * division does). */
  private def nearest(t: CentroidTable, v: Array[Double]): Long =
    NearestCentroid.compute(v, t, SQLConf.get.ansiEnabled).getLong(0)

  /** Stage 2 — assignment + probe + search under FIXED centroids. Fully
    * deterministic given `cent`, so (unlike training) it has an exact SQL
    * twin: Verify exports the centroid table to parquet and the q52 oracle
    * recomputes this whole stage in DuckDB over it. */
  def ivfAssignTopK(e: DataFrame, cent: DataFrame, numQueries: Int, k: Int,
                    nProbe: Int = IvfNProbe,
                    listsOpt: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(e.sparkSession)
    // the one corpus-wide pass: final inverted-list assignment — the
    // (tiny) centroid table rides the plan as a literal and each vector
    // maps to its argmax-cosine list in place, so the corpus does not
    // shuffle for assignment. Callers on the standard corpus pass the
    // MEMOIZED [[ivfAssigned]] frame instead (the index store's assignment
    // column), skipping the pass entirely.
    val lists = listsOpt.getOrElse(assigned(e, cent).drop("csim"))

    val q = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))

    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cid"))
    val probed = q.join(broadcast(cent))
      .select(col("query_id"), col("qv"), col("cid"),
        cosine(col("qv"), col("cv")).as("csim"))
      .withColumn("crank", row_number().over(wc).cast("long"))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid"))

    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    probed.join(lists, Seq("cid"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("cid").as("list_id"),
        cosine(col("qv"), col("v")).as("sim"))
      .withColumn("nn_rank", row_number().over(w).cast("long"))
      .filter(col("nn_rank") <= k)
      .select(col("query_id"), col("nn_rank"), col("vec_id"), col("list_id"), col("sim"))
  }

  // ------------------------- oracle SQL twins ----------------------------

  /** Placeholder in the q52 oracle, replaced by Verify at dump time with the
    * aux export directory (outDir + "_aux") where it wrote the trained
    * centroid table — the oracle recomputes IVF assignment + search under
    * the exact centroids the Spark side used. */
  val AuxDirToken = "__GRAFT_AUX_DIR__"

  private val oEmb = "CAST(embedding AS DOUBLE[])"

  /** DuckDB twin of [[subD2]] against codebook row `cb` for a vector
    * expression — same fixed-order fold, bit-identical doubles. */
  private def oSubD2(vExpr: String): String =
    s"""list_sum(list_transform(range(1, ${PqSubDim + 1}),
       |                k -> ($vExpr[cb.sub*$PqSubDim + k] - cb.cv[k])
       |                   * ($vExpr[cb.sub*$PqSubDim + k] - cb.cv[k])))""".stripMargin

  /** Shared q115/q116 oracle prefix: per (vector, subspace, code) squared
    * distance under the exported codebooks, and the per-(vector, subspace)
    * argmin code (tie -> smaller code, mirroring array_position-of-min). */
  private def oPqBase: String =
    s"""e AS (SELECT vec_id, $oEmb AS v FROM embeddings),
       |          cb AS (SELECT sub, code, cv
       |                 FROM '$AuxDirToken/q115_codebook/*.parquet'),
       |          d AS (
       |            SELECT e.vec_id, cb.sub, cb.code, ${oSubD2("e.v")} AS d2
       |            FROM e CROSS JOIN cb),
       |          enc AS (
       |            SELECT vec_id, sub, code, d2 FROM (
       |              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
       |                          ORDER BY d2 ASC, code) AS rk
       |              FROM d)
       |            WHERE rk = 1)""".stripMargin

  private def oQ51: String =
    s"""WITH e AS (SELECT vec_id, $oEmb AS v, ${oLshBucket(oEmb)} AS bucket
                     FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     ${oCosine("q.v", "c.v")} AS sim
              FROM e q JOIN e c
                ON q.bucket = c.bucket AND q.vec_id < $NumQueries
               AND q.vec_id <> c.vec_id)
          SELECT query_id, nn_rank, vec_id, sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, vec_id) AS nn_rank
            FROM scored)
          WHERE nn_rank <= $LshTopK"""

  private def oQ52: String =
    s"""WITH e AS (SELECT vec_id, $oEmb AS v FROM embeddings),
            cent AS (SELECT cid, cv FROM '$AuxDirToken/q52_centroids/*.parquet'),
            asg AS (
              SELECT vec_id, v, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY csim DESC, cid) AS rk
              FROM (SELECT x.vec_id, x.v, c.cid, ${oCosine("x.v", "c.cv")} AS csim
                    FROM e x CROSS JOIN cent c)),
            lists AS (SELECT vec_id, v, cid FROM asg WHERE rk = 1),
            probed AS (
              SELECT query_id, qv, cid FROM (
                SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
                       ROW_NUMBER() OVER (PARTITION BY q.vec_id
                         ORDER BY ${oCosine("q.v", "c.cv")} DESC, c.cid) AS crank
                FROM e q CROSS JOIN cent c
                WHERE q.vec_id < $NumQueries)
              WHERE crank <= $IvfNProbe),
            scored AS (
              SELECT p.query_id, l.vec_id, l.cid AS list_id,
                     ${oCosine("p.qv", "l.v")} AS sim
              FROM probed p JOIN lists l ON p.cid = l.cid
              WHERE p.query_id <> l.vec_id)
          SELECT query_id, nn_rank, vec_id, list_id, sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, vec_id) AS nn_rank
            FROM scored)
          WHERE nn_rank <= $LshTopK"""

  /** Shared q137/q140 oracle CTE body: the residual IVF-PQ pipeline down to
    * the per-candidate `scored` (query_id, vec_id, list_id, adc) frame. */
  private def oResidualScored: String =
    s"""e AS (SELECT vec_id, $oEmb AS v FROM embeddings),
       |          cb AS (SELECT sub, code, cv
       |                 FROM '$AuxDirToken/q137_codebook/*.parquet'),
       |          cent AS (SELECT cid, cv AS ccv
       |                   FROM '$AuxDirToken/q52_centroids/*.parquet'),
       |          asg AS (
       |            SELECT vec_id, cid FROM (
       |              SELECT e.vec_id, c.cid,
       |                ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                  ORDER BY ${oCosine("e.v", "c.ccv")} DESC, c.cid) AS rk
       |              FROM e CROSS JOIN cent c)
       |            WHERE rk = 1),
       |          res AS (
       |            SELECT e.vec_id, a.cid,
       |                   list_transform(range(1, ${EmbDim + 1}),
       |                                  k -> e.v[k] - c.ccv[k]) AS r
       |            FROM e JOIN asg a USING (vec_id) JOIN cent c ON a.cid = c.cid),
       |          d AS (
       |            SELECT res.vec_id, res.cid, cb.sub, cb.code, ${oSubD2("res.r")} AS d2
       |            FROM res CROSS JOIN cb),
       |          enc AS (
       |            SELECT vec_id, cid, sub, code FROM (
       |              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
       |                          ORDER BY d2 ASC, code) AS rk
       |              FROM d)
       |            WHERE rk = 1),
       |          codes AS (
       |            SELECT vec_id, cid,
       |              MAX(CASE WHEN sub = 0 THEN code END) AS c0,
       |              MAX(CASE WHEN sub = 1 THEN code END) AS c1,
       |              MAX(CASE WHEN sub = 2 THEN code END) AS c2,
       |              MAX(CASE WHEN sub = 3 THEN code END) AS c3
       |            FROM enc GROUP BY vec_id, cid),
       |          probed AS (
       |            SELECT query_id, cid FROM (
       |              SELECT q.vec_id AS query_id, c.cid,
       |                ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |                  ORDER BY ${oCosine("q.v", "c.ccv")} DESC, c.cid) AS crank
       |              FROM e q CROSS JOIN cent c
       |              WHERE q.vec_id < $NumQueries)
       |            WHERE crank <= $IvfNProbe),
       |          qres AS (
       |            SELECT p.query_id, p.cid,
       |                   list_transform(range(1, ${EmbDim + 1}),
       |                                  k -> q.v[k] - c.ccv[k]) AS r
       |            FROM probed p JOIN e q ON q.vec_id = p.query_id
       |                          JOIN cent c ON p.cid = c.cid),
       |          dt AS (
       |            SELECT qr.query_id, qr.cid, cb.sub, cb.code, ${oSubD2("qr.r")} AS d2
       |            FROM qres qr CROSS JOIN cb),
       |          scored AS (
       |            SELECT p.query_id, w.vec_id, w.cid AS list_id,
       |                   ((t0.d2 + t1.d2) + t2.d2) + t3.d2 AS adc
       |            FROM probed p
       |            JOIN codes w ON p.cid = w.cid
       |            JOIN dt t0 ON t0.query_id = p.query_id AND t0.cid = p.cid
       |                      AND t0.sub = 0 AND t0.code = w.c0
       |            JOIN dt t1 ON t1.query_id = p.query_id AND t1.cid = p.cid
       |                      AND t1.sub = 1 AND t1.code = w.c1
       |            JOIN dt t2 ON t2.query_id = p.query_id AND t2.cid = p.cid
       |                      AND t2.sub = 2 AND t2.code = w.c2
       |            JOIN dt t3 ON t3.query_id = p.query_id AND t3.cid = p.cid
       |                      AND t3.sub = 3 AND t3.code = w.c3
       |            WHERE p.query_id <> w.vec_id)""".stripMargin

  // q203 oracle: the identical integer Lloyd fixpoint, unrolled as CTEs.
  private def oKmAssign(i: Int, cent: String): String =
    s""",
       |sc$i AS (SELECT q.vec_id, q.qv, c.cid,
       |    list_sum(list_transform(range(1, ${EmbDim + 1}),
       |      k -> (q.qv[k] - c.cv[k]) * (q.qv[k] - c.cv[k]))) AS dist
       |  FROM q CROSS JOIN $cent c),
       |a$i AS (SELECT vec_id, qv, cid, dist FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                ORDER BY dist, cid) AS rn FROM sc$i)
       |  WHERE rn = 1)""".stripMargin

  private def oKmUpdate(i: Int): String =
    s""",
       |c$i AS (SELECT cid, list(sv ORDER BY k) AS cv FROM (
       |    SELECT cid, k, CAST(SUM(qv[k]) // COUNT(1) AS BIGINT) AS sv
       |    FROM a$i, unnest(range(1, ${EmbDim + 1})) AS r(k)
       |    GROUP BY cid, k) GROUP BY cid)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q203_kmeans_lloyd" ->
      (s"""WITH q AS (SELECT vec_id,
          |    list_transform(CAST(embedding AS DOUBLE[]),
          |      x -> CAST(floor((x + 1.0) * 1000.0) AS BIGINT)) AS qv
          |  FROM embeddings),
          |c0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < $KmK)""".stripMargin +
        (1 to KmIters).map(i => oKmAssign(i, s"c${i - 1}") + oKmUpdate(i)).mkString +
        oKmAssign(KmIters + 1, s"c$KmIters") +
        s"""
           |SELECT s.cid AS cluster_id, s.n_members, s.distortion,
           |  CAST(list_sum(c$KmIters.cv) AS BIGINT) AS centroid_sum
           |FROM (SELECT cid, COUNT(1) AS n_members,
           |        CAST(SUM(dist) AS BIGINT) AS distortion
           |      FROM a${KmIters + 1} GROUP BY 1) s
           |JOIN c$KmIters ON s.cid = c$KmIters.cid""".stripMargin),

    "q50_knn_brute" ->
      s"""WITH e AS (SELECT vec_id, $oEmb AS v FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     ${oCosine("q.v", "c.v")} AS sim
              FROM e q JOIN e c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id)
          SELECT query_id, nn_rank, vec_id, sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, vec_id) AS nn_rank
            FROM scored)
          WHERE nn_rank <= $TopK""",

    "q112_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, $oEmb AS v FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, q.label AS qlabel,
                     c.vec_id AS vec_id, c.label AS neg_label,
                     ${oCosine("q.v", "c.v")} AS sim
              FROM e q JOIN e c
                ON q.vec_id < $NumQueries AND q.label <> c.label)
          SELECT query_id, qlabel, nn_rank, vec_id, neg_label, sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, vec_id) AS nn_rank
            FROM scored)
          WHERE nn_rank <= $TopK""",

    "q87_centroid_outliers" ->
      s"""WITH q AS (
            SELECT vec_id, label, pos,
                   CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT) AS q
            FROM (SELECT vec_id, label, unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS pos
                  FROM embeddings)),
          cent AS (
            SELECT label, pos, CAST(SUM(q) AS BIGINT) AS sq, COUNT(1) AS cnt
            FROM q GROUP BY label, pos),
          d2 AS (
            SELECT q.vec_id, q.label,
                   CAST(SUM((q.q * cent.cnt - cent.sq)
                            * (q.q * cent.cnt - cent.sq)) AS BIGINT) AS d2num
            FROM q JOIN cent ON q.label = cent.label AND q.pos = cent.pos
            GROUP BY q.vec_id, q.label)
          SELECT label, nn_rank, vec_id, d2num FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                        ORDER BY d2num DESC, vec_id) AS nn_rank
            FROM d2)
          WHERE nn_rank <= $TopK""",

    "q94_semantic_decontam" ->
      s"""WITH e AS (
            SELECT vec_id, label, $oEmb AS v, ${oLshBucket(oEmb)} AS bucket
            FROM embeddings),
          bench AS (SELECT * FROM e WHERE label = 0),
          corpus AS (SELECT * FROM e WHERE label <> 0),
          hits AS (
            SELECT DISTINCT c.vec_id
            FROM corpus c JOIN bench b ON c.bucket = b.bucket
            WHERE ${oCosine("c.v", "b.v")} >= 0.4)
          SELECT c.vec_id, c.label, h.vec_id IS NOT NULL AS contaminated
          FROM corpus c LEFT JOIN hits h ON c.vec_id = h.vec_id""",

    "q81_jl_project" ->
      s"""WITH p AS (SELECT vec_id, label, ${oJlProject(oEmb)} AS pv
                     FROM embeddings)
          SELECT vec_id, label, CAST(pos AS BIGINT) AS pos, value
          FROM (SELECT vec_id, label, unnest(pv) AS value,
                       generate_subscripts(pv, 1) AS pos
                FROM p)""",

    "q82_knn_projected" ->
      s"""WITH e AS (SELECT vec_id, ${oJlProject(oEmb)} AS pv FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     (list_sum(list_transform(range(1, ${ProjDim + 1}),
                        k -> (q.pv)[k] * (c.pv)[k]))
                      / (sqrt(list_sum(list_transform(q.pv, x -> x * x)))
                         * sqrt(list_sum(list_transform(c.pv, x -> x * x)))))
                       AS sim
              FROM e q JOIN e c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id)
          SELECT query_id, nn_rank, vec_id, sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, vec_id) AS nn_rank
            FROM scored)
          WHERE nn_rank <= $LshTopK""",

    // Recall audit: both tiers rebuilt verbatim (same CTE text as q50/q51),
    // reduced to per-query hit counts — integers, no float feeds the hash.
    "q124_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, $oEmb AS v, ${oLshBucket(oEmb)} AS bucket
                     FROM embeddings),
          xsc AS (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   ${oCosine("q.v", "c.v")} AS sim
            FROM e q JOIN e c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id),
          ex AS (
            SELECT query_id, vec_id FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, vec_id) AS rk FROM xsc)
            WHERE rk <= $LshTopK),
          lsc AS (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   ${oCosine("q.v", "c.v")} AS sim
            FROM e q JOIN e c ON q.bucket = c.bucket
             AND q.vec_id < $NumQueries AND q.vec_id <> c.vec_id),
          ls AS (
            SELECT query_id, vec_id FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, vec_id) AS rk FROM lsc)
            WHERE rk <= $LshTopK),
          ne AS (SELECT query_id, COUNT(1) AS n_exact FROM ex GROUP BY 1),
          nl AS (SELECT query_id, COUNT(1) AS n_approx FROM ls GROUP BY 1),
          nh AS (
            SELECT ex.query_id, COUNT(1) AS n_hit
            FROM ex JOIN ls ON ex.query_id = ls.query_id
                           AND ex.vec_id = ls.vec_id
            GROUP BY 1)
          SELECT ne.query_id, ne.n_exact,
            COALESCE(nl.n_approx, 0) AS n_approx,
            COALESCE(nh.n_hit, 0) AS n_hit,
            CAST(COALESCE(nh.n_hit, 0) AS DOUBLE) / $LshTopK AS recall
          FROM ne
          LEFT JOIN nl ON ne.query_id = nl.query_id
          LEFT JOIN nh ON ne.query_id = nh.query_id""",

    // IVF recall audit: the exact tier verbatim from q124, the approximate
    // side verbatim from q52 (probe + in-list search under the exported
    // centroids), reduced by the same integer counting joins.
    "q129_ivf_recall" ->
      s"""WITH e AS (SELECT vec_id, $oEmb AS v FROM embeddings),
          xsc AS (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   ${oCosine("q.v", "c.v")} AS sim
            FROM e q JOIN e c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id),
          ex AS (
            SELECT query_id, vec_id FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, vec_id) AS rk FROM xsc)
            WHERE rk <= $LshTopK),
          cent AS (SELECT cid, cv FROM '$AuxDirToken/q52_centroids/*.parquet'),
          asg AS (
            SELECT vec_id, v, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid) AS rk
            FROM (SELECT x.vec_id, x.v, c.cid, ${oCosine("x.v", "c.cv")} AS csim
                  FROM e x CROSS JOIN cent c)),
          lists AS (SELECT vec_id, v, cid FROM asg WHERE rk = 1),
          probed AS (
            SELECT query_id, qv, cid FROM (
              SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
                     ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ${oCosine("q.v", "c.cv")} DESC, c.cid) AS crank
              FROM e q CROSS JOIN cent c
              WHERE q.vec_id < $NumQueries)
            WHERE crank <= $IvfNProbe),
          isc AS (
            SELECT p.query_id, l.vec_id, ${oCosine("p.qv", "l.v")} AS sim
            FROM probed p JOIN lists l ON p.cid = l.cid
            WHERE p.query_id <> l.vec_id),
          iv AS (
            SELECT query_id, vec_id FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, vec_id) AS rk FROM isc)
            WHERE rk <= $LshTopK),
          ne AS (SELECT query_id, COUNT(1) AS n_exact FROM ex GROUP BY 1),
          nl AS (SELECT query_id, COUNT(1) AS n_approx FROM iv GROUP BY 1),
          nh AS (
            SELECT ex.query_id, COUNT(1) AS n_hit
            FROM ex JOIN iv ON ex.query_id = iv.query_id
                           AND ex.vec_id = iv.vec_id
            GROUP BY 1)
          SELECT ne.query_id, ne.n_exact,
            COALESCE(nl.n_approx, 0) AS n_approx,
            COALESCE(nh.n_hit, 0) AS n_hit,
            CAST(COALESCE(nh.n_hit, 0) AS DOUBLE) / $LshTopK AS recall
          FROM ne
          LEFT JOIN nl ON ne.query_id = nl.query_id
          LEFT JOIN nh ON ne.query_id = nh.query_id""",

    "q51_knn_lsh" -> oQ51,

    // Matryoshka: per prefix dim, brute cosine over list_slice'd vectors
    // (explicit range(1, D+1) folds — oDot's fixed EmbDim range would
    // NULL-index a truncated array), counting-joined against the exact
    // full-dim tier; dims stitched by UNION ALL.
    "q142_matryoshka_recall" -> {
      def pDot(dim: Int) =
        s"list_sum(list_transform(range(1, ${dim + 1}), k -> (q.pv)[k] * (c.pv)[k]))"
      def pNorm(e: String) = s"sqrt(list_sum(list_transform($e, x -> x * x)))"
      val dimBlocks = MrlDims.map { dim =>
        s"""SELECT CAST($dim AS BIGINT) AS dim, sp.query_id,
              COALESCE(h.n_hit, 0) AS n_hit,
              CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / $LshTopK AS recall
            FROM sp LEFT JOIN (
              SELECT t.query_id, COUNT(1) AS n_hit
              FROM (
                SELECT query_id, vec_id FROM (
                  SELECT q.vec_id AS query_id, c.vec_id,
                    (${pDot(dim)} / (${pNorm("q.pv")} * ${pNorm("c.pv")})) AS sim,
                    ROW_NUMBER() OVER (PARTITION BY q.vec_id
                      ORDER BY (${pDot(dim)} / (${pNorm("q.pv")} * ${pNorm("c.pv")})) DESC,
                               c.vec_id) AS rk
                  FROM (SELECT vec_id, list_slice(v, 1, $dim) AS pv FROM e
                        WHERE vec_id < $NumQueries) q
                  JOIN (SELECT vec_id, list_slice(v, 1, $dim) AS pv FROM e) c
                    ON q.vec_id <> c.vec_id)
                WHERE rk <= $LshTopK) t
              JOIN ex ON ex.query_id = t.query_id AND ex.vec_id = t.vec_id
              GROUP BY t.query_id) h
            ON h.query_id = sp.query_id"""
      }
      s"""WITH e AS (SELECT vec_id, $oEmb AS v FROM embeddings),
          xsc AS (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   ${oCosine("q.v", "c.v")} AS sim
            FROM e q JOIN e c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id),
          ex AS (
            SELECT query_id, vec_id FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY sim DESC, vec_id) AS rk FROM xsc)
            WHERE rk <= $LshTopK),
          sp AS (SELECT vec_id AS query_id FROM e WHERE vec_id < $NumQueries)
          ${dimBlocks.mkString("\n          UNION ALL\n          ")}"""
    },

    // RRF: both tier oracles verbatim as CTEs, the fixed-order two-term
    // fusion score, absent ranks -> 0.
    "q141_rrf_fusion" ->
      s"""WITH lsh AS (SELECT query_id, vec_id, nn_rank FROM ($oQ51)),
          ivf AS (SELECT query_id, vec_id, nn_rank FROM ($oQ52)),
          fused AS (
            SELECT COALESCE(l.query_id, i.query_id) AS query_id,
                   COALESCE(l.vec_id, i.vec_id) AS vec_id,
                   l.nn_rank AS rl, i.nn_rank AS ri,
                   COALESCE(CAST(1 AS DOUBLE) / ($RrfK + l.nn_rank), 0.0)
                     + COALESCE(CAST(1 AS DOUBLE) / ($RrfK + i.nn_rank), 0.0)
                     AS rrf
            FROM lsh l FULL OUTER JOIN ivf i
              ON l.query_id = i.query_id AND l.vec_id = i.vec_id)
          SELECT query_id, fused_rank, vec_id,
                 COALESCE(rl, 0) AS rank_lsh,
                 COALESCE(ri, 0) AS rank_ivf, rrf
          FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, vec_id) AS fused_rank
                FROM fused)
          WHERE fused_rank <= $LshTopK""",

    // q52: stage 1 (centroid TRAINING) stays spec-only — learned doubles are
    // not ANSI-expressible. Stage 2 (assignment + probe + search) is fully
    // deterministic under fixed centroids, so the oracle reads the centroid
    // parquet Verify exported and recomputes the whole stage: per-vector
    // argmax-cosine list assignment (tie -> smaller cid, the rule of
    // graft.functions.NearestCentroid), per-query nProbe nearest lists, then top-k
    // within the probed lists.
    "q52_knn_ivf" -> oQ52,

    "q115_pq_encode" ->
      s"""WITH $oPqBase
          SELECT vec_id, sub, code, d2 FROM enc""",

    // PCA twin: projections recomputed from the exported model rows — the
    // q138 list_sum(list_transform(...)) dot-product idiom, centered
    // against the exported mean (row 0).
    "q221_pca_project" -> {
      val pcs = (0 until PcaK).map(k =>
        s"MAX(CASE WHEN comp = ${k + 1} THEN y END) AS pc$k")
        .mkString(",\n            ")
      s"""WITH e AS (SELECT vec_id, label, $oEmb AS v FROM embeddings),
          mu AS (SELECT rv AS mu FROM '$AuxDirToken/q221_pca/*.parquet'
                 WHERE row = 0),
          w AS (SELECT row AS comp, rv FROM '$AuxDirToken/q221_pca/*.parquet'
                WHERE row >= 1),
          proj AS (
            SELECT e.vec_id, e.label, w.comp,
              list_sum(list_transform(range(1, ${EmbDim + 1}),
                k -> (e.v[k] - mu.mu[k]) * w.rv[k])) AS y
            FROM e CROSS JOIN mu CROSS JOIN w)
          SELECT vec_id, label,
            $pcs
          FROM proj GROUP BY vec_id, label"""
    },

    // OPQ encode: rotated vectors reconstructed in SQL from the exported
    // rotation rows (list aggregation ordered by row index), then the q115
    // encode shape under the rotated-space codebooks.
    "q138_opq_encode" ->
      s"""WITH e0 AS (SELECT vec_id, $oEmb AS v FROM embeddings),
          rot AS (SELECT row, rv FROM '$AuxDirToken/q138_rotation/*.parquet'),
          rx AS (
            SELECT e0.vec_id, rot.row AS pos,
                   list_sum(list_transform(range(1, ${EmbDim + 1}),
                            k -> e0.v[k] * rot.rv[k])) AS x
            FROM e0 CROSS JOIN rot),
          e AS (SELECT vec_id, list(x ORDER BY pos) AS v
                FROM rx GROUP BY vec_id),
          cb AS (SELECT sub, code, cv
                 FROM '$AuxDirToken/q138_codebook/*.parquet'),
          d AS (
            SELECT e.vec_id, cb.sub, cb.code, ${oSubD2("e.v")} AS d2
            FROM e CROSS JOIN cb),
          enc AS (
            SELECT vec_id, sub, code, d2 FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                          ORDER BY d2 ASC, code) AS rk
              FROM d)
            WHERE rk = 1)
          SELECT vec_id, sub, code, d2 FROM enc""",

    "q116_pq_adc" ->
      s"""WITH $oPqBase,
          codes AS (
            SELECT vec_id,
              MAX(CASE WHEN sub = 0 THEN code END) AS c0,
              MAX(CASE WHEN sub = 1 THEN code END) AS c1,
              MAX(CASE WHEN sub = 2 THEN code END) AS c2,
              MAX(CASE WHEN sub = 3 THEN code END) AS c3
            FROM enc GROUP BY vec_id),
          dt AS (SELECT vec_id AS query_id, sub, code, d2 FROM d
                 WHERE vec_id < $NumQueries),
          scored AS (
            SELECT t0.query_id, c.vec_id,
                   ((t0.d2 + t1.d2) + t2.d2) + t3.d2 AS adc
            FROM codes c
            JOIN dt t0 ON t0.sub = 0 AND t0.code = c.c0
            JOIN dt t1 ON t1.query_id = t0.query_id AND t1.sub = 1 AND t1.code = c.c1
            JOIN dt t2 ON t2.query_id = t0.query_id AND t2.sub = 2 AND t2.code = c.c2
            JOIN dt t3 ON t3.query_id = t0.query_id AND t3.sub = 3 AND t3.code = c.c3
            WHERE t0.query_id <> c.vec_id)
          SELECT query_id, nn_rank, vec_id, adc FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY adc ASC, vec_id) AS nn_rank
            FROM scored)
          WHERE nn_rank <= $TopK""",

    "q117_ivf_pq" ->
      s"""WITH $oPqBase,
          cent AS (SELECT cid, cv AS ccv
                   FROM '$AuxDirToken/q52_centroids/*.parquet'),
          asg AS (
            SELECT vec_id, cid FROM (
              SELECT e.vec_id, c.cid,
                ROW_NUMBER() OVER (PARTITION BY e.vec_id
                  ORDER BY ${oCosine("e.v", "c.ccv")} DESC, c.cid) AS rk
              FROM e CROSS JOIN cent c)
            WHERE rk = 1),
          codes AS (
            SELECT vec_id,
              MAX(CASE WHEN sub = 0 THEN code END) AS c0,
              MAX(CASE WHEN sub = 1 THEN code END) AS c1,
              MAX(CASE WHEN sub = 2 THEN code END) AS c2,
              MAX(CASE WHEN sub = 3 THEN code END) AS c3
            FROM enc GROUP BY vec_id),
          probed AS (
            SELECT query_id, cid FROM (
              SELECT q.vec_id AS query_id, c.cid,
                ROW_NUMBER() OVER (PARTITION BY q.vec_id
                  ORDER BY ${oCosine("q.v", "c.ccv")} DESC, c.cid) AS crank
              FROM e q CROSS JOIN cent c
              WHERE q.vec_id < $NumQueries)
            WHERE crank <= $IvfNProbe),
          dt AS (SELECT vec_id AS query_id, sub, code, d2 FROM d
                 WHERE vec_id < $NumQueries),
          scored AS (
            SELECT p.query_id, w.vec_id, w.cid AS list_id,
                   ((t0.d2 + t1.d2) + t2.d2) + t3.d2 AS adc
            FROM probed p
            JOIN (SELECT codes.*, asg.cid
                  FROM codes JOIN asg USING (vec_id)) w ON p.cid = w.cid
            JOIN dt t0 ON t0.query_id = p.query_id AND t0.sub = 0 AND t0.code = w.c0
            JOIN dt t1 ON t1.query_id = p.query_id AND t1.sub = 1 AND t1.code = w.c1
            JOIN dt t2 ON t2.query_id = p.query_id AND t2.sub = 2 AND t2.code = w.c2
            JOIN dt t3 ON t3.query_id = p.query_id AND t3.sub = 3 AND t3.code = w.c3
            WHERE p.query_id <> w.vec_id)
          SELECT query_id, nn_rank, vec_id, list_id, adc FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY adc ASC, vec_id) AS nn_rank
            FROM scored)
          WHERE nn_rank <= $LshTopK""",

    // Residual IVF-PQ: q117's oracle with both learned tables — codes are
    // argmins over the RESIDUAL codebooks against v − centroid, and the
    // query-side distance table is per (query, probed list) because the
    // query residual is list-relative.
    "q137_ivfpq_residual" ->
      s"""WITH $oResidualScored
          SELECT query_id, nn_rank, vec_id, list_id, adc FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY adc ASC, vec_id) AS nn_rank
            FROM scored)
          WHERE nn_rank <= $LshTopK""",

    // Refine: q137's scored CTEs, ADC shortlist of RerankFactor×k, exact
    // squared-L2 re-rank over the fetched raw vectors.
    "q140_ivfpq_rerank" ->
      s"""WITH $oResidualScored,
          shortlist AS (
            SELECT query_id, vec_id, list_id FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY adc ASC, vec_id) AS adc_rank
              FROM scored)
            WHERE adc_rank <= ${RerankFactor * LshTopK}),
          re AS (
            SELECT s.query_id, s.vec_id, s.list_id,
                   list_sum(list_transform(range(1, ${EmbDim + 1}),
                     k -> (q.v[k] - c.v[k]) * (q.v[k] - c.v[k]))) AS l2
            FROM shortlist s
            JOIN e q ON q.vec_id = s.query_id
            JOIN e c ON c.vec_id = s.vec_id)
          SELECT query_id, nn_rank, vec_id, list_id, l2 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY l2 ASC, vec_id) AS nn_rank
            FROM re)
          WHERE nn_rank <= $LshTopK""",

    "q54_knn_quantized" ->
      s"""WITH b AS (
            SELECT vec_id, $oEmb AS v,
                   list_max(list_transform($oEmb, x -> abs(x))) AS amax
            FROM embeddings),
          e AS (
            SELECT vec_id,
                   list_transform(v, x -> floor(x * 127.0 / amax + 0.5)) AS q8
            FROM b),
          scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   ${oCosine("q.q8", "c.q8")} AS qsim
            FROM e q JOIN e c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id)
          SELECT query_id, nn_rank, vec_id, qsim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY qsim DESC, vec_id) AS nn_rank
            FROM scored)
          WHERE nn_rank <= $TopK""",

    "q53_embed_quantize" ->
      s"""WITH e AS (
            SELECT vec_id, $oEmb AS v,
                   list_max(list_transform($oEmb, x -> abs(x))) AS amax
            FROM embeddings),
          q AS (
            SELECT vec_id, v, amax,
                   list_transform(v, x -> CAST(floor(x * 127.0 / amax + 0.5) AS INT)) AS qi
            FROM e)
          SELECT vec_id, amax,
            CAST(list_sum(qi) AS BIGINT) AS qsum,
            md5(array_to_string(qi, ',')) AS qmd5,
            list_sum(list_transform(range(1, ${EmbDim + 1}),
              k -> (v[k] - (qi[k] * amax / 127.0)) * (v[k] - (qi[k] * amax / 127.0)))) AS err
          FROM q""",

    "q148_knn_purity" ->
      s"""WITH e AS (SELECT vec_id, label, $oEmb AS v FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     ${oCosine("q.v", "c.v")} AS sim
              FROM e q JOIN e c ON q.vec_id < $NumQueries AND q.vec_id <> c.vec_id),
            nn AS (
              SELECT query_id, vec_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS nn_rank
                FROM scored)
              WHERE nn_rank <= $TopK)
          SELECT nn.query_id, CAST(q.label AS BIGINT) AS qlabel,
            CAST(SUM(CASE WHEN c.label = q.label THEN 1 ELSE 0 END) AS BIGINT)
              AS n_same,
            CAST(SUM(CASE WHEN c.label = q.label THEN 1 ELSE 0 END) AS DOUBLE)
              / $TopK AS purity
          FROM nn
          JOIN e c ON nn.vec_id = c.vec_id
          JOIN e q ON nn.query_id = q.vec_id
          GROUP BY nn.query_id, q.label""",

    "q144_semdedup" ->
      s"""WITH e AS (SELECT vec_id, $oEmb AS v FROM embeddings),
            cent AS (SELECT cid, cv FROM '$AuxDirToken/q144_centroids/*.parquet'),
            asg AS (
              SELECT vec_id, v, cid, csim,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY csim DESC, cid) AS rk
              FROM (SELECT x.vec_id, x.v, c.cid, ${oCosine("x.v", "c.cv")} AS csim
                    FROM e x CROSS JOIN cent c)),
            lists AS (SELECT vec_id, v, cid, csim FROM asg WHERE rk = 1),
            ranked AS (
              SELECT vec_id, v, cid, csim,
                     ROW_NUMBER() OVER (PARTITION BY cid
                       ORDER BY csim ASC, vec_id) AS krank
              FROM lists),
            dropped AS (
              SELECT DISTINCT b.vec_id
              FROM ranked a JOIN ranked b
                ON a.cid = b.cid AND a.krank < b.krank
              WHERE ${oCosine("a.v", "b.v")} >= $SemDedupTau)
          SELECT r.vec_id, r.cid AS list_id, r.csim AS centroid_sim,
                 (d.vec_id IS NULL) AS kept
          FROM ranked r LEFT JOIN dropped d ON r.vec_id = d.vec_id""",

    // DBSCAN twin: the same two JL plane literals, the same ×16 integer
    // quantization, the same 3×3-cell candidate join and MinPts rule, and
    // the CC over core-core edges as an UNROLLED hook+compress min-label
    // fold (Shiloach–Vishkin shape) instead of a recursive reach: the
    // recursive-CTE formulation enumerates every (node, reaching-label)
    // pair — O(|component|²) rows, which times out on sf1's single
    // 19,805-core component — while each unrolled round here is one
    // edge-sized hook (node takes the min of its neighbours' labels) plus
    // one node-sized pointer compression (lbl := lbl's lbl). Labels only
    // decrease and never leave the component, so ANY fixpoint is the
    // exact min-core-id labelling (an edge with unequal labels would
    // still hook), and rounds past the fixpoint are no-ops — overshoot
    // is safe, undershoot would fail the hash gate loudly. Measured
    // rounds-to-fixpoint: 13 at BOTH sf0.01 (298 cores / 1,750 edges)
    // and sf1 (19,808 cores / 3.80M edges, diameter-heavy); unrolled to
    // 32 for margin, and the margin is ENFORCED, not assumed: the
    // ccguard CTE (cross-joined into the final select so it always
    // evaluates) errors loudly if p32 <> p31 — a corpus needing more
    // rounds aborts the oracle instead of hash-failing with a
    // misleading "engine wrong" signal. This is the same
    // O(log n)-round contract as the engine's star CC, in plain SQL.
    "q225_grid_dbscan" -> oDbscanSql(s"$DbscanEpsQ", ""),

    // Calibration twin: the same fine-grid histogram, the same per-rung
    // exact candidate algebra (center pairs + 4 adjacency products as
    // hash-joinable equi-joins — never an OR-condition NL join), the same
    // budgeted max-eps choice. All integers; SUMs cast back to BIGINT
    // (DuckDB widens SUM(BIGINT) to HUGEINT).
    "q231_eps_calibration" ->
      s"""WITH $oDbscanCalibCtes
          SELECT r.epsq, r.n_cells, r.cand_pairs,
            (SELECT n_points FROM calnp) AS n_points,
            r.epsq = (SELECT epsq FROM choseneps) AS chosen
          FROM calrungs r""",

    // Calibrated-DBSCAN twin: the full q225 SQL with eps supplied by the
    // calibration CTEs' scalar instead of the hand-dial literal, and a
    // deeper CC unroll (96) for the longer-diameter calibrated-eps core
    // graphs (measured 42 rounds at sf1/eps60; see oDbscanSql).
    "q232_dbscan_calibrated" -> oDbscanSql(
      "(SELECT epsq FROM choseneps)", oDbscanCalibCtes + ",", ccRounds = 96),

    // Margin-mining twin: same buckets, same floor(1e6·cos) integer sims,
    // same inclusive top-4 sums and integer margin inequality.
    "q227_margin_mining" ->
      s"""WITH e AS (SELECT vec_id, $oEmb AS v, ${oLshBucket(oEmb)} AS bucket
                     FROM embeddings),
          cand AS (
            SELECT a.vec_id AS src, b.vec_id AS dst,
              CAST(floor(${oCosine("a.v", "b.v")} * 1e6) AS BIGINT) AS s
            FROM e a JOIN e b
              ON a.bucket = b.bucket
             AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
          ra AS (
            SELECT src, dst, s, ROW_NUMBER() OVER (PARTITION BY src
              ORDER BY s DESC, dst) AS rn
            FROM cand),
          ta AS (
            SELECT src, CAST(SUM(s) AS BIGINT) AS sum4_src
            FROM ra WHERE rn <= $MarginK GROUP BY src
            HAVING COUNT(1) = $MarginK),
          rb AS (
            SELECT src, dst, s, ROW_NUMBER() OVER (PARTITION BY dst
              ORDER BY s DESC, src) AS rn
            FROM cand),
          tb AS (
            SELECT dst, CAST(SUM(s) AS BIGINT) AS sum4_dst
            FROM rb WHERE rn <= $MarginK GROUP BY dst
            HAVING COUNT(1) = $MarginK)
          SELECT r.src, r.dst, r.s AS sim_u, ta.sum4_src, tb.sum4_dst,
            r.s * ${MarginK * 2000L} >
              (ta.sum4_src + tb.sum4_dst) * $MarginTauMillis AS mined
          FROM ra r JOIN ta USING (src) JOIN tb USING (dst)
          WHERE r.rn = 1""",

    // Multi-probe twin: q51's CTE with the 5-bucket probe list unnested on
    // the query side (own bucket + each single-bit flip).
    "q228_knn_multiprobe" ->
      s"""WITH e AS (SELECT vec_id, $oEmb AS v, ${oLshBucket(oEmb)} AS bucket
                     FROM embeddings),
          q AS (
            SELECT vec_id AS query_id, v,
              CASE WHEN f = -1 THEN bucket
                   ELSE xor(bucket, 1 << f) END AS qbucket
            FROM e, UNNEST([${(-1 +: (0 until TextFns.NumPlanes)).mkString(", ")}])
              AS r(f)
            WHERE vec_id < $NumQueries),
          scored AS (
            SELECT q.query_id, c.vec_id,
                   ${oCosine("q.v", "c.v")} AS sim
            FROM q JOIN e c
              ON q.qbucket = c.bucket AND q.query_id <> c.vec_id)
          SELECT query_id, nn_rank, vec_id, sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                        ORDER BY sim DESC, vec_id) AS nn_rank
            FROM scored)
          WHERE nn_rank <= $LshTopK"""
  )

  /** The grid-DBSCAN oracle, parameterized over its eps source: the q225
    * hand-dial literal, or the q232 calibrated scalar (`extraCtes` then
    * carries the calibration CTEs, ending with a trailing comma).
    *
    * `ccRounds` is per-use because min-label hook+compress converges in
    * ~diameter/2.4 rounds, and a CALIBRATED (smaller) eps yields
    * longer-diameter percolation clusters than the hand dial: measured
    * rounds-to-fixpoint 13 at sf0.01/eps240 and 15 at sf0.1/eps240 (q225,
    * unrolled 32 = 2.4× margin) vs 42 at sf1/eps60 (q232, unrolled 96 =
    * 2.3× margin). The ccguard CTE converts ANY shortfall into a loud
    * abort — it caught exactly this at the sf1 gate when q232 first ran
    * with 32 — and DuckDB 1.0 has no keyed recursion, so a
    * converge-exact SQL formulation without the O(|comp|²) recursive
    * blowup is not expressible; the unroll+guard is the oracle-side
    * shape, while the ENGINE side (alternating-star CC) iterates to true
    * convergence in O(log n) rounds at any scale. */
  private def oDbscanSql(epsSql: String, extraCtes: String,
                         ccRounds: Int = 32): String = {
    // every CTE is MATERIALIZED: DuckDB 1.0 re-INLINES plain CTEs, and
    // each round references the previous twice → exponential plan
    // blowup without the hint (the q178/q208 lesson)
    val ccFold = (1 to ccRounds).map { k =>
      s"""h$k AS MATERIALIZED (
            SELECT node, MIN(lbl) AS lbl FROM (
              SELECT node, lbl FROM p${k - 1}
              UNION ALL
              SELECT e.ia AS node, p.lbl
              FROM cedges e JOIN p${k - 1} p ON p.node = e.ib)
            GROUP BY 1),
          p$k AS MATERIALIZED (
            SELECT a.node, b.lbl FROM h$k a JOIN h$k b ON b.node = a.lbl)"""
    }.mkString(",\n          ")
    s"""WITH $extraCtes
          pts AS MATERIALIZED (
            SELECT vec_id AS id,
              CAST(floor((${oJlDot(oEmb, 0)}) * 16) AS BIGINT) AS qx,
              CAST(floor((${oJlDot(oEmb, 1)}) * 16) AS BIGINT) AS qy
            FROM embeddings),
          cells AS MATERIALIZED (
            SELECT id, qx, qy,
              (qx + $DbscanShift) // ($epsSql) AS cx,
              (qy + $DbscanShift) // ($epsSql) AS cy
            FROM pts),
          edges AS MATERIALIZED (
            SELECT a.id AS ia, b.id AS ib
            FROM cells a JOIN cells b
              ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
             AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
             AND a.id <> b.id
             AND (a.qx - b.qx) * (a.qx - b.qx)
               + (a.qy - b.qy) * (a.qy - b.qy)
                 <= ($epsSql) * ($epsSql)),
          cores AS MATERIALIZED (
            SELECT ia AS id FROM edges GROUP BY 1
            HAVING COUNT(1) >= $DbscanMinPts),
          cedges AS MATERIALIZED (
            SELECT ia, ib FROM edges
            WHERE ia IN (SELECT id FROM cores)
              AND ib IN (SELECT id FROM cores)),
          p0 AS MATERIALIZED (SELECT id AS node, id AS lbl FROM cores),
          $ccFold,
          ccguard AS MATERIALIZED (
            SELECT CASE WHEN COUNT(1) = 0 THEN 1 ELSE CAST(error(
              'grid-DBSCAN oracle CC not converged after $ccRounds rounds') AS INT)
            END AS ok
            FROM (SELECT * FROM p$ccRounds
                  EXCEPT SELECT * FROM p${ccRounds - 1})),
          comp AS MATERIALIZED (SELECT node AS id, lbl AS cluster FROM p$ccRounds),
          border AS MATERIALIZED (
            SELECT e.ia AS id, MIN(c.cluster) AS cluster
            FROM edges e JOIN comp c ON e.ib = c.id
            WHERE e.ia NOT IN (SELECT id FROM cores)
            GROUP BY 1)
          SELECT p.id AS vec_id,
            CASE WHEN cm.id IS NOT NULL THEN 'core'
                 WHEN b.id IS NOT NULL THEN 'border'
                 ELSE 'noise' END AS role,
            COALESCE(cm.cluster, b.cluster, -1) AS cluster
          FROM pts p
          CROSS JOIN ccguard
          LEFT JOIN comp cm ON p.id = cm.id
          LEFT JOIN border b ON p.id = b.id"""
  }

  /** Calibration CTEs shared by the q231 oracle (full query) and the q232
    * oracle (its `choseneps` scalar): fine histogram → per-rung exact
    * candidate volume → budgeted max-eps choice, mirroring
    * [[dbscanCalibration]] integer for integer. */
  private def oDbscanCalibCtes: String = {
    val fineW = DbscanLadder.head
    val rungSqls = DbscanLadder.map { eps =>
      val k = eps / fineW
      val adjSql = Seq((1, 0), (-1, 1), (0, 1), (1, 1)).map { case (dx, dy) =>
        s"""SELECT a.nc * b.nc AS p FROM coarse$k a JOIN coarse$k b
                      ON b.cx = a.cx + ($dx) AND b.cy = a.cy + ($dy)"""
      }.mkString("\n                    UNION ALL ")
      s"""coarse$k AS MATERIALIZED (
            SELECT fx // $k AS cx, fy // $k AS cy, CAST(SUM(c) AS BIGINT) AS nc
            FROM calfine GROUP BY 1, 2),
          rung$k AS MATERIALIZED (
            SELECT CAST($eps AS BIGINT) AS epsq,
              (SELECT CAST(COUNT(1) AS BIGINT) FROM coarse$k) AS n_cells,
              CAST((SELECT CAST(SUM((nc * (nc - 1)) // 2) AS BIGINT) FROM coarse$k)
                + COALESCE((SELECT CAST(SUM(p) AS BIGINT) FROM (
                    $adjSql)), 0) AS BIGINT) AS cand_pairs)"""
    }
    s"""calpts AS MATERIALIZED (
            SELECT CAST(floor((${oJlDot(oEmb, 0)}) * 16) AS BIGINT) AS qx,
              CAST(floor((${oJlDot(oEmb, 1)}) * 16) AS BIGINT) AS qy
            FROM embeddings),
          calfine AS MATERIALIZED (
            SELECT (qx + $DbscanShift) // $fineW AS fx,
              (qy + $DbscanShift) // $fineW AS fy,
              CAST(COUNT(1) AS BIGINT) AS c
            FROM calpts GROUP BY 1, 2),
          calnp AS MATERIALIZED (
            SELECT CAST(SUM(c) AS BIGINT) AS n_points FROM calfine),
          ${rungSqls.mkString(",\n          ")},
          calrungs AS MATERIALIZED (
            ${DbscanLadder.map(e => s"SELECT * FROM rung${e / fineW}")
              .mkString("\n            UNION ALL ")}),
          choseneps AS MATERIALIZED (
            SELECT COALESCE(MAX(CASE WHEN cand_pairs <=
                $DbscanCandBudget * (SELECT n_points FROM calnp)
              THEN epsq END), $fineW) AS epsq
            FROM calrungs)"""
  }
}
