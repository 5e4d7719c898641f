package graft.operators

import graft.Pinned._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import TextFns._

/** Deduplication operators over `documents` (and embedding near-dup over
  * `embeddings`): exact hash dedup, MinHash+LSH, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup.
  *
  * Scale stance: no query here ever does an unblocked all-pairs comparison.
  * Every near-dup variant first computes per-row bucket keys (minhash bands
  * or hyperplane-LSH buckets); candidate pairs are generated inside buckets
  * after ONE shuffle keyed by bucket, so the quadratic term is bounded by
  * bucket size and the signature pass runs exactly once. Exact
  * Jaccard/cosine runs only on candidates, behind an integer size-ratio
  * prefilter that is mathematically implied by the threshold (so it changes
  * cost, never results). This is the shape that survives 100 TB: the
  * signature pass is embarrassingly parallel, candidate generation is one
  * hash aggregation, and AQE absorbs residual bucket skew.
  */
object Dedup {

  // q41/q42: trigram shingles, 8 minhashes in 4 bands of 2
  val NumHashes = 8
  val BandSize = 2
  val NumBands: Int = NumHashes / BandSize
  val SimhashBits = 8

  /** Fingerprint width of the full-scale q192 simhash (15 md5 hex digits
    * per token = 60 usable bits; 4 bands × 15 bits give the Hamming<=3
    * pigeonhole guarantee). */
  val SimhashBits64 = 60
  // q42 trigram verify threshold as an exact rational (tNum/tDen), the
  // single source for the call site, the oracle SQL and the specs.
  val TrigramTNum = 7
  val TrigramTDen = 10
  // q44: bigram shingles, 6 minhashes in 2 bands of 3 (seeds 10..15).
  // 3-hash bands keep random-pair collisions ~J^3, so candidate volume stays
  // proportional to true near-dup clusters; recall at J=0.8 is 1-(1-J^3)^2
  // ~ 0.76 at the threshold boundary and ~1 for real near-dups (J >= 0.95).
  val BigramSeedBase = 10
  val BigramHashes = 6
  val BigramBandSize = 3
  val BigramTNum = 4
  val BigramTDen = 5
  val CosineThreshold = 0.4 // embedding near-dup threshold (q45)

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
  private def embs(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")

  /** The trigram SIGNATURE stage — (doc_id, source, sh, mhs) — memoized
    * per (session, sf dir) like the pair/label tables below: the
    * md5-per-shingle-per-hash projection is the single most expensive scan
    * in the dedup family and has FOUR independent consumers (q41
    * signatures, the q42 pair pipeline, q88's per-source union sketches,
    * and everything downstream of the pairs). One lazily-checkpointed
    * frame is the 100 TB stage-boundary persist; at sf scale it is a few
    * tens of MB of block store for the session. */
  private val sharedSigs = graft.SessionMemo.ofFrames()

  private def sigBase(s: SparkSession, d: String): DataFrame =
    sharedSigs.getOrCompute(s, d) {
      graft.functions.GraftFunctions.register(s)
      TextFns.fanCpu(docs(s, d), col("doc_id"))
        .select(col("doc_id"), col("source"),
          shingles(toks(col("text")), 3).as("sh"))
        .withColumn("mhs", minhashSig(col("sh"), NumHashes, 0))
        // corpus-sized memo (raw shingle strings ride in `sh`): DISK_ONLY
        // serialized+compressed — ~20 GB of deserialized rows at sf100
        // otherwise sit in the storage pool under every consumer
        .pinSer(false)
    }

  /** Signature frame for q41: doc_id, sh, mh0..mh7, b0..b3 — derived from
    * the shared signature stage. */
  private def signatures(s: SparkSession, d: String): DataFrame = {
    val sig = sigBase(s, d)
      .select(
        col("doc_id") +: col("sh") +:
          (0 until NumHashes).map(i => element_at(col("mhs"), i + 1).as(s"mh$i")): _*)
    sig.select(
      sig.columns.toIndexedSeq.map(col) ++
        (0 until NumBands).map(j =>
          bandKey((0 until BandSize).map(r => col(s"mh${j * BandSize + r}")))
            .as(s"b$j")): _*)
  }

  /** Generic MinHash-LSH near-dup pipeline: n-token shingles -> `numHashes`
    * seeded minhashes -> bands of `bandSize` -> in-bucket candidate pairs
    * (one shuffle) -> integer size prefilter -> exact-Jaccard verify at
    * threshold tNum/tDen. Deterministic and mirrored 1:1 by
    * [[oLshNearDupPairs]] for the DuckDB oracle.
    */
  def lshNearDupPairs(docsDf: DataFrame, n: Int, numHashes: Int, bandSize: Int,
                      seedBase: Int, tNum: Int, tDen: Int): DataFrame = {
    // The raw text is tiny but the signature projection is CPU-heavy
    // (md5 per shingle per hash); hash-distributing rows before it lets the
    // pass use every core even when the scan is a single split. The native
    // MinHashSignature expression computes all seeded mins in one array pass.
    val base = TextFns.fanCpu(docsDf, col("doc_id"))
      .select(col("doc_id"), shingles(toks(col("text")), n).as("sh"))
    lshPairsFromShingles(base, numHashes, bandSize, seedBase, tNum, tDen)
  }

  /** The same pipeline from a pre-shingled `(doc_id, sh)` frame — for
    * callers that already hold a token/shingle projection (the q70
    * composition tokenizes once and feeds several stages from it) so the
    * shingling is not re-derived from raw text. */
  def lshPairsFromShingles(base: DataFrame, numHashes: Int, bandSize: Int,
                           seedBase: Int, tNum: Int, tDen: Int): DataFrame = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    lshPairsFromSigs(
      base.withColumn("mhs", minhashSig(col("sh"), numHashes, seedBase)),
      numHashes, bandSize, tNum, tDen)
  }

  /** The pipeline from an already-signed `(doc_id, sh, mhs)` frame — lets
    * the memoized signature stage feed candidate generation without
    * recomputing the md5 pass. */
  def lshPairsFromSigs(signed: DataFrame, numHashes: Int, bandSize: Int,
                       tNum: Int, tDen: Int): DataFrame = {
    val base = signed
    val numBands = numHashes / bandSize
    val sig = base
      .select(
        col("doc_id") +:
          (0 until numHashes).map(i => element_at(col("mhs"), i + 1).as(s"mh$i")): _*)
    val banded = sig.select(
      col("doc_id"),
      explode(array((0 until numBands).map { j =>
        struct(lit(j).as("b"),
          bandKey((0 until bandSize).map(r => col(s"mh${j * bandSize + r}"))).as("k"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.b").as("b"), col("bk.k").as("k"))
      // Docs too short to shingle have all-null signatures -> null band key;
      // without this filter they would all share one (b, null) bucket and
      // the in-bucket pair expansion would go quadratic in their count
      // (results are unchanged: a null key can never satisfy the oracle's
      // equi-join either).
      .filter(col("k").isNotNull)
    // Candidate pairs via an equi-self-join on (band, key). Round 1 used
    // collect_list per bucket, which materializes an entire bucket's ids in
    // ONE row — a web-scale boilerplate mega-cluster (millions of identical
    // headers) would OOM that row. The self-join is results-identical
    // (exactly the oracle's formulation) and scale-safe: SMJ streams one
    // side and spills the per-key match buffer to disk, both sides share the
    // same exchange (ReuseExchange computes the signature pass once), and
    // AQE handles residual bucket skew. DedupSpec drives a 5k-identical-doc
    // adversarial bucket (12.5M verified pairs) through this path.
    val cand = banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.k") === col("y.k") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
      .distinct()
    val sized = base.select(col("doc_id"), col("sh"),
      size(array_distinct(col("sh"))).as("nd"))
    cand
      .join(sized.select(col("doc_id").as("i"), col("sh").as("shi"), col("nd").as("ndi")), "i")
      .join(sized.select(col("doc_id").as("j"), col("sh").as("shj"), col("nd").as("ndj")), "j")
      .filter(least(col("ndi"), col("ndj")) * tDen >=
        greatest(col("ndi"), col("ndj")) * tNum)
      .select(col("i"), col("j"), jaccard(col("shi"), col("shj")).as("jac"))
      .filter(col("jac") >= lit(tNum.toDouble / tDen))
  }

  /** Connected components over an undirected edge list `(i, j)`.
    *
    * Two propagation loops with identical results (both deterministic
    * fixpoints, both run through [[graft.Fixpoint]]):
    *  - [[ccLabelProp]]: iterative min-label propagation (the Pregel/GraphX
    *    formulation) — every node starts labeled with itself, each round
    *    pushes labels across edges and keeps the min. Converges in
    *    O(component diameter) rounds: the cheapest per round, and the
    *    near-dup graphs this pipeline feeds it are dense and shallow
    *    (clones of one template), so diameters are small — but a long
    *    chain of pairwise-similar docs needs O(n) rounds.
    *  - [[ccAlternatingStars]]: alternating large-star/small-star (Kiveris
    *    et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    *    each round rewires strictly-larger neighbors (large-star) then
    *    smaller neighbors (small-star) to the minimum of the closed
    *    neighborhood, doubling the "pointer-jump" distance per round.
    *    Converges in O(log n) rounds regardless of graph shape, at ~2x
    *    label-prop's per-round cost.
    *
    * This entry point runs label-prop for up to maxIters/2 rounds — the
    * fast path for the cluster shapes dedup actually produces — then, if
    * still moving (the diameter signature), switches to star for the
    * O(log n) bound instead of grinding out diameter rounds. Worst case is
    * maxIters/2 cheap wasted rounds; the cap can never be blown by graph
    * shape. Callers that know their graphs are long-diameter (grid DBSCAN's
    * density blobs) call [[ccAlternatingStars]] directly.
    *
    * Scale notes: the edge list is near-dup PAIRS — a tiny fraction of the
    * corpus — and is materialized once (eager localCheckpoint) so the
    * upstream LSH pipeline is not re-run per round; each round is a couple
    * of equi-joins + hash aggs on pair-sized data, and the per-round
    * convergence check is a count (no data to the driver).
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // Materialize the pair set before trying label-prop so a fallback to
    // star re-reads checkpointed pairs instead of re-running the
    // (typically expensive) upstream LSH pipeline.
    val p = pairs.pin(true)
    val res =
      try ccLabelProp(p, maxIters / 2)._1
      catch { case _: graft.Fixpoint.NotConverged => ccAlternatingStars(p, maxIters)._1 }
    // both loops return frames backed by their own (eager) checkpoints, so
    // the pair snapshot's blocks are dead
    graft.FrameBlocks.release(p)
    res
  }

  /** Min-label propagation to fixpoint; returns (labels, rounds). Throws
    * [[graft.Fixpoint.NotConverged]] if labels are still moving after
    * `maxIters` rounds (so [[connectedComponents]] can switch loops): a
    * silent partially-merged return would under-merge q46/q47 with no
    * signal. */
  private[graft] def ccLabelProp(pairs: DataFrame, maxIters: Int): (DataFrame, Int) = {
    // Both lazy: round 1's convergence count is the materializing action
    // for edges, the initial labels AND round 1's output in ONE job (the
    // eager pins paid three).
    val edges = pairs
      .select(col("i").as("src"), col("j").as("dst"))
      .union(pairs.select(col("j").as("src"), col("i").as("dst")))
      .pin(false)
    val initial = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .pin(false)
    graft.Fixpoint.run("ccLabelProp", maxIters, window = 1,
        initial, 1L, inputs = Seq(edges))(
      step = { g =>
        val labels = g.df.select(col("id"), col("lbl"))
        val pushed = edges.join(labels, col("src") === col("id"))
          .select(col("dst").as("id"), col("lbl"), lit(false).as("own"))
        // carry each node's PREVIOUS label through the round aggregate
        // (labels contributes exactly one `own` row per id, so
        // min(when(own)) IS the old label): the convergence check becomes a
        // filter scan of the freshly-pinned round output instead of a
        // node-sized join+shuffle against the previous table — one shuffle
        // less per round (measured q70: 40 → 31 jobs)
        labels.select(col("id"), col("lbl"), lit(true).as("own"))
          .union(pushed)
          .groupBy(col("id")).agg(min(col("lbl")).as("lbl"),
            min(when(col("own"), col("lbl"))).as("old"))
      },
      measure = _.filter(col("lbl") < col("old")).count(),
      converged = (_, next) => next.value == 0,
      // rename INSIDE the eager result pin so the returned frame is rooted
      // at its own LogicalRDD — FrameBlocks.release is deliberately
      // shallow, and callers that release the label table must be able to
      // free this frame's storage directly
      result = w => w.last.df.select(col("id").as("doc_id"), col("lbl").as("component")))
  }

  /** Partition-local union-find contraction — the map-side combine of
    * connected components. Each task folds its partition's (src, dst)
    * rows through an in-memory union-find (union by min, path
    * compression) and emits one (node, localRoot) star edge per
    * non-root node it saw. Replacing each partition-local connected
    * subgraph by a star preserves global connectivity exactly, so any
    * downstream CC over the emitted edges labels the original graph
    * identically — while the edge volume drops from the pair count to
    * the locally-distinct node count (duplicate and intra-cluster pairs
    * collapse without a shuffle), and every surviving edge already
    * points at a local minimum, so the alternating-star loop starts
    * log-depth ahead.
    *
    * Memory is bounded: when the per-task map passes `flushNodes`
    * entries the current star forest is emitted and the map reset —
    * contraction degrades gracefully to chunked contraction instead of
    * growing with partition size (a node spanning chunks re-enters as a
    * member of both stars, which is just another edge for the loop).
    * Output orientation is src > dst (node > its component min), the
    * loop's invariant. */
  private[operators] def ccLocalContract(edges: DataFrame,
                                         flushNodes: Int = 4 << 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) {
            val n = parent(c); parent(c) = r; c = n
          }
          r
        }
        def drain(): Iterator[(Long, Long)] = {
          val out = parent.keys.toArray.flatMap { k =>
            val r = find(k)
            if (r != k) Some((k, r)) else None
          }
          parent.clear()
          out.iterator
        }
        val chunks = it.flatMap { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
          if (parent.size >= flushNodes) drain() else Iterator.empty
        }
        chunks ++ drain()
      }
      .toDF("src", "dst")
  }

  /** Alternating large-star/small-star CC (Kiveris et al. §3, two-phase):
    * edges are kept oriented at the larger endpoint (src > dst); each round
    * is one large-star (attach every strictly-larger neighbor of a node to
    * the min of its closed neighborhood — preserves connectivity, keeps the
    * orientation) followed by one small-star (attach a node and all its
    * smaller neighbors to their min). The fixpoint is a forest of stars:
    * every node points directly at its component minimum.
    *
    * Returns (labels, rounds) — the round count is part of the contract
    * (DedupSpec pins O(log n) convergence on a path graph that would need
    * O(n) label-propagation rounds; that spec passes `contract = false`
    * to measure the loop itself).
    *
    * `contract` (default on) runs [[ccLocalContract]] first: each task
    * collapses its partition's edges to a star forest with one in-memory
    * union-find pass, so the distributed loop starts on a graph whose
    * edge count is the number of locally-distinct NODES (not the pair
    * count) and whose intra-partition depth is already 1. Connectivity is
    * preserved exactly (a connected subgraph replaced by a star), so the
    * fixpoint labeling is unchanged — only reached in fewer, cheaper
    * rounds. The dominant cost of the loop at test scale is fixed
    * per-round job overhead; at 100 TB it is the per-round edge-sized
    * shuffle — contraction cuts both (measured on q225: 6 → 3 rounds,
    * 4.1 s → see SCALE.md). */
  private[graft] def ccAlternatingStars(pairs: DataFrame,
                                        maxIters: Int = 25,
                                        contract: Boolean = true): (DataFrame, Int) = {
    val canonical = pairs
      .select(greatest(col("i"), col("j")).as("src"),
        least(col("i"), col("j")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // lazy pin + count: the count is the materializing action (one job
    // instead of eager-pin + count's two), and round 1's fixpoint test
    // compares against it
    val edges = (if (contract) ccLocalContract(canonical) else canonical)
      .distinct().pin(false)
    graft.Fixpoint.run("ccAlternatingStars", maxIters, window = 1,
        edges, edges.count())(
      step = { g =>
        val edges = g.df
        // large-star: for each node u, m = min(closed neighborhood); every
        // neighbor v > u is rewired to (v, m). Output keeps src > dst
        // because the emitted src is a strictly-larger neighbor of u and
        // m <= u.
        val nbrs = edges
          .union(edges.select(col("dst").as("src"), col("src").as("dst")))
        val lmins = nbrs.groupBy(col("src"))
          .agg(least(min(col("dst")), col("src")).as("m"))
        // NO dedup of the large-star output (r17): duplicates cannot change
        // smins' per-src min, and the round's small-star output is
        // distinct'd below, so the round is SET-identical with or without
        // it — while the removed `.distinct()` was a full exchange of the
        // round's LARGEST relation (the rewired edge multiset). Duplicate
        // volume is bounded: |large| <= |nbrs| = 2|edges| either way.
        // Measured on q225: exchanges/round 4 -> 3, jobs 45 -> see
        // OPTIMIZATION_r17.md.
        val large = nbrs.join(lmins, "src")
          .filter(col("dst") > col("src"))
          .select(col("dst").as("src"), col("m").as("dst"))
          .filter(col("src") =!= col("dst"))
        // small-star: src > dst everywhere, so per src the
        // closed-neighborhood min is just min(dst); rewire every smaller
        // neighbor AND src itself to it.
        val smins = large.groupBy(col("src")).agg(min(col("dst")).as("m"))
        val joined = large.join(smins, "src")
        joined.select(col("dst").as("src"), col("m").as("dst"))
          .union(joined.select(col("src"), col("m").as("dst")))
          .filter(col("src") =!= col("dst"))
          .distinct()
      },
      measure = _.count(),
      // both sides are distinct sets, so equal counts + empty one-way
      // difference = equal
      converged = (prev, next) =>
        next.value == prev.value && next.df.except(prev.df).isEmpty,
      // The fixpoint IS the complete star forest: every non-root node of the
      // input appears exactly once as a member src (pointing at its
      // component min) and every root as a dst — self-pair-only nodes were
      // filtered identically under the old nodes-frame framing, and
      // singleton components cannot arise from a pair list. So the labeling
      // reads straight off the edge list (members ∪ roots), skipping the
      // corpus-node-sized distinct + left join a separate nodes frame cost.
      result = { w =>
        val edges = w.last.df
        edges.select(col("src").as("doc_id"), col("dst").as("component"))
          .union(edges.select(col("dst")).distinct()
            .select(col("dst").as("doc_id"), col("dst").as("component")))
      })
  }

  /** Sparse TF-vector cosine pairs from a df-capped inverted index (the
    * APSS / prefix-filtering shape behind q93 — see the query comment for
    * the scale contract). Input needs (doc_id, text). */
  def sparseCosinePairs(docs: DataFrame, dfCap: Int, minCos: Double): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap)
      .select(col("term"))
    // three consumers (norms + both self-join sides): materialize once.
    // Lazy (eager=false) so constructing the frame schedules no job — the
    // first action materializes the blocks, later consumers reuse them.
    // Fault tolerance is the pin-mode dial (graft.Pinned): default
    // localCheckpoint is fast but dies with an executor; a cluster run
    // sets spark.graft.checkpoint=reliable and this same pin survives
    // executor loss (kill-proven in LocalClusterSpec).
    val tfr = tf.join(dft, "term")
      .select(col("doc_id"), col("term"), col("tf"))
      .pin(false)
    val n2 = tfr.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("n2"))
    val p = tfr.as("x").join(tfr.as("y"),
        col("x.term") === col("y.term") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(sum(col("x.tf") * col("y.tf")).as("dot"),
        count(lit(1)).as("n_shared"))
    p.join(n2.select(col("doc_id").as("doc_a"), col("n2").as("n2a")), "doc_a")
      .join(n2.select(col("doc_id").as("doc_b"), col("n2").as("n2b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("dot"),
        (col("dot").cast("double") / (sqrt(col("n2a")) * sqrt(col("n2b"))))
          .as("cos"))
      .filter(col("cos") >= minCos)
  }

  // ---------------- shared near-dup lineage (pairs + CC labels) ------------
  // Eight queries consume the SAME trigram LSH pipeline: q42 emits the pair
  // list, q77/q96 join against it, and q46/q47/q99/q103/q106 need its
  // connected-components labels. Re-deriving shingle->minhash->band->verify
  // (and then CC) per query is correct but wasteful — at 100 TB the LSH scan
  // is the dominant cost and a real curation run materializes the pair list
  // and the cluster-label table ONCE, then every diagnostic/split/canonical
  // pass reads that table (see SCALE.md). Here that materialization is a
  // per-(session, sf dir) memo over lazily-checkpointed frames: the first
  // consumer pays, every later consumer reuses the checkpointed blocks —
  // same hashes, one lineage. (q70's pipeline CC is deliberately NOT shared:
  // it clusters the exact-dedup SURVIVORS, a different — if usually
  // identical — input set, so its labels are not interchangeable.)
  // The memo holds pair-sized data only and lives for the session; keys are
  // (session, dir) so concurrent sessions/dirs never cross-contaminate.
  private val sharedPairs = graft.SessionMemo.ofFrames()
  private val sharedLabels = graft.SessionMemo.ofFrames()

  /** The q42 trigram near-dup pair list (i, j, jac) — computed once per
    * (session, sf dir) from the shared signature stage, lazily
    * materialized (checkpoint on first action). */
  private def trigramPairs(s: SparkSession, d: String): DataFrame =
    sharedPairs.getOrCompute(s, d)(
      lshPairsFromSigs(sigBase(s, d), numHashes = NumHashes,
        bandSize = BandSize, tNum = TrigramTNum, tDen = TrigramTDen)
        .pin(false))

  /** Connected-component labels (doc_id, component) over [[trigramPairs]] —
    * the cluster-label table of the near-dup family, computed once per
    * (session, sf dir). The CC result frames are already checkpoint-backed. */
  private def nearDupLabels(s: SparkSession, d: String): DataFrame =
    sharedLabels.getOrCompute(s, d)(
      connectedComponents(trigramPairs(s, d).select(col("i"), col("j"))))

  /** q160 body, public for constructed-corpus specs: total doc→entity map
    * under "same exact text OR same 128-char prefix", closed transitively.
    * Input must carry (doc_id, text). See the map entry for the contract. */
  def crossKeyEntities(base: DataFrame): DataFrame = {
    def starEdges(key: org.apache.spark.sql.Column) = {
      val keyed = base.select(col("doc_id"), key.as("k"))
      val reps = keyed.groupBy(col("k")).agg(min(col("doc_id")).as("rep"))
      keyed.join(reps, "k").filter(col("doc_id") =!= col("rep"))
        .select(col("doc_id").as("i"), col("rep").as("j"))
    }
    val pairs = starEdges(concat(lit("e|"), md5(col("text"))))
      .union(starEdges(
        concat(lit("p|"), md5(substring(col("text"), 1, 128)))))
      .distinct()
    base.select(col("doc_id"))
      .join(connectedComponents(pairs), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("entity"))
  }

  // ---------------- shared duplicated-window stage (ExactSubstr family) ----
  // q110 (per-doc span profile) and q139 (maximal span lengths) both start
  // from the same corpus-scale artifact: every cross-doc-duplicated
  // 32-token window position. Re-deriving it per query (and per branch —
  // the digest frame feeds both the df agg and the join back) costs four
  // explode+md5 corpus passes per bench run; a real ExactSubstr run
  // materializes this table once (its suffix-array intermediate is
  // strictly larger). Memo discipline matches [[trigramPairs]]: keyed by
  // (session, sf dir), lazily checkpointed, first consumer pays. Unlike
  // the pair memos the row bound here is the DUPLICATED window count, not
  // the corpus window count — the wdf >= 2 filter runs before the
  // checkpoint, so boilerplate-free corpora pin almost nothing.
  private val sharedDupWindows = graft.SessionMemo.ofFrames()

  /** Window width shared by the q110/q139 family (tokens per digest). */
  val DupWindowW = 32

  /** Cross-doc-duplicated window positions — (doc_id, p, wh) for every
    * [[DupWindowW]]-token window whose digest occurs in >= 2 distinct docs
    * — memoized per (session, sf dir). Within-doc repetition is q72's
    * axis and stays excluded (distinct-doc df, not occurrence count). */
  private def dupWindowPositions(s: SparkSession, d: String): DataFrame =
    sharedDupWindows.getOrCompute(s, d) {
      val W = DupWindowW
      val wins = TextFns.fanCpu(docs(s, d), col("doc_id"))
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .withColumn("n", size(col("tk")))
        .filter(col("n") >= W)
        .select(col("doc_id"),
          explode(sequence(lit(1), col("n") - W + 1)).as("p"), col("tk"))
        .select(col("doc_id"), col("p"),
          md5(concat_ws(" ", slice(col("tk"), col("p"), lit(W)))).as("wh"))
      val dupWh = wins.groupBy(col("wh"))
        .agg(countDistinct(col("doc_id")).as("wdf"))
        .filter(col("wdf") >= 2)
        .select(col("wh"))
      wins.join(dupWh, "wh").pin(false)
    }

  /** Per-doc union length of [p, p+W) token intervals over (doc_id, p)
    * rows — the gaps-and-islands sweep the q176/q177 accounting queries
    * share. One doc-partitioned window pass (running max end decides
    * island starts; adjacent intervals merge, p <= prev end), then two
    * hash aggs; islands contribute max(p)+W−min(p) tokens each. */
  private def intervalUnionLen(pos: DataFrame, W: Int): DataFrame = {
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val prevEnd = max(col("p") + lit(W)).over(
      w1.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    pos
      .withColumn("newi", when(prevEnd.isNull || col("p") > prevEnd, 1L)
        .otherwise(0L))
      .withColumn("grp", sum(col("newi")).over(w1.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("grp"))
      .agg((max(col("p")) + lit(W) - min(col("p"))).cast("long").as("len"))
      .groupBy(col("doc_id"))
      .agg(sum(col("len")).as("union_len"))
  }

  /** Public handle on the memoized corpus-wide trigram pair list, for
    * compositions that cluster a SUBSET of the corpus (q70's exact-dedup
    * survivors). Identity it rests on: a pair's presence in the LSH output
    * depends only on the two endpoints — band collision compares their two
    * signatures, the size prefilter and exact-Jaccard verify read their two
    * shingle sets — never on which other docs are in the run. So the pair
    * list of any subset S equals this corpus pair list filtered to pairs
    * with BOTH endpoints in S (CurationSpec pins this against the
    * re-shingle path). Consumers skip the corpus-scale signature pass and
    * pay only a pair-sized filter + CC — the same materialize-once story
    * the shared memo already gives the q42/q46 family. */
  def corpusTrigramPairs(s: SparkSession, d: String): DataFrame =
    trigramPairs(s, d)

  /** q78's containment dedup over an ARBITRARY (doc_id, sh: array<string>
    * raw shingles) frame — frame-parameterized for the planted-skew specs
    * (a mega-doc swallowing hundreds of small docs; boilerplate shingles
    * shared corpus-wide that the df cap must refuse as block keys). */
  private val sharedContainmentDigests = graft.SessionMemo.ofFrames()

  private[graft] def containmentFromShingles(shingled: DataFrame,
      verifyShards: Int = 1): DataFrame =
    containmentFromDigests(
      containmentDigests(shingled.filter(size(col("sh")) > 0)), verifyShards)

  /** The digest projection (md5 per shingle, truncated to a 60-bit int64,
    * deduped + sorted per doc) — the CPU cost center, with FOUR consumers
    * downstream (df pass, corpus count, both verify sides). Materialized
    * lazily: first action pays, the rest reuse; at 100 TB this is a
    * stage-boundary persist.
    *
    * Digests are 8-byte LONGS end to end (round 13): the first 15 hex
    * chars of the md5, the same truncation the blocking keys always used
    * — so the memo rows, the df shuffle, and the verify payload arrays
    * are all 4-5× smaller than the 32-byte hex-string formulation whose
    * verify shuffle outgrew the box's scratch at sf100. Collision budget
    * for the truncation, both places it could bite: (a) two distinct
    * md5s colliding in 60 bits within ONE document merge a digest
    * (P ≈ per-doc-shingles²/2⁶¹ per doc — immaterial); (b) a CROSS-doc
    * collision between a candidate pair's arrays inflates |A∩B| by one
    * in the verify walk — per pair P ≈ |A|·|B|/2⁶⁰, so even sf100's
    * ~10⁷ verified pairs × ~10⁶ digest-product per pair expect ≪ 1
    * false intersect across the whole corpus, and a single +1 only
    * matters for a pair sitting exactly on the 0.8 knife edge. Either
    * way the DuckDB oracle applies the IDENTICAL truncation before its
    * own intersect, so the compare contract stays exact at every SF.
    *
    * PRECONDITION: callers exclude empty-shingle docs UPSTREAM with a
    * predicate that is cheap under pushdown (q78 filters on the token
    * count; the spec path filters its material arrays). A filter on this
    * function's OUTPUT would be pushed below the projection with the
    * digest expression substituted in — and when `sh` is itself a
    * shingle-construction expression, that recomputes the entire
    * tokenize+shingle array per row just to test emptiness (measured:
    * the q78 digest build at sf10 went 41 → 51 s from exactly that). */
  private[graft] def containmentDigests(shingled: DataFrame): DataFrame =
    shingled
      .select(col("doc_id"),
        array_sort(array_distinct(
          transform(col("sh"),
            x => conv(substring(md5(x), 1, 15), 16, 10).cast("long"))))
          .as("sh"))
      // layout-keeping pin (round 14): q78's caller repartitions by
      // doc_id before this projection, and BOTH verify joins key on
      // doc_id — with the layout preserved through the pin, the memo
      // never re-shuffles (the a-side and b-side joins exchange only
      // the pair-sized candidate stream), and the 2-smallest-rare
      // aggregation plans with no exchange at all. Frames without a
      // provable doc_id layout (the spec fixtures) pin plain.
      .pinSerKeyed(false, "doc_id")

  /** Absolute postings ceiling for a containment blocking key: a digest
    * is usable as a block key only if it appears in at most this many
    * docs, so per-key join fanout is ≤ Cap² and per-doc candidate volume
    * is ≤ 2·Cap at ANY corpus size. This was a corpus-RELATIVE rule
    * (df ≤ 5% of n_docs) until the measured sf1→sf10 decade exposed it:
    * a relative cap grows with the corpus, so replica-local boilerplate
    * that was correctly refused at sf0.1 (cap 250) became an eligible
    * block key at sf10 (cap 25,000) and candidate volume went
    * super-linear — q78 ran 13× for 10× data. Rarity that gates a JOIN
    * must be absolute: "few postings" is a property of the key, not of
    * the corpus it sits in. (5% stays the right shape for STATISTICS —
    * tf-idf, CCNet buckets — where df divides rather than joins.) */
  val ContainmentDfCap = 256

  /** One verify shard per this many bytes of COMPRESSED documents input.
    * The verify pass is the scratch-peak owner of the whole containment
    * pipeline: its second join duplicates the contained side's digest
    * array once per candidate pair, and round 13 measured the sf100 run
    * peaking at ~25-30 GB of shuffle scratch from a 575 MB compressed
    * corpus — a ~50× amplification (decompression × shingle explosion ×
    * per-pair duplication). 128 MiB per shard bounds a shard's verify
    * shuffle near ~7 GB at that amplification, so peak scratch stays
    * roughly constant while corpus doublings add SHARDS (sequential
    * jobs) instead of bytes-in-flight. Small SFs price to one shard —
    * the in-board plan is unchanged. */
  val VerifyShardBytes: Long = 128L << 20

  /** Verify shard count for q78: whole-file pricing off the UNPROJECTED
    * documents scan (the round-13 `dataPartitions` lesson: projected plan
    * stats are width-scaled far below file bytes, and the amplification
    * math above is calibrated against compressed file bytes). */
  private[operators] def containmentVerifyShards(
      s: SparkSession, d: String): Int = {
    val bytes = graft.Tables.load(s, d, "documents")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    // a stat-less source reports EXACTLY the defaultSizeInBytes
    // sentinel — trusting it would price to the 64-shard cap and force
    // 64 sequential verify jobs over possibly tiny data. Equality, not
    // >=, on purpose: a deployment that LOWERS the conf (a standard
    // stat-less-join knob) must not have real large-corpus stats
    // misread as unknown and collapse the sharding the scratch bound
    // depends on. Size-unknown degrades to one shard.
    val unknown = BigInt(
      org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes)
    if (bytes == unknown) 1
    else (bytes / VerifyShardBytes).min(BigInt(64)).toInt.max(1)
  }

  /** The containment verify pass over a candidate-pair frame: join both
    * sides' digest arrays in and keep pairs with |A∩B|/|A| >= 0.8. With
    * `shard = Some((i, n))` the contained-side base scan is filtered to
    * the same hash residue the caller filtered the candidate pairs to —
    * the join would propagate the candidate-side predicate eventually,
    * but filtering the memo scan explicitly guarantees only 1/n of the
    * base shuffles for the a-side join regardless of planner version. */
  private def verifyContainment(cand: DataFrame, base: DataFrame,
      shard: Option[(Int, Int)]): DataFrame = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    val baseA = shard match {
      case Some((i, n)) =>
        base.filter(pmod(xxhash64(col("doc_id")), lit(n)) === i)
      case None => base
    }
    cand
      .join(baseA.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(base.select(col("doc_id").as("b"), col("sh").as("shb")), "b")
      .select(col("a").as("contained"), col("b").as("container"),
        size(col("sha")).cast("long").as("n_sh"),
        (TextFns.sortedIntersectCount(col("sha"), col("shb")).cast("double") /
          size(col("sha"))).as("containment"))
      .filter(col("containment") >= 0.8)
  }

  private def containmentFromDigests(
      base: DataFrame, verifyShards: Int): DataFrame = {
    // digests are ALREADY 60-bit longs (containmentDigests truncates at
    // the projection), so blocking keys explode straight out of the
    // arrays — no per-posting re-hash, and every shuffle in this
    // pipeline, postings and verify alike, carries 8-byte fixed-width
    // values
    val ex = base.select(col("doc_id"), size(col("sh")).as("n"),
      explode(col("sh")).as("h"))
    // Rarity gate, INVERTED (round 14): the digests that must not block
    // are the HEAVY ones (df > ContainmentDfCap), and there are few of
    // them by construction — at most total_postings/Cap, in practice the
    // corpus's boilerplate vocabulary. Anti-joining the postings against
    // a BROADCAST of the heavy set replaces the old rare-side re-join (a
    // full postings-by-digest shuffle) with a map-side filter — and the
    // surviving postings stream KEEPS the digest memo's doc_id
    // partitioning, so the 2-smallest-rare aggregation below plans with
    // no exchange either. Net: candidate generation pays ONE corpus-
    // scale shuffle (the block-key join) where it paid three; the sf100
    // disk profile showed the climb to peak scratch was exactly these
    // candidate-gen shuffle files, not the verify tail. The df aggregate
    // feeding the broadcast is map-side combined (counts, not postings).
    val dfc = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val rare = ex
      .join(broadcast(dfc.filter(col("df") > ContainmentDfCap)
        .select(col("h"))), Seq("h"), "left_anti")
      .select(col("doc_id"), col("n"), col("h"))
    // 2 smallest rare digests per doc via the bounded MinKLongs partial:
    // aggregation state is 2 slots regardless of how many rare digests a
    // long doc carries (collect_list would buffer them all)
    val mink2 = udaf(new MinKLongs(2))
    val bot = rare
      .groupBy(col("doc_id"), col("n"))
      .agg(mink2(col("h")).as("hs"))
      .select(col("doc_id").as("a"), col("n").as("na"),
        explode(col("hs")).as("h"))
    // size prefilter: containment >= 0.8 forces |A| <= 1.25|B|
    // (|A∩B| <= |B|), so wildly-mismatched candidates are provably
    // non-qualifying — dropping them here cannot change the output.
    //
    // The block-key join BROADCASTS bot (round 14): bot is ≤ 2 rows per
    // doc (the MinKLongs(2) output exploded), so its bytes are doc-count-
    // scale — ~24 B/doc — while the streamed side is the full rare
    // postings stream, which the old shuffle join re-shuffled by digest
    // (~postings × 24 B, the second-largest scratch item in the sf100
    // disk profile). Broadcasting the small side leaves the postings in
    // place; only the (df-cap-bounded) candidate pairs move into the
    // distinct.
    val cand = broadcast(bot)
      .join(rare.select(col("doc_id").as("b"), col("n").as("nb"), col("h")),
        "h")
      .filter(col("a") =!= col("b") && col("na") * 4 <= col("nb") * 5)
      .select(col("a"), col("b")).distinct()
    // verify: |A∩B|/|A| over the full digest arrays. Both sides are
    // array_sort'ed upstream, so the native merge-count expression does
    // the intersect in one allocation-free walk (vs array_intersect
    // materializing the intersection just for size() to count it).
    //
    // Sharded two-pass at scale (verifyShards > 1): pass 1 pins the
    // candidate pairs (16-byte rows — the cheap side of the pipeline);
    // pass 2 verifies SEQUENTIAL hash(a)-shards of them, pinning each
    // shard's (tiny) qualifying-pair output before starting the next.
    // Per-pair work and output are identical to the single pass — the
    // shards partition the pair set disjointly — but bytes-IN-FLIGHT
    // are divided by the shard count: the verify join's pair-duplicated
    // array shuffle (the sf100 scratch peak) only ever exists for one
    // shard at a time, and a completed shard's shuffle files are
    // unreferenced once its output is pinned (localCheckpoint severs
    // lineage), so the GC nudge lets ContextCleaner reclaim them while
    // the next shard runs. The b-side memo scan re-shuffles per shard —
    // S× cumulative reads of a DISK_ONLY-compressed memo, the explicit
    // trade for an S× smaller peak.
    if (verifyShards <= 1) verifyContainment(cand, base, None)
    else {
      val pairs = cand.pinSer(true)
      (0 until verifyShards).map { i =>
        val out = verifyContainment(
          pairs.filter(pmod(xxhash64(col("a")), lit(verifyShards)) === i),
          base, Some((i, verifyShards))).pinSer(true)
        System.gc() // release the finished shard's shuffle files
        out
      }.reduce(_ unionByName _)
    }
  }

  /** q192's 60-bit SimHash + Hamming≤3 banded dedup over an ARBITRARY
    * (doc_id, text) frame — frame-parameterized so the planted-skew specs
    * can drive it (a clone family putting one band key over half the
    * corpus) exactly like `lshNearDupPairs` serves the q42 family. */
  private[graft] def simhash64Pairs(docsDf: DataFrame): DataFrame = {
    val bands = 4
    val bandBits = 15
    val ht = transform(toks(col("text")), w =>
      conv(substring(md5(w), 1, 15), 16, 10).cast("long"))
    val base = TextFns.fanCpu(docsDf, col("doc_id"))
      .select(col("doc_id"), ht.as("ht"))
    val votes = base.select(col("doc_id") +:
      (0 until SimhashBits64).map { b =>
        aggregate(col("ht"), lit(0), (acc, h) =>
          acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1, 1)
            .otherwise(-1)).as(s"v$b")
      }: _*)
    val sim = votes.select(col("doc_id"),
      (0 until SimhashBits64).map(b =>
        when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("sh"))
    val banded = sim.select(col("doc_id"), col("sh"),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("b"),
          shiftright(col("sh"), j * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1)).as("k"))): _*)).as("bk"))
      .select(col("doc_id"), col("sh"),
        col("bk.b").as("b"), col("bk.k").as("k"))
    banded.as("x").join(banded.as("y"),
        col("x.b") === col("y.b") && col("x.k") === col("y.k") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sh").as("sha"), col("y.sh").as("shb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 3)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- exact dedup: hash-groupBy, keep min doc_id per content hash -------
    "q40_dedup_exact" -> ((s, d) =>
      docs(s, d)
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"))),

    // --- containment dedup (doc-inside-doc; what Jaccard can't see) --------
    // A short doc quoted/embedded inside a long one has high CONTAINMENT
    // (|A∩B|/|A|) but low Jaccard — invisible to q42/q44. Blocking:
    // candidate pairs share one of the contained side's two smallest RARE
    // shingle digests, where "rare" is the ABSOLUTE postings cap
    // df <= ContainmentDfCap (256) — absolute, not corpus-relative, so
    // per-key join fanout stays bounded at ANY corpus size (the sf10
    // decade catch). The df pre-pass is what keeps this scale-sane: a
    // boilerplate shingle shared by half the corpus never becomes a block
    // key, so bucket size is bounded by the df ceiling, not by shingle
    // popularity. Containment recall is preserved: if A ⊆ B, A's rare
    // digests are rare and present in B. Verification touches candidates
    // only (exact set intersect over the two digest arrays). Everything
    // shuffles as 8-byte 60-bit long digests end to end (round 13 — the
    // 32-byte hex-string formulation's verify shuffle outgrew sf100
    // scratch); the per-doc window is partitioned by doc (never global).
    "q78_containment_dedup" -> ((s, d) =>
      // shingles come straight off the documents scan, NOT from sigBase:
      // the digest memo is q78's own stage-boundary persist, and routing
      // through the shared signature memo forced a COLD q78 run to
      // materialize ~10 GB-per-sf100 of minhash signatures it never
      // reads (the round-13 scratch-edge catch). The only thing shared
      // with sigBase was the tokenize+shingle projection — a streaming
      // scan that is cheap to re-run and never stored; the md5 work was
      // never shared (different seeds). The digest projection stays
      // memoized per (session, dir), so repeated invocations skip the
      // corpus-CPU stage entirely.
      containmentFromDigests(sharedContainmentDigests.getOrCompute(s, d) {
        // repartition before the projection for the same reason sigBase
        // does: the md5-per-shingle stage is CPU-bound, and a small
        // parquet file is a handful of input splits — without the
        // explicit spread the digest build runs 4-wide on 32 cores
        // (measured 4x slower at sf10). The emptiness filter is a TOKEN
        // COUNT predicate (≥ 3 tokens ⇔ ≥ 1 trigram shingle, the guard
        // in TextFns.shingles): pushed to the scan it costs one split()
        // per row, where a filter on the digest output would rebuild the
        // whole shingle array per row (containmentDigests' precondition).
        containmentDigests(TextFns.fanCpu(docs(s, d)
          .filter(size(toks(col("text"))) >= 3), col("doc_id"))
          .select(col("doc_id"), shingles(toks(col("text")), 3).as("sh")))
      }, containmentVerifyShards(s, d))),

    // --- cross-source leakage matrix (where do near-dups come from?) -------
    // The provenance view of the q42 pair list: which source pairs share
    // near-duplicate content — the signal that tells a curation run whether
    // a crawl slice is mirroring another (and that benchmark text leaked
    // into a training source, the q57 failure mode, shows up as a hot
    // cell). Shape: everything downstream of the (already bucketed) LSH
    // pair list is PAIR-sized, not corpus-sized — two id-keyed joins to
    // attach sources, one hash agg on the canonicalized (src_lo, src_hi)
    // cell. least/greatest folds the undirected pair into one cell.
    "q77_source_leakage" -> ((s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"))
      trigramPairs(s, d)
        .join(src.select(col("doc_id").as("i"), col("source").as("src_i")), "i")
        .join(src.select(col("doc_id").as("j"), col("source").as("src_j")), "j")
        .select(least(col("src_i"), col("src_j")).as("src_lo"),
          greatest(col("src_i"), col("src_j")).as("src_hi"),
          col("j"), col("jac"))
        .groupBy(col("src_lo"), col("src_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("j")).as("n_dup_docs"),
          min(col("jac")).as("min_jac"),
          max(col("jac")).as("max_jac"))
    }),

    // --- source-level MinHash similarity matrix ----------------------------
    // The CORPUS-granularity twin of q77: estimated vocabulary Jaccard
    // between every source pair, from per-source MinHash signatures. Uses
    // the union law of MinHash — min over docs of each signature slot IS
    // the signature of the union of their shingle sets — so a whole
    // source's vocabulary sketch is one elementwise-min aggregation, and
    // the pairwise comparison runs on sources×NumHashes rows (KBs),
    // never on documents. At 100 TB: one signature pass (embarrassingly
    // parallel), one hash agg with map-side combine down to
    // sources×hashes, and a self-join of a table the size of the source
    // list. Agreement fraction n_agree/NumHashes is the standard unbiased
    // Jaccard estimate; over sf-scale vocabularies with 8 hashes it is a
    // coarse (±1/8) but deterministic diagnostic.
    "q88_source_similarity" -> ((s, d) => {
      // the signature scan comes from the shared memoized stage (sigBase);
      // only the per-source union fold and the pos-keyed self-join are
      // q88's own cost
      val sig = sigBase(s, d)
        .filter(size(col("sh")) > 0)
        .select(col("source"), posexplode(col("mhs")).as(Seq("pos", "mh")))
        .groupBy(col("source"), col("pos"))
        .agg(min(col("mh")).as("mh"))
      sig.as("x").join(sig.as("y"),
          col("x.pos") === col("y.pos") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
        .agg(sum(when(col("x.mh") === col("y.mh"), 1L).otherwise(0L)).as("n_agree"))
        .withColumn("est_jaccard", col("n_agree").cast("double") / NumHashes)
    }),

    // --- sparse TF cosine all-pairs (APSS / prefix-filtering family) -------
    // The SPARSE counterpart of the dense ANN tiers (q50–q52): weighted
    // cosine over term-frequency vectors, computed entirely from a
    // df-capped inverted index — the all-pairs-similarity-search shape.
    // Terms with df < 2 can form no pair; terms with df > DfCap are
    // non-discriminative and are EXCLUDED FROM THE SIMILARITY SUBSPACE
    // (dot and norms alike, so the metric stays a true cosine over the
    // discriminative-term subspace). That cap is the whole scale story:
    // per-term pair volume is ≤ DfCap², so candidate volume is bounded by
    // #terms × DfCap² no matter how big the corpus — the quadratic term
    // never touches corpus size (same invariant as the LSH tiers, achieved
    // by df-filtering instead of banding). dot/norms are exact int64; the
    // only float ops are the final two sqrts and one divide, order-pinned
    // identically in the oracle.
    "q93_sparse_cosine" -> ((s, d) =>
      sparseCosinePairs(
        TextFns.fanCpu(docs(s, d), col("doc_id")),
        dfCap = 64, minCos = 0.5)),

    // --- leakage-safe train/valid split -------------------------------------
    // q36 splits by doc hash — which puts two near-duplicates on OPPOSITE
    // sides of the split boundary and leaks training text into validation.
    // This variant assigns the SPLIT BY NEAR-DUP CLUSTER: every doc in a
    // CC cluster inherits the cluster's hash, so a near-dup family lands
    // wholly in train or wholly in valid (spec-pinned: no q42 pair ever
    // crosses the split). Unpaired docs are their own cluster. Cost beyond
    // the already-audited CC labels is one left join + a narrow hash —
    // same md5-prefix rule as q36 so the expected 90/10 mix is preserved
    // under the same portability contract.
    "q103_leakage_safe_split" -> ((s, d) => {
      val comp = nearDupLabels(s, d)
      docs(s, d).join(comp, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("component"), col("doc_id")))
        .select(col("doc_id"), col("source"), col("cluster"),
          when(md5(col("cluster").cast("string")) < "1a", "valid")
            .otherwise("train").as("split"))
    }),

    // --- quality-aware canonicalization -------------------------------------
    // q47 keeps each cluster's MIN doc_id — the arbitrary-but-stable rule.
    // Real curation keeps the best member: here the LONGEST doc (n_chars
    // desc, doc_id tie-break), the usual proxy when near-dups are
    // truncations or partial re-crawls of one another. Emits every doc
    // with its cluster and an is_canonical flag (the keep-set and the
    // drop-set are both one filter away). Cost beyond the audited CC
    // labels: one left join + a row_number over clusters — partitioned by
    // cluster id (high cardinality; singleton docs are their own
    // partition), never global.
    "q106_canonical_longest" -> ((s, d) => {
      val comp = nearDupLabels(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      docs(s, d).join(comp, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("component"), col("doc_id")))
        .withColumn("is_canonical", row_number().over(w) === 1)
        .select(col("doc_id"), col("source"), col("n_chars"), col("cluster"),
          col("is_canonical"))
    }),

    // --- dedup diagnostics: cluster-size distribution ----------------------
    // The report a dedup run ships with: how many near-dup clusters exist
    // at each size, how many docs they absorb, and what fraction of each
    // cluster survives canonicalization (always 1/size — pinned here so
    // the column is oracle-checked). Everything downstream of the CC
    // labels is CLUSTER-sized: one hash agg to (component → size), one to
    // (size → how many clusters). The output is at most
    // O(max cluster size) rows — a report, not a dataset.
    "q99_cluster_sizes" -> ((s, d) => {
      val sizes = nearDupLabels(s, d)
        .groupBy(col("component")).agg(count(lit(1)).as("csize"))
      sizes.groupBy(col("csize"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("csize")).as("docs_absorbed"))
        .withColumn("survivor_frac",
          lit(1.0).cast("double") / col("csize"))
    }),

    // --- edit-distance verification tier (fuzzy near-dup) ------------------
    // Character-level Levenshtein over the ALREADY-BUCKETED q42 pair list —
    // the verification metric for OCR-noise / typo-class duplicates, where
    // token-level Jaccard under-reads similarity (a single-char typo kills
    // three trigram shingles but costs edit distance 1). Cost is strictly
    // pair-sized: the corpus never self-joins, texts are attached to
    // candidate pairs by two id-keyed joins, and the O(len²) DP runs once
    // per surviving pair (at 100 TB the pair list is the small relation by
    // the q42 contract; a production run would bound it further with
    // Spark's thresholded levenshtein overload). Both engines implement
    // classic insert/delete/substitute Levenshtein — integer-exact — and
    // the normalized similarity divides by the exact max length once.
    "q96_edit_distance" -> ((s, d) => {
      val txt = docs(s, d).select(col("doc_id"), col("text"))
      trigramPairs(s, d)
        .join(txt.select(col("doc_id").as("i"), col("text").as("ti")), "i")
        .join(txt.select(col("doc_id").as("j"), col("text").as("tj")), "j")
        .select(col("i"), col("j"), col("jac"),
          levenshtein(col("ti"), col("tj")).cast("long").as("edit_dist"),
          greatest(length(col("ti")), length(col("tj"))).cast("long")
            .as("max_len"))
        .withColumn("edit_sim",
          lit(1.0) - col("edit_dist").cast("double") / col("max_len"))
    }),

    // --- prefix-fingerprint dedup (truncation / re-crawl duplicates) -------
    // Re-crawls and connection drops produce documents that agree on a long
    // prefix and then diverge or truncate — invisible to q40's full-content
    // hash (on this very testdata: 22 prefix-128 groups, 0 exact-dup
    // groups) and cheaper to catch than a full MinHash pass. Shape: narrow
    // projection to a 32-byte digest of the first 128 chars, one hash agg
    // on the digest, digest-keyed join back for members of multi-doc
    // groups. Only digests ever shuffle; at 100 TB this is the cheap first
    // pass that shrinks the corpus before the LSH stage runs.
    "q75_prefix_dup" -> ((s, d) => {
      val fp = docs(s, d)
        .select(col("doc_id"), col("n_chars"),
          md5(substring(col("text"), 1, 128)).as("pfp"))
      val groups = fp.groupBy(col("pfp"))
        .agg(count(lit(1)).as("n_in_group"), min(col("doc_id")).as("keep_id"))
        .filter(col("n_in_group") > 1)
      fp.join(groups, "pfp")
        .select(col("pfp"), col("doc_id"), col("n_chars"),
          col("n_in_group"), (col("doc_id") === col("keep_id")).as("canonical"))
    }),

    // --- cross-key entity resolution (exact-text OR truncation-prefix) -----
    // The multi-key ER move (CCNet dedups by URL and by content; MDM
    // links on any of several identifiers): two docs are the same ENTITY
    // if they share the exact-content key OR the q75 truncation key
    // (md5 of the first 128 chars), closed transitively — A≡B on content
    // and B≡C on prefix puts A,C in one entity even though no single key
    // links them. Shape: each key family contributes STAR edges only
    // (doc → min doc of its key group, via one hash agg + one self-join
    // on the 16-byte key — never the group's quadratic pair set), the
    // union of stars feeds the shared CC machinery, and edges are
    // key-group-count-sized, not corpus-sized. Keys are namespaced
    // ('e|'/'p|') so a short doc whose full text IS its prefix cannot
    // alias across families (harmless here — such docs share the prefix
    // key anyway — but the namespace makes the invariant structural).
    // Singletons keep themselves as entity, so the output is a total
    // doc → entity map, the contract an ER consumer (survivorship,
    // leakage splits) needs.
    "q160_crosskey_entities" -> ((s, d) =>
      crossKeyEntities(docs(s, d).select(col("doc_id"), col("text")))),

    // --- sorted-neighborhood blocking (the classic ER alternative to LSH) --
    // Sort the corpus by a similarity-preserving key and compare only rows
    // within a fixed window w of each other — candidate volume is exactly
    // w·n, no bucket-skew quadratic term at all (the trade: recall depends
    // on the key, which is why production ER runs several passes with
    // different keys). Key = first 5 SORTED tokens (near-dups share most
    // tokens, so their keys collide or sort adjacent). The global rank that
    // defines "adjacent" is the landmine: ROW_NUMBER over an unpartitioned
    // window is a single-task sort. Instead ranks are composed the q128
    // way — a window PARTITIONED by the key's first character (parallel,
    // order-consistent because the bucket is a prefix of the sort key) plus
    // per-bucket offsets from an alphabet-sized explode/re-agg prefix pass.
    // Neighbor pairs then come from an EQUI join on rank+delta (delta ≤ w),
    // never a rank-range inequality join. At 100 TB the bucket becomes the
    // first 2-3 characters (alphabet² spine — still corpus-independent)
    // and everything else is unchanged.
    "q162_sorted_neighborhood" -> ((s, d) => {
      val W = 2
      val w = org.apache.spark.sql.expressions.Window
      val keyed = docs(s, d).select(col("doc_id"), col("lang"), col("n_chars"),
          array_join(slice(sort_array(toks(col("text"))), 1, 5), " ").as("bkey"))
        .withColumn("bucket", ascii(col("bkey")))
      val ranked = keyed.withColumn("rn_in",
        row_number().over(w.partitionBy(col("bucket"))
          .orderBy(col("bkey"), col("doc_id"))).cast("long"))
      // each bucket's size flows to every strictly later bucket ('z' = 122)
      val offsets = keyed.groupBy(col("bucket")).agg(count(lit(1)).as("bn"))
        .filter(col("bucket") < 122)
        .select(explode(sequence(col("bucket") + 1, lit(122))).as("bucket"),
          col("bn"))
        .groupBy(col("bucket")).agg(sum(col("bn")).as("off"))
      val globalRank = ranked.join(broadcast(offsets), Seq("bucket"), "left")
        .withColumn("rank", coalesce(col("off"), lit(0L)) + col("rn_in"))
      val l = globalRank.select(col("doc_id").as("doc_a"),
          col("lang").as("lang_a"), col("n_chars").as("nc_a"), col("rank"))
        .withColumn("d0", explode(sequence(lit(1), lit(W))))
        .withColumn("delta", col("d0").cast("long")).drop("d0")
        .withColumn("rank_b", col("rank") + col("delta"))
      val r = globalRank.select(col("rank").as("rank_b"),
        col("doc_id").as("doc_b"), col("lang").as("lang_b"),
        col("n_chars").as("nc_b"))
      l.join(r, "rank_b")
        .select(col("doc_a"), col("doc_b"), col("delta"),
          (col("lang_a") === col("lang_b")).as("same_lang"),
          abs(col("nc_a") - col("nc_b")).as("chars_diff"))
    }),

    // --- Fellegi–Sunter probabilistic linkage scoring ------------------------
    // The decision layer production record linkage (Splink lineage) puts
    // on top of blocking: per comparison field, the u-probability
    // (agreement by CHANCE) is estimated from the candidate pairs
    // themselves — blocked pairs are overwhelmingly non-matches, the
    // standard estimator — while m is the fixed 9/10 prior; a pair's
    // match score is the sum of per-field log-likelihood-ratio weights,
    // positive evidence for agreement on a RARE field (low u), negative
    // for disagreement. Everything stays in the exact digit-count bits
    // currency (bits(x) = length of x's binary form): agreement weight =
    // bits(9N) − bits(10·A_f), disagreement = bits(N) − bits(10·(N−A_f)),
    // both clamped so empty cells can't divide by zero — no libm, no
    // float probabilities, bit-identical across engines. Verdict: total
    // score > 0 ⇔ posterior odds beat the prior. Shape: candidate pairs
    // are the q162 sorted-neighborhood output (w·n, never quadratic),
    // fields join back pair-sized, the u-estimates are ONE broadcast
    // 1-row aggregate. At 100 TB nothing here exceeds pair volume.
    "q226_fs_linkage" -> ((s, d) => {
      val fields = docs(s, d).select(col("doc_id"), col("lang"),
        col("source"), expr("n_chars div 64").as("band"),
        md5(substring(col("text"), 1, 64)).as("pfx"))
      val p = queries("q162_sorted_neighborhood")(s, d)
        .select(col("doc_a"), col("doc_b"))
        .join(fields.select(col("doc_id").as("doc_a"), col("lang").as("la"),
          col("source").as("sa"), col("band").as("ba"),
          col("pfx").as("pa")), "doc_a")
        .join(fields.select(col("doc_id").as("doc_b"), col("lang").as("lb"),
          col("source").as("sb"), col("band").as("bb"),
          col("pfx").as("pb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (col("la") === col("lb")).as("ag_lang"),
          (col("sa") === col("sb")).as("ag_src"),
          (col("ba") === col("bb")).as("ag_band"),
          (col("pa") === col("pb")).as("ag_pfx"))
      val fs = Seq("lang", "src", "band", "pfx")
      val stats = p.agg(count(lit(1)).as("n"),
        fs.map(f => sum(when(col(s"ag_$f"), 1L).otherwise(0L))
          .as(s"a_$f")): _*)
      def bits(c: Column): Column = length(bin(c)).cast("long")
      val scored = p.join(broadcast(stats))
      val weightCols = fs.map { f =>
        val a = greatest(col(s"a_$f"), lit(1L))
        val na = greatest(col("n") - col(s"a_$f"), lit(1L))
        when(col(s"ag_$f"), bits(col("n") * 9) - bits(a * 10))
          .otherwise(bits(col("n")) - bits(na * 10)).as(s"w_$f")
      }
      scored
        .select(Seq(col("doc_a"), col("doc_b"), col("ag_lang"),
          col("ag_src"), col("ag_band"), col("ag_pfx")) ++ weightCols: _*)
        .select(col("doc_a"), col("doc_b"), col("ag_lang"), col("ag_src"),
          col("ag_band"), col("ag_pfx"),
          (col("w_lang") + col("w_src") + col("w_band") + col("w_pfx"))
            .as("score_bits"))
        .withColumn("is_match", col("score_bits") > 0)
    }),

    // --- duplicated-span detection (ExactSubstr-style, window granularity) --
    // Doc-level dedup (q40/q42/q78) cannot see a PARAGRAPH duplicated
    // across otherwise-different documents — the signal behind
    // exact-substring training-data dedup (Lee et al. 2022's ExactSubstr,
    // here at fixed 32-token window granularity instead of suffix-array
    // spans). Every 32-token window gets a 16-byte digest; a window
    // position is "duplicated" iff its digest occurs in ≥2 DISTINCT docs
    // (within-doc repetition is q72's axis, deliberately excluded). Output
    // is the per-doc span-duplication profile — the clip/drop signal a
    // curation run thresholds. Shape: windows explode inside the scan
    // stage (≤ n_tok rows per doc), only digests shuffle (two hash aggs:
    // digest→df, doc→counts), then one digest-keyed join back. At 100 TB
    // this is the q40 discipline at window granularity; the window count
    // per doc is bounded by token count, and no raw text ever leaves the
    // scan stage. The duplicated-position frame is the SHARED memoized
    // [[dupWindowPositions]] stage (q139 consumes the same artifact); the
    // total window count needs no window pass at all — for n >= W it is
    // exactly n − W + 1.
    "q110_dup_spans" -> ((s, d) => {
      val W = DupWindowW
      val base = docs(s, d)
        .select(col("doc_id"), size(toks(col("text"))).as("n"))
      val per = dupWindowPositions(s, d)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
      base.join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").cast("long").as("n_tok"),
          when(col("n") >= W, (col("n") - W + 1).cast("long"))
            .otherwise(lit(0L)).as("n_windows"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
          when(col("n") < W, lit(0.0))
            .otherwise(coalesce(col("n_dup"), lit(0L)).cast("double") /
              (col("n") - W + 1))
            .as("dup_frac"))
    }),

    // --- duplicate-graph triangle census (q143) ----------------------------
    // Structure diagnostic over the near-dup graph: triangle count and
    // local clustering coefficient per document. High clustering = tight
    // clone families (template clusters, safe to collapse to one
    // canonical); low clustering at high degree = CHAIN-shaped lineage
    // (A~B~C without A~C — the risky transitive-merge case where CC glues
    // non-duplicates; exactly the families a curation run audits by hand).
    // Triangles enumerate once each via the i<j orientation (a<b<c): two
    // equi self-joins on the PAIR list — pair-sized³ never happens, the
    // join is bounded by path counts over an already-tiny edge set, and the
    // corpus-scale LSH upstream is the SHARED memoized pair list (zero new
    // corpus scans). The coefficient 2t/(deg·(deg−1)) is one float
    // division over exact integers.
    "q143_dup_graph_triangles" -> ((s, d) => {
      val e = trigramPairs(s, d).select(col("i"), col("j"))
      val tri = e.as("ab")
        .join(e.as("bc"), col("ab.j") === col("bc.i"))
        .join(e.as("ac"),
          col("ac.i") === col("ab.i") && col("ac.j") === col("bc.j"))
        .select(col("ab.i").as("a"), col("ab.j").as("b"), col("bc.j").as("c"))
      val triPerNode = tri.select(col("a").as("doc_id"))
        .unionAll(tri.select(col("b").as("doc_id")))
        .unionAll(tri.select(col("c").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
      val deg = e.select(col("i").as("doc_id"))
        .unionAll(e.select(col("j").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      deg.join(triPerNode, Seq("doc_id"), "left")
        .select(col("doc_id"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          when(col("degree") >= 2,
            lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
              (col("degree") * (col("degree") - 1)))
            .otherwise(lit(0.0)).as("clustering"))
    }),

    // --- label-propagation communities over the duplicate graph (q150) -----
    // The community tier BETWEEN q46's connected components and q143's
    // chain diagnostic: synchronous label propagation (Raghavan et al.
    // 2007), 3 unrolled rounds over the SHARED memoized pair list — zero
    // new corpus scans, every step pair-sized. Where CC glues everything
    // reachable into one cluster (risky on chain-shaped lineages, exactly
    // what q143 flags), LP lets dense cores keep distinct labels: a node
    // takes the most frequent label among its NEIGHBORS (tie → smallest
    // label; own label not in the vote), so a chain's ends pull apart
    // while a clone family collapses. Fixed round count + total tie order
    // make the result deterministic and engine-portable (LP with
    // data-dependent convergence would not be); 3 rounds is the paper's
    // "almost all labels settle" regime. Scale: each round is one
    // pair-sized join + hash agg + per-node window — #rounds × pair
    // volume, corpus-independent past the memoized signature pass.
    // The vote includes the node's OWN current label once (a self-loop
    // edge): pure neighbor-voting oscillates on isolated pairs — the two
    // endpoints swap labels forever, the known LPA bipartite pathology —
    // while the self-vote makes a pair tie on {a,b} and converge to
    // min(a,b) in one round.
    "q150_label_prop" -> ((s, d) => {
      val pairs = trigramPairs(s, d).select(col("i"), col("j"))
      val nodes = pairs.select(col("i").as("id"))
        .unionAll(pairs.select(col("j").as("id"))).distinct()
      val edges = pairs.select(col("i").as("src"), col("j").as("dst"))
        .unionAll(pairs.select(col("j").as("src"), col("i").as("dst")))
        .unionAll(nodes.select(col("id").as("src"), col("id").as("dst")))
      var labels = nodes.withColumn("lbl", col("id"))
      for (_ <- 1 to 3) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("src")).orderBy(col("c").desc, col("lbl"))
        labels = edges.join(labels, col("dst") === col("id"))
          .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("src").as("id"), col("lbl"))
      }
      val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_members"))
      labels.join(broadcast(sizes), Seq("lbl"))
        .select(col("id").as("doc_id"), col("lbl").as("community"),
          col("n_members"))
    }),

    // --- maximal duplicated spans (true lengths, not window counts) --------
    // q110 reports WHICH window positions are duplicated; this reports the
    // TRUE maximal span length per document pair — the ExactSubstr output
    // (Lee et al. 2022) at token granularity. Identity that replaces the
    // suffix array: a common substring of L ≥ W tokens between docs a and b
    // is exactly a run of L−W+1 consecutive shared-window positions on one
    // ALIGNMENT DIAGONAL (pa − pb constant) — window digests pin content
    // equality, consecutive positions on a diagonal extend it one token at
    // a time. So: windows → cross-doc-duplicated digests only → digest
    // self-join (a < b) → gaps-and-islands per (a, b, diagonal) → max run
    // + W−1. All integers, no floats anywhere.
    // Scale: the self-join explodes only DUPLICATED digests — the same
    // per-bucket discipline as the LSH candidate stage (SMJ streams one
    // side and spills per-key buffers; a boilerplate mega-digest is the
    // documented worst case there and here; production ExactSubstr runs
    // df-cap such windows, accepting split runs). Runs are found by ONE
    // window function over pair-sized rows (pa − row_number per diagonal —
    // no iteration, no driver), then two hash aggs. The corpus-scale
    // window pass is the SHARED memoized [[dupWindowPositions]] stage —
    // this query adds only pair-sized work on top of it.
    "q139_max_dup_span" -> ((s, d) => {
      val W = DupWindowW
      val dup = dupWindowPositions(s, d)
      val pr = dup.as("a").join(dup.as("b"),
          col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.p").as("pa"), col("b.p").as("pb"))
      pr.select(col("doc_a"), col("doc_b"),
          (col("pa") - col("pb")).as("diag"), col("pa"))
        .withColumn("grp", col("pa") - row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_a"), col("doc_b"), col("diag"))
            .orderBy(col("pa"))))
        .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
        .agg((count(lit(1)) + (W - 1)).as("span"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(max(col("span")).as("max_span_tok"))
    }),

    // --- duplicated-token-mass accounting (interval union) -----------------
    // q110 counts duplicated WINDOWS; overlapping windows over-count the
    // underlying tokens ~W×. The curation decision ("clip or drop this
    // doc?") needs the union: per doc, the exact number of TOKENS covered
    // by at least one cross-doc-duplicated window — the classic interval-
    // union sweep ([p, p+W) islands merged while p <= running max end),
    // computed by one doc-partitioned window pass over the SHARED memoized
    // [[dupWindowPositions]] stage. All integers until the final exact-
    // rational frac; at 100 TB this adds only dup-position-sized work past
    // the memo.
    "q176_dup_mass" -> ((s, d) => {
      val W = DupWindowW
      val base = docs(s, d)
        .select(col("doc_id"), size(toks(col("text"))).as("n"))
      val per = intervalUnionLen(
        dupWindowPositions(s, d).select(col("doc_id"), col("p")), W)
      base.join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").cast("long").as("n_tok"),
          coalesce(col("union_len"), lit(0L)).as("dup_tokens"),
          (coalesce(col("union_len"), lit(0L)).cast("double") / col("n"))
            .as("dup_frac"))
    }),

    // --- ExactSubstr clip accounting (first occurrence wins) ---------------
    // The deliverable ExactSubstr dedup actually ships (Lee et al. 2022):
    // every span already seen in an EARLIER document is clipped from the
    // later one; the first (min doc_id) occurrence is canonical and stays.
    // Per doc: tokens covered by a duplicated window whose digest's
    // minimum owner is an earlier doc -> interval union -> clipped mass;
    // kept = n_tok − clipped. Owners come from one digest-keyed agg over
    // the SHARED memoized [[dupWindowPositions]] stage (the memo holds
    // every occurrence of every cross-doc-duplicated digest, so min
    // doc_id per digest is the true corpus owner); everything past the
    // memo is dup-position-sized.
    "q177_exactsubstr_clip" -> ((s, d) => {
      val W = DupWindowW
      val base = docs(s, d)
        .select(col("doc_id"), size(toks(col("text"))).as("n"))
      val dup = dupWindowPositions(s, d)
      val owners = dup.groupBy(col("wh")).agg(min(col("doc_id")).as("owner"))
      val foreign = dup.join(owners, "wh")
        .filter(col("owner") < col("doc_id"))
        .select(col("doc_id"), col("p"))
      val per = intervalUnionLen(foreign, W)
      base.join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").cast("long").as("n_tok"),
          coalesce(col("union_len"), lit(0L)).as("clipped_tokens"),
          (col("n") - coalesce(col("union_len"), lit(0L))).cast("long")
            .as("kept_tokens"))
    }),

    // --- cross-source span-leakage matrix -----------------------------------
    // WHICH corpora share verbatim spans — the provenance diagnostic over
    // the ExactSubstr family: per source pair, how many distinct 32-token
    // window digests occur in both. Any cross-source shared digest has
    // >= 2 distinct docs, so the SHARED memoized [[dupWindowPositions]]
    // stage contains every one of them; past the memo this is a distinct
    // (digest, source) projection and one digest-keyed self-join —
    // #sources²-bounded output, duplicated-window-bounded work.
    "q190_span_leakage" -> ((s, d) => {
      val bySrc = dupWindowPositions(s, d)
        .join(docs(s, d).select(col("doc_id"), col("source")), "doc_id")
        .select(col("wh"), col("source")).distinct()
      bySrc.as("a").join(bySrc.as("b"),
          col("a.wh") === col("b.wh") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared_digests"))
    }),

    // --- split-aware span decontamination ------------------------------------
    // The eval-hygiene read ExactSubstr decontamination actually serves:
    // after a deterministic held-out split (md5(doc_id) < '1a' — the q36/
    // q103 rule family), how many TRAIN tokens sit inside a span that also
    // appears in ANY held-out doc? Those spans are memorization leaks —
    // a model can ace the held-out set by recalling train verbatim. Train
    // positions joined to the held-out digest set (both sides live on the
    // SHARED memoized window stage — a train/heldout shared digest always
    // has >= 2 distinct docs), then the q176 interval-union sweep. Output
    // per train doc: leaked vs clean token mass.
    "q191_span_decontam" -> ((s, d) => {
      val W = DupWindowW
      val split = docs(s, d).select(col("doc_id"),
        (md5(col("doc_id").cast("string")) < "1a").as("heldout"))
      val dup = dupWindowPositions(s, d).join(split, "doc_id")
      val testWh = dup.filter(col("heldout")).select(col("wh")).distinct()
      val leaked = dup.filter(!col("heldout")).join(testWh, "wh")
        .select(col("doc_id"), col("p"))
      val per = intervalUnionLen(leaked, W)
      docs(s, d).join(split, "doc_id").filter(!col("heldout"))
        .select(col("doc_id"), size(toks(col("text"))).as("n"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n").cast("long").as("n_tok"),
          coalesce(col("union_len"), lit(0L)).as("leaked_tokens"),
          (col("n") - coalesce(col("union_len"), lit(0L))).cast("long")
            .as("clean_tokens"))
    }),

    // --- 60-bit SimHash + Hamming<=3 dedup (Manku et al. 2007) -------------
    // The Google web-crawl near-dup algorithm q43's 8-bit sketch gestures
    // at, full-scale: one md5 per TOKEN yields 60 hash bits (15 hex
    // digits), 60 per-bit +/-1 votes make the fingerprint, and the
    // Hamming-distance join uses the pigeonhole blocking from the paper —
    // split 60 bits into 4 bands of 15; any pair within Hamming 3 agrees
    // EXACTLY on >= 1 band, so candidates come from 4 equi self-joins
    // (never all-pairs) and the popcount verify runs on candidate volume.
    // The completeness guarantee (every Hamming<=3 pair found) is
    // spec-proven against a brute all-pairs JVM scan. All integer bit
    // arithmetic — bit-identical across engines.
    "q192_simhash64_dedup" -> ((s, d) =>
      simhash64Pairs(docs(s, d))),

    // --- MinHash signatures + LSH band keys per document -------------------
    "q41_dedup_minhash" -> ((s, d) => signatures(s, d).drop("sh")),

    // --- MinHash-LSH candidate pairs, verified by exact trigram Jaccard ----
    "q42_dedup_lsh_pairs" -> ((s, d) => trigramPairs(s, d)),

    // --- SimHash (8-bit random-hyperplane sketch over tokens) --------------
    "q43_dedup_simhash" -> ((s, d) => {
      val base = TextFns.fanCpu(docs(s, d), col("doc_id"))
        .select(col("doc_id"), toks(col("text")).as("tk"))
      val votes = base.select(
        col("doc_id") +:
          (0 until SimhashBits).map(b => simhashVote(col("tk"), b).as(s"v$b")): _*)
      votes.select(
        col("doc_id"),
        simhashFromVotes((0 until SimhashBits).map(b => col(s"v$b")))
          .cast("long").as("simhash"))
    }),

    // --- n-gram (bigram) Jaccard near-dup, banded-minhash-blocked ----------
    "q44_dedup_ngram_jaccard" -> ((s, d) =>
      lshNearDupPairs(docs(s, d), n = 2, numHashes = BigramHashes,
        bandSize = BigramBandSize, seedBase = BigramSeedBase,
        tNum = BigramTNum, tDen = BigramTDen)),

    // --- near-dup clustering: connected components over LSH pairs ----------
    // The step after pair detection in a real dedup pipeline: transitive
    // closure groups A~B~C into one cluster even when A and C never pair.
    "q46_dedup_components" -> ((s, d) => nearDupLabels(s, d)),

    // --- canonical corpus: keep one representative per near-dup cluster ----
    // The end-to-end dedup deliverable: drop every cluster member except the
    // min doc_id, pass untouched docs through. (Docs too short to shingle
    // cannot pair and pass through — both engines agree.)
    "q47_dedup_canonical" -> ((s, d) => {
      val losers = nearDupLabels(s, d)
        .filter(col("doc_id") =!= col("component"))
        .select(col("doc_id"))
      docs(s, d).join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),

    // --- MinHash estimator calibration audit -------------------------------
    // The acceptance gate for the approximation every minhash tier rests
    // on (q41/q42/q44/q88 all assume sig-agreement ~ Jaccard): over the
    // LSH CANDIDATE set — pre-verify, i.e. the range where the estimator
    // is actually consulted — compare the signature-agreement estimate
    // (n_agree/8) against exact trigram Jaccard, per pair. Agreement
    // counting is integer (position-wise equality over the 8 slots); est
    // and err are single divisions/subtractions of exact rationals —
    // bit-portable. Scale shape: candidates are the shared banded
    // self-join (pair-sized), signatures ride the shared signature stage;
    // the audit adds only 8 slot comparisons per candidate pair.
    "q133_minhash_estimate" -> ((s, d) => {
      val sig = signatures(s, d) // doc_id, sh, mh0..7, b0..3
      val banded = sig.select(col("doc_id"),
        explode(array((0 until NumBands).map(j =>
          struct(lit(j).as("b"), col(s"b$j").as("k"))): _*)).as("bk"))
        .select(col("doc_id"), col("bk.b").as("b"), col("bk.k").as("k"))
        .filter(col("k").isNotNull)
      val cand = banded.as("x").join(banded.as("y"),
          col("x.b") === col("y.b") && col("x.k") === col("y.k") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
        .distinct()
      val info = sig.select(col("doc_id"), col("sh"),
        array((0 until NumHashes).map(i => col(s"mh$i")): _*).as("mhs"))
      cand
        .join(info.select(col("doc_id").as("i"), col("sh").as("shi"),
          col("mhs").as("mi")), "i")
        .join(info.select(col("doc_id").as("j"), col("sh").as("shj"),
          col("mhs").as("mj")), "j")
        .select(col("i"), col("j"),
          size(filter(zip_with(col("mi"), col("mj"), (a, b) => a === b),
            x => x)).cast("long").as("n_agree"),
          jaccard(col("shi"), col("shj")).as("jac"))
        .select(col("i"), col("j"), col("n_agree"),
          (col("n_agree").cast("double") / NumHashes).as("est"),
          col("jac"),
          abs(col("n_agree").cast("double") / NumHashes - col("jac"))
            .as("abs_err"))
    }),

    // --- 1-bit minhash estimator audit (Li & Koenig 2010) ------------------
    // The b-bit compression of the minhash family: store only the PARITY of
    // each slot's minimum (last hex nibble mod 2) — 1 bit where the full
    // signature keeps 128 — and estimate Jaccard from bit agreement with
    // the collision-corrected unbiased form Ĵ = 2·(A/k) − 1 (baseline 1/2:
    // unrelated docs agree on half the bits by chance), clipped at 0. Same
    // pre-verify candidate set and audit economics as q133, so the two
    // queries read side by side: what resemblance fidelity costs 128×
    // less signature storage — the trade that matters when signatures for
    // 10^11 docs must stay in memory for the band join. Everything integer
    // until the fixed-order dyadic estimate (n/8 halves — bit-portable).
    "q220_bbit_minhash" -> ((s, d) => {
      val sig = signatures(s, d)
      val banded = sig.select(col("doc_id"),
        explode(array((0 until NumBands).map(j =>
          struct(lit(j).as("b"), col(s"b$j").as("k"))): _*)).as("bk"))
        .select(col("doc_id"), col("bk.b").as("b"), col("bk.k").as("k"))
        .filter(col("k").isNotNull)
      val cand = banded.as("x").join(banded.as("y"),
          col("x.b") === col("y.b") && col("x.k") === col("y.k") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("i"), col("y.doc_id").as("j"))
        .distinct()
      val oddHex = Seq("1", "3", "5", "7", "9", "b", "d", "f")
      val info = sig.select(col("doc_id"), col("sh"),
        array((0 until NumHashes).map(i =>
          when(substring(col(s"mh$i"), 32, 1).isin(oddHex: _*), 1L)
            .otherwise(0L)): _*).as("bits"))
      val est = greatest(lit(0.0),
        lit(2.0) * col("n_bit_agree") / NumHashes - 1.0)
      cand
        .join(info.select(col("doc_id").as("i"), col("sh").as("shi"),
          col("bits").as("bi")), "i")
        .join(info.select(col("doc_id").as("j"), col("sh").as("shj"),
          col("bits").as("bj")), "j")
        .select(col("i"), col("j"),
          size(filter(zip_with(col("bi"), col("bj"), (a, b) => a === b),
            x => x)).cast("long").as("n_bit_agree"),
          jaccard(col("shi"), col("shj")).as("jac"))
        .select(col("i"), col("j"), col("n_bit_agree"),
          est.as("est_1bit"), col("jac"),
          abs(est - col("jac")).as("abs_err"))
    }),

    // --- embedding-cosine near-dup, hyperplane-LSH-blocked -----------------
    // Norms are computed once per vector, not once per pair (same arithmetic
    // -> same bits as norm-in-the-pair, so the oracle formula is unchanged).
    "q45_dedup_embcos" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = TextFns.fanCpu(embs(s, d), col("vec_id"))
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("bucket", lshBucket(col("v")))
        .withColumn("nrm", norm(col("v")))
      e.as("x").join(e.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("i"), col("y.vec_id").as("j"),
          (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))).as("sim"))
        .filter(col("sim") >= CosineThreshold)
    })
  )

  // ------------------------- oracle SQL twins ----------------------------

  private val oToks = "string_split(text, ' ')"
  private val oSh = oShingles(oToks, 3)

  /** DuckDB mirror of [[lshNearDupPairs]] (no size prefilter — it is implied
    * by the jaccard threshold, so results are identical). `from` lets the
    * pipeline oracle (q70) run it over a CTE instead of the raw table. */
  def oLshNearDupPairs(n: Int, numHashes: Int, bandSize: Int,
                       seedBase: Int, tNum: Int, tDen: Int,
                       from: String = "documents"): String = {
    val numBands = numHashes / bandSize
    val sigCols = (0 until numHashes)
      .map(i => s"${oMinhash("sh", seedBase + i)} AS mh$i").mkString(", ")
    val bandedSql = (0 until numBands).map { j =>
      val cat = (0 until bandSize).map(r => s"mh${j * bandSize + r}").mkString(" || ")
      s"SELECT doc_id, $j AS b, md5($cat) AS k FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH base AS (SELECT doc_id, ${oShingles(oToks, n)} AS sh FROM $from),
          sig AS (SELECT doc_id, $sigCols FROM base),
          banded AS ($bandedSql),
          cand AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
                   FROM banded x JOIN banded y
                     ON x.b = y.b AND x.k = y.k AND x.doc_id < y.doc_id)
        SELECT i, j, jac FROM (
          SELECT cand.i, cand.j, ${oJaccard("bx.sh", "by.sh")} AS jac
          FROM cand JOIN base bx ON cand.i = bx.doc_id
                    JOIN base by ON cand.j = by.doc_id)
        WHERE jac >= ${tNum.toDouble / tDen}"""
  }

  private val oBandExprs: Seq[String] = (0 until NumBands).map { j =>
    val cat = (0 until BandSize).map(r => s"mh${j * BandSize + r}").mkString(" || ")
    s"md5($cat) AS b$j"
  }

  private val oSigSelect: String = {
    val mhs = (0 until NumHashes).map(i => s"${oMinhash("sh", i)} AS mh$i")
    s"SELECT doc_id, sh, ${mhs.mkString(", ")} FROM (SELECT doc_id, $oSh AS sh FROM documents)"
  }

  /** Recursive-CTE twin of [[connectedComponents]] over the trigram LSH
    * pairs: component(id) = min id reachable from id (reachability closure
    * is fine at oracle scale — the pair set is tiny). Emit inside a
    * WITH RECURSIVE prefix; `from` as in [[oLshNearDupPairs]]. */
  private[operators] def oComponents(from: String = "documents"): String = {
    val pairsSql = oLshNearDupPairs(3, NumHashes, BandSize, 0, TrigramTNum,
      TrigramTDen, from)
    s"""pairs AS (SELECT i, j FROM ($pairsSql)),
        edges AS (SELECT i AS src, j AS dst FROM pairs
                  UNION ALL SELECT j AS src, i AS dst FROM pairs),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id),
        comp AS (SELECT id AS doc_id, MIN(r) AS component FROM reach GROUP BY id)"""
  }

  val oracles: Map[String, String] = Map(
    "q46_dedup_components" ->
      s"WITH RECURSIVE ${oComponents()} SELECT doc_id, component FROM comp",

    "q47_dedup_canonical" ->
      s"""WITH RECURSIVE ${oComponents()}
          SELECT d.doc_id, d.source, d.n_chars FROM documents d
          WHERE NOT EXISTS (SELECT 1 FROM comp c
                            WHERE c.doc_id = d.doc_id AND c.component <> c.doc_id)""",

    "q40_dedup_exact" ->
      """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(1) AS n_copies
         FROM documents GROUP BY 1""",

    // Cross-key ER twin: same namespaced star edges per key family, same
    // transitive closure (recursive min-reach), same total doc→entity map.
    // SNM twin: the textbook single-window ROW_NUMBER definition; the Spark
    // side must reproduce it from the bucket-partitioned rank composition.
    "q162_sorted_neighborhood" ->
      """WITH k AS (
           SELECT doc_id, lang, n_chars,
             array_to_string(list_sort(string_split(text, ' '))[1:5], ' ')
               AS bkey
           FROM documents),
         r AS (
           SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (ORDER BY bkey, doc_id) AS rank
           FROM k)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(b.rank - a.rank AS BIGINT) AS delta,
           a.lang = b.lang AS same_lang,
           CAST(abs(a.n_chars - b.n_chars) AS BIGINT) AS chars_diff
         FROM r a JOIN r b ON b.rank - a.rank BETWEEN 1 AND 2""",

    // FS twin: the q162 blocking CTEs verbatim, the same digit-count
    // weights with the same clamps, the same score>0 verdict.
    "q226_fs_linkage" -> {
      def w(f: String) =
        s"""CASE WHEN ag_$f
              THEN length(format('{:b}', n * 9))
                 - length(format('{:b}', GREATEST(a_$f, 1) * 10))
              ELSE length(format('{:b}', n))
                 - length(format('{:b}', GREATEST(n - a_$f, 1) * 10)) END"""
      def a(f: String) =
        s"CAST(SUM(CASE WHEN ag_$f THEN 1 ELSE 0 END) AS BIGINT) AS a_$f"
      s"""WITH k AS (
            SELECT doc_id,
              array_to_string(list_sort(string_split(text, ' '))[1:5], ' ')
                AS bkey
            FROM documents),
          r AS (
            SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bkey, doc_id) AS rank
            FROM k),
          pr AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM r a JOIN r b ON b.rank - a.rank BETWEEN 1 AND 2),
          f AS (
            SELECT doc_id, lang, source, n_chars // 64 AS band,
              md5(substr(text, 1, 64)) AS pfx
            FROM documents),
          p AS (
            SELECT pr.doc_a, pr.doc_b,
              fa.lang = fb.lang AS ag_lang,
              fa.source = fb.source AS ag_src,
              fa.band = fb.band AS ag_band,
              fa.pfx = fb.pfx AS ag_pfx
            FROM pr
            JOIN f fa ON pr.doc_a = fa.doc_id
            JOIN f fb ON pr.doc_b = fb.doc_id),
          st AS (
            SELECT CAST(COUNT(1) AS BIGINT) AS n,
              ${a("lang")}, ${a("src")}, ${a("band")}, ${a("pfx")}
            FROM p)
          SELECT doc_a, doc_b, ag_lang, ag_src, ag_band, ag_pfx,
            CAST(${w("lang")} + ${w("src")} + ${w("band")} + ${w("pfx")}
              AS BIGINT) AS score_bits,
            (${w("lang")} + ${w("src")} + ${w("band")} + ${w("pfx")}) > 0
              AS is_match
          FROM p, st"""
    },

    "q160_crosskey_entities" ->
      """WITH RECURSIVE keyed AS (
           SELECT doc_id, concat('e|', md5(text)) AS k FROM documents
           UNION ALL
           SELECT doc_id, concat('p|', md5(substr(text, 1, 128)))
           FROM documents),
         reps AS (SELECT k, MIN(doc_id) AS rep FROM keyed GROUP BY k),
         star AS (
           SELECT keyed.doc_id AS i, reps.rep AS j
           FROM keyed JOIN reps ON keyed.k = reps.k
           WHERE keyed.doc_id <> reps.rep),
         edges AS (SELECT i AS src, j AS dst FROM star
                   UNION SELECT j AS src, i AS dst FROM star),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.id),
         comp AS (SELECT id AS doc_id, MIN(r) AS entity FROM reach
                  GROUP BY id)
         SELECT d.doc_id, COALESCE(c.entity, d.doc_id) AS entity
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id""",

    "q78_containment_dedup" ->
      s"""WITH base AS (
            SELECT doc_id,
              list_sort(list_distinct(list_transform(
                ${oShingles(oToks, 3)},
                x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT))))
                AS sh
            FROM documents
            WHERE len(${oShingles(oToks, 3)}) > 0),
          ex AS (SELECT doc_id, unnest(sh) AS h
                 FROM base),
          dfc AS (SELECT h, COUNT(1) AS df FROM ex GROUP BY h),
          rare AS (
            SELECT ex.doc_id, ex.h
            FROM ex JOIN dfc ON ex.h = dfc.h
            WHERE dfc.df <= $ContainmentDfCap),
          bot AS (
            SELECT doc_id AS a, h FROM (
              SELECT doc_id, h,
                ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS rn
              FROM rare)
            WHERE rn <= 2),
          cand AS (
            SELECT DISTINCT bot.a, r.doc_id AS b
            FROM bot JOIN rare r ON bot.h = r.h
            WHERE bot.a <> r.doc_id)
          SELECT cand.a AS contained, cand.b AS container,
            len(ba.sh) AS n_sh,
            CAST(len(list_intersect(ba.sh, bb.sh)) AS DOUBLE) / len(ba.sh)
              AS containment
          FROM cand
          JOIN base ba ON cand.a = ba.doc_id
          JOIN base bb ON cand.b = bb.doc_id
          WHERE CAST(len(list_intersect(ba.sh, bb.sh)) AS DOUBLE) / len(ba.sh)
            >= 0.8""",

    "q133_minhash_estimate" -> {
      val bandedSql = (0 until NumBands).map { j =>
        val cat = (0 until BandSize).map(r => s"mh${j * BandSize + r}")
          .mkString(" || ")
        s"SELECT doc_id, $j AS b, md5($cat) AS k FROM sig"
      }.mkString(" UNION ALL ")
      val agree = (0 until NumHashes)
        .map(i => s"CAST(sx.mh$i = sy.mh$i AS INT)").mkString(" + ")
      s"""WITH sig AS ($oSigSelect),
            banded AS ($bandedSql),
            cand AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
                     FROM banded x JOIN banded y
                       ON x.b = y.b AND x.k = y.k AND x.doc_id < y.doc_id),
            scored AS (
              SELECT cand.i, cand.j,
                CAST($agree AS BIGINT) AS n_agree,
                ${oJaccard("sx.sh", "sy.sh")} AS jac
              FROM cand JOIN sig sx ON cand.i = sx.doc_id
                        JOIN sig sy ON cand.j = sy.doc_id)
          SELECT i, j, n_agree,
            CAST(n_agree AS DOUBLE) / $NumHashes AS est, jac,
            abs(CAST(n_agree AS DOUBLE) / $NumHashes - jac) AS abs_err
          FROM scored"""
    },

    // 1-bit twin: same candidate CTEs as q133, slot parity from the last
    // hex nibble, the same fixed-order dyadic estimate.
    "q220_bbit_minhash" -> {
      val bandedSql = (0 until NumBands).map { j =>
        val cat = (0 until BandSize).map(r => s"mh${j * BandSize + r}")
          .mkString(" || ")
        s"SELECT doc_id, $j AS b, md5($cat) AS k FROM sig"
      }.mkString(" UNION ALL ")
      def bit(t: String, i: Int) =
        s"""CASE WHEN substr($t.mh$i, 32, 1)
              IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END"""
      val agree = (0 until NumHashes)
        .map(i => s"CAST((${bit("sx", i)}) = (${bit("sy", i)}) AS INT)")
        .mkString(" + ")
      s"""WITH sig AS ($oSigSelect),
            banded AS ($bandedSql),
            cand AS (SELECT DISTINCT x.doc_id AS i, y.doc_id AS j
                     FROM banded x JOIN banded y
                       ON x.b = y.b AND x.k = y.k AND x.doc_id < y.doc_id),
            scored AS (
              SELECT cand.i, cand.j,
                CAST($agree AS BIGINT) AS n_bit_agree,
                ${oJaccard("sx.sh", "sy.sh")} AS jac
              FROM cand JOIN sig sx ON cand.i = sx.doc_id
                        JOIN sig sy ON cand.j = sy.doc_id)
          SELECT i, j, n_bit_agree,
            GREATEST(0.0, 2.0 * CAST(n_bit_agree AS DOUBLE) / $NumHashes
              - 1.0) AS est_1bit,
            jac,
            abs(GREATEST(0.0, 2.0 * CAST(n_bit_agree AS DOUBLE) / $NumHashes
              - 1.0) - jac) AS abs_err
          FROM scored"""
    },

    "q77_source_leakage" -> {
      val pairsSql = oLshNearDupPairs(3, NumHashes, BandSize, 0, TrigramTNum,
        TrigramTDen)
      s"""WITH pairs AS (SELECT i, j, jac FROM ($pairsSql)),
            lab AS (
              SELECT LEAST(di.source, dj.source) AS src_lo,
                     GREATEST(di.source, dj.source) AS src_hi,
                     pairs.j, pairs.jac
              FROM pairs
              JOIN documents di ON pairs.i = di.doc_id
              JOIN documents dj ON pairs.j = dj.doc_id)
          SELECT src_lo, src_hi, COUNT(1) AS n_pairs,
            COUNT(DISTINCT j) AS n_dup_docs,
            MIN(jac) AS min_jac, MAX(jac) AS max_jac
          FROM lab GROUP BY src_lo, src_hi"""
    },

    "q88_source_similarity" -> {
      val mhArr = (0 until NumHashes).map(i => oMinhash("sh", i))
        .mkString("[", ", ", "]")
      s"""WITH base AS (
            SELECT source, ${oShingles(oToks, 3)} AS sh FROM documents
            WHERE len(${oShingles(oToks, 3)}) > 0),
          persig AS (
            SELECT source, unnest($mhArr) AS mh,
                   generate_subscripts($mhArr, 1) AS pos
            FROM base),
          sig AS (SELECT source, pos, MIN(mh) AS mh
                  FROM persig GROUP BY source, pos)
          SELECT x.source AS src_a, y.source AS src_b,
            CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT)
              AS n_agree,
            CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS DOUBLE)
              / $NumHashes AS est_jaccard
          FROM sig x JOIN sig y ON x.pos = y.pos AND x.source < y.source
          GROUP BY 1, 2"""
    },

    "q103_leakage_safe_split" ->
      s"""WITH RECURSIVE ${oComponents()}
          SELECT d.doc_id, d.source,
            coalesce(c.component, d.doc_id) AS cluster,
            CASE WHEN md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR))
                      < '1a'
                 THEN 'valid' ELSE 'train' END AS split
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id""",

    "q106_canonical_longest" ->
      s"""WITH RECURSIVE ${oComponents()}
          SELECT doc_id, source, n_chars, cluster,
            ROW_NUMBER() OVER (PARTITION BY cluster
              ORDER BY n_chars DESC, doc_id) = 1 AS is_canonical
          FROM (SELECT d.doc_id, d.source, d.n_chars,
                  coalesce(c.component, d.doc_id) AS cluster
                FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)""",

    "q99_cluster_sizes" ->
      s"""WITH RECURSIVE ${oComponents()},
          sizes AS (SELECT component, COUNT(1) AS csize
                    FROM comp GROUP BY component)
          SELECT csize, COUNT(1) AS n_clusters,
            CAST(SUM(csize) AS BIGINT) AS docs_absorbed,
            CAST(1.0 AS DOUBLE) / csize AS survivor_frac
          FROM sizes GROUP BY csize""",

    "q96_edit_distance" -> {
      val pairsSql = oLshNearDupPairs(3, NumHashes, BandSize, 0, TrigramTNum,
        TrigramTDen)
      s"""WITH pairs AS (SELECT i, j, jac FROM ($pairsSql))
          SELECT pairs.i, pairs.j, pairs.jac,
            CAST(levenshtein(di.text, dj.text) AS BIGINT) AS edit_dist,
            CAST(greatest(len(di.text), len(dj.text)) AS BIGINT) AS max_len,
            1.0 - CAST(levenshtein(di.text, dj.text) AS DOUBLE)
                  / greatest(len(di.text), len(dj.text)) AS edit_sim
          FROM pairs
          JOIN documents di ON pairs.i = di.doc_id
          JOIN documents dj ON pairs.j = dj.doc_id"""
    },

    "q93_sparse_cosine" ->
      s"""WITH tf AS (
            SELECT doc_id, term, COUNT(1) AS tf
            FROM (SELECT doc_id, unnest($oToks) AS term FROM documents)
            GROUP BY 1, 2),
          dft AS (SELECT term FROM tf GROUP BY term
                  HAVING COUNT(1) BETWEEN 2 AND 64),
          tfr AS (SELECT tf.doc_id, tf.term, tf.tf
                  FROM tf JOIN dft ON tf.term = dft.term),
          n2 AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2
                 FROM tfr GROUP BY doc_id),
          p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                  CAST(SUM(x.tf * y.tf) AS BIGINT) AS dot,
                  COUNT(1) AS n_shared
                FROM tfr x JOIN tfr y
                  ON x.term = y.term AND x.doc_id < y.doc_id
                GROUP BY 1, 2)
          SELECT p.doc_a, p.doc_b, p.n_shared, p.dot,
            CAST(p.dot AS DOUBLE) / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
          FROM p
          JOIN n2 na ON p.doc_a = na.doc_id
          JOIN n2 nb ON p.doc_b = nb.doc_id
          WHERE CAST(p.dot AS DOUBLE) / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.5""",

    "q75_prefix_dup" ->
      """WITH fp AS (
           SELECT doc_id, n_chars, md5(substr(text, 1, 128)) AS pfp
           FROM documents),
         grp AS (
           SELECT pfp, COUNT(1) AS n_in_group, MIN(doc_id) AS keep_id
           FROM fp GROUP BY pfp HAVING COUNT(1) > 1)
         SELECT fp.pfp, fp.doc_id, fp.n_chars, grp.n_in_group,
           fp.doc_id = grp.keep_id AS canonical
         FROM fp JOIN grp ON fp.pfp = grp.pfp""",

    "q110_dup_spans" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n
           FROM documents),
         wins AS (
           SELECT doc_id,
                  md5(array_to_string(list_slice(tk, p, p + 31), ' ')) AS wh
           FROM (SELECT doc_id, tk, unnest(range(1, n - 30)) AS p
                 FROM base WHERE n >= 32)),
         wdf AS (
           SELECT wh, COUNT(DISTINCT doc_id) AS wdf FROM wins GROUP BY wh),
         per AS (
           SELECT w.doc_id, COUNT(1) AS n_windows,
                  CAST(SUM(CASE WHEN f.wdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_dup
           FROM wins w JOIN wdf f ON w.wh = f.wh GROUP BY w.doc_id)
         SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tok,
           COALESCE(per.n_windows, 0) AS n_windows,
           COALESCE(per.n_dup, 0) AS n_dup_windows,
           CASE WHEN COALESCE(per.n_windows, 0) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE CAST(per.n_dup AS DOUBLE) / per.n_windows END AS dup_frac
         FROM base b LEFT JOIN per ON b.doc_id = per.doc_id""",

    "q143_dup_graph_triangles" ->
      s"""WITH pairs AS (${oLshNearDupPairs(3, NumHashes, BandSize, 0,
            TrigramTNum, TrigramTDen)}),
          e AS (SELECT i, j FROM pairs),
          tri AS (
            SELECT ab.i AS a, ab.j AS b, bc.j AS c
            FROM e ab
            JOIN e bc ON ab.j = bc.i
            JOIN e ac ON ac.i = ab.i AND ac.j = bc.j),
          tpn AS (
            SELECT doc_id, COUNT(1) AS n_tri FROM (
              SELECT a AS doc_id FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
            GROUP BY doc_id),
          deg AS (
            SELECT doc_id, COUNT(1) AS degree FROM (
              SELECT i AS doc_id FROM e UNION ALL SELECT j FROM e)
            GROUP BY doc_id)
          SELECT deg.doc_id, deg.degree,
            COALESCE(tpn.n_tri, 0) AS n_tri,
            CASE WHEN deg.degree >= 2
                 THEN CAST(2 * COALESCE(tpn.n_tri, 0) AS DOUBLE)
                      / (deg.degree * (deg.degree - 1))
                 ELSE CAST(0.0 AS DOUBLE) END AS clustering
          FROM deg LEFT JOIN tpn ON deg.doc_id = tpn.doc_id""",

    "q150_label_prop" -> {
      def round(prev: String, cur: String) =
        s"""$cur AS (
              SELECT id, lbl FROM (
                SELECT e.src AS id, l.lbl, COUNT(1) AS c,
                  ROW_NUMBER() OVER (PARTITION BY e.src
                    ORDER BY COUNT(1) DESC, l.lbl) AS rk
                FROM edges e JOIN $prev l ON e.dst = l.id
                GROUP BY e.src, l.lbl)
              WHERE rk = 1)"""
      s"""WITH pairs AS (SELECT i, j FROM (${oLshNearDupPairs(3, NumHashes,
            BandSize, 0, TrigramTNum, TrigramTDen)})),
          nodes AS (SELECT DISTINCT id FROM (
            SELECT i AS id FROM pairs UNION ALL SELECT j FROM pairs)),
          edges AS (SELECT i AS src, j AS dst FROM pairs
                    UNION ALL SELECT j AS src, i AS dst FROM pairs
                    UNION ALL SELECT id AS src, id AS dst FROM nodes),
          l0 AS (SELECT id, id AS lbl FROM nodes),
          ${round("l0", "l1")},
          ${round("l1", "l2")},
          ${round("l2", "l3")},
          sizes AS (SELECT lbl, COUNT(1) AS n_members FROM l3 GROUP BY lbl)
          SELECT l3.id AS doc_id, l3.lbl AS community, sizes.n_members
          FROM l3 JOIN sizes ON l3.lbl = sizes.lbl"""
    },

    "q139_max_dup_span" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n
           FROM documents),
         wins AS (
           SELECT doc_id, p,
                  md5(array_to_string(list_slice(tk, p, p + 31), ' ')) AS wh
           FROM (SELECT doc_id, tk, unnest(range(1, n - 30)) AS p
                 FROM base WHERE n >= 32)),
         dupwh AS (
           SELECT wh FROM wins GROUP BY wh
           HAVING COUNT(DISTINCT doc_id) >= 2),
         dup AS (SELECT w.* FROM wins w JOIN dupwh USING (wh)),
         pr AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
           FROM dup a JOIN dup b ON a.wh = b.wh AND a.doc_id < b.doc_id),
         runs AS (
           SELECT doc_a, doc_b, pa - pb AS diag, pa,
                  pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                          ORDER BY pa) AS grp
           FROM pr),
         spans AS (
           SELECT doc_a, doc_b, COUNT(1) + 31 AS span
           FROM runs GROUP BY doc_a, doc_b, diag, grp)
         SELECT doc_a, doc_b, CAST(MAX(span) AS BIGINT) AS max_span_tok
         FROM spans GROUP BY doc_a, doc_b""",

    "q176_dup_mass" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n
           FROM documents),
         wins AS (
           SELECT doc_id, p,
                  md5(array_to_string(list_slice(tk, p, p + 31), ' ')) AS wh
           FROM (SELECT doc_id, tk, unnest(range(1, n - 30)) AS p
                 FROM base WHERE n >= 32)),
         dupwh AS (
           SELECT wh FROM wins GROUP BY wh
           HAVING COUNT(DISTINCT doc_id) >= 2),
         dup AS (SELECT w.doc_id, w.p FROM wins w JOIN dupwh USING (wh)),
         flagged AS (
           SELECT doc_id, p,
             CASE WHEN MAX(p + 32) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR p > MAX(p + 32) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS newi
           FROM dup),
         grouped AS (
           SELECT doc_id, p,
             SUM(newi) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM flagged),
         islands AS (
           SELECT doc_id, grp, MAX(p) + 32 - MIN(p) AS len
           FROM grouped GROUP BY doc_id, grp),
         per AS (
           SELECT doc_id, SUM(len) AS dup_tokens
           FROM islands GROUP BY doc_id)
         SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tok,
           CAST(COALESCE(per.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(per.dup_tokens, 0) AS DOUBLE) / b.n AS dup_frac
         FROM base b LEFT JOIN per USING (doc_id)""",

    "q177_exactsubstr_clip" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n
           FROM documents),
         wins AS (
           SELECT doc_id, p,
                  md5(array_to_string(list_slice(tk, p, p + 31), ' ')) AS wh
           FROM (SELECT doc_id, tk, unnest(range(1, n - 30)) AS p
                 FROM base WHERE n >= 32)),
         dupwh AS (
           SELECT wh FROM wins GROUP BY wh
           HAVING COUNT(DISTINCT doc_id) >= 2),
         dup AS (SELECT w.doc_id, w.p, w.wh
                 FROM wins w JOIN dupwh USING (wh)),
         owners AS (SELECT wh, MIN(doc_id) AS owner FROM dup GROUP BY wh),
         foreign_w AS (
           SELECT d.doc_id, d.p FROM dup d JOIN owners USING (wh)
           WHERE owners.owner < d.doc_id),
         flagged AS (
           SELECT doc_id, p,
             CASE WHEN MAX(p + 32) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR p > MAX(p + 32) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS newi
           FROM foreign_w),
         grouped AS (
           SELECT doc_id, p,
             SUM(newi) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM flagged),
         islands AS (
           SELECT doc_id, grp, MAX(p) + 32 - MIN(p) AS len
           FROM grouped GROUP BY doc_id, grp),
         per AS (
           SELECT doc_id, SUM(len) AS clipped
           FROM islands GROUP BY doc_id)
         SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tok,
           CAST(COALESCE(per.clipped, 0) AS BIGINT) AS clipped_tokens,
           CAST(b.n - COALESCE(per.clipped, 0) AS BIGINT) AS kept_tokens
         FROM base b LEFT JOIN per USING (doc_id)""",

    "q192_simhash64_dedup" -> {
      val votes = (0 until SimhashBits64).map(b =>
        s"""list_sum(list_transform(ht, h ->
              CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) AS v$b""")
        .mkString(",\n              ")
      val shBits = (0 until SimhashBits64).map(b =>
        s"CASE WHEN v$b >= 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
        .mkString(" + ")
      s"""WITH ht AS (
            SELECT doc_id,
              list_transform(string_split(text, ' '), w ->
                CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT)) AS ht
            FROM documents),
          votes AS (
            SELECT doc_id,
              $votes
            FROM ht),
          sim AS (SELECT doc_id, $shBits AS sh FROM votes),
          banded AS (
            SELECT doc_id, sh, j AS b,
              (sh >> (j * 15)) & ${(1L << 15) - 1} AS k
            FROM sim, UNNEST(range(0, 4)) AS u(j)),
          cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
              x.sh AS sha, y.sh AS shb
            FROM banded x JOIN banded y
              ON x.b = y.b AND x.k = y.k AND x.doc_id < y.doc_id)
          SELECT doc_a, doc_b,
            CAST(bit_count(xor(sha, shb)) AS BIGINT) AS hamming
          FROM cand WHERE bit_count(xor(sha, shb)) <= 3"""
    },

    "q190_span_leakage" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n
           FROM documents),
         wins AS (
           SELECT doc_id,
                  md5(array_to_string(list_slice(tk, p, p + 31), ' ')) AS wh
           FROM (SELECT doc_id, tk, unnest(range(1, n - 30)) AS p
                 FROM base WHERE n >= 32)),
         dupwh AS (
           SELECT wh FROM wins GROUP BY wh
           HAVING COUNT(DISTINCT doc_id) >= 2),
         by_src AS (
           SELECT DISTINCT w.wh, d.source
           FROM wins w JOIN dupwh USING (wh)
           JOIN documents d ON w.doc_id = d.doc_id)
         SELECT a.source AS src_a, b.source AS src_b,
           COUNT(1) AS n_shared_digests
         FROM by_src a JOIN by_src b
           ON a.wh = b.wh AND a.source < b.source
         GROUP BY 1, 2""",

    "q191_span_decontam" ->
      """WITH base AS (
           SELECT doc_id, string_split(text, ' ') AS tk,
                  len(string_split(text, ' ')) AS n
           FROM documents),
         split AS (
           SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) < '1a' AS heldout
           FROM documents),
         wins AS (
           SELECT doc_id, p,
                  md5(array_to_string(list_slice(tk, p, p + 31), ' ')) AS wh
           FROM (SELECT doc_id, tk, unnest(range(1, n - 30)) AS p
                 FROM base WHERE n >= 32)),
         dupwh AS (
           SELECT wh FROM wins GROUP BY wh
           HAVING COUNT(DISTINCT doc_id) >= 2),
         dup AS (SELECT w.doc_id, w.p, w.wh
                 FROM wins w JOIN dupwh USING (wh)),
         test_wh AS (
           SELECT DISTINCT d.wh FROM dup d JOIN split USING (doc_id)
           WHERE split.heldout),
         leaked AS (
           SELECT d.doc_id, d.p FROM dup d
           JOIN split USING (doc_id) JOIN test_wh USING (wh)
           WHERE NOT split.heldout),
         flagged AS (
           SELECT doc_id, p,
             CASE WHEN MAX(p + 32) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
               OR p > MAX(p + 32) OVER (PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS newi
           FROM leaked),
         grouped AS (
           SELECT doc_id, p,
             SUM(newi) OVER (PARTITION BY doc_id ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM flagged),
         islands AS (
           SELECT doc_id, grp, MAX(p) + 32 - MIN(p) AS len
           FROM grouped GROUP BY doc_id, grp),
         per AS (
           SELECT doc_id, SUM(len) AS leaked_tok
           FROM islands GROUP BY doc_id)
         SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tok,
           CAST(COALESCE(per.leaked_tok, 0) AS BIGINT) AS leaked_tokens,
           CAST(b.n - COALESCE(per.leaked_tok, 0) AS BIGINT) AS clean_tokens
         FROM base b JOIN split USING (doc_id)
         LEFT JOIN per ON b.doc_id = per.doc_id
         WHERE NOT split.heldout""",

    "q41_dedup_minhash" ->
      s"""SELECT doc_id, ${(0 until NumHashes).map(i => s"mh$i").mkString(", ")},
             ${oBandExprs.mkString(", ")}
          FROM ($oSigSelect)""",

    "q42_dedup_lsh_pairs" ->
      oLshNearDupPairs(3, NumHashes, BandSize, 0, TrigramTNum, TrigramTDen),

    "q43_dedup_simhash" ->
      s"""SELECT doc_id, CAST(${(0 until SimhashBits).map(b =>
              s"(CASE WHEN v$b >= 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")} AS BIGINT) AS simhash
          FROM (SELECT doc_id, ${(0 until SimhashBits).map(b =>
              s"${oSimhashVote("tk", b)} AS v$b").mkString(", ")}
                FROM (SELECT doc_id, $oToks AS tk FROM documents))""",

    "q44_dedup_ngram_jaccard" ->
      oLshNearDupPairs(2, BigramHashes, BigramBandSize, BigramSeedBase,
        BigramTNum, BigramTDen),

    "q45_dedup_embcos" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       ${oLshBucket("CAST(embedding AS DOUBLE[])")} AS bucket
                     FROM embeddings)
          SELECT i, j, sim FROM (
            SELECT x.vec_id AS i, y.vec_id AS j, ${oCosine("x.v", "y.v")} AS sim
            FROM e x JOIN e y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
          WHERE sim >= $CosineThreshold"""
  )
}
