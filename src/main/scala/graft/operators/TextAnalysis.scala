package graft.operators

import graft.Pinned._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import TextFns._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language-ID (stopword heuristic), and document
  * fingerprinting — all narrow per-row projections + one hash aggregation,
  * so they scale linearly (no shuffle except the final groupBy).
  *
  * Determinism-for-oracle: ratio aggregates are computed as
  * `sum(int)::double / sum(int)` (exact rational division) instead of
  * `avg(double)` (order-dependent rounding).
  */
object TextAnalysis {

  /** Corpus-derived vocabulary size for the q101 OOV rate. */
  val VocabK = 256

  /** Tiny English stopword list; enough for the heuristic language ID. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val stopArr = array(Stopwords.map(lit): _*)
  private val oStopList = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** BPE-ish token regex: letter runs, digit runs, single other non-space. */
  val BpeRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  private def t(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** Unigram-LM surprisal in exact integer bits (see the q113 map entry for
    * the full contract): per-token surprisal = floor(log2 T) − floor(log2
    * cnt) computed as binary-digit-count differences, per-doc mean as one
    * exact rational division. */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val vocab = tok.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("tot"))
    val agg = tok.join(broadcast(vocab), Seq("term"))
      .join(broadcast(tot))
      .select(col("doc_id"),
        (length(bin(col("tot"))) - length(bin(col("cnt")))).cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("bits")).as("sum_bits"))
    docs.select(col("doc_id"), col("source"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        when(coalesce(col("n_tok"), lit(0L)) > 0,
          col("sum_bits").cast("double") / col("n_tok"))
          .otherwise(lit(0.0)).as("mean_bits"))
  }

  /** Low-entropy cutoff for [[charEntropy]]'s flag: mean bits/char below 2
    * marks the degenerate repeats ("aaaa…" scores 0; two-char alternation
    * ~1) while natural text's floor-approximated entropy sits well above. */
  val CharEntropyMin = 2.0

  /** Character-distribution entropy in exact integer bits (q149 — see the
    * map entry for the full contract). */
  def charEntropy(docs: DataFrame): DataFrame = {
    val freq = docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("n"))
    val agg = freq.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum(col("n") * length(bin(col("n")))).as("sum_nlog"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct"),
        (col("n_chars") * length(bin(col("n_chars"))) - col("sum_nlog"))
          .as("sum_bits"))
    docs.select(col("doc_id"), col("source"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        when(coalesce(col("n_chars"), lit(0L)) > 0,
          col("sum_bits").cast("double") / col("n_chars"))
          .otherwise(lit(0.0)).as("mean_bits"))
      .withColumn("low_entropy", col("mean_bits") < CharEntropyMin)
  }

  /** (doc_id, prev, cur) transition rows, built INSIDE each row (slice +
    * zip_with over the token array — zero shuffle, no posexplode self-join). */
  def bigrams(docs: DataFrame): DataFrame = {
    val tk = toks(col("text"))
    docs.select(col("doc_id"),
        explode(zip_with(
          slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1),
          (a, b) => struct(a.as("p"), b.as("c")))).as("bg"))
      .select(col("doc_id"), col("bg.p").as("prev"), col("bg.c").as("cur"))
  }

  /** Bigram conditional surprisal (see the q123 map entry for the full
    * contract): per-transition bits under add-one smoothing, per-doc mean. */
  def bigramSurprisal(docs: DataFrame): DataFrame = {
    val tk = toks(col("text"))
    val big = bigrams(docs)
    val bgCnt = big.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("c_bg"))
    val ctxCnt = bgCnt.groupBy(col("prev")).agg(sum(col("c_bg")).as("c_prev"))
    val vocabN = docs.select(explode(tk).as("term"))
      .agg(countDistinct(col("term")).as("v"))
    val agg = big
      .join(broadcast(bgCnt), Seq("prev", "cur"))
      .join(broadcast(ctxCnt), Seq("prev"))
      .join(broadcast(vocabN))
      .select(col("doc_id"),
        (length(bin(col("c_prev") + col("v"))) -
          length(bin(col("c_bg") + 1))).cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_big"), sum(col("bits")).as("sum_bits"))
    docs.select(col("doc_id"), col("source"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        when(coalesce(col("n_big"), lit(0L)) > 0,
          col("sum_bits").cast("double") / col("n_big"))
          .otherwise(lit(0.0)).as("mean_bits"))
  }

  /** Interpolated Kneser–Ney bigram surprisal (q215) — the
    * continuation-probability rung above q123's add-one smoothing (Kneser &
    * Ney 1995; Chen & Goodman 1999's interpolated form). With discount
    * d = 3/4 the probability clears to ONE exact rational per transition:
    *
    *   P(c|p) = max(c(pc)−d, 0)/c(p) + d·N1+(p·)/c(p) · N1+(·c)/N1+(··)
    *          = [max(4·c(pc)−3, 0)·N1 + 3·N1p·N1c] / [4·c(p)·N1]
    *
    * where N1p = distinct continuations of p, N1c = distinct predecessors
    * of c (the "how many contexts has c completed" mass that makes KN the
    * production LM smoother), N1 = distinct bigram types. num ≤ den always
    * (proof: c(pc) ≤ c(p)−N1p+1 and N1c ≤ N1 bound the two terms), so the
    * exact-integer bits currency digits(den) − digits(num) is well-defined
    * and ≥ 0. All model tables are vocabulary-sized broadcasts; the corpus
    * pass is one doc_id-keyed aggregation — the q113/q123 plan shape.
    * int64 envelope: 4·c(p)·N1 ≤ 9.2e18 holds to ~1e9-token corpora with
    * 1e9 bigram types; past that the products move to DECIMAL(38,0) and
    * the digit count to a scaled comparison, with zero structural change. */
  def knSurprisal(docs: DataFrame): DataFrame = {
    val big = bigrams(docs)
    val bgCnt = big.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("c_bg"))
    val ctx = bgCnt.groupBy(col("prev"))
      .agg(sum(col("c_bg")).as("c_prev"), count(lit(1)).as("n1p"))
    val cont = bgCnt.groupBy(col("cur")).agg(count(lit(1)).as("n1c"))
    val n1 = bgCnt.agg(count(lit(1)).as("n1"))
    val agg = big
      .join(broadcast(bgCnt), Seq("prev", "cur"))
      .join(broadcast(ctx), Seq("prev"))
      .join(broadcast(cont), Seq("cur"))
      .join(broadcast(n1))
      .select(col("doc_id"),
        (greatest(lit(0L), col("c_bg") * 4 - 3) * col("n1") +
          lit(3L) * col("n1p") * col("n1c")).as("num"),
        (col("c_prev") * 4 * col("n1")).as("den"))
      .select(col("doc_id"),
        (length(bin(col("den"))) - length(bin(col("num"))))
          .cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_big"), sum(col("bits")).as("sum_bits"))
    docs.select(col("doc_id"), col("source"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        when(coalesce(col("n_big"), lit(0L)) > 0,
          col("sum_bits").cast("double") / col("n_big"))
          .otherwise(lit(0.0)).as("mean_bits"))
  }

  /** CDC boundary divisor: a 16-byte window whose rolling hash ≡ 0 mod 64
    * opens a new chunk → ~64-char expected chunks on natural text. A power
    * of two so the 100 TB deployment can swap the modulo for a mask with
    * identical semantics. */
  val CdcDiv = 64

  /** Content-defined chunk rows (q217's stage one): every doc split at
    * positions where the 16-byte Rabin–Karp window hash (the q55
    * [[graft.functions.RollingHash]] expression — one O(n) codegen'd pass)
    * is ≡ 0 mod [[CdcDiv]]. Boundaries are a pure function of local CONTENT,
    * not position — the LBFS/rsync property: an insertion shifts every
    * fixed-width chunk after it (q83's failure mode for storage dedup),
    * but content-defined boundaries re-synchronize at the next hash match,
    * so all later chunks keep their identity. Emits one (doc_id, source,
    * digest, n_chars) row per chunk — fixed-width digests are all that
    * ever shuffles. */
  def cdcChunkRows(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("doc_id"), col("source"), col("text"),
        call_function("graft_rolling_hash", col("text"), lit(16)).as("rh"))
      .select(col("doc_id"), col("source"), col("text"),
        concat(array(lit(1)),
          when(size(col("rh")) >= 2,
            filter(sequence(lit(2), size(col("rh"))),
              p => element_at(col("rh"), p) % CdcDiv === 0))
            .otherwise(array().cast("array<int>"))).as("st"))
    st.select(col("doc_id"), col("source"),
        explode(zip_with(col("st"),
          concat(slice(col("st"), lit(2),
              greatest(size(col("st")) - 1, lit(0))),
            array(length(col("text")) + 1)),
          (s0, e) => struct(
            md5(col("text").substr(s0, e - s0)).as("digest"),
            (e - s0).cast("long").as("n_chars")))).as("c"))
      .select(col("doc_id"), col("source"), col("c.digest").as("digest"),
        col("c.n_chars").as("n_chars"))
  }

  /** Number of unrolled BPE merge rounds for the q178/q184/q185 ladder.
    * 24 rounds (up from the 3 that demonstrated the loop) witnesses the
    * claim SCALE.md makes: the corpus is scanned exactly ONCE (the word-
    * frequency reduction) no matter how deep the ladder goes — every round
    * past it is vocabulary-sized (pair-count agg + 1-row argmax + replace
    * over the distinct word list), so deepening 8× moves the bench by well
    * under a second. A real tokenizer train runs thousands of rounds of
    * exactly this per-round shape; the unroll count is the only thing that
    * grows. */
  val BpeMergeRounds = 24

  // ----- shared BPE machinery (q178 merge discovery, q184 compression) -----

  /** Word-frequency list in the double-space boundary encoding " a  b  c "
    * (see the q178 map entry for why single spaces lose same-pair runs). */
  private def bpeSeq0(s: SparkSession, d: String): DataFrame =
    t(s, d).select(explode(toks(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        concat(lit(" "), trim(regexp_replace(col("w"), "(.)", "$1  ")),
          lit(" ")).as("seq"))

  /** Freq-weighted adjacent-pair counts over a (w, freq, seq) frame. */
  private def bpePairCounts(df: DataFrame): DataFrame = {
    val sy = split(trim(col("seq")), "  ")
    df.select(col("freq"), sy.as("sy"))
      .select(col("freq"), explode(
        when(size(col("sy")) >= 2,
          transform(sequence(lit(1), size(col("sy")) - 1),
            i => struct(element_at(col("sy"), i).as("l"),
              element_at(col("sy"), i + 1).as("r"))))
          .otherwise(array().cast("array<struct<l:string,r:string>>")))
        .as("pr"))
      .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
      .agg(sum(col("freq")).as("cnt"))
  }

  /** Total-order argmax pair: cnt DESC, then (l, r) ascending. */
  private def bpeTop(pairs: DataFrame): DataFrame =
    pairs.orderBy(col("cnt").desc, col("l"), col("r")).limit(1)

  /** Apply the 1-row top pair everywhere via boundary-preserving replace. */
  private def bpeApply(df: DataFrame, top: DataFrame): DataFrame =
    df.withColumn("k", lit(1))
      .join(broadcast(top.select(lit(1).as("k"), col("l").as("ml"),
        col("r").as("mr"))), "k")
      .select(col("w"), col("freq"),
        call_function("replace", col("seq"),
          concat(lit(" "), col("ml"), lit("  "), col("mr"), lit(" ")),
          concat(lit(" "), col("ml"), col("mr"), lit(" "))).as("seq"))

  // The merge ladder is shared by THREE queries (q178 discovery, q184
  // compression audit, q185 encoding) and is identical across them — the
  // [[graft.operators.Dedup]] memo discipline applies: compute the
  // vocabulary-sized stage frames once per (session, sf dir), lazily
  // checkpointed (which also stops the round-over-round plan nesting), and
  // let every consumer read the pinned frames. State is vocabulary-sized
  // (the 100 TB story: a real tokenizer train materializes exactly these).
  private val bpeCache =
    new graft.SessionMemo[(Seq[DataFrame], Seq[DataFrame])](v => v._1 ++ v._2)

  // The q199 decode chain reads the bigram count table in all ten steps
  // (and the bench runs the query three times) — memoize it with the
  // ladder discipline: vocabulary-pair-sized, checkpointed once per
  // (session, dir).
  private val bigramCache = graft.SessionMemo.ofFrames()

  private def bigramCounts(s: SparkSession, d: String): DataFrame =
    bigramCache.getOrCompute(s, d)(
      t(s, d).select(col("doc_id"), toks(col("text")).as("tk"))
        .select(explode(when(size(col("tk")) >= 2,
          transform(sequence(lit(1), size(col("tk")) - 1),
            i => struct(element_at(col("tk"), i).as("w1"),
              element_at(col("tk"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
          .as("b"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("cnt"))
        .pin(false))

  /** (top pair per round 1..R, seq frames for stages 0..R), memoized.
    *
    * Store-backed ([[graft.ModelStore]]): the merge table IS the trained
    * tokenizer — at 100 TB it is the artifact a training run ships — so
    * it persists content-addressed on (corpus digest, round count). A
    * session that finds the artifact REPLAYS the ladder (R cheap
    * bpeApply stages — encoding the corpus under the loaded tokenizer,
    * exactly what deployment does) and skips the R pair-count + argmax
    * discovery rounds entirely; a cold store trains once and records
    * the merges it found. Both paths apply identical merge values to
    * identical stage-0 frames, so the resulting ladder is the same
    * frame-for-frame (ModelStoreSpec pins q178 across the two paths). */
  private def bpeLadder(s: SparkSession, d: String)
      : (Seq[DataFrame], Seq[DataFrame]) =
    bpeCache.getOrCompute(s, d) {
      import s.implicits._
      // A round whose pair counts run dry has an EMPTY top (a corpus
      // smaller than the round budget — the run-of-same-pair edge specs
      // drive this); it merges nothing and is recorded as an absent round
      // in the artifact, reconstructed as an empty frame on replay.
      def localTop(m: Option[(Long, String, String, Long)]): DataFrame =
        m.map(x => Seq((x._2, x._3, x._4)))
          .getOrElse(Seq.empty[(String, String, Long)])
          .toDF("l", "r", "cnt")
      val digest = graft.ModelStore.digestOf(
        t(s, d).select(col("doc_id"), col("text")), Seq("doc_id", "text"))
      val hyper = s"rounds=$BpeMergeRounds"
      graft.ModelStore.lookupKv(s, "bpe_merges", digest, hyper) match {
        case Some(merges) =>
          val byRound = merges.map(m => m._1 -> m).toMap
          var cur = bpeSeq0(s, d).pin(false)
          val seqs = Seq.newBuilder[DataFrame]
          seqs += cur
          val tops = (1 to BpeMergeRounds).map { i =>
            val top = localTop(byRound.get(i.toLong))
            cur = bpeApply(cur, top).pin(false)
            seqs += cur
            top
          }
          (tops, seqs.result())
        case None =>
          graft.ModelStore.trains.incrementAndGet()
          var cur = bpeSeq0(s, d).pin(false)
          val tops = Seq.newBuilder[DataFrame]
          val seqs = Seq.newBuilder[DataFrame]
          val merges = Seq.newBuilder[(Long, String, String, Long)]
          seqs += cur
          (1 to BpeMergeRounds).foreach { i =>
            val top = bpeTop(bpePairCounts(cur)).pin(false)
            top.collect().headOption.foreach { r =>
              merges += ((i.toLong, r.getAs[String]("l"), r.getAs[String]("r"),
                r.getAs[Long]("cnt")))
            }
            tops += top
            cur = bpeApply(cur, top).pin(false)
            seqs += cur
          }
          graft.ModelStore.putKv(s, "bpe_merges", digest, hyper, merges.result())
          (tops.result(), seqs.result())
      }
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- BPE merge discovery (tokenizer training, 3 exact rounds) ----------
    // The core loop of byte-pair-encoding tokenizer training (Sennrich et
    // al. 2016): count adjacent symbol pairs over the word-frequency list,
    // merge the most frequent pair everywhere, repeat. Three rounds
    // unrolled (the q118 PageRank discipline — no driver iteration). Every
    // step is exact and engine-portable:
    //   - pair counts are freq-weighted integer sums over the DISTINCT
    //     word list (vocabulary-sized, never corpus-sized — the corpus
    //     scan is one explode+groupBy);
    //   - the argmax merge breaks ties (cnt DESC, l ASC, r ASC) — total
    //     order, no randomness;
    //   - applying a merge is string `replace` under the DOUBLE-SPACE
    //     boundary representation " a  b  c ": every symbol owns one
    //     space on each side, so replacing " l  r " with " lr " is
    //     exactly greedy left-to-right BPE application — consecutive
    //     matches in a run each keep their own boundary space (the
    //     single-space encoding loses runs: " a a a a " merges only
    //     once). Identical non-overlapping replace semantics in Spark
    //     and DuckDB.
    // Scale: all work past the corpus token count is vocabulary-sized;
    // the 1-row argmax broadcasts back via a literal-key equi join (a
    // BroadcastHashJoin, not a nested loop). At 100 TB the word list is
    // the classic BPE-training reduction (GPT-2's was ~50k entries).
    "q178_bpe_merges" -> ((s, d) => {
      val (tops, _) = bpeLadder(s, d)
      tops.zipWithIndex.map { case (top, i) =>
        top.select(lit(i + 1).as("round"), col("l").as("left_sym"),
          col("r").as("right_sym"), concat(col("l"), col("r")).as("merged"),
          col("cnt").as("pair_count"))
      }.reduce(_ unionAll _)
    }),

    // --- BPE compression audit (applied count != positional count) ---------
    // The acceptance read for q178's merge table: how much does each merge
    // actually SHRINK the corpus? applied_count = symbols before − after is
    // the true number of merge applications, which is strictly less than
    // q178's positional pair_count whenever the pair self-overlaps in a
    // run ("aaaa" counts (a,a) three times but greedy merging applies it
    // twice) — the classic off-by-run BPE bookkeeping trap, made explicit.
    // Totals are freq-weighted integer sums over the vocabulary frame; the
    // three 1-row scalars (argmax, before, after) meet in scalar joins.
    "q184_bpe_compression" -> ((s, d) => {
      val (tops, seqs) = bpeLadder(s, d)
      // Stage totals as ONE tall aggregate instead of two 1-row broadcast
      // aggs per round: the per-round crossJoin form planned 2·R separate
      // per-stage total subtrees and broadcast builds (R=24 → 52 jobs measured on
      // the warm ladder); tagging the pinned stage frames with their index
      // and aggregating once yields the identical 25 integers in a single
      // vocabulary-sized pass, met by two broadcast joins on the round key.
      val totals = seqs.zipWithIndex.map { case (sq, i) =>
          sq.select(lit(i).as("stage"), col("freq"), col("seq"))
        }.reduce(_ unionAll _)
        .groupBy(col("stage"))
        .agg(sum(col("freq") * size(split(trim(col("seq")), "  ")))
          .as("total"))
      val rounds = tops.zipWithIndex.map { case (top, i) =>
        top.select(lit(i + 1).as("round"), col("l").as("left_sym"),
          col("r").as("right_sym"), col("cnt").as("pair_count"))
      }.reduce(_ unionAll _)
      rounds
        .join(broadcast(totals.select((col("stage") + 1).as("round"),
          col("total").as("total_before"))), "round")
        .join(broadcast(totals.select(col("stage").as("round"),
          col("total").as("total_after"))), "round")
        .select(col("round"), col("left_sym"), col("right_sym"),
          col("pair_count"), col("total_before"), col("total_after"),
          (col("total_before") - col("total_after")).as("applied_count"))
    }),

    // --- BPE corpus encoding (the trained tokenizer applied) ---------------
    // Completes the tokenizer pipeline q178 trains and q184 audits: encode
    // every document under the 3 learned merges and report per-source
    // token economics — symbols per word occurrence, chars per symbol (the
    // compression a tokenizer buys). The encoder is a VOCABULARY-sized
    // broadcast join (distinct word -> encoded symbol count), never a
    // per-document re-merge: identical words encode identically, so the
    // corpus-scale pass is one explode + one broadcast lookup + one agg —
    // exactly how production tokenizers amortize (encode the vocab once,
    // stream the corpus through it).
    "q185_bpe_encode" -> ((s, d) => {
      val s3 = bpeLadder(s, d)._2.last
      val vocab = s3.select(col("w"),
        size(split(trim(col("seq")), "  ")).as("n_sym"),
        length(col("w")).as("n_ch"))
      t(s, d).select(col("source"), explode(toks(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .join(broadcast(vocab), "w")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("n_ch")).as("n_chars"),
          sum(col("n_sym")).as("n_symbols"))
        .select(col("source"), col("n_tokens"), col("n_chars"),
          col("n_symbols"),
          (col("n_chars").cast("double") / col("n_symbols"))
            .as("chars_per_symbol"))
    }),

    // --- greedy bigram-LM decode (the trained-model demo) -------------------
    // The q123 bigram counts USED as a language model: starting from the
    // modal token, follow the argmax successor (count DESC, token ASC — a
    // total order, so the chain is deterministic) for 10 steps — greedy
    // decoding, the temperature-0 inference every LM serving stack
    // bottoms out in. Ten unrolled steps (the q178/q118 no-driver-loop
    // discipline); each step is a vocabulary-sized filter + a 1-row
    // argmax broadcast back as a scalar — corpus touched exactly once for
    // the count tables. A dead-end token (no successor) ends the chain in
    // both engines identically: the 1-row frame goes empty and later
    // steps emit nothing.
    "q199_bigram_decode" -> ((s, d) => {
      val steps = 10
      val bigrams = bigramCounts(s, d)
      val seed = t(s, d)
        .select(explode(toks(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(1)
        .select(lit(0).as("step"), col("w").as("token"), col("cnt"))
      // each 1-row step is lazily checkpointed so step i+1 references a
      // tiny RDD scan instead of embedding the entire prefix plan (the
      // un-checkpointed chain planned 1+2+..+10 = 55 nested joins)
      val chain = (1 to steps).scanLeft(seed.pin(false)) {
        (cur, i) =>
          bigrams
            .join(broadcast(cur.select(col("token").as("prev"))),
              col("w1") === col("prev"))
            .orderBy(col("cnt").desc, col("w2")).limit(1)
            .select(lit(i).as("step"), col("w2").as("token"), col("cnt"))
            .pin(false)
      }
      chain.reduce(_ unionAll _)
    }),

    // --- token counting: whitespace + BPE-ish regex ------------------------
    "q30_text_tokens" -> ((s, d) =>
      t(s, d).select(
        col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tok"),
        size(regexp_extract_all(col("text"), lit(BpeRegex), lit(0)))
          .cast("long").as("n_bpe_tok"),
        length(col("text")).cast("long").as("n_chars_calc"),
        (length(regexp_replace(col("text"), " ", "")).cast("double") /
          size(toks(col("text")))).as("avg_tok_len"))),

    // --- per-source quality scoring (length / stopword / unique-ratio) -----
    "q31_text_quality" -> ((s, d) =>
      t(s, d)
        .select(
          col("source"),
          size(toks(col("text"))).as("n_tok"),
          size(filter(toks(col("text")), w => array_contains(stopArr, w))).as("n_stop"),
          size(array_distinct(toks(col("text")))).as("n_uniq"))
        .withColumn("is_quality",
          (col("n_tok") >= 20 && col("n_tok") <= 90 &&
            col("n_stop").cast("double") / col("n_tok") < lit(0.4)).cast("int"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("sum_tok"),
          (sum(col("n_stop")).cast("double") / sum(col("n_tok"))).as("stop_ratio"),
          (sum(col("n_uniq")).cast("double") / sum(col("n_tok"))).as("uniq_ratio"),
          sum(col("is_quality")).as("n_quality"))),

    // --- heuristic language ID (stopword-hit ratio) ------------------------
    "q32_text_langid" -> ((s, d) =>
      t(s, d)
        .select(
          col("lang"),
          (size(filter(toks(col("text")), w => array_contains(stopArr, w)))
            .cast("double") / size(toks(col("text")))).as("stop_ratio"))
        .withColumn("lang_pred",
          when(col("stop_ratio") >= 0.05, "en")
            .when(col("stop_ratio") >= 0.01, "en_low")
            .otherwise("und"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("stop_ratio")).as("min_ratio"),
          max(col("stop_ratio")).as("max_ratio"))),

    // --- tf-idf-style term weighting, top-3 terms per doc ------------------
    // idf is the rational N/df rather than ln(N/df): same ranking (monotone
    // transform), but exact int/int arithmetic — ln() is not bit-identical
    // across libm implementations, and the oracle gate hash-compares values.
    "q34_text_tfidf" -> ((s, d) => {
      val tf = t(s, d)
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val n = t(s, d).select(countDistinct(col("doc_id")).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("weight").desc, col("term"))
      tf.join(df_, "term")
        .join(broadcast(n))
        .withColumn("weight",
          col("tf") * (col("n_docs").cast("double") / col("df")))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
          col("df"), col("weight"))
    }),

    // --- unigram-LM surprisal score (perplexity-proxy quality filter) ------
    // The CCNet-family filter axis without the neural LM: score each doc by
    // the mean information content of its tokens under the corpus's own
    // unigram distribution. High-surprisal docs are rare-token-heavy
    // (gibberish / OCR noise candidates), low-surprisal docs are
    // boilerplate-common. Surprisal is carried in exact INTEGER BITS —
    // floor(log2 T) − floor(log2 cnt) via binary-digit counts (bin() here,
    // format('{:b}') in the oracle) — because ln/log2 mantissas are not
    // bit-identical across libm implementations but integer digit counts
    // are; the score is within 1 bit of −log2 p per token and perfectly
    // reproducible. Scale shape: the vocab (token, cnt) table is
    // vocabulary-sized and broadcast with the scalar total; the corpus side
    // is one explode + one doc_id-keyed hash agg — cost linear in tokens.
    "q113_unigram_surprisal" -> ((s, d) => unigramSurprisal(t(s, d))),

    // --- CCNet-style per-language surprisal buckets (q151) -----------------
    // The cross-domain normalization move (Wenzek et al.'s CCNet): a raw
    // LM score is incomparable ACROSS languages (every language has its
    // own perplexity floor), so CCNet thresholds each language against its
    // OWN distribution — rank docs by surprisal within language, split
    // head / middle / tail at the exact 1/3 and 2/3 rank boundaries, and
    // downstream mixing keeps e.g. head+middle. Composes q113's
    // exact-integer unigram surprisal with one per-lang window; the bucket
    // decision rank·3 ≤ n is all-integer (no percentile float). Scale:
    // ranking partitions by language — each partition sorts its own docs,
    // embarrassingly parallel across languages; production replaces the
    // within-language sort by the q128 histogram rank-walk when a single
    // language no longer fits a sort (same output, two hash aggs).
    "q151_ccnet_buckets" -> ((s, d) => {
      val sur = unigramSurprisal(t(s, d))
        .select(col("doc_id"), col("mean_bits"))
      val scored = t(s, d).select(col("doc_id"), col("lang"))
        .join(sur, Seq("doc_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("mean_bits").asc, col("doc_id"))
      val part = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
      scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("n_lang", count(lit(1)).over(part))
        .select(col("doc_id"), col("lang"), col("mean_bits"),
          col("rank"), col("n_lang"),
          when(col("rank") * 3 <= col("n_lang"), lit("head"))
            .when(col("rank") * 3 <= col("n_lang") * 2, lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
    }),

    // --- character-distribution entropy (gibberish / spam floor) -----------
    // The quality filter below the token level: a doc whose CHARACTER
    // distribution carries almost no information ("aaaa…", "ababab…",
    // base64 walls collapse the other way) is machine junk whatever its
    // token stats say. Same exact-integer discipline as the surprisal
    // family (q113/q123/q131): per-char bits = binary-digit-count
    // difference digits(N) − digits(n_c), summed via the algebraic
    // identity Σ n_c·(digits(N) − digits(n_c)) = N·digits(N) − Σ
    // n_c·digits(n_c), so the whole entropy is two int64 aggregates and
    // ONE exact long/long division at the end — engine-portable, no libm
    // log. Purely per-doc: two hash aggs keyed by (doc_id[, char]), no
    // corpus-wide vocabulary join at all, so at 100 TB this is
    // embarrassingly parallel and shuffles only char-histogram rows
    // (≤ alphabet size per doc, NOT n_chars rows past the first agg).
    "q149_char_entropy" -> ((s, d) => charEntropy(t(s, d))),

    // --- bigram conditional surprisal (the Markov rung above q113) ---------
    // Per transition i: −log2 P(w_i | w_{i−1}) under add-one smoothing,
    // P = (c(prev,cur)+1) / (c(prev)+V), in EXACT integer bits as the
    // binary-digit-count difference (q113's trick — within 1 bit of the
    // real value, bit-identical across engines where ln mantissas are not).
    // Bigrams are built INSIDE the row (slice + zip_with over the token
    // array — zero shuffle, no posexplode self-join); c(prev) is the
    // context marginal Σ_cur c(prev,cur), derived from the bigram table so
    // numerator and denominator count the same population. Scale shape:
    // the bigram-count table is min(tokens, V²)-bounded (sub-linear in
    // corpus bytes, Heaps' law squared) and broadcast here; at a scale
    // where it outgrows broadcast, the same query swaps both count joins
    // to (prev,cur)-keyed shuffles and nothing else changes. A doc with
    // < 2 tokens has no transitions: n_big = 0, mean 0 via the left join.
    "q123_bigram_surprisal" -> ((s, d) => bigramSurprisal(t(s, d))),

    // --- Kneser–Ney bigram surprisal (see [[knSurprisal]]) -----------------
    // The production-LM smoother over the same bigram machinery: the
    // backoff mass is CONTINUATION frequency (how many contexts a token
    // completes), not raw frequency — the distinction that makes
    // "Francisco" cheap after "San" but expensive elsewhere. Same
    // vocabulary-sized broadcasts + one doc_id agg as q123.
    "q215_kneser_ney" -> ((s, d) => knSurprisal(t(s, d))),

    // --- content-defined chunking dedup (see [[cdcChunkRows]]) -------------
    // The storage-dedup accounting over CDC chunks: per doc, how many
    // chunks, how many are shared with ANOTHER doc (or repeat within one),
    // and the duplicated char mass. Chunk digests group once for the
    // cross-doc census, then one digest-keyed join back + per-doc agg —
    // the corpus never shuffles text, only (digest, doc_id, n_chars)
    // fixed-width rows. Catches shifted/truncated re-crawls that
    // fixed-window chunking (q83) misses by construction.
    "q217_cdc_chunks" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val ch = cdcChunkRows(
        TextFns.fanCpu(t(s, d), col("doc_id")))
      val dd = ch.groupBy(col("digest"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
      ch.join(dd, Seq("digest"))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_occ") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
          sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_xdoc_chunks"),
          sum(when(col("n_occ") >= 2, col("n_chars")).otherwise(0L))
            .as("dup_chars"))
    }),

    // --- held-out bigram surprisal (the eval-hygiene composition) ----------
    // q123's model scored the data it was counted on — fine as a corpus
    // statistic, wrong as an EVAL. This is the held-out version: a
    // deterministic md5 split (25% validation), model counts (bigrams,
    // context marginals, vocab) from the TRAIN side only, scoring on the
    // VAL side only. Unseen transitions are the point — add-one smoothing
    // backs them off to len(bin(c_prev+V))−1 bits (uniform-over-vocab when
    // the context itself is unseen), via left joins + coalesce(0). The
    // production path swaps the md5 split for q103's cluster-inherited
    // labels so near-duplicate train docs can't leak into the eval side;
    // the scoring pipeline is unchanged. Scale shape identical to q123.
    "q131_heldout_surprisal" -> ((s, d) => {
      val docs = t(s, d)
      val isVal = substring(md5(concat(lit("split|"),
        col("doc_id").cast("string"))), 1, 1).isin("0", "1", "2", "3")
      val train = docs.filter(!isVal)
      val bgCnt = bigrams(train).groupBy(col("prev"), col("cur"))
        .agg(count(lit(1)).as("c_bg"))
      val ctxCnt = bgCnt.groupBy(col("prev")).agg(sum(col("c_bg")).as("c_prev"))
      val vocabN = train.select(explode(toks(col("text"))).as("term"))
        .agg(countDistinct(col("term")).as("v"))
      val agg = bigrams(docs.filter(isVal))
        .join(broadcast(bgCnt), Seq("prev", "cur"), "left")
        .join(broadcast(ctxCnt), Seq("prev"), "left")
        .join(broadcast(vocabN))
        .select(col("doc_id"),
          (length(bin(coalesce(col("c_prev"), lit(0L)) + col("v"))) -
            length(bin(coalesce(col("c_bg"), lit(0L)) + 1)))
            .cast("long").as("bits"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_big"), sum(col("bits")).as("sum_bits"))
      docs.filter(isVal).select(col("doc_id"), col("source"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_big"), lit(0L)).as("n_big"),
          coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
          when(coalesce(col("n_big"), lit(0L)) > 0,
            col("sum_bits").cast("double") / col("n_big"))
            .otherwise(lit(0.0)).as("mean_bits"))
    }),

    // --- exact pairwise source-vocabulary overlap ---------------------------
    // The EXACT tier under the q109 HLL union matrix: per source pair,
    // |A∩B| / |A∪B| over vocabularies (distinct token sets). Shape: ONE
    // distinct (term, source) projection (corpus-scale but narrow — a
    // token + a source id per row), then a term-keyed self-join whose
    // per-term fan-out is bounded by #sources² (each term contributes at
    // most one row per source after the distinct), so the pair volume is
    // #terms·S² — vocabulary-sized, never corpus². Union derives from
    // |A|+|B|−∩, so no second pass; the all-pairs scaffold joins on a
    // literal key (equi-planned, S²-sized) so empty intersections still
    // emit a row instead of silently dropping. Jaccard is one exact
    // int/int divide. At 100 TB swap the exact tier for q109's HLL matrix
    // when vocabulary itself stops fitting the shuffle; structurally
    // nothing else changes.
    "q155_vocab_overlap" -> ((s, d) => {
      val ts = t(s, d)
        .select(explode(toks(col("text"))).as("term"), col("source"))
        .distinct()
      val perSrc = ts.groupBy(col("source")).agg(count(lit(1)).as("n_types"))
      val inter = ts.as("a")
        .join(ts.as("b"), col("a.term") === col("b.term") &&
          col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_inter"))
      val pairs = perSrc.select(col("source").as("src_a"),
          col("n_types").as("n_types_a"))
        .join(broadcast(perSrc.select(col("source").as("src_b"),
          col("n_types").as("n_types_b"))), col("src_a") < col("src_b"))
      pairs.join(inter, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("n_types_a"), col("n_types_b"),
          coalesce(col("n_inter"), lit(0L)).as("n_inter"))
        .withColumn("n_union",
          col("n_types_a") + col("n_types_b") - col("n_inter"))
        .withColumn("jaccard",
          col("n_inter").cast("double") / col("n_union"))
    }),

    // --- DSIR hashed-ngram importance weights -------------------------------
    // Data Selection via Importance Resampling (Xie et al. 2023): score
    // every document by how much more likely its tokens are under a
    // TARGET bucket-unigram model than under the RAW corpus model, with
    // features hashed into B=256 buckets so the models are fixed-size
    // regardless of vocabulary. Target = the lexicographically-smallest
    // source (a deterministic "curated subset" stand-in; production
    // swaps in any reference corpus). Log-likelihood ratio in the
    // engine-portable exact-integer-bits currency of the q113 family:
    // weight = Σ_b c_doc[b]·(digits(c_t[b]+1) − digits(c_r[b]+1))
    //        + n_tok·(digits(T_r) − digits(T_t))   (add-one smoothing),
    // digits(x) = length of x's binary representation. Shape: one token
    // pass → (doc, bucket) counts (the only corpus-scale shuffle, keyed
    // by doc_id), models are 256-row aggregates broadcast back, per-doc
    // weight is one hash agg. The bucket models make this the shape that
    // holds at 100 TB: model size is B, not |vocab|.
    "q156_dsir_weights" -> ((s, d) => {
      val docs = t(s, d)
      val B = 256
      val tgtSrc = docs.agg(min(col("source")).as("tgt"))
      val bucket = pmod(conv(substring(md5(col("term")), 1, 15), 16, 10)
        .cast("long"), lit(B))
      val tok = docs.join(broadcast(tgtSrc))
        .select(col("doc_id"), col("source"), col("tgt"),
          explode(toks(col("text"))).as("term"))
        .select(col("doc_id"), (col("source") === col("tgt")).as("is_tgt"),
          bucket.as("b"))
      val docB = tok.groupBy(col("doc_id"), col("b"))
        .agg(count(lit(1)).as("c_doc"))
      val raw = tok.groupBy(col("b")).agg(count(lit(1)).as("c_raw"))
      val tgt = tok.filter(col("is_tgt")).groupBy(col("b"))
        .agg(count(lit(1)).as("c_tgt"))
      val model = raw.join(tgt, Seq("b"), "left")
        .select(col("b"), (col("c_raw") + 1).as("cr"),
          (coalesce(col("c_tgt"), lit(0L)) + 1).as("ct"))
      val totals = model.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
      val agg = docB.join(broadcast(model), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c_doc")).as("n_tok"),
          sum(col("c_doc") *
            (length(bin(col("ct"))) - length(bin(col("cr")))).cast("long"))
            .as("bucket_bits"))
      docs.select(col("doc_id"), col("source"))
        .join(agg, Seq("doc_id"), "left")
        .join(broadcast(totals))
        .select(col("doc_id"), col("source"),
          coalesce(col("n_tok"), lit(0L)).as("n_tok"),
          (coalesce(col("bucket_bits"), lit(0L)) +
            coalesce(col("n_tok"), lit(0L)) *
              (length(bin(col("tr"))) - length(bin(col("tt")))).cast("long"))
            .as("dsir_bits"))
        .withColumn("selected", col("dsir_bits") > 0)
    }),

    // --- Zipf tail exponent per language (exact-rational OLS) ---------------
    // The corpus-health diagnostic: natural language's rank-frequency
    // curve is approximately a power law; a flat slope flags synthetic/
    // templated text,
    // a cliff flags boilerplate domination. Fit log2 freq ~ log2 rank per
    // language by OLS entirely in the q113 integer currency (digits(x) =
    // binary digit count ≙ floor(log2)+1), so the slope is an EXACT
    // rational: num = nΣxy − ΣxΣy, den = nΣx² − (Σx)², emitted as int64
    // (digit counts ≤ 64 keep every moment term far inside int64 at any
    // corpus size) plus the one final divide. Ranking ties break on term
    // so the rank assignment is total and engine-portable. Shape: one
    // (lang, term) hash agg, one per-lang window rank over vocab-sized
    // rows, one per-lang fold; production swaps the within-lang sort for
    // the q128 histogram rank-walk — the fitted moments don't change.
    "q157_zipf_fit" -> ((s, d) => {
      val vocab = t(s, d)
        .select(col("lang"), explode(toks(col("text"))).as("term"))
        .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
      val ranked = vocab.withColumn("rk",
        row_number().over(w.partitionBy(col("lang"))
          .orderBy(col("cnt").desc, col("term"))))
        .select(col("lang"),
          length(bin(col("rk"))).cast("long").as("x"),
          length(bin(col("cnt"))).cast("long").as("y"))
      ranked.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_types"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("lang"), col("n_types"),
          (col("n_types") * col("sxy") - col("sx") * col("sy"))
            .as("slope_num"),
          (col("n_types") * col("sxx") - col("sx") * col("sx"))
            .as("slope_den"))
        .withColumn("slope",
          col("slope_num").cast("double") / col("slope_den"))
    }),

    // --- BM25-style ranked retrieval (per-term top-k documents) ------------
    // The retrieval operator a quality/dedup pipeline ranks candidate docs
    // with: tf-saturation + document-length normalization over the
    // inverted-index shape (q34/q59's machinery, with ranking semantics).
    // k1 = 6/5, b = 3/4 cleared to integers: the Robertson tf factor
    // tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with avgdl = L/N is EXACTLY
    // 44·L·tf / (20·L·tf + 6·L + 18·dl·N) — every term integer, carried in
    // DECIMAL(38,0) (q100's 128-bit discipline; 20·L·tf brushes int64 once
    // L reaches corpus scale). The idf weight uses the ODDS form
    // (2N−2df+1)/(2df+1) — exp of the standard log-idf — because ln is not
    // bit-identical across engines; within a term idf is a constant factor,
    // so per-term document ranking is EXACTLY BM25's, and the one float op
    // is the final num/den divide. Query terms: the 5 highest-df terms
    // (deterministic TakeOrdered) — the worst case for the saturation
    // machinery, and self-contained for the gate. Shape: two hash aggs
    // (doc×term tf, term df), broadcast totals + query terms, per-term
    // top-5 window over qualifying postings only.
    "q108_bm25_rank" -> ((s, d) => {
      val D = DecimalType(38, 0)
      val base = TextFns.fanCpu(t(s, d), col("doc_id"))
        .select(col("doc_id"), toks(col("text")).as("tk"))
      val dtf = base
        .select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
          explode(col("tk")).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dft = dtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val tot = base.agg(count(lit(1)).as("n_docs"),
        sum(size(col("tk")).cast("long")).as("l_tot"))
      val qt = dft.orderBy(col("df").desc, col("term")).limit(5)
      val num = (lit(2) * col("n_docs") - lit(2) * col("df") + 1).cast(D) *
        lit(44).cast(D) * col("l_tot").cast(D) * col("tf").cast(D)
      val den = (lit(2) * col("df") + 1).cast(D) *
        (col("l_tot").cast(D) * col("tf").cast(D) * 20 +
          col("l_tot").cast(D) * 6 +
          col("dl").cast(D) * col("n_docs").cast(D) * 18)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("term"))
        .orderBy(col("score").desc, col("doc_id"))
      dtf.join(broadcast(qt), "term")
        .join(broadcast(tot))
        .withColumn("score", num.cast("double") / den.cast("double"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("term"), col("df"), col("rk"), col("doc_id"),
          col("tf"), col("dl"), col("score"))
    }),

    // --- length quartiles (value quartiles via broadcast cut points) -------
    // Round 1 used a global no-partition ntile: every row moved to ONE task
    // (the WindowExec warnings in the bench tail) — dead at 100 TB. This
    // formulation is scale-safe: ONE aggregation computes the three
    // percentile_disc cut points (partial-agg state is a value-count map,
    // bounded by the number of distinct lengths, not rows), the 1-row cut
    // frame is broadcast, and quartile assignment is a narrow when-chain.
    // Semantics are value quartiles (SQL PERCENTILE_DISC boundaries: equal
    // lengths never split across quartiles) — the oracle mirrors the same
    // rule with exact integer cumulative arithmetic.
    "q35_text_length_quartiles" -> ((s, d) => {
      val base = t(s, d).select(col("doc_id"), col("n_chars"))
      val cuts = base.agg(
        expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars)").as("c1"),
        expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY n_chars)").as("c2"),
        expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars)").as("c3"))
      base.join(broadcast(cuts))
        .withColumn("quartile",
          (lit(1) + (col("n_chars") > col("c1")).cast("int")
                  + (col("n_chars") > col("c2")).cast("int")
                  + (col("n_chars") > col("c3")).cast("int")).cast("long"))
        .groupBy(col("quartile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // --- Gopher-style quality filter rules ---------------------------------
    "q37_text_gopher_rules" -> ((s, d) =>
      gopherRules(TextFns.fanCpu(t(s, d), col("doc_id")))),

    // --- lexical diversity: type-token ratio + Simpson index ---------------
    // Repetitiveness features for quality filtering that stay exact-rational
    // (entropy needs ln(), which is not bit-portable across libm builds):
    // ttr = distinct/total, simpson = sum(c_i^2)/n^2. Two-level hash
    // aggregation — (doc, term) counts then per-doc moments — no windows.
    "q38_text_diversity" -> ((s, d) => {
      val tc = TextFns.fanCpu(t(s, d), col("doc_id"))
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("c"))
      tc.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_uniq"),
          sum(col("c") * col("c")).as("c2"))
        .select(col("doc_id"), col("n_tok"), col("n_uniq"),
          (col("n_uniq").cast("double") / col("n_tok")).as("ttr"),
          (col("c2").cast("double") / (col("n_tok") * col("n_tok"))).as("simpson"))
    }),

    // --- corpus heavy hitters: top-50 bigrams ------------------------------
    // Two-level aggregation (map-side partial count, one keyed shuffle) +
    // TakeOrdered for the limit — the boilerplate-discovery primitive that
    // feeds template filters. Total order (n desc, gram) for determinism.
    "q39_top_ngrams" -> ((s, d) =>
      TextFns.fanCpu(t(s, d), col("doc_id"))
        .select(explode(shingles(toks(col("text")), 2)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(50)),

    // --- vocabulary coverage / OOV rate -------------------------------------
    // The vocab-management signal: derive the top-VocabK terms from the
    // corpus itself (count desc, term asc — deterministic), then score
    // every doc's out-of-vocabulary fraction against it. A doc full of
    // OOV tokens is noise/foreign/garbled relative to the corpus the
    // tokenizer will be trained on. Shape: one term-count hash agg, a
    // TakeOrdered(VocabK) (bounded — never a global sort of the vocab),
    // then the vocab BROADCASTS back over the exploded tokens for a
    // left join + per-doc agg: token traffic shuffles once, keyed by doc.
    // The fraction is the exact rational n_oov/n_tok.
    "q101_oov_rate" -> ((s, d) => {
      val vocab = TextFns.fanCpu(t(s, d), col("doc_id"))
        .select(explode(toks(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term"))
        .limit(VocabK)
        .select(col("term"), lit(true).as("in_vocab"))
      TextFns.fanCpu(t(s, d), col("doc_id"))
        .select(col("doc_id"), explode(toks(col("text"))).as("term"))
        .join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_frac",
          col("n_oov").cast("double") / col("n_tok"))
    }),

    // --- deterministic sampling + train/valid/test split -------------------
    // Reproducible corpus splitting at any scale: the split is a pure
    // function of doc_id (md5 prefix compared against hex thresholds —
    // lowercase-hex string order is the same in every engine), so it is
    // stable across runs, engines, partitionings, and corpus growth
    // (adding docs never reassigns existing ones). ~5% test ('00'..'0c'),
    // ~5% valid ('0d'..'19'), rest train. Narrow, zero shuffles.
    "q36_train_split" -> ((s, d) =>
      t(s, d)
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("h"))
        .select(col("doc_id"), col("source"),
          when(col("h") < "0d", "test")
            .when(col("h") < "1a", "valid")
            .otherwise("train").as("split"))),

    // --- rolling-hash fingerprint (true Rabin–Karp, native O(n) pass) ------
    // q33 fingerprints at token-shingle granularity via md5; this is the
    // byte-level counterpart: the native [[graft.functions.RollingHash]]
    // expression emits every 16-byte window's polynomial hash in one rolling
    // pass (whole-stage codegen'd), vs the O(n·k) per-window recompute a
    // higher-order-function formulation would evaluate interpreted. The
    // oracle recomputes each window's polynomial independently — identical
    // mod-M values (text is ASCII, so DuckDB's char positions == bytes).
    "q55_rolling_fingerprint" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val M = graft.functions.RollingHash.Mod
      TextFns.fanCpu(t(s, d), col("doc_id"))
        .select(col("doc_id"),
          call_function("graft_rolling_hash", col("text"), lit(16)).as("rh"))
        .select(col("doc_id"),
          size(col("rh")).cast("long").as("n_win"),
          array_min(col("rh")).as("min_rh"),
          array_max(col("rh")).as("max_rh"),
          (aggregate(col("rh"), lit(0L), (a, x) => a + x) % M).as("rh_checksum"))
    }),

    // --- within-doc repetition signals (Gopher repetition-removal) ---------
    // The repetition family of quality filters: fraction of duplicate
    // tokens, mass of the single most frequent token, and mass of the most
    // frequent bigram — the signals Rae et al. (Gopher, 2021) threshold to
    // drop boilerplate/template pages. Everything is computed per row from
    // the token array (O(n) per doc: native shingles and top counts), so
    // the pass is NARROW: zero shuffles, scales with bytes scanned. All
    // ratios are exact-rational int/int divisions.
    "q72_repetition_ratio" -> ((s, d) => {
      val tk = toks(col("text"))
      val bg = shingles(tk, 2)
      TextFns.fanCpu(t(s, d), col("doc_id"))
        .select(
          col("doc_id"),
          size(tk).cast("long").as("n_tok"),
          (lit(1.0) - size(array_distinct(tk)).cast("double") / size(tk))
            .as("dup_tok_frac"),
          (topCount(tk).cast("double") / size(tk)).as("top_tok_frac"),
          when(size(bg) > 0, topCount(bg).cast("double") / size(bg))
            .otherwise(lit(0.0)).as("top_bigram_frac"))
        .withColumn("pass_repetition",
          col("dup_tok_frac") <= 0.8 && col("top_tok_frac") < 0.2 &&
            col("top_bigram_frac") < 0.18)
    }),

    // --- linear quality classifier (fasttext-style, fixed weights) ---------
    // The shape of a production learned quality filter (a linear model over
    // cheap lexical features) with FIXED public integer weights, so the
    // decision is reproducible and oracle-exact: score = 2·uniq +
    // min(tok, 64) − 3·stop − 4·digit − bias, keep iff score > 0. All
    // features are per-row integer counts off the token array — a narrow
    // zero-shuffle pass; at 100 TB this is a scan-stage filter exactly like
    // q37's hand-set Gopher rules, but with the weights where a trained
    // model would plug in.
    "q85_quality_classifier" -> ((s, d) => {
      val tk = toks(col("text"))
      t(s, d)
        .select(
          col("doc_id"),
          size(tk).cast("long").as("n_tok"),
          size(array_distinct(tk)).cast("long").as("n_uniq"),
          size(filter(tk, w => array_contains(stopArr, w))).cast("long").as("n_stop"),
          size(filter(tk, w => w.rlike("^[0-9]+$"))).cast("long").as("n_digit"))
        .withColumn("score",
          lit(2L) * col("n_uniq") + least(col("n_tok"), lit(64L)) -
            lit(3L) * col("n_stop") - lit(4L) * col("n_digit") - lit(90L))
        .withColumn("keep_doc", col("score") > 0)
    }),

    // --- classifier calibration curve (score vs independent label) ---------
    // The ML-eval every shipped filter needs: does q85's quality score
    // actually TRACK quality? Reference label = q31's independent
    // heuristic (length band + stopword ratio, here in the exact integer
    // form 5·n_stop < 2·n_tok), scores bucketed into per-source QUARTILES
    // via the shared histogram rank-walk (q128's machinery — exact
    // percentile cuts, no sort of the corpus), then per (source, quartile):
    // population, positives, positive rate. A monotone pos_rate across
    // quartiles is calibration evidence; a flat one means the score is
    // noise against the reference. Scale shape: the histogram is (source ×
    // distinct-scores)-sized, cuts broadcast, one final hash agg.
    "q132_score_calibration" -> ((s, d) => {
      val tk = toks(col("text"))
      val scored = t(s, d)
        .select(col("source"),
          size(tk).cast("long").as("n_tok"),
          size(array_distinct(tk)).cast("long").as("n_uniq"),
          size(filter(tk, w => array_contains(stopArr, w))).cast("long")
            .as("n_stop"),
          size(filter(tk, w => w.rlike("^[0-9]+$"))).cast("long").as("n_digit"))
        .select(col("source"),
          (lit(2L) * col("n_uniq") + least(col("n_tok"), lit(64L)) -
            lit(3L) * col("n_stop") - lit(4L) * col("n_digit") - lit(90L))
            .as("score"),
          (col("n_tok") >= 20 && col("n_tok") <= 90 &&
            col("n_stop") * 5 < col("n_tok") * 2).cast("long").as("ref"))
      val hist = scored.groupBy(col("source"), col("score"))
        .agg(count(lit(1)).as("cnt"))
      val cuts = Relational.histRankWalk(hist, "source", "score",
        (1 to 3).map(k => s"cut$k" -> s"($k * n + 3) div 4"))
        .select(col("source"), col("cut1"), col("cut2"), col("cut3"))
      scored.join(broadcast(cuts), "source")
        .select(col("source"), col("score"), col("ref"),
          (lit(1L) + (1 to 3).map(k =>
            (col("score") > col(s"cut$k")).cast("long")).reduce(_ + _))
            .as("bin"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("ref")).as("n_pos"),
          (sum(col("ref")).cast("double") / count(lit(1))).as("pos_rate"),
          min(col("score")).as("s_min"), max(col("score")).as("s_max"))
    }),

    // --- chi-square association audit (source × lang) ----------------------
    // The feature-selection / independence test behind corpus balance
    // checks: is language distributed independently of source? Emits the
    // full contingency grid (including zero cells — they carry χ² mass
    // too) with each cell's exact deviation and its χ² term. Arithmetic
    // discipline: the deviation obs·N − row·col is carried in
    // DECIMAL(38,0) (obs·N ≤ N², wraps int64 past N ≈ 3e9 — Spark wraps
    // silently, DuckDB raises, so exactness is also engine-agreement);
    // the χ² term is two double casts of exact integers and one
    // multiply/divide — single IEEE ops, bit-portable. The per-cell rows
    // are the output — no float Σ over cells, whose order the engines
    // would not agree on; the scalar χ² is the consumer's one exact sum
    // away. Shape: ONE corpus-scan hash agg to (source × lang) cells
    // (map-side combined); everything after is tiny-table algebra on
    // broadcastable aggregates. The grid is an EXPLICIT cross join of
    // the two margin tables — the one place a cross product is the
    // semantics — and both sides are attribute-cardinality-sized
    // aggregates, never corpus rows (allowlisted as such in
    // CatalogPlanSpec).
    "q135_chi_square" -> ((s, d) => {
      val cells = t(s, d).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_obs"))
      val rows = cells.groupBy(col("source")).agg(sum(col("n_obs")).as("n_src"))
      val cols = cells.groupBy(col("lang")).agg(sum(col("n_obs")).as("n_lang"))
      val tot = cells.agg(sum(col("n_obs")).as("n"))
      val grid = rows.crossJoin(broadcast(cols))
      val diff = col("n_obs").cast(DecimalType(38, 0)) * col("n") -
        col("n_src").cast(DecimalType(38, 0)) * col("n_lang")
      grid.join(cells, Seq("source", "lang"), "left")
        .join(broadcast(tot))
        .select(col("source"), col("lang"),
          coalesce(col("n_obs"), lit(0L)).as("n_obs"),
          col("n_src"), col("n_lang"), col("n"))
        .select(col("source"), col("lang"), col("n_obs"), col("n_src"),
          col("n_lang"), diff.cast("long").as("chi_diff"),
          (diff.cast("double") * diff.cast("double") /
            ((col("n_src").cast(DecimalType(38, 0)) * col("n_lang"))
              .cast("double") * col("n").cast("double"))).as("chi_term"))
    }),

    // --- token-mass Gini per source (corpus concentration) ------------------
    // The inequality profile of a corpus: is a source's token mass spread
    // evenly across its documents or concentrated in a few giants — the
    // signal behind per-source sampling caps and dedup-priority decisions.
    // Gini = (2·Σ i·x_(i) − (n+1)·T) / (n·T) over ascending-sorted doc
    // token counts; the rank sum is computed from the (source × distinct
    // count) HISTOGRAM, not a corpus sort: a run of c equal values v
    // occupying ranks (a, a+c] contributes v·(2ca + c² + c) to 2·Σ i·x —
    // the q74/q128 rank-walk discipline, so the window runs over
    // histogram rows (thousands) however large the corpus. All products
    // in DECIMAL(38,0) (i·x sums reach n²·x — past int64 at ~3e9 docs);
    // the only float is the final division of two exact integers. Ties
    // carry no freedom: equal values contribute the same Σi regardless
    // of their relative order.
    "q136_token_gini" -> ((s, d) => {
      val hist = t(s, d)
        .select(col("source"), size(toks(col("text"))).cast("long").as("x"))
        .groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("source")).orderBy(col("x"))
        .rowsBetween(W.unboundedPreceding, -1)
      val cum = hist.withColumn("a", coalesce(sum(col("c")).over(w), lit(0L)))
      cum.groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"),
          sum(col("x").cast(DecimalType(38, 0)) * col("c")).as("t_d"),
          sum(col("x").cast(DecimalType(38, 0)) *
            (lit(2L) * col("c").cast(DecimalType(38, 0)) * col("a") +
              col("c").cast(DecimalType(38, 0)) * col("c") + col("c")))
            .as("s2_d"))
        .select(col("source"), col("n_docs"),
          col("t_d").cast("long").as("total_tok"),
          (col("s2_d") - (col("n_docs").cast(DecimalType(38, 0)) + lit(1L)) *
            col("t_d")).cast("long").as("gini_num"),
          ((col("s2_d") - (col("n_docs").cast(DecimalType(38, 0)) + lit(1L)) *
            col("t_d")).cast("double") /
            (col("n_docs").cast(DecimalType(38, 0)) * col("t_d"))
              .cast("double")).as("gini"))
    }),

    // --- cross-corpus n-gram novelty ---------------------------------------
    // For each doc: how much of its distinct 4-gram set is unique to it vs
    // shared with other docs — the memorization/boilerplate axis that
    // within-doc signals (q72) cannot see. Scale shape: grams are reduced
    // to md5 DIGESTS before they ever shuffle (a gram is ~4 tokens of text;
    // the digest is 32 bytes flat), then two hash aggregations — per-(doc,
    // gram) distinct, then gram df — and one digest-keyed join back.
    // Nothing driver-side; skewed mega-grams cost one counter row each.
    "q73_ngram_novelty" -> ((s, d) => {
      val pairs = TextFns.fanCpu(t(s, d), col("doc_id"))
        .select(col("doc_id"),
          explode(array_distinct(shingles(toks(col("text")), 4))).as("gram"))
        .select(col("doc_id"), md5(col("gram")).as("g"))
      val df_ = pairs.groupBy(col("g")).agg(count(lit(1)).as("df"))
      pairs.join(df_, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"),
          max(col("df")).as("max_df"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"), col("max_df"),
          (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
    }),

    // --- collocation mining (rational-lift bigram association) -------------
    // The boilerplate/phrase-discovery primitive: bigrams whose observed
    // count beats the independence expectation. Score is the LIFT
    // c_ab·N / (c_a·c_b) — the monotone rational core of PMI without the
    // ln() (not bit-portable across libm builds; same trade as q34's idf).
    // Shape: two two-level hash aggs (unigram, bigram) + two vocab-keyed
    // equi-joins + a broadcast 1-row total; min-count floor keeps noise
    // pairs out and the top-50 total order (lift desc, bigram) makes the
    // limit deterministic. Int64 products stay exact below 2^53 here; a
    // 100 TB run widens the product to decimal before the double divide.
    "q76_collocations" -> ((s, d) => {
      val base = TextFns.fanCpu(t(s, d), col("doc_id"))
      val uni = base.select(explode(toks(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      val bi = base.select(explode(shingles(toks(col("text")), 2)).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("c_ab"))
        .withColumn("a", split(col("g"), " ").getItem(0))
        .withColumn("b", split(col("g"), " ").getItem(1))
      val n = uni.agg(sum(col("c")).as("n_tok"))
      bi.join(uni.select(col("w").as("a"), col("c").as("c_a")), "a")
        .join(uni.select(col("w").as("b"), col("c").as("c_b")), "b")
        .join(broadcast(n))
        .filter(col("c_ab") >= 5)
        .select(col("g").as("bigram"), col("c_ab"), col("c_a"), col("c_b"),
          ((col("c_ab") * col("n_tok")).cast("double") /
            (col("c_a") * col("c_b"))).as("lift"))
        .orderBy(col("lift").desc, col("bigram"))
        .limit(50)
    }),

    // --- document fingerprinting (full-hash + shingle winnow) --------------
    "q33_text_fingerprint" -> ((s, d) => {
      val sh = shingles(toks(col("text")), 3)
      TextFns.fanCpu(t(s, d), col("doc_id")).select(
        col("doc_id"),
        md5(col("text")).as("fp"),
        array_min(transform(sh, x => md5(x))).as("min_shingle_fp"),
        array_max(transform(sh, x => md5(x))).as("max_shingle_fp"),
        size(array_distinct(sh)).cast("long").as("n_distinct_shingles"))
    }),

    // --- nucleus (top-p) vocabulary cutoff ---------------------------------
    // The tokenizer-design question "how much of the vocabulary carries 95%
    // of the token mass?", answered exactly: rank terms by count desc and
    // keep the smallest prefix whose cumulative mass reaches ceil(0.95·N).
    // The cumulative sum over the ranked vocabulary is where a global
    // window would sneak in; instead the vocabulary is bucketed by
    // magnitude (bits = binary digit count of the count — bucket order IS
    // count order across buckets), the running sum/rank runs in a window
    // PARTITIONED by bits (parallel), and the cross-bucket offsets come
    // from a ≤64-row explode/re-agg prefix pass — the q161 suffix-max
    // trick pointed the other way. All thresholds compare exact integers
    // (100·cum vs 95·N); the only frame that is ever single-node is the
    // 64-row bits spine. Vocab is Heaps'-law sub-linear, so at 100 TB this
    // runs on a table millions of times smaller than the corpus.
    "q164_nucleus_cutoff" -> ((s, d) => {
      val vocab = t(s, d).select(explode(toks(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .withColumn("bits", length(bin(col("cnt"))))
      val tot = vocab.agg(sum(col("cnt")).as("n_total"))
      // within-magnitude-bucket running aggregates in count-desc order
      val W = org.apache.spark.sql.expressions.Window
      val wRun = W.partitionBy(col("bits"))
        .orderBy(col("cnt").desc, col("term"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val inBucket = vocab
        .withColumn("cum_in", sum(col("cnt")).over(wRun))
        .withColumn("rank_in", count(lit(1)).over(wRun))
      // cross-bucket offsets: each bucket's mass/size flows to all buckets
      // of STRICTLY lower magnitude (they rank after every term here)
      val bAgg = vocab.groupBy(col("bits"))
        .agg(sum(col("cnt")).as("bmass"), count(lit(1)).as("bsize"))
      val offsets = bAgg.filter(col("bits") > 1)
        .select(explode(sequence(lit(1), col("bits") - 1)).as("bits"),
          col("bmass"), col("bsize"))
        .groupBy(col("bits"))
        .agg(sum(col("bmass")).as("off_mass"), sum(col("bsize")).as("off_rank"))
      inBucket.join(broadcast(offsets), Seq("bits"), "left")
        .join(broadcast(tot))
        .select(col("term"), col("cnt"),
          (col("rank_in") + coalesce(col("off_rank"), lit(0L))).as("rank"),
          (col("cum_in") + coalesce(col("off_mass"), lit(0L))).as("cum_mass"),
          col("n_total"))
        // keep a term iff the mass BEFORE it is still short of 95%
        .filter((col("cum_mass") - col("cnt")) * 100 < col("n_total") * 95)
    }),

    // --- token-mass-weighted length deciles (per language) -----------------
    // "At what doc length does the p-th TOKEN live?" — the packing/curriculum
    // planner's question, which unweighted doc quantiles (q35) answer
    // wrongly: a 10k-token doc holds 100× the mass of a 100-token doc.
    // Exact weighted deciles via the q128 histogram rank walk, with the
    // histogram weighted by token count instead of row count — per (lang,
    // n_chars) cell, so the walk's window is partitioned by lang and the
    // frame it walks is #langs × #distinct-lengths, corpus-independent.
    "q165_weighted_quantiles" -> ((s, d) => {
      val docs = t(s, d).select(col("lang"), col("n_chars"),
        size(toks(col("text"))).cast("long").as("n_tok"))
      val hist = docs.groupBy(col("lang"), col("n_chars"))
        .agg(sum(col("n_tok")).as("cnt"))
      Relational.histRankWalk(hist, "lang", "n_chars",
        Seq("p25" -> "(25 * n + 99) div 100",
          "p50" -> "(50 * n + 99) div 100",
          "p75" -> "(75 * n + 99) div 100",
          "p90" -> "(90 * n + 99) div 100"))
        .select(col("lang"), col("n").as("total_tokens"),
          col("p25"), col("p50"), col("p75"), col("p90"))
    }),

    // --- Pairwise source drift: exact total-variation distance -------------
    // The distribution-shift audit a mixture pipeline runs before reweighing
    // sources: for every source pair, TVD between their language
    // distributions — ½·Σ_lang |p_a − p_b| — kept EXACT by cross-multiplied
    // integers: the numerator Σ|c_a·n_b − c_b·n_a| over the common
    // denominator 2·n_a·n_b (emitted as a second column; consumers divide,
    // engines never disagree on a float sum). Langs absent from one source
    // contribute their full mass, via the (pairs × langs) grid — every
    // frame past the one corpus scan is histogram-sized (sources × langs),
    // so the whole audit is broadcast-joined dimension work at any corpus
    // size. 0 ≤ num/den ≤ 1, 0 = identical mix, 1 = disjoint.
    "q206_tvd_drift" -> ((s, d) => {
      val cnt = t(s, d).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val pairs = tot.select(col("source").as("sa"), col("n").as("na"))
        .join(tot.select(col("source").as("sb"), col("n").as("nb")),
          col("sa") < col("sb"))
      val langs = cnt.select(col("lang")).distinct()
      pairs.join(broadcast(langs))
        .join(cnt.select(col("source").as("sa"), col("lang"),
          col("c").as("ca")), Seq("sa", "lang"), "left")
        .join(cnt.select(col("source").as("sb"), col("lang"),
          col("c").as("cb")), Seq("sb", "lang"), "left")
        .groupBy(col("sa"), col("sb"), col("na"), col("nb"))
        .agg(sum(abs(coalesce(col("ca"), lit(0L)) * col("nb") -
          coalesce(col("cb"), lit(0L)) * col("na"))).as("tvd_num"))
        .select(col("sa"), col("sb"), col("tvd_num"),
          (col("na") * col("nb") * 2).as("tvd_den"))
    })
  )

  /** The standard pre-training filter chain (token count band, mean token
    * length band, symbol ratio, repeated-n-gram ratio) as one narrow
    * projection over a (doc_id, text) frame — every ratio is exact-rational
    * int/int division, so both engines agree bit-for-bit, including the
    * final boolean verdict. Mode-agnostic: runs unchanged on a batch frame
    * (q37) or a streaming one (StreamingTextSpec proves batch == stream). */
  def gopherRules(docs: DataFrame): DataFrame = {
    val (nTok, meanLen, symRatio, repRatio) = gopherMetrics(col("text"))
    docs.select(
        col("doc_id"),
        nTok.as("n_tok"),
        meanLen.as("mean_tok_len"),
        symRatio.as("sym_ratio"),
        repRatio.as("rep_ratio"))
      .withColumn("pass",
        gopherVerdict(col("n_tok"), col("mean_tok_len"),
          col("sym_ratio"), col("rep_ratio")))
  }

  /** The four q37 metric expressions over a raw text column. The token and
    * shingle arrays are [[TextFns.bindOnce]]-bound: each metric referenced
    * them several times, and without projection-style subexpression
    * elimination (filters have none) every reference re-ran the split /
    * shingle construction — the actual hot path of the q70/q200 gopher
    * stage (~3x the whole rest of the metrics). */
  private def gopherMetrics(text: org.apache.spark.sql.Column) = {
    val tk = toks(text)
    (size(tk).cast("long"),
     bindOnce(tk) { t =>
       aggregate(transform(t, w => length(w)), lit(0), (a, x) => a + x)
         .cast("double") / size(t)
     },
     length(regexp_replace(text, "[a-z0-9 ]", "")).cast("double") / length(text),
     bindOnce(tk) { t =>
       bindOnce(shingles(t, 3)) { s =>
         when(size(s) > 0,
           lit(1.0) - size(array_distinct(s)).cast("double") / size(s))
           .otherwise(lit(0.0))
       }
     })
  }

  private def gopherVerdict(nTok: org.apache.spark.sql.Column,
                            meanLen: org.apache.spark.sql.Column,
                            symRatio: org.apache.spark.sql.Column,
                            repRatio: org.apache.spark.sql.Column) =
    nTok >= 20 && nTok <= 90 &&
      meanLen >= 3.0 && meanLen <= 10.0 &&
      symRatio < 0.1 && repRatio < 0.2

  /** The q37 verdict as one boolean expression over a raw text column —
    * reused by the end-to-end curation pipeline ([[Curation.curate]]) so the
    * filter stage and the q37 exhibit cannot drift apart. */
  def gopherPass(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val (nTok, meanLen, symRatio, repRatio) = gopherMetrics(text)
    gopherVerdict(nTok, meanLen, symRatio, repRatio)
  }

  /** DuckDB twin of the 16-byte rolling hash: each window's polynomial
    * computed independently (sum of ord·B^j terms stays < 2^43 — exact in
    * int64 — so one final mod M equals the rolling stepwise-mod value). */
  private val oRollingHash: String = {
    val k = 16
    val B = graft.functions.RollingHash.Base
    val M = graft.functions.RollingHash.Mod
    val pows = (0 until k).map { j =>
      var p = 1L; (0 until (k - 1 - j)).foreach(_ => p = p * B % M); p
    }
    val terms = (0 until k)
      .map(j => s"CAST(ord(substr(text, CAST(i+$j AS INT), 1)) AS BIGINT) * ${pows(j)}")
      .mkString(" + ")
    s"list_transform(range(1, length(text) - ${k - 2}), i -> ($terms) % $M)"
  }

  private val oToks = "string_split(text, ' ')"
  private val oNStop =
    s"len(list_filter($oToks, w -> list_contains($oStopList, w)))"

  val oracles: Map[String, String] = Map(
    // BPE merge twin: same word-frequency reduction, double-space boundary
    // representation, freq-weighted pair counts via lateral unnest, total-
    // order argmax, and DuckDB's identical left-to-right replace. The
    // ladder CTEs are MATERIALIZED: DuckDB inlines plain CTEs per
    // reference, and a 24-round chain re-expanded per reference re-opens
    // the base parquet past the fd limit; materializing pins each stage to
    // one evaluation (the exact analogue of the Spark side's per-round
    // localCheckpoint).
    "q178_bpe_merges" -> {
      def roundCtes(r: Int): String = {
        val prev = if (r == 1) "s0" else s"s${r - 1}"
        s"""p$r AS MATERIALIZED (
              SELECT sy[i] AS l, sy[i+1] AS r, SUM(freq) AS cnt
              FROM (SELECT freq, string_split(trim(seq), '  ') AS sy
                    FROM $prev),
                   UNNEST(range(1, len(sy))) AS u$r(i)
              GROUP BY 1, 2),
            t$r AS (SELECT l, r, cnt FROM p$r
                    ORDER BY cnt DESC, l, r LIMIT 1),
            s$r AS MATERIALIZED (SELECT w, freq,
                      replace(seq, ' '||t$r.l||'  '||t$r.r||' ',
                              ' '||t$r.l||t$r.r||' ') AS seq
                    FROM $prev, t$r)"""
      }
      val selects = (1 to BpeMergeRounds).map(r =>
        s"""SELECT $r AS round, l AS left_sym, r AS right_sym,
              l||r AS merged, CAST(cnt AS BIGINT) AS pair_count
            FROM t$r""").mkString(" UNION ALL ")
      s"""WITH words AS MATERIALIZED (
            SELECT w, COUNT(1) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE len(w) > 0 GROUP BY w),
          s0 AS MATERIALIZED (
            SELECT w, freq,
              ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '
                AS seq
            FROM words),
          ${(1 to BpeMergeRounds).map(roundCtes).mkString(",\n")}
          $selects"""
    },

    // Encoding twin: the same merge ladder, vocab symbol counts joined back
    // to the corpus token stream.
    "q185_bpe_encode" -> {
      def roundCtes(r: Int): String = {
        val prev = if (r == 1) "s0" else s"s${r - 1}"
        s"""p$r AS MATERIALIZED (
              SELECT sy[i] AS l, sy[i+1] AS r, SUM(freq) AS cnt
              FROM (SELECT freq, string_split(trim(seq), '  ') AS sy
                    FROM $prev),
                   UNNEST(range(1, len(sy))) AS u$r(i)
              GROUP BY 1, 2),
            t$r AS (SELECT l, r, cnt FROM p$r
                    ORDER BY cnt DESC, l, r LIMIT 1),
            s$r AS MATERIALIZED (SELECT w, freq,
                      replace(seq, ' '||t$r.l||'  '||t$r.r||' ',
                              ' '||t$r.l||t$r.r||' ') AS seq
                    FROM $prev, t$r)"""
      }
      s"""WITH words AS MATERIALIZED (
            SELECT w, COUNT(1) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE len(w) > 0 GROUP BY w),
          s0 AS MATERIALIZED (
            SELECT w, freq,
              ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '
                AS seq
            FROM words),
          ${(1 to BpeMergeRounds).map(roundCtes).mkString(",\n")},
          vocab AS (
            SELECT w, len(string_split(trim(seq), '  ')) AS n_sym,
              len(w) AS n_ch
            FROM s$BpeMergeRounds),
          toksrc AS (
            SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents)
          SELECT source, COUNT(1) AS n_tokens,
            CAST(SUM(n_ch) AS BIGINT) AS n_chars,
            CAST(SUM(n_sym) AS BIGINT) AS n_symbols,
            CAST(SUM(n_ch) AS DOUBLE) / SUM(n_sym) AS chars_per_symbol
          FROM toksrc JOIN vocab USING (w)
          WHERE len(w) > 0
          GROUP BY source"""
    },

    // Compression-audit twin: q178's CTE ladder plus per-stage freq-weighted
    // symbol totals; applied = before − after.
    "q184_bpe_compression" -> {
      def roundCtes(r: Int): String = {
        val prev = if (r == 1) "s0" else s"s${r - 1}"
        s"""p$r AS MATERIALIZED (
              SELECT sy[i] AS l, sy[i+1] AS r, SUM(freq) AS cnt
              FROM (SELECT freq, string_split(trim(seq), '  ') AS sy
                    FROM $prev),
                   UNNEST(range(1, len(sy))) AS u$r(i)
              GROUP BY 1, 2),
            t$r AS (SELECT l, r, cnt FROM p$r
                    ORDER BY cnt DESC, l, r LIMIT 1),
            s$r AS MATERIALIZED (SELECT w, freq,
                      replace(seq, ' '||t$r.l||'  '||t$r.r||' ',
                              ' '||t$r.l||t$r.r||' ') AS seq
                    FROM $prev, t$r),
            tot$r AS MATERIALIZED (
              SELECT CAST(SUM(freq * len(string_split(trim(seq), '  ')))
                AS BIGINT) AS total
              FROM s$r)"""
      }
      val selects = (1 to BpeMergeRounds).map { r =>
        val before = if (r == 1) "tot0" else s"tot${r - 1}"
        s"""SELECT $r AS round, l AS left_sym, r AS right_sym,
              CAST(cnt AS BIGINT) AS pair_count,
              $before.total AS total_before, tot$r.total AS total_after,
              $before.total - tot$r.total AS applied_count
            FROM t$r, $before, tot$r"""
      }.mkString(" UNION ALL ")
      s"""WITH words AS MATERIALIZED (
            SELECT w, COUNT(1) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE len(w) > 0 GROUP BY w),
          s0 AS MATERIALIZED (
            SELECT w, freq,
              ' ' || trim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' '
                AS seq
            FROM words),
          tot0 AS MATERIALIZED (
            SELECT CAST(SUM(freq * len(string_split(trim(seq), '  ')))
              AS BIGINT) AS total
            FROM s0),
          ${(1 to BpeMergeRounds).map(roundCtes).mkString(",\n")}
          $selects"""
    },

    // Greedy-decode twin: the same total-order argmax chain, 10 unrolled
    // CTE steps over the bigram counts.
    "q199_bigram_decode" -> {
      def step(i: Int): String = {
        val prev = if (i == 1) "s0" else s"s${i - 1}"
        s"""s$i AS (
              SELECT $i AS step, b.w2 AS token, b.cnt
              FROM bg b JOIN $prev p ON b.w1 = p.token
              ORDER BY b.cnt DESC, b.w2 LIMIT 1)"""
      }
      s"""WITH tk AS (
            SELECT string_split(text, ' ') AS tk FROM documents),
          bg AS (
            SELECT tk[i] AS w1, tk[i+1] AS w2, COUNT(1) AS cnt
            FROM tk, UNNEST(range(1, len(tk))) AS u(i)
            GROUP BY 1, 2),
          uni AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents),
          s0 AS (
            SELECT 0 AS step, w AS token, COUNT(1) AS cnt
            FROM uni WHERE len(w) > 0
            GROUP BY w ORDER BY COUNT(1) DESC, w LIMIT 1),
          ${(1 to 10).map(step).mkString(",\n")}
          ${(0 to 10).map(i =>
            s"SELECT step, token, CAST(cnt AS BIGINT) AS cnt FROM s$i")
            .mkString(" UNION ALL ")}"""
    },

    // Exact vocabulary-overlap twin: same distinct (term, source) frame,
    // same term-keyed self-join for intersections, same |A|+|B|−∩ union.
    "q155_vocab_overlap" ->
      s"""WITH ts AS (
            SELECT DISTINCT unnest($oToks) AS term, source FROM documents),
          per_src AS (
            SELECT source, COUNT(1) AS n_types FROM ts GROUP BY source),
          inter AS (
            SELECT a.source AS src_a, b.source AS src_b, COUNT(1) AS n_inter
            FROM ts a JOIN ts b
              ON a.term = b.term AND a.source < b.source
            GROUP BY 1, 2),
          pairs AS (
            SELECT a.source AS src_a, a.n_types AS n_types_a,
                   b.source AS src_b, b.n_types AS n_types_b
            FROM per_src a CROSS JOIN per_src b
            WHERE a.source < b.source)
          SELECT p.src_a, p.src_b, p.n_types_a, p.n_types_b,
            COALESCE(i.n_inter, 0) AS n_inter,
            p.n_types_a + p.n_types_b - COALESCE(i.n_inter, 0) AS n_union,
            CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
              (p.n_types_a + p.n_types_b - COALESCE(i.n_inter, 0)) AS jaccard
          FROM pairs p LEFT JOIN inter i
            ON p.src_a = i.src_a AND p.src_b = i.src_b""",

    // DSIR twin: identical md5 bucket hashing, identical add-one-smoothed
    // integer-bits log-ratio, identical broadcast-model join shape.
    "q156_dsir_weights" ->
      s"""WITH tgt_src AS (SELECT MIN(source) AS tgt FROM documents),
          tok AS (
            SELECT x.doc_id, x.source = t.tgt AS is_tgt,
              CAST(concat('0x', substr(md5(x.term), 1, 15)) AS BIGINT) % 256
                AS b
            FROM (SELECT doc_id, source, unnest($oToks) AS term
                  FROM documents) x
            CROSS JOIN tgt_src t),
          doc_b AS (
            SELECT doc_id, b, COUNT(1) AS c_doc FROM tok GROUP BY doc_id, b),
          raw AS (SELECT b, COUNT(1) AS c_raw FROM tok GROUP BY b),
          tgt AS (SELECT b, COUNT(1) AS c_tgt FROM tok WHERE is_tgt GROUP BY b),
          model AS (
            SELECT r.b, r.c_raw + 1 AS cr, COALESCE(t.c_tgt, 0) + 1 AS ct
            FROM raw r LEFT JOIN tgt t ON r.b = t.b),
          totals AS (
            SELECT CAST(SUM(cr) AS BIGINT) AS tr,
                   CAST(SUM(ct) AS BIGINT) AS tt FROM model),
          agg AS (
            SELECT db.doc_id, CAST(SUM(db.c_doc) AS BIGINT) AS n_tok,
              CAST(SUM(db.c_doc *
                (length(format('{:b}', m.ct))
                 - length(format('{:b}', m.cr)))) AS BIGINT) AS bucket_bits
            FROM doc_b db JOIN model m ON db.b = m.b
            GROUP BY db.doc_id)
          SELECT d.doc_id, d.source,
            COALESCE(a.n_tok, 0) AS n_tok,
            COALESCE(a.bucket_bits, 0) + COALESCE(a.n_tok, 0) *
              (length(format('{:b}', x.tr)) - length(format('{:b}', x.tt)))
              AS dsir_bits,
            (COALESCE(a.bucket_bits, 0) + COALESCE(a.n_tok, 0) *
              (length(format('{:b}', x.tr)) - length(format('{:b}', x.tt))))
              > 0 AS selected
          FROM documents d
          LEFT JOIN agg a ON d.doc_id = a.doc_id
          CROSS JOIN totals x""",

    // Zipf twin: same total rank order (count desc, term asc), same
    // binary-digit-count currency, same exact-rational OLS moments.
    "q157_zipf_fit" ->
      s"""WITH vocab AS (
            SELECT lang, term, COUNT(1) AS cnt FROM (
              SELECT lang, unnest($oToks) AS term FROM documents)
            GROUP BY lang, term),
          ranked AS (
            SELECT lang,
              CAST(length(format('{:b}', ROW_NUMBER() OVER (
                PARTITION BY lang ORDER BY cnt DESC, term))) AS BIGINT) AS x,
              CAST(length(format('{:b}', cnt)) AS BIGINT) AS y
            FROM vocab)
          SELECT lang, COUNT(1) AS n_types,
            COUNT(1) * CAST(SUM(x*y) AS BIGINT)
              - CAST(SUM(x) AS BIGINT) * CAST(SUM(y) AS BIGINT) AS slope_num,
            COUNT(1) * CAST(SUM(x*x) AS BIGINT)
              - CAST(SUM(x) AS BIGINT) * CAST(SUM(x) AS BIGINT) AS slope_den,
            CAST(COUNT(1) * CAST(SUM(x*y) AS BIGINT)
                 - CAST(SUM(x) AS BIGINT) * CAST(SUM(y) AS BIGINT) AS DOUBLE)
              / (COUNT(1) * CAST(SUM(x*x) AS BIGINT)
                 - CAST(SUM(x) AS BIGINT) * CAST(SUM(x) AS BIGINT)) AS slope
          FROM ranked GROUP BY lang""",

    "q30_text_tokens" ->
      s"""SELECT doc_id,
            len($oToks) AS n_tok,
            len(regexp_extract_all(text, '$BpeRegex')) AS n_bpe_tok,
            length(text) AS n_chars_calc,
            CAST(length(replace(text, ' ', '')) AS DOUBLE) / len($oToks) AS avg_tok_len
          FROM documents""",

    "q31_text_quality" ->
      s"""SELECT source,
            COUNT(1) AS n_docs,
            CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
            CAST(SUM(n_stop) AS DOUBLE) / SUM(n_tok) AS stop_ratio,
            CAST(SUM(n_uniq) AS DOUBLE) / SUM(n_tok) AS uniq_ratio,
            CAST(SUM(CASE WHEN n_tok >= 20 AND n_tok <= 90
                      AND CAST(n_stop AS DOUBLE) / n_tok < 0.4
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
          FROM (SELECT source,
                  len($oToks) AS n_tok,
                  $oNStop AS n_stop,
                  len(list_distinct($oToks)) AS n_uniq
                FROM documents)
          GROUP BY source""",

    "q32_text_langid" ->
      s"""SELECT lang,
            CASE WHEN stop_ratio >= 0.05 THEN 'en'
                 WHEN stop_ratio >= 0.01 THEN 'en_low'
                 ELSE 'und' END AS lang_pred,
            COUNT(1) AS n_docs,
            MIN(stop_ratio) AS min_ratio,
            MAX(stop_ratio) AS max_ratio
          FROM (SELECT lang,
                  CAST($oNStop AS DOUBLE) / len($oToks) AS stop_ratio
                FROM documents)
          GROUP BY 1, 2""",

    "q34_text_tfidf" ->
      s"""WITH tf AS (
            SELECT doc_id, unnest($oToks) AS term FROM documents),
          tfc AS (
            SELECT doc_id, term, COUNT(1) AS tf FROM tf GROUP BY 1, 2),
          dfc AS (
            SELECT term, COUNT(DISTINCT doc_id) AS df FROM tfc GROUP BY 1),
          n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
          SELECT doc_id, rnk, term, tf, df, weight FROM (
            SELECT tfc.doc_id, tfc.term, tfc.tf, dfc.df,
              tfc.tf * (CAST(n.n_docs AS DOUBLE) / dfc.df) AS weight,
              ROW_NUMBER() OVER (PARTITION BY tfc.doc_id
                ORDER BY tfc.tf * (CAST(n.n_docs AS DOUBLE) / dfc.df) DESC,
                         tfc.term) AS rnk
            FROM tfc JOIN dfc ON tfc.term = dfc.term CROSS JOIN n)
          WHERE rnk <= 3""",

    // Held-out twin: same md5 split predicate on both engines, TRAIN-only
    // counts, LEFT joins + COALESCE(0) for unseen transitions.
    "q131_heldout_surprisal" ->
      s"""WITH base AS (
            SELECT doc_id, source, $oToks AS tk,
              substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 1)
                IN ('0','1','2','3') AS is_val
            FROM documents),
          tbig AS (
            SELECT tk[i] AS prev, tk[i + 1] AS cur
            FROM base, UNNEST(range(1, len(tk))) AS r(i)
            WHERE NOT is_val),
          bgc AS (
            SELECT prev, cur, COUNT(1) AS c_bg FROM tbig GROUP BY prev, cur),
          ctx AS (
            SELECT prev, CAST(SUM(c_bg) AS BIGINT) AS c_prev
            FROM bgc GROUP BY prev),
          voc AS (
            SELECT COUNT(DISTINCT term) AS v
            FROM (SELECT unnest(tk) AS term FROM base WHERE NOT is_val)),
          vbig AS (
            SELECT doc_id, tk[i] AS prev, tk[i + 1] AS cur
            FROM base, UNNEST(range(1, len(tk))) AS r(i)
            WHERE is_val),
          agg AS (
            SELECT b.doc_id, COUNT(1) AS n_big,
              CAST(SUM(length(format('{:b}',
                             COALESCE(ctx.c_prev, 0) + voc.v))
                       - length(format('{:b}',
                             COALESCE(bgc.c_bg, 0) + 1))) AS BIGINT)
                AS sum_bits
            FROM vbig b
            LEFT JOIN bgc ON b.prev = bgc.prev AND b.cur = bgc.cur
            LEFT JOIN ctx ON b.prev = ctx.prev
            CROSS JOIN voc
            GROUP BY b.doc_id)
          SELECT d.doc_id, d.source,
            COALESCE(a.n_big, 0) AS n_big,
            COALESCE(a.sum_bits, 0) AS sum_bits,
            CASE WHEN COALESCE(a.n_big, 0) > 0
                 THEN CAST(a.sum_bits AS DOUBLE) / a.n_big
                 ELSE 0.0 END AS mean_bits
          FROM base d LEFT JOIN agg a ON d.doc_id = a.doc_id
          WHERE d.is_val""",

    // Bigram twin: DuckDB builds the pairs by 1-based list indexing over
    // range(1, len) (end-exclusive, so i+1 never overruns); digit counts
    // via format('{:b}', …) exactly as q113.
    "q123_bigram_surprisal" ->
      s"""WITH base AS (
            SELECT doc_id, source, $oToks AS tk FROM documents),
          big AS (
            SELECT doc_id, tk[i] AS prev, tk[i + 1] AS cur
            FROM base, UNNEST(range(1, len(tk))) AS r(i)),
          bgc AS (
            SELECT prev, cur, COUNT(1) AS c_bg FROM big GROUP BY prev, cur),
          ctx AS (
            SELECT prev, CAST(SUM(c_bg) AS BIGINT) AS c_prev
            FROM bgc GROUP BY prev),
          voc AS (
            SELECT COUNT(DISTINCT term) AS v
            FROM (SELECT unnest(tk) AS term FROM base)),
          agg AS (
            SELECT b.doc_id, COUNT(1) AS n_big,
              CAST(SUM(length(format('{:b}', ctx.c_prev + voc.v))
                       - length(format('{:b}', bgc.c_bg + 1))) AS BIGINT)
                AS sum_bits
            FROM big b
            JOIN bgc ON b.prev = bgc.prev AND b.cur = bgc.cur
            JOIN ctx ON b.prev = ctx.prev
            CROSS JOIN voc
            GROUP BY b.doc_id)
          SELECT d.doc_id, d.source,
            COALESCE(a.n_big, 0) AS n_big,
            COALESCE(a.sum_bits, 0) AS sum_bits,
            CASE WHEN COALESCE(a.n_big, 0) > 0
                 THEN CAST(a.sum_bits AS DOUBLE) / a.n_big
                 ELSE 0.0 END AS mean_bits
          FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",

    // CDC twin: the same 16-byte window hashes via the per-window
    // polynomial macro, boundaries at hash ≡ 0 mod 64, chunk [st[i],
    // st[i+1]) with the doc end as the COALESCE'd last fence; census and
    // per-doc rollup mirror the Spark aggregation exactly.
    "q217_cdc_chunks" ->
      s"""WITH rh AS (
            SELECT doc_id, source, text, $oRollingHash AS rh FROM documents),
          st AS (
            SELECT doc_id, source, text,
              list_concat([1], list_filter(range(2, len(rh) + 1),
                p -> rh[p] % $CdcDiv = 0)) AS st
            FROM rh),
          ch AS (
            SELECT doc_id, source,
              md5(substr(text, CAST(st[i] AS INT),
                CAST(COALESCE(st[i+1], length(text) + 1) - st[i] AS INT)))
                AS digest,
              CAST(COALESCE(st[i+1], length(text) + 1) - st[i] AS BIGINT)
                AS n_chars
            FROM st, UNNEST(range(1, len(st) + 1)) AS r(i)),
          dd AS (
            SELECT digest, COUNT(DISTINCT doc_id) AS n_docs,
              COUNT(1) AS n_occ
            FROM ch GROUP BY digest)
          SELECT c.doc_id, c.source, CAST(COUNT(1) AS BIGINT) AS n_chunks,
            CAST(SUM(CASE WHEN d.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_dup_chunks,
            CAST(SUM(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_xdoc_chunks,
            CAST(SUM(CASE WHEN d.n_occ >= 2 THEN n_chars ELSE 0 END)
              AS BIGINT) AS dup_chars
          FROM ch c JOIN dd d ON c.digest = d.digest
          GROUP BY c.doc_id, c.source""",

    // KN twin: the same four model CTEs (bigram counts, context totals +
    // distinct continuations, distinct predecessors, bigram-type count),
    // the same cleared-rational num/den, digit counts via format('{:b}').
    "q215_kneser_ney" ->
      s"""WITH base AS (
            SELECT doc_id, source, $oToks AS tk FROM documents),
          big AS (
            SELECT doc_id, tk[i] AS prev, tk[i + 1] AS cur
            FROM base, UNNEST(range(1, len(tk))) AS r(i)),
          bgc AS (
            SELECT prev, cur, COUNT(1) AS c_bg FROM big GROUP BY prev, cur),
          ctx AS (
            SELECT prev, CAST(SUM(c_bg) AS BIGINT) AS c_prev,
              COUNT(1) AS n1p
            FROM bgc GROUP BY prev),
          cont AS (
            SELECT cur, COUNT(1) AS n1c FROM bgc GROUP BY cur),
          nn AS (SELECT COUNT(1) AS n1 FROM bgc),
          agg AS (
            SELECT b.doc_id, COUNT(1) AS n_big,
              CAST(SUM(length(format('{:b}', 4 * ctx.c_prev * nn.n1))
                       - length(format('{:b}',
                           greatest(0, 4 * bgc.c_bg - 3) * nn.n1
                             + 3 * ctx.n1p * cont.n1c))) AS BIGINT)
                AS sum_bits
            FROM big b
            JOIN bgc ON b.prev = bgc.prev AND b.cur = bgc.cur
            JOIN ctx ON b.prev = ctx.prev
            JOIN cont ON b.cur = cont.cur
            CROSS JOIN nn
            GROUP BY b.doc_id)
          SELECT d.doc_id, d.source,
            COALESCE(a.n_big, 0) AS n_big,
            COALESCE(a.sum_bits, 0) AS sum_bits,
            CASE WHEN COALESCE(a.n_big, 0) > 0
                 THEN CAST(a.sum_bits AS DOUBLE) / a.n_big
                 ELSE 0.0 END AS mean_bits
          FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",

    "q151_ccnet_buckets" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($oToks) AS term FROM documents),
          vocab AS (SELECT term, COUNT(1) AS cnt FROM tok GROUP BY term),
          tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM vocab),
          agg AS (
            SELECT t.doc_id, COUNT(1) AS n_tok,
              CAST(SUM(length(format('{:b}', tot.tot))
                       - length(format('{:b}', v.cnt))) AS BIGINT) AS sum_bits
            FROM tok t JOIN vocab v ON t.term = v.term CROSS JOIN tot
            GROUP BY t.doc_id),
          sur AS (
            SELECT d.doc_id, d.lang,
              CASE WHEN COALESCE(a.n_tok, 0) > 0
                   THEN CAST(a.sum_bits AS DOUBLE) / a.n_tok
                   ELSE 0.0 END AS mean_bits
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id),
          ranked AS (
            SELECT doc_id, lang, mean_bits,
              CAST(ROW_NUMBER() OVER (PARTITION BY lang
                ORDER BY mean_bits, doc_id) AS BIGINT) AS rank,
              CAST(COUNT(1) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
            FROM sur)
          SELECT doc_id, lang, mean_bits, rank, n_lang,
            CASE WHEN rank * 3 <= n_lang THEN 'head'
                 WHEN rank * 3 <= n_lang * 2 THEN 'middle'
                 ELSE 'tail' END AS bucket
          FROM ranked""",

    "q149_char_entropy" ->
      s"""WITH ch AS (
            SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
            FROM documents WHERE length(text) > 0),
          freq AS (SELECT doc_id, ch, COUNT(1) AS n FROM ch
                   GROUP BY doc_id, ch),
          agg AS (
            SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_chars,
              COUNT(1) AS n_distinct,
              CAST(SUM(n * length(format('{:b}', n))) AS BIGINT) AS sum_nlog
            FROM freq GROUP BY doc_id)
          SELECT d.doc_id, d.source,
            COALESCE(a.n_chars, 0) AS n_chars,
            COALESCE(a.n_distinct, 0) AS n_distinct,
            COALESCE(a.n_chars * length(format('{:b}', a.n_chars))
                       - a.sum_nlog, 0) AS sum_bits,
            CASE WHEN COALESCE(a.n_chars, 0) > 0
                 THEN CAST(a.n_chars * length(format('{:b}', a.n_chars))
                             - a.sum_nlog AS DOUBLE) / a.n_chars
                 ELSE 0.0 END AS mean_bits,
            CASE WHEN COALESCE(a.n_chars, 0) > 0
                 THEN (CAST(a.n_chars * length(format('{:b}', a.n_chars))
                              - a.sum_nlog AS DOUBLE) / a.n_chars)
                      < $CharEntropyMin
                 ELSE TRUE END AS low_entropy
          FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",

    "q113_unigram_surprisal" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($oToks) AS term FROM documents),
          vocab AS (SELECT term, COUNT(1) AS cnt FROM tok GROUP BY term),
          tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM vocab),
          agg AS (
            SELECT t.doc_id, COUNT(1) AS n_tok,
              CAST(SUM(length(format('{:b}', tot.tot))
                       - length(format('{:b}', v.cnt))) AS BIGINT) AS sum_bits
            FROM tok t JOIN vocab v ON t.term = v.term CROSS JOIN tot
            GROUP BY t.doc_id)
          SELECT d.doc_id, d.source,
            COALESCE(a.n_tok, 0) AS n_tok,
            COALESCE(a.sum_bits, 0) AS sum_bits,
            CASE WHEN COALESCE(a.n_tok, 0) > 0
                 THEN CAST(a.sum_bits AS DOUBLE) / a.n_tok
                 ELSE 0.0 END AS mean_bits
          FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",

    // BM25 twin: identical integer-cleared arithmetic (HUGEINT ≙ Spark
    // DECIMAL(38,0)), identical final divide; ranking reads the identical
    // doubles, so per-term top-5 agrees row for row.
    "q108_bm25_rank" ->
      s"""WITH base AS (
            SELECT doc_id, $oToks AS tk FROM documents),
          ex AS (
            SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl, unnest(tk) AS term
            FROM base),
          dtf AS (
            SELECT doc_id, dl, term, COUNT(1) AS tf
            FROM ex GROUP BY doc_id, dl, term),
          dft AS (SELECT term, COUNT(1) AS df FROM dtf GROUP BY term),
          tot AS (SELECT COUNT(1) AS n_docs,
                         CAST(SUM(len(tk)) AS BIGINT) AS l_tot
                  FROM base),
          qt AS (SELECT term, df FROM dft ORDER BY df DESC, term LIMIT 5),
          sc AS (
            SELECT q.term, q.df, d.doc_id, d.tf, d.dl,
              CAST(CAST(2 * t.n_docs - 2 * q.df + 1 AS HUGEINT)
                   * 44 * t.l_tot * d.tf AS DOUBLE)
              / CAST(CAST(2 * q.df + 1 AS HUGEINT)
                     * (CAST(t.l_tot AS HUGEINT) * d.tf * 20
                        + CAST(t.l_tot AS HUGEINT) * 6
                        + CAST(d.dl AS HUGEINT) * t.n_docs * 18) AS DOUBLE)
                AS score
            FROM dtf d JOIN qt q ON d.term = q.term CROSS JOIN tot t)
          SELECT term, df, rk, doc_id, tf, dl, score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY term
                        ORDER BY score DESC, doc_id) AS rk
            FROM sc)
          WHERE rk <= 5""",

    // Value-quartile twin of the Spark percentile_disc cut points: the cut
    // for p is the smallest n_chars whose cumulative row fraction >= p,
    // expressed in exact integer arithmetic (4*cum >= k*n), so both engines
    // agree bit-for-bit.
    "q35_text_length_quartiles" ->
      """WITH cum AS (
           SELECT n_chars,
                  COUNT(*) OVER (ORDER BY n_chars) AS cr,
                  COUNT(*) OVER () AS n
           FROM documents),
         cuts AS (
           SELECT MIN(CASE WHEN 4*cr >= n THEN n_chars END) AS c1,
                  MIN(CASE WHEN 2*cr >= n THEN n_chars END) AS c2,
                  MIN(CASE WHEN 4*cr >= 3*n THEN n_chars END) AS c3
           FROM cum)
         SELECT quartile, COUNT(1) AS n_docs,
            MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
            CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         FROM (SELECT d.n_chars,
                 CAST(1 + (CASE WHEN d.n_chars > c.c1 THEN 1 ELSE 0 END)
                        + (CASE WHEN d.n_chars > c.c2 THEN 1 ELSE 0 END)
                        + (CASE WHEN d.n_chars > c.c3 THEN 1 ELSE 0 END) AS BIGINT) AS quartile
               FROM documents d CROSS JOIN cuts c)
         GROUP BY quartile""",

    "q37_text_gopher_rules" ->
      s"""SELECT doc_id, n_tok, mean_tok_len, sym_ratio, rep_ratio,
            (n_tok >= 20 AND n_tok <= 90
             AND mean_tok_len >= 3.0 AND mean_tok_len <= 10.0
             AND sym_ratio < 0.1 AND rep_ratio < 0.2) AS pass
          FROM (SELECT doc_id,
                  len(tk) AS n_tok,
                  CAST(list_sum(list_transform(tk, w -> length(w))) AS DOUBLE)
                    / len(tk) AS mean_tok_len,
                  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                    / length(text) AS sym_ratio,
                  CASE WHEN len(sh) > 0
                       THEN 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)
                       ELSE 0.0 END AS rep_ratio
                FROM (SELECT doc_id, text, $oToks AS tk,
                        ${oShingles(oToks, 3)} AS sh
                      FROM documents))""",

    "q38_text_diversity" ->
      s"""SELECT doc_id, n_tok, n_uniq,
            CAST(n_uniq AS DOUBLE) / n_tok AS ttr,
            CAST(c2 AS DOUBLE) / (n_tok * n_tok) AS simpson
          FROM (SELECT doc_id,
                  CAST(SUM(c) AS BIGINT) AS n_tok,
                  COUNT(1) AS n_uniq,
                  CAST(SUM(c * c) AS BIGINT) AS c2
                FROM (SELECT doc_id, term, COUNT(1) AS c
                      FROM (SELECT doc_id, unnest($oToks) AS term FROM documents)
                      GROUP BY doc_id, term)
                GROUP BY doc_id)""",

    "q39_top_ngrams" ->
      s"""SELECT gram, COUNT(1) AS n
          FROM (SELECT unnest(${oShingles(oToks, 2)}) AS gram FROM documents)
          GROUP BY gram ORDER BY n DESC, gram LIMIT 50""",

    "q101_oov_rate" ->
      s"""WITH tok AS (
            SELECT doc_id, unnest($oToks) AS term FROM documents),
          vocab AS (
            SELECT term FROM (
              SELECT term, COUNT(1) AS cnt FROM tok GROUP BY term)
            ORDER BY cnt DESC, term LIMIT $VocabK)
          SELECT tok.doc_id, COUNT(1) AS n_tok,
            CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_oov,
            CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(1) AS oov_frac
          FROM tok LEFT JOIN vocab v ON tok.term = v.term
          GROUP BY tok.doc_id""",

    "q36_train_split" ->
      """SELECT doc_id, source,
            CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '0d' THEN 'test'
                 WHEN md5(CAST(doc_id AS VARCHAR)) < '1a' THEN 'valid'
                 ELSE 'train' END AS split
         FROM documents""",

    "q55_rolling_fingerprint" ->
      s"""SELECT doc_id,
            len(rh) AS n_win,
            list_min(rh) AS min_rh,
            list_max(rh) AS max_rh,
            CAST(COALESCE(list_sum(rh), 0) % ${graft.functions.RollingHash.Mod} AS BIGINT) AS rh_checksum
          FROM (SELECT doc_id, $oRollingHash AS rh FROM documents)""",

    "q72_repetition_ratio" ->
      s"""SELECT doc_id, n_tok, dup_tok_frac, top_tok_frac, top_bigram_frac,
            (dup_tok_frac <= 0.8 AND top_tok_frac < 0.2
             AND top_bigram_frac < 0.18) AS pass_repetition
          FROM (SELECT doc_id,
                  len(tk) AS n_tok,
                  1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
                    AS dup_tok_frac,
                  CAST(list_max(list_transform(list_distinct(tk),
                      x -> len(list_filter(tk, y -> y = x)))) AS DOUBLE)
                    / len(tk) AS top_tok_frac,
                  CASE WHEN len(bg) > 0
                       THEN CAST(list_max(list_transform(list_distinct(bg),
                              x -> len(list_filter(bg, y -> y = x)))) AS DOUBLE)
                            / len(bg)
                       ELSE 0.0 END AS top_bigram_frac
                FROM (SELECT doc_id, $oToks AS tk,
                        ${oShingles(oToks, 2)} AS bg
                      FROM documents))""",

    "q85_quality_classifier" ->
      s"""SELECT doc_id, n_tok, n_uniq, n_stop, n_digit,
            2 * n_uniq + least(n_tok, 64) - 3 * n_stop - 4 * n_digit - 90
              AS score,
            (2 * n_uniq + least(n_tok, 64) - 3 * n_stop - 4 * n_digit - 90) > 0
              AS keep_doc
          FROM (SELECT doc_id,
                  CAST(len(t) AS BIGINT) AS n_tok,
                  CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq,
                  CAST(len(list_filter(t, w -> list_contains($oStopList, w)))
                    AS BIGINT) AS n_stop,
                  CAST(len(list_filter(t, w -> regexp_full_match(w, '[0-9]+')))
                    AS BIGINT) AS n_digit
                FROM (SELECT doc_id, $oToks AS t FROM documents))""",

    "q132_score_calibration" ->
      s"""WITH scored AS (
            SELECT source,
              2 * n_uniq + least(n_tok, 64) - 3 * n_stop - 4 * n_digit - 90
                AS score,
              CAST(n_tok >= 20 AND n_tok <= 90 AND n_stop * 5 < n_tok * 2
                AS BIGINT) AS ref
            FROM (SELECT source,
                    CAST(len(t) AS BIGINT) AS n_tok,
                    CAST(len(list_distinct(t)) AS BIGINT) AS n_uniq,
                    CAST(len(list_filter(t, w -> list_contains($oStopList, w)))
                      AS BIGINT) AS n_stop,
                    CAST(len(list_filter(t, w -> regexp_full_match(w, '[0-9]+')))
                      AS BIGINT) AS n_digit
                  FROM (SELECT source, $oToks AS t FROM documents))),
          h AS (SELECT source, score, COUNT(1) AS cnt
                FROM scored GROUP BY 1, 2),
          cum AS (
            SELECT source, score,
              SUM(cnt) OVER (PARTITION BY source ORDER BY score
                             ROWS UNBOUNDED PRECEDING) AS cum,
              SUM(cnt) OVER (PARTITION BY source) AS n
            FROM h),
          cuts AS (
            SELECT source,
              MIN(CASE WHEN cum >= (1 * n + 3) // 4 THEN score END) AS cut1,
              MIN(CASE WHEN cum >= (2 * n + 3) // 4 THEN score END) AS cut2,
              MIN(CASE WHEN cum >= (3 * n + 3) // 4 THEN score END) AS cut3
            FROM cum GROUP BY 1),
          b AS (
            SELECT s.source, score, ref,
              1 + CAST(score > cut1 AS BIGINT) + CAST(score > cut2 AS BIGINT)
                + CAST(score > cut3 AS BIGINT) AS bin
            FROM scored s JOIN cuts ON s.source = cuts.source)
          SELECT source, bin, COUNT(1) AS n,
            CAST(SUM(ref) AS BIGINT) AS n_pos,
            CAST(SUM(ref) AS DOUBLE) / COUNT(1) AS pos_rate,
            MIN(score) AS s_min, MAX(score) AS s_max
          FROM b GROUP BY 1, 2""",

    "q135_chi_square" ->
      """WITH cells AS (
           SELECT source, lang, COUNT(1) AS n_obs
           FROM documents GROUP BY 1, 2),
         rs AS (SELECT source, CAST(SUM(n_obs) AS BIGINT) AS n_src
                FROM cells GROUP BY 1),
         cs AS (SELECT lang, CAST(SUM(n_obs) AS BIGINT) AS n_lang
                FROM cells GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM cells),
         j AS (
           SELECT g.source, g.lang, COALESCE(c.n_obs, 0) AS n_obs,
             g.n_src, g.n_lang, (SELECT n FROM tot) AS n
           FROM (SELECT rs.source, cs.lang, rs.n_src, cs.n_lang
                 FROM rs CROSS JOIN cs) g
           LEFT JOIN cells c ON g.source = c.source AND g.lang = c.lang)
         SELECT source, lang, n_obs, n_src, n_lang,
           CAST(CAST(n_obs AS HUGEINT) * n - CAST(n_src AS HUGEINT) * n_lang
             AS BIGINT) AS chi_diff,
           CAST(CAST(n_obs AS HUGEINT) * n - CAST(n_src AS HUGEINT) * n_lang
               AS DOUBLE)
             * CAST(CAST(n_obs AS HUGEINT) * n
                 - CAST(n_src AS HUGEINT) * n_lang AS DOUBLE)
             / (CAST(CAST(n_src AS HUGEINT) * n_lang AS DOUBLE)
                 * CAST(n AS DOUBLE)) AS chi_term
         FROM j""",

    "q136_token_gini" ->
      s"""WITH h AS (
           SELECT source, CAST(len($oToks) AS BIGINT) AS x, COUNT(1) AS c
           FROM documents GROUP BY 1, 2),
         cum AS (
           SELECT source, x, c,
             COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a
           FROM h),
         agg AS (
           SELECT source,
             CAST(SUM(c) AS BIGINT) AS n_docs,
             SUM(CAST(x AS HUGEINT) * c) AS t_h,
             SUM(CAST(x AS HUGEINT)
               * (2 * CAST(c AS HUGEINT) * a + CAST(c AS HUGEINT) * c + c))
               AS s2_h
           FROM cum GROUP BY 1)
         SELECT source, n_docs,
           CAST(t_h AS BIGINT) AS total_tok,
           CAST(s2_h - (CAST(n_docs AS HUGEINT) + 1) * t_h AS BIGINT)
             AS gini_num,
           CAST(s2_h - (CAST(n_docs AS HUGEINT) + 1) * t_h AS DOUBLE)
             / CAST(CAST(n_docs AS HUGEINT) * t_h AS DOUBLE) AS gini
         FROM agg""",

    "q73_ngram_novelty" ->
      s"""WITH pairs AS (
            SELECT doc_id, md5(gram) AS g
            FROM (SELECT doc_id,
                    unnest(list_distinct(${oShingles(oToks, 4)})) AS gram
                  FROM documents)),
          dfc AS (SELECT g, COUNT(1) AS df FROM pairs GROUP BY g)
          SELECT p.doc_id,
            COUNT(1) AS n_grams,
            CAST(SUM(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_novel,
            MAX(dfc.df) AS max_df,
            CAST(SUM(CASE WHEN dfc.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(1) AS novelty
          FROM pairs p JOIN dfc ON p.g = dfc.g
          GROUP BY p.doc_id""",

    "q76_collocations" ->
      s"""WITH uni AS (
            SELECT w, COUNT(1) AS c
            FROM (SELECT unnest($oToks) AS w FROM documents) GROUP BY w),
          bi AS (
            SELECT g, COUNT(1) AS c_ab
            FROM (SELECT unnest(${oShingles(oToks, 2)}) AS g FROM documents)
            GROUP BY g),
          n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tok FROM uni)
          SELECT bi.g AS bigram, bi.c_ab, ua.c AS c_a, ub.c AS c_b,
            CAST(bi.c_ab * n.n_tok AS DOUBLE) / (ua.c * ub.c) AS lift
          FROM bi
          JOIN uni ua ON string_split(bi.g, ' ')[1] = ua.w
          JOIN uni ub ON string_split(bi.g, ' ')[2] = ub.w
          CROSS JOIN n
          WHERE bi.c_ab >= 5
          ORDER BY lift DESC, bigram LIMIT 50""",

    "q33_text_fingerprint" ->
      s"""SELECT doc_id,
            md5(text) AS fp,
            list_min(list_transform(sh, x -> md5(x))) AS min_shingle_fp,
            list_max(list_transform(sh, x -> md5(x))) AS max_shingle_fp,
            len(list_distinct(sh)) AS n_distinct_shingles
          FROM (SELECT doc_id, text, ${oShingles(oToks, 3)} AS sh FROM documents)""",

    // Nucleus twin: the global ranked-cumulative-sum definition the Spark
    // side decomposes into magnitude buckets; bucket order == count order,
    // so the two rankings are identical.
    "q164_nucleus_cutoff" ->
      s"""WITH c AS (
            SELECT term, COUNT(1) AS cnt
            FROM (SELECT unnest($oToks) AS term FROM documents) GROUP BY 1),
          r AS (
            SELECT term, cnt,
              ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank,
              CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass,
              CAST(SUM(cnt) OVER () AS BIGINT) AS n_total
            FROM c)
          SELECT term, cnt, rank, cum_mass, n_total FROM r
          WHERE (cum_mass - cnt) * 100 < n_total * 95""",

    "q165_weighted_quantiles" ->
      s"""WITH h AS (
            SELECT lang, n_chars,
              CAST(SUM(len($oToks)) AS BIGINT) AS cnt
            FROM documents GROUP BY 1, 2),
          cum AS (
            SELECT lang, n_chars,
              CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
              CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
            FROM h)
          SELECT lang, MAX(n) AS total_tokens,
            MIN(CASE WHEN cum >= (25 * n + 99) // 100 THEN n_chars END) AS p25,
            MIN(CASE WHEN cum >= (50 * n + 99) // 100 THEN n_chars END) AS p50,
            MIN(CASE WHEN cum >= (75 * n + 99) // 100 THEN n_chars END) AS p75,
            MIN(CASE WHEN cum >= (90 * n + 99) // 100 THEN n_chars END) AS p90
          FROM cum GROUP BY lang""",

    "q206_tvd_drift" ->
      s"""WITH cnt AS (SELECT source, lang, count(*) AS c
            |           FROM documents GROUP BY 1, 2),
            |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n
            |        FROM cnt GROUP BY 1),
            |pr AS (SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
            |       FROM tot a JOIN tot b ON a.source < b.source),
            |langs AS (SELECT DISTINCT lang FROM cnt),
            |grid AS (SELECT pr.sa, pr.na, pr.sb, pr.nb, langs.lang
            |         FROM pr CROSS JOIN langs)
            |SELECT sa, sb,
            |  CAST(sum(abs(coalesce(ca.c, 0) * nb - coalesce(cb.c, 0) * na))
            |    AS BIGINT) AS tvd_num,
            |  na * nb * 2 AS tvd_den
            |FROM grid
            |LEFT JOIN cnt ca ON ca.source = grid.sa AND ca.lang = grid.lang
            |LEFT JOIN cnt cb ON cb.source = grid.sb AND cb.lang = grid.lang
            |GROUP BY sa, sb, na, nb""".stripMargin
  )
}
