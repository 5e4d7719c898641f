package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the round-5 corpus-hygiene operators on constructed inputs with
  * hand-computed answers, then on the driver testdata for the properties
  * that motivated each one (q75 catching what q40 cannot).
  */
class RepetitionNoveltySpec extends SparkSpec {
  import spark.implicits._

  private def docsOf(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("srcX"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("q113: unigram surprisal equals the integer-bit hand computation") {
    // corpus counts: a=5, b=1, T=6; binary lengths 6->3, 5->3, 1->1
    // surprisal(a) = 3-3 = 0 bits, surprisal(b) = 3-1 = 2 bits
    val out = TextAnalysis.unigramSurprisal(docsOf(
        (1L, "a a a a"), (2L, "a b")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 4L, 0L, 0.0), (2L, 2L, 2L, 1.0)))
  }

  test("q113: surprisal on testdata equals a JVM binary-length recompute") {
    val out = TextAnalysis.queries("q113_unigram_surprisal")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = docs.flatMap(_._2.split(" ", -1))
      .groupBy(identity).map { case (t, v) => (t, v.length.toLong) }
    val totBits = java.lang.Long.toBinaryString(counts.values.sum).length
    val expected = docs.map { case (id, text) =>
      val tk = text.split(" ", -1)
      val bits = tk.map(w =>
        (totBits - java.lang.Long.toBinaryString(counts(w)).length).toLong).sum
      id -> (tk.length.toLong, bits)
    }.toMap
    assert(out == expected)
    // the corpus is not degenerate for the test: some surprisal mass exists
    assert(out.values.exists(_._2 > 0L))
  }

  test("q151: CCNet buckets equal a JVM rank recompute over q113 surprisal; thirds balanced") {
    val lang = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val sur = TextAnalysis.queries("q113_unigram_surprisal")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val expected = lang.toSeq.groupBy(_._2).flatMap { case (lg, ds) =>
      val ranked = ds.map(_._1).sortBy(id => (sur(id), id))
      val n = ranked.length.toLong
      ranked.zipWithIndex.map { case (id, i) =>
        val rk = i + 1L
        val bucket = if (rk * 3 <= n) "head"
          else if (rk * 3 <= n * 2) "middle" else "tail"
        id -> ((lg, sur(id), rk, n, bucket))
      }
    }
    val out = TextAnalysis.queries("q151_ccnet_buckets")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getDouble(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(out == expected)
    // per language the three buckets differ in size by at most 1
    out.values.groupBy(_._1).foreach { case (lg, rows) =>
      val sizes = rows.groupBy(_._5).view.mapValues(_.size).toMap
      assert(sizes.keySet == Set("head", "middle", "tail"), lg)
      assert(sizes.values.max - sizes.values.min <= 1, s"$lg: $sizes")
    }
  }

  test("q149: char entropy separates degenerate repeats from natural text; equals hand math") {
    val docs = docsOf(
      1L -> "aaaaaaaaaaaaaaaa",        // 1 symbol: 0 bits
      2L -> "abababababababab",        // 2 symbols, 8+8: ~1 bit
      3L -> "the quick brown fox jumps over the lazy dog")
    val out = TextAnalysis.charEntropy(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6)))
      .toMap
    // doc 1: N=16, one char n=16 -> sum_bits = 16*5 - 16*5 = 0
    assert(out(1L) == ((16L, 1L, 0L, 0.0, true)))
    // doc 2: N=16 digits 5; two chars n=8 digits 4 -> 16*5 - 16*4 = 16
    assert(out(2L) == ((16L, 2L, 16L, 1.0, true)))
    // doc 3: natural text clears the floor
    val (_, nd3, _, mean3, low3) = out(3L)
    assert(nd3 > 20 && mean3 > TextAnalysis.CharEntropyMin && !low3)
    // corpus recompute: digit-count identity per doc, flag threshold
    val corpus = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextAnalysis.queries("q149_char_entropy")(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6)))
      .toMap
    assert(got.keySet == corpus.keySet)
    got.foreach { case (id, (n, nd, bits, mean, low)) =>
      val freq = corpus(id).toSeq.groupBy(identity).map(_._2.length.toLong)
      def digits(x: Long) = java.lang.Long.toBinaryString(x).length.toLong
      val expBits = freq.sum * digits(freq.sum) - freq.map(c => c * digits(c)).sum
      assert((n, nd, bits) == ((freq.sum, freq.size.toLong, expBits)), s"doc $id")
      assert(mean == expBits.toDouble / freq.sum)
      assert(low == (mean < TextAnalysis.CharEntropyMin))
    }
  }

  test("q123: bigram surprisal equals the integer-bit hand computation") {
    // bigrams: (a,a)×3 from doc1, (a,b)×1 from doc2; doc3 has none.
    // c(a,a)=3, c(a,b)=1, c_prev(a)=4, V=3 (a, b, solo).
    // bits(a,a) = len(bin(4+3)) − len(bin(3+1)) = 3 − 3 = 0
    // bits(a,b) = len(bin(4+3)) − len(bin(1+1)) = 3 − 2 = 1
    val hand = TextAnalysis.bigramSurprisal(
        docsOf((1L, "a a a a"), (2L, "a b"), (3L, "solo")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(hand.toSeq == Seq((1L, 3L, 0L, 0.0), (2L, 1L, 1L, 1.0),
      (3L, 0L, 0L, 0.0)))
  }

  test("q123: bigram surprisal on testdata equals a JVM recompute") {
    val out = TextAnalysis.queries("q123_bigram_surprisal")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bigrams = docs.flatMap { case (_, t) =>
      val tk = t.split(" ", -1); tk.zip(tk.drop(1))
    }
    val bgc = bigrams.groupBy(identity).map { case (b, v) => (b, v.length.toLong) }
    val ctx = bigrams.groupBy(_._1).map { case (p, v) => (p, v.length.toLong) }
    val v = docs.flatMap(_._2.split(" ", -1)).distinct.length.toLong
    def bl(x: Long) = java.lang.Long.toBinaryString(x).length.toLong
    val expected = docs.map { case (id, text) =>
      val tk = text.split(" ", -1)
      val bits = tk.zip(tk.drop(1))
        .map(bg => bl(ctx(bg._1) + v) - bl(bgc(bg) + 1L)).sum
      id -> ((tk.length - 1).toLong.max(0L), bits)
    }.toMap
    assert(out == expected)
    assert(out.values.exists(_._2 > 0L))
  }

  test("q215: Kneser-Ney surprisal equals the integer-bit hand computation") {
    // bigrams: (a,a)x3 from doc1, (a,b)x1 from doc2; doc3 has none.
    // bgc: c(a,a)=3, c(a,b)=1. ctx a: c_prev=4, n1p=2. cont: n1c(a)=1,
    // n1c(b)=1. N1=2 bigram types.
    // (a,a): num = max(12−3,0)·2 + 3·2·1 = 24; den = 4·4·2 = 32 →
    //        bits = len(bin 32) − len(bin 24) = 6 − 5 = 1
    // (a,b): num = 1·2 + 6 = 8; den = 32 → bits = 6 − 4 = 2
    val hand = TextAnalysis.knSurprisal(
        docsOf((1L, "a a a a"), (2L, "a b"), (3L, "solo")))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(hand.toSeq == Seq((1L, 3L, 3L, 1.0), (2L, 1L, 2L, 2.0),
      (3L, 0L, 0L, 0.0)))
  }

  test("q215: Kneser-Ney surprisal on testdata equals a JVM recompute") {
    val out = TextAnalysis.queries("q215_kneser_ney")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val bigrams = docs.flatMap { case (_, t) =>
      val tk = t.split(" ", -1); tk.zip(tk.drop(1))
    }
    val bgc = bigrams.groupBy(identity).map { case (b, v) => (b, v.length.toLong) }
    val ctx = bigrams.groupBy(_._1).map { case (p, v) => (p, v.length.toLong) }
    val n1p = bgc.keys.groupBy(_._1).map { case (p, v) => (p, v.size.toLong) }
    val n1c = bgc.keys.groupBy(_._2).map { case (c, v) => (c, v.size.toLong) }
    val n1 = bgc.size.toLong
    def bl(x: Long) = java.lang.Long.toBinaryString(x).length.toLong
    val expected = docs.map { case (id, text) =>
      val tk = text.split(" ", -1)
      val bits = tk.zip(tk.drop(1)).map { bg =>
        val num = math.max(4 * bgc(bg) - 3, 0L) * n1 +
          3L * n1p(bg._1) * n1c(bg._2)
        val den = 4L * ctx(bg._1) * n1
        assert(num <= den && num > 0, s"rational out of (0,1] for $bg")
        bl(den) - bl(num)
      }.sum
      id -> ((tk.length - 1).toLong.max(0L), bits)
    }.toMap
    assert(out == expected)
    assert(out.values.exists(_._2 > 0L))
  }

  // --- q217 content-defined chunking --------------------------------------

  /** JVM twin of the CDC split: 16-byte Rabin–Karp windows, boundary at
    * hash ≡ 0 mod CdcDiv (ASCII corpus ⇒ byte positions == char positions). */
  private def cdcChunks(s: String): Seq[String] = {
    val b = s.getBytes("UTF-8"); val k = 16
    val M = graft.functions.RollingHash.Mod
    val B = graft.functions.RollingHash.Base
    val rh =
      if (b.length < k) Array.empty[Long]
      else (0 to b.length - k).map { i =>
        var h = 0L
        (i until i + k).foreach(j => h = (h * B + (b(j) & 0xff)) % M)
        h
      }.toArray
    val starts = 1 +: (2 to rh.length).filter(p => rh(p - 1) % TextAnalysis.CdcDiv == 0)
    val ends = starts.drop(1) :+ (s.length + 1)
    starts.zip(ends).map { case (st, e) => s.substring(st - 1, e - 1) }
  }

  test("q217: content-defined boundaries re-sync after a prefix insertion") {
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(600)(('a' + rnd.nextInt(27)).toChar)
      .map(c => if (c > 'z') ' ' else c).mkString
    val shifted = "xq " + base // every fixed-width chunk after pos 0 moves
    val (c1, c2) = (cdcChunks(base), cdcChunks(shifted))
    assert(c1.length >= 4, s"need boundaries to test resync, got ${c1.length}")
    // all chunks except the leading (pre-resync) one keep their identity
    assert(c1.drop(1).toSet.subsetOf(c2.toSet))
    // ... and the distributed operator sees exactly that overlap
    graft.functions.GraftFunctions.register(spark)
    val rows = TextAnalysis.cdcChunkRows(
        docsOf((1L, base), (2L, shifted)))
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    val byDoc = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).size >= c1.length - 1)
    // reassemble: chunk chars per doc sum back to the doc length
    assert(rows.filter(_._1 == 1L).map(_._3).sum == base.length)
    assert(rows.filter(_._1 == 2L).map(_._3).sum == shifted.length)
  }

  test("q217: chunk stats on testdata equal a JVM recompute") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val all = docs.flatMap { case (id, t) => cdcChunks(t).map(c => (id, hex(c), c.length.toLong)) }
    val occ = all.groupBy(_._2).view.mapValues(_.length).toMap
    val nDocs = all.groupBy(_._2).view.mapValues(_.map(_._1).distinct.length).toMap
    val expected = all.groupBy(_._1).view.mapValues { cs =>
      (cs.length.toLong,
        cs.count(c => occ(c._2) >= 2).toLong,
        cs.count(c => nDocs(c._2) >= 2).toLong,
        cs.filter(c => occ(c._2) >= 2).map(_._3).sum)
    }.toMap
    val got = TextAnalysis.queries("q217_cdc_chunks")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got == expected)
    // non-vacuous: the corpus actually contains duplicated chunks
    assert(got.values.exists(_._2 > 0))
  }

  test("q132: calibration bins equal a JVM quartile recompute") {
    val out = TextAnalysis.queries("q132_score_calibration")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(5), r.getLong(6))).toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val stop = TextAnalysis.Stopwords.toSet
    val scored = docs.map { case (src, text) =>
      val tk = text.split(" ", -1)
      val nTok = tk.length.toLong
      val nUniq = tk.distinct.length.toLong
      val nStop = tk.count(stop).toLong
      val nDigit = tk.count(_.matches("[0-9]+")).toLong
      val score = 2 * nUniq + math.min(nTok, 64L) - 3 * nStop - 4 * nDigit - 90
      val ref = nTok >= 20 && nTok <= 90 && nStop * 5 < nTok * 2
      (src, score, ref)
    }
    val expected = scored.groupBy(_._1).flatMap { case (src, v) =>
      val ss = v.map(_._2).sorted
      val n = ss.length
      val cuts = (1 to 3).map(k => ss((k * n + 3) / 4 - 1))
      v.groupBy { case (_, sc, _) => 1L + cuts.count(sc > _) }
        .map { case (bin, bs) =>
          (src, bin) -> (bs.length.toLong, bs.count(_._3).toLong,
            bs.map(_._2).min, bs.map(_._2).max)
        }
    }
    assert(out == expected)
  }

  test("q135: chi-square grid equals a JVM recompute; deviations cancel per margin") {
    val out = TextAnalysis.queries("q135_chi_square")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = docs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val nSrc = docs.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val nLang = docs.groupBy(_._2).map { case (k, v) => k -> v.length.toLong }
    val n = docs.length.toLong
    val expected = (for (s <- nSrc.keys; l <- nLang.keys) yield {
      val obs = cells.getOrElse((s, l), 0L)
      val diff = obs * n - nSrc(s) * nLang(l)
      val term = diff.toDouble * diff.toDouble /
        ((nSrc(s) * nLang(l)).toDouble * n.toDouble)
      (s, l) -> (obs, nSrc(s), nLang(l), diff, term)
    }).toMap
    assert(out == expected)
    // full grid: every (source, lang) combo present, zero cells included
    assert(out.size == nSrc.size * nLang.size)
    assert(out.values.exists(_._1 == 0L), "zero cells must carry chi-square mass")
    // deviations obs·N − row·col cancel within every row margin
    out.groupBy(_._1._1).values.foreach(m => assert(m.values.map(_._4).sum == 0L))
    assert(out.values.forall(_._5 >= 0.0))
  }

  test("q136: Gini equals the brute pairwise-difference identity per source") {
    val out = TextAnalysis.queries("q136_token_gini")(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).length.toLong))
    val bySource = docs.groupBy(_._1).map { case (s, v) => s -> v.map(_._2) }
    assert(out.keySet == bySource.keySet)
    bySource.foreach { case (src, xs) =>
      val (n, t) = (xs.length.toLong, xs.sum)
      // ΣΣ|xi−xj| = 2·(2Σi·x_(i) − (n+1)T) — the mean-absolute-difference
      // identity; the histogram rank-walk must reproduce it exactly
      val brute = (for (a <- xs; b <- xs) yield math.abs(a - b)).sum
      val (nDocs, totalTok, giniNum, gini) = out(src)
      assert((nDocs, totalTok) == ((n, t)))
      assert(2L * giniNum == brute, s"source $src rank-walk diverged")
      assert(gini == giniNum.toDouble / (n.toDouble * t))
      assert(gini >= 0.0 && gini <= (n - 1).toDouble / n)
    }
    assert(out.values.exists(_._4 > 0.0), "testdata token mass is not uniform")
  }

  test("q131: held-out surprisal uses TRAIN-only counts; back-off path exercised") {
    val out = TextAnalysis.queries("q131_heldout_surprisal")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def isVal(id: Long) = "0123".contains(TextFns.md5hex(s"split|$id").charAt(0))
    val (valD, trainD) = docs.partition(d => isVal(d._1))
    assert(valD.nonEmpty && trainD.nonEmpty)
    val tBig = trainD.flatMap { case (_, t) =>
      val tk = t.split(" ", -1); tk.zip(tk.drop(1))
    }
    val bgc = tBig.groupBy(identity).map { case (b, v) => (b, v.length.toLong) }
    val ctx = tBig.groupBy(_._1).map { case (p, v) => (p, v.length.toLong) }
    val v = trainD.flatMap(_._2.split(" ", -1)).distinct.length.toLong
    def bl(x: Long) = java.lang.Long.toBinaryString(x).length.toLong
    val expected = valD.map { case (id, text) =>
      val tk = text.split(" ", -1)
      val bits = tk.zip(tk.drop(1)).map(bg =>
        bl(ctx.getOrElse(bg._1, 0L) + v) - bl(bgc.getOrElse(bg, 0L) + 1L)).sum
      id -> ((tk.length - 1).toLong.max(0L), bits)
    }.toMap
    assert(out == expected)
    // the eval actually exercises back-off: some val transition is unseen
    val valBig = valD.flatMap { case (_, t) =>
      val tk = t.split(" ", -1); tk.zip(tk.drop(1))
    }
    assert(valBig.exists(bg => !bgc.contains(bg)))
  }

  test("q101: OOV rate equals a JVM recompute of the top-K vocab contract") {
    val out = TextAnalysis.queries("q101_oov_rate")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = docs.flatMap(_._2.split(" ", -1))
      .groupBy(identity).map { case (t, v) => (t, v.length) }
    val vocab = counts.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(TextAnalysis.VocabK).map(_._1).toSet
    val expected = docs.map { case (id, text) =>
      val tk = text.split(" ", -1)
      val oov = tk.count(!vocab.contains(_)).toLong
      id -> (tk.length.toLong, oov, oov.toDouble / tk.length)
    }.toMap
    assert(out == expected)
    // OOV mass appears exactly when the corpus vocabulary exceeds VocabK
    assert(out.values.exists(_._3 > 0.0) == (counts.size > TextAnalysis.VocabK),
      s"distinct terms = ${counts.size}, VocabK = ${TextAnalysis.VocabK}")
  }

  private def runOn(name: String, docs: org.apache.spark.sql.DataFrame) = {
    // the queries read Tables.load(dir, "documents"); route the constructed
    // frame through a temp parquet dir so the query path stays untouched
    val dir = java.nio.file.Files.createTempDirectory("repnov").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    (TextAnalysis.queries ++ Dedup.queries)(name)(spark, dir)
  }

  test("q72: hand-computed repetition fractions on constructed docs") {
    val out = runOn("q72_repetition_ratio", docsOf(
      1L -> "a a a a",            // all one token
      2L -> "a b c d",            // no repetition
      3L -> "x y x y x y"))       // alternating bigram loop
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5))).toMap

    // doc 1: 4 toks, 1 distinct -> dup 0.75; top tok 4/4; bigrams all "a a"
    assert(out(1L) == ((4L, 0.75, 1.0, 1.0, false)))
    // doc 2: zero repetition, but at 4 tokens the top-token mass (1/4) is
    // above the 0.2 gate — short docs fail, as in the Gopher length band
    assert(out(2L) == ((4L, 0.0, 0.25, 1.0 / 3, false)))
    // doc 3: 6 toks {x,y} -> dup 2/3; top tok 3/6; bigrams: "x y"x3, "y x"x2
    assert(out(3L) == ((6L, 1.0 - 2.0 / 6, 0.5, 3.0 / 5, false)))
    // and an ordinary diverse doc passes the gate
    val pass = runOn("q72_repetition_ratio", docsOf(
      9L -> (0 until 40).map(i => s"w$i").mkString(" ")))
      .collect().head
    assert(pass.getBoolean(5), "diverse doc must pass the repetition gate")
  }

  test("q72: degenerate documents (empty, one token, double spaces, non-ASCII, null)") {
    val out = runOn("q72_repetition_ratio", docsOf(
      1L -> "",                   // one empty token, no bigram
      2L -> "solo",               // one token, no bigram
      3L -> "x x",                // all-identical tokens
      4L -> "a  b",               // double space: tokens a, "", b
      5L -> "日本 日本 語",        // non-ASCII tokens
      6L -> null))                // null text
      .collect()
      .map(r => r.getLong(0) -> (0 until 5).map(i => Option(r.get(i + 1)))).toMap
    def row(nTok: Long, dup: Double, top: Double, topBg: Double, pass: Boolean) =
      Seq(Some(nTok), Some(dup), Some(top), Some(topBg), Some(pass))

    assert(out(1L) == row(1L, 0.0, 1.0, 0.0, false))
    assert(out(2L) == row(1L, 0.0, 1.0, 0.0, false))
    // one bigram "x x": it is the whole bigram mass
    assert(out(3L) == row(2L, 0.5, 1.0, 1.0, false))
    // bigrams "a " and " b": the empty token joins like any other
    assert(out(4L) == row(3L, 0.0, 1.0 / 3, 0.5, false))
    // bigrams "日本 日本" and "日本 語"
    assert(out(5L) == row(3L, 1.0 - 2.0 / 3, 2.0 / 3, 0.5, false))
    // null text: no tokens to count, and an empty bigram array
    assert(out(6L) == Seq(None, None, None, Some(0.0), None))
  }

  test("q73: novelty is 1.0 for a unique doc, 0.0 for a clone pair") {
    val base = (0 until 12).map(i => s"t$i").mkString(" ")
    val out = runOn("q73_ngram_novelty", docsOf(
      1L -> base,                 // clone A
      2L -> base,                 // clone B: every 4-gram shared
      3L -> (100 until 112).map(i => s"u$i").mkString(" ")))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap

    // 12 tokens -> 9 distinct 4-grams each
    assert(out(1L) == ((9L, 0L, 2L, 0.0)))
    assert(out(2L) == ((9L, 0L, 2L, 0.0)))
    assert(out(3L) == ((9L, 9L, 1L, 1.0)))
  }

  test("q73: grams shuffle as digests, not strings") {
    val plan = TextAnalysis.queries("q73_ngram_novelty")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // the df aggregate and the join key are the md5 column `g`
    assert(plan.contains("md5"), plan.take(600))
  }

  test("q75: catches truncation dups that exact dedup (q40) misses") {
    // constructed: doc 2 is doc 1 truncated mid-way past the 128-char mark
    val long = (0 until 60).map(i => s"tok$i").mkString(" ")
    assert(long.length > 200)
    val out = runOn("q75_prefix_dup", docsOf(
      1L -> long,
      2L -> long.take(180),
      3L -> "something else entirely"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getBoolean(4)))
    assert(out.toSet == Set((1L, 2L, true), (2L, 2L, false)),
      s"got: ${out.mkString(", ")}")

    // the motivating property, on the real testdata: prefix groups exist
    // while full-content dup groups do not
    val prefixRows = Dedup.queries("q75_prefix_dup")(spark, sfDir).count()
    val exactDupGroups = Dedup.queries("q40_dedup_exact")(spark, sfDir)
      .filter(col("n_copies") > 1).count()
    assert(prefixRows > 0, "testdata has prefix-dup groups")
    assert(exactDupGroups == 0L,
      "q40 finds no exact dups here — q75's catch is strictly additive")
  }

  test("q76: lift separates a welded phrase from independent co-occurrence") {
    // "alpha beta" always adjacent (welded); filler tokens are iid noise.
    // Repeat the welded pair enough times to clear the min-count floor.
    val docs = docsOf((0L until 8L).map { i =>
      i -> s"alpha beta f${i}a f${i}b alpha beta f${i}c f${i}d alpha beta"
    }: _*)
    val out = runOn("q76_collocations", docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(4))).toMap
    assert(out.contains("alpha beta"), s"welded pair missing: ${out.keys}")
    val (cAb, lift) = out("alpha beta")
    assert(cAb == 24L)
    // c_a = c_b = 24, N = 80 tokens -> lift = 24*80/(24*24) = 10/3
    assert(lift == 24.0 * 80 / (24 * 24), s"lift=$lift")
    // nothing outscores the welded pair
    assert(out.values.forall(_._2 <= lift), "welded pair must rank first")
  }

  test("q77: clone pair across sources shows up as one leakage cell") {
    val base = (0 until 30).map(i => s"c$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("leak").toString
    Seq((1L, base, "en", "srcA", base.length.toLong),
        (2L, base, "en", "srcB", base.length.toLong),
        (3L, (100 until 130).map(i => s"z$i").mkString(" "), "en", "srcC", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.queries("q77_source_leakage")(spark, dir).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
    assert(out.toSeq == Seq((("srcA", "srcB"), (1L, 1L, 1.0, 1.0))),
      s"got: ${out.mkString(", ")}")
  }

  test("q78: finds doc-inside-doc that Jaccard-threshold dedup misses") {
    // contained = the first third of container: containment ~1.0 for the
    // small side, Jaccard ~1/3 (far below the q42/q44 0.7 threshold)
    val big = (0 until 60).map(i => s"p$i").mkString(" ")
    val small = (0 until 20).map(i => s"p$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("contain").toString
    // 40 unrelated filler docs so the df*20 <= n_docs rarity bound is
    // satisfiable (with a 3-doc corpus nothing can be "rare")
    val filler = (0L until 40L).map(k =>
      (10L + k) -> (0 until 20).map(i => s"f${k}x$i").mkString(" "))
    docsOf((Seq(1L -> big, 2L -> small,
        3L -> (100 until 160).map(i => s"q$i").mkString(" ")) ++ filler): _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.queries("q78_containment_dedup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // doc 2's 18 trigrams are all inside doc 1 -> containment 1.0;
    // the reverse direction (1 contained in 2) must NOT qualify
    assert(rows.toSet == Set((2L, 1L, 1.0)), s"got: ${rows.mkString(", ")}")

    // and the pair is invisible to the Jaccard pipeline at its threshold
    val jacPairs = Dedup.queries("q42_dedup_lsh_pairs")(spark, dir).collect()
    assert(jacPairs.isEmpty, "Jaccard dedup must not see the containment pair")
  }

  test("q79: cohort matrix on a constructed two-cohort event log") {
    val s = spark
    val dir = java.nio.file.Files.createTempDirectory("cohort").toString
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 12:00:00")
    // week A = 2024-01-01 (Mon); week B = 2024-01-08
    Seq(
      (1L, ts(1), 10L, "view", 1.0, "{}"),   // u10 cohort A, active wk0
      (2L, ts(9), 10L, "view", 1.0, "{}"),   // u10 active wk1
      (3L, ts(2), 11L, "view", 1.0, "{}"),   // u11 cohort A, active wk0 only
      (4L, ts(8), 12L, "view", 1.0, "{}"))   // u12 cohort B, active wk0
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Relational.queries("q79_retention_cohorts")(s, dir).collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1), r.getLong(2)))
      .toSet
    assert(out == Set(("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 1L),
      ("2024-01-08", 0L, 1L)), s"got: $out")
  }

  test("q75: only digests reach the aggregation (no full-text shuffle)") {
    val plan = Dedup.queries("q75_prefix_dup")(spark, sfDir)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(plan.contains("md5") && plan.contains("substring"), plan.take(600))
  }

  private def jvmToks(text: String): Array[String] = text.split(" ", -1)

  test("q155: vocabulary overlap equals a JVM set recompute over every source pair") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("text", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val vocab = docs.groupBy(_._2).view
      .mapValues(_.flatMap(d => jvmToks(d._1)).toSet).toMap
    val srcs = vocab.keys.toSeq.sorted
    val expected = (for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
      a = srcs(i); b = srcs(j)
      inter = (vocab(a) & vocab(b)).size.toLong
      uni = vocab(a).size + vocab(b).size - inter
    } yield (a, b, vocab(a).size.toLong, vocab(b).size.toLong,
      inter, uni, inter.toDouble / uni)).toSet
    val out = TextAnalysis.queries("q155_vocab_overlap")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    assert(out == expected)
    assert(out.size == srcs.length * (srcs.length - 1) / 2,
      "every pair present, including any with empty intersection")
  }

  private def md5Bucket(term: String, buckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.take(15)
    (java.lang.Long.parseLong(hex, 16) % buckets).toInt
  }

  private def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong

  test("q156: DSIR weights equal a JVM bucket-model recompute; selected bit is coherent") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val tgtSrc = docs.map(_._3).min
    val B = 256
    val tokBuckets = docs.map { case (id, text, src) =>
      (id, src, jvmToks(text).map(md5Bucket(_, B)))
    }
    val raw = tokBuckets.flatMap(_._3).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val tgt = tokBuckets.filter(_._2 == tgtSrc).flatMap(_._3)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    // models only carry corpus-present buckets (+1 smoothing), as the query's
    val cr = raw.map { case (b, c) => b -> (c + 1) }
    val ct = raw.map { case (b, _) => b -> (tgt.getOrElse(b, 0L) + 1) }
    val (tr, tt) = (cr.values.sum, ct.values.sum)
    val expected = tokBuckets.map { case (id, src, bks) =>
      val bucketBits = bks.groupBy(identity).map { case (b, occ) =>
        occ.length * (bits(ct(b)) - bits(cr(b)))
      }.sum
      val w = bucketBits + bks.length * (bits(tr) - bits(tt))
      (id, src, bks.length.toLong, w, w > 0)
    }.toSet
    val out = TextAnalysis.queries("q156_dsir_weights")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet
    assert(out == expected)
  }

  test("q157: Zipf fit equals hand math on a constructed corpus and a JVM recompute on testdata") {
    // constructed: freqs 8,2,1 -> ranks 1,2,3; x = 1,2,2; y = 4,2,1
    // n=3, Sx=5, Sy=7, Sxy=4+4+2=10, Sxx=1+4+4=9
    // num = 3*10-5*7 = -5, den = 3*9-25 = 2
    val handNum = -5L; val handDen = 2L
    def jvmFit(texts: Seq[(String, String)]): Map[String, (Long, Long, Long)] =
      texts.groupBy(_._1).map { case (lang, ds) =>
        val cnt = ds.flatMap(d => jvmToks(d._2))
          .groupBy(identity).view.mapValues(_.size.toLong).toMap
        val ranked = cnt.toSeq.sortBy { case (t, c) => (-c, t) }.zipWithIndex
          .map { case ((_, c), i) => (bits(i + 1L), bits(c)) }
        val n = ranked.length.toLong
        val sx = ranked.map(_._1).sum; val sy = ranked.map(_._2).sum
        val sxy = ranked.map(p => p._1 * p._2).sum
        val sxx = ranked.map(p => p._1 * p._1).sum
        lang -> (n, n * sxy - sx * sy, n * sxx - sx * sx)
      }
    val toyFit = jvmFit(Seq(("en", ("a " * 8).trim + " b b c")))("en")
    assert(toyFit == ((3L, handNum, handDen)))
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = jvmFit(docs.toSeq).map { case (l, (n, num, den)) =>
      (l, n, num, den, num.toDouble / den)
    }.toSet
    val out = TextAnalysis.queries("q157_zipf_fit")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(out == expected)
  }

  test("q164: bucket-composed nucleus equals the global ranked-cumulative recompute") {
    val terms = graft.Tables.load(spark, sfDir, "documents")
      .select("text").collect().flatMap(_.getString(0).split(" "))
    val counts = terms.groupBy(identity).map { case (t, v) => (t, v.length.toLong) }
    val nTotal = terms.length.toLong
    val ranked = counts.toSeq.sortBy { case (t, c) => (-c, t) }
    val cums = ranked.scanLeft(0L)(_ + _._2).drop(1)
    val expected = ranked.zip(cums).zipWithIndex.collect {
      case (((t, c), cum), i) if (cum - c) * 100 < nTotal * 95 =>
        (t, c, (i + 1).toLong, cum, nTotal)
    }.toSet
    val out = TextAnalysis.queries("q164_nucleus_cutoff")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(out == expected)
    // the nucleus is a strict subset: some vocabulary tail is excluded
    assert(out.size < counts.size, "95% nucleus should drop a tail")
  }

  test("q165: token-weighted deciles equal a JVM cumulative-histogram recompute") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("lang", "n_chars", "text").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getString(2).split(" ").length.toLong))
    val expected = docs.groupBy(_._1).map { case (lang, v) =>
      val hist = v.groupBy(_._2).map { case (x, g) => (x, g.map(_._3).sum) }
        .toSeq.sortBy(_._1)
      val n = hist.map(_._2).sum
      val cums = hist.zip(hist.scanLeft(0L)(_ + _._2).drop(1))
      def cut(p: Long) = cums.collectFirst {
        case ((x, _), cum) if cum >= (p * n + 99) / 100 => x }.get
      (lang, n, cut(25), cut(50), cut(75), cut(90))
    }.toSet
    val out = TextAnalysis.queries("q165_weighted_quantiles")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(out == expected)
  }

  /** Reference greedy BPE: merge `pair` left-to-right over a symbol list
    * (after a merge, scanning resumes AFTER the merged symbol — the
    * standard tokenizer-training semantics the double-space replace
    * encoding must reproduce exactly). */
  private def bpeApply(syms: List[String], pair: (String, String)): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && (syms(i), syms(i + 1)) == pair) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toList
  }

  private def bpeMerges(wordFreq: Map[String, Long], rounds: Int)
      : Seq[(Int, String, String, String, Long)] = {
    var seqs: Map[List[String], Long] = wordFreq.toSeq
      .map { case (w, f) => w.toList.map(_.toString) -> f }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    (1 to rounds).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      seqs.foreach { case (sy, f) =>
        sy.zip(sy.drop(1)).foreach(p => counts(p) += f)
      }
      val ((l, rr), cnt) = counts.toSeq
        .minBy { case ((a, b), c) => (-c, a, b) }
      seqs = seqs.toSeq.map { case (sy, f) => bpeApply(sy, (l, rr)) -> f }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      (r, l, rr, l + rr, cnt)
    }
  }

  test("q178: run-of-same-pair words merge every occurrence (the encoding edge case)") {
    // "aaaa" has pair (a,a) at 3 positions; greedy BPE yields "aa","aa".
    // Round 2 then merges (aa,aa). A single-space replace encoding would
    // have left " aa a a " after round 1 and fail this.
    val out = TextAnalysis.queries("q178_bpe_merges")(
        spark, writeDocs(docsOf((1L, "aaaa aaaa"), (2L, "aaaa"))))
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(out(0) == ((1, "a", "a", "aa", 9L)))
    assert(out(1) == ((2, "aa", "aa", "aaaa", 3L)))
  }

  test("q178: three merge rounds equal a JVM greedy-BPE recompute on the testdata") {
    val wf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = bpeMerges(wf, TextAnalysis.BpeMergeRounds)
    val got = TextAnalysis.queries("q178_bpe_merges")(spark, sfDir)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(got == expected, s"got=$got expected=$expected")
    assert(expected.map(_._5).forall(_ > 0))
  }

  test("q184: applied < positional on runs; totals track greedy merges exactly") {
    val dir = writeDocs(docsOf((1L, "aaaa aaaa"), (2L, "aaaa")))
    val out = TextAnalysis.queries("q184_bpe_compression")(spark, dir)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // "aaaa" occurs 3 times: positional (a,a) count = 3·3 = 9, but greedy
    // merging applies it only twice per word = 6; totals 12 -> 6.
    assert(out(0) == ((1, "a", "a", 9L, 12L, 6L, 6L)))
    // round 2 merges (aa,aa): positional 3, applied 3, totals 6 -> 3
    assert(out(1) == ((2, "aa", "aa", 3L, 6L, 3L, 3L)))
  }

  test("q184: rounds agree with the JVM greedy recompute on the testdata") {
    val wf = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // JVM recompute with totals
    var seqs: Map[List[String], Long] = wf.toSeq
      .map { case (w, f) => w.toList.map(_.toString) -> f }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def total = seqs.map { case (sy, f) => sy.length * f }.sum
    val expected = (1 to TextAnalysis.BpeMergeRounds).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      seqs.foreach { case (sy, f) =>
        sy.zip(sy.drop(1)).foreach(p => counts(p) += f) }
      val ((l, rr), cnt) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      val before = total
      seqs = seqs.toSeq.map { case (sy, f) => bpeApply(sy, (l, rr)) -> f }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      (r, l, rr, cnt, before, total, before - total)
    }
    val got = TextAnalysis.queries("q184_bpe_compression")(spark, sfDir)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected, s"got=$got expected=$expected")
    got.foreach { case (_, _, _, pc, _, _, ac) =>
      assert(ac >= 1 && ac <= pc) }
  }

  test("q185: encoding totals equal re-encoding every occurrence through the JVM merges") {
    // derive the 3 merges with the JVM reference, encode every token
    // occurrence, compare per-source totals
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "text").collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val wf = docs.flatMap(_._2).groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val merges = bpeMerges(wf, TextAnalysis.BpeMergeRounds)
      .map(m => (m._2, m._3))
    val symCount: Map[String, Int] = wf.keys.map { w =>
      var sy = w.toList.map(_.toString)
      merges.foreach(p => sy = bpeApply(sy, p))
      w -> sy.length
    }.toMap
    val expected = docs.groupBy(_._1).view.mapValues { ds =>
      val toks = ds.flatMap(_._2)
      (toks.length.toLong, toks.map(_.length.toLong).sum,
        toks.map(symCount(_).toLong).sum)
    }.toMap
    val got = TextAnalysis.queries("q185_bpe_encode")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (src, (nt, nc, ns, ratio)) =>
      val (ent, enc, ens) = expected(src)
      assert((nt, nc, ns) == ((ent, enc, ens)), s"source $src")
      assert(ratio == nc.toDouble / ns)
      assert(ns < nc, s"merges should compress source $src")
    }
  }

  test("q199: greedy decode equals a JVM argmax chain over the bigram counts") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("text").collect()
      .map(_.getString(0).split(" ").filter(_.nonEmpty))
    val uni = docs.flatten.groupBy(identity).view.mapValues(_.length.toLong)
    val bg = docs.flatMap(tk => tk.zip(tk.drop(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val seed = uni.toSeq.minBy { case (w, c) => (-c, w) }
    val chain = scala.collection.mutable.ListBuffer(
      (0, seed._1, seed._2))
    var cur = seed._1
    var i = 1
    var alive = true
    while (i <= 10 && alive) {
      val succ = bg.collect { case ((a, b), c) if a == cur => (b, c) }
      if (succ.isEmpty) alive = false
      else {
        val (b, c) = succ.toSeq.minBy { case (b, c) => (-c, b) }
        chain += ((i, b, c)); cur = b; i += 1
      }
    }
    val out = TextAnalysis.queries("q199_bigram_decode")(spark, sfDir)
      .orderBy("step").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == chain.toSeq, s"got=$out expected=$chain")
    assert(out.length >= 2, "the modal token should have a successor")
  }

  /** Materialize a constructed docs frame as a parquet dir the query
    * contract (SparkSession, sfDir) can read. */
  private def writeDocs(df: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("q178docs").toString
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
}
