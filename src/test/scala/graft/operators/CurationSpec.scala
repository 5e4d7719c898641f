package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CurationSpec extends SparkSpec {
  import spark.implicits._

  // --- PII redaction ------------------------------------------------------

  test("piiScan counts and strikes emails and IPv4s, leaves clean text alone") {
    val docs = Seq(
      (1L, "mail a.user+tag@corp.example.org and b_2@x.io now"),
      (2L, "server at 192.168.0.1 and 10.0.255.3, port 8080"),
      (3L, "no pii here at all"),
      (4L, "mixed: c@d.com from 127.0.0.1")).toDF("doc_id", "text")
    val out = Curation.piiScan(docs, col("text"))
      .orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 0L), (0L, 2L), (0L, 0L), (1L, 1L)))
    // redacted text drops every match (fingerprint of the exact bytes)
    val red = docs.select(Curation.redact(col("text")).as("r"))
      .orderBy(lit(1)).collect().map(_.getString(0)).toSet
    assert(red.contains("mail <EMAIL> and <EMAIL> now"))
    assert(red.contains("server at <IP> and <IP>, port 8080"))
    assert(red.contains("no pii here at all"))
    assert(red.contains("mixed: <EMAIL> from <IP>"))
  }

  test("uppercase emails are caught (case-insensitive scrubbing)") {
    val docs = Seq((1L, "write John.Doe@Corp.COM today")).toDF("doc_id", "text")
    val r = Curation.piiScan(docs, col("text")).collect()(0)
    assert(r.getLong(1) == 1L)
    assert(docs.select(Curation.redact(col("text"))).head().getString(0) ==
      "write <EMAIL> today")
  }

  test("port numbers and version strings are not IPv4 false-positives") {
    val docs = Seq((1L, "v1.2.3 released, see 1.2.3.4.5 and :9090")).toDF("doc_id", "text")
    val r = Curation.piiScan(docs, col("text")).collect()(0)
    // v1.2.3 has 3 octets (no match); 1.2.3.4.5 contains a 4-octet run that
    // \b-boundaries DO match (standard scrubber behavior) — count it.
    assert(r.getLong(1) == 0L && r.getLong(2) == 1L)
  }

  // --- decontamination ----------------------------------------------------

  test("decontaminate flags docs sharing an n-gram with the benchmark slice") {
    val docs = Seq(
      (1L, "bench", "alpha beta gamma delta epsilon"),
      (2L, "web", "zeta alpha beta gamma delta tail"),   // shares a 4-gram
      (3L, "web", "alpha beta gamma zeta delta"),        // 3-gram only: clean at n=4
      (4L, "web", "totally different words entirely here")).toDF("doc_id", "source", "text")
    val out = Curation.decontaminate(docs, "bench", 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L))
    assert(out.map(_.getBoolean(3)).toSeq == Seq(true, false, false))
    assert(out(0).getLong(2) == 1L) // exactly the one shared 4-gram
  }

  test("contaminationSpans measures overlap mass and longest verbatim run") {
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "bench", "alpha beta gamma delta epsilon zeta eta theta"),
      // 4 grams, 2 consecutive hits: mass rule fires (8*2 > 4)
      (2L, "web", "x alpha beta gamma delta epsilon y"),
      // clean doc: no overlap at all
      (3L, "web", "one two three four five six seven eight nine"),
      // shorter than n: zero grams, zero division guarded
      (4L, "web", "tiny doc"),
      // 45 grams, 5-hit run at the tail: run rule fires, mass rule does not
      (5L, "web", s"$filler alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "source", "text")
    val out = Curation.contaminationSpans(docs, "bench", 4)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L, 5L))
    // (n_grams, n_hits, longest_run, dirty)
    val rows = out.map(r =>
      (r.getLong(2), r.getLong(3), r.getLong(5), r.getBoolean(6))).toSeq
    assert(rows(0) == (4L, 2L, 2L, true))   // 2/4 mass > 1/8
    assert(rows(1) == (6L, 0L, 0L, false))
    assert(rows(2) == (0L, 0L, 0L, false))
    assert(rows(3) == (45L, 5L, 5L, true))  // 5/45 < 1/8 but run >= 5
    // hit_frac is the exact rational
    assert(out(0).getDouble(4) == 0.5)
    assert(out(2).getDouble(4) == 0.0)
  }

  test("decontamination plan broadcasts the benchmark gram set") {
    val q = Curation.decontaminate(
      graft.Tables.load(spark, sfDir, "documents"), "src0", 4)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  // --- stratified sampling ------------------------------------------------

  test("stratifiedSample is deterministic, bounded at k, and md5-ordered") {
    val docs = (1L to 40L).map(i => (s"s${i % 3}", i)).toDF("source", "doc_id")
      .repartition(7) // partitioning must not affect the sample
    val a = Curation.stratifiedSample(docs, "source", 5)
      .orderBy("source", "rank").collect()
    val b = Curation.stratifiedSample(docs.repartition(3), "source", 5)
      .orderBy("source", "rank").collect()
    assert(a.toSeq == b.toSeq)
    // k per stratum, rank dense from 1
    val bySrc = a.groupBy(_.getString(0))
    assert(bySrc.keySet == Set("s0", "s1", "s2"))
    bySrc.values.foreach { rows =>
      assert(rows.length == 5)
      assert(rows.map(_.getLong(1)).toSeq == (1L to 5L))
      // md5 order within the stratum
      val hs = rows.sortBy(_.getLong(1)).map(_.getString(3)).toSeq
      assert(hs == hs.sorted)
    }
    // brute-force reference: 5 smallest (md5(id), id) per stratum
    val ref = (1L to 40L).groupBy(i => s"${i % 3}")
      .view.mapValues(_.map(i => (TextFns.md5hex(i.toString), i)).sorted.take(5).map(_._2))
    bySrc.foreach { case (srcName, rows) =>
      assert(rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq ==
        ref(srcName.stripPrefix("s")).toSeq, s"stratum $srcName")
    }
  }

  test("a stratum smaller than k yields its full membership") {
    val docs = Seq(("tiny", 7L), ("tiny", 9L)).toDF("source", "doc_id")
    val out = Curation.stratifiedSample(docs, "source", 10).collect()
    assert(out.map(_.getLong(2)).toSet == Set(7L, 9L))
  }

  // --- inverted index -----------------------------------------------------

  test("invertedIndex: exact df, postings capped at k smallest doc_ids") {
    val docs = ((1L to 30L).map(i => (i, s"common word$i")) :+
      (100L, "common common unique")).toDF("doc_id", "text")
    val out = Curation.invertedIndex(docs, 8).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // mega-term: df counts all 31 docs, postings only the 8 smallest
    assert(out("common") == ((31L, (1L to 8L).mkString(","))))
    // repeated term within one doc counts once (pre-deduped per doc)
    assert(out("unique") == ((1L, "100")))
    assert(out("word7") == ((1L, "7")))
  }

  // --- sequence packing ---------------------------------------------------

  test("packSequences lays docs end-to-end and cuts at SeqLen boundaries") {
    // one shard, one source: doc_ids all multiples of PackShards so the
    // shard column is 0 and the layout is a single deterministic chain
    val ids = (0 until 6).map(i => i.toLong * Curation.PackShards)
    val docs = ids.map(id => (id, "s0", Seq.fill(700)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val out = Curation.packSequences(docs).orderBy("doc_id").collect()
    // 700 tokens each, SeqLen=2048: starts at 0,700,1400,2100,2800,3500
    assert(out.map(_.getLong(4)).toSeq == Seq(0L, 0L, 0L, 1L, 1L, 1L))
    assert(out.map(_.getLong(5)).toSeq ==
      Seq(0L, 700L, 1400L, 52L, 752L, 1452L))
    // offsets are always inside a sequence
    out.foreach(r => assert(r.getLong(5) >= 0 && r.getLong(5) < Curation.SeqLen))
  }

  test("packing is independent of input partitioning") {
    val docs = (1L to 100L).map(i => (i, s"s${i % 2}", Seq.fill((i % 37 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val a = Curation.packSequences(docs.repartition(13)).orderBy("doc_id").collect()
    val b = Curation.packSequences(docs.coalesce(1)).orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
  }

  // --- streaming parity ---------------------------------------------------

  test("piiScan is mode-agnostic: batch and stream rows identical") {
    val s = spark
    implicit val sqlCtx = s.sqlContext
    val docs = Seq(
      (1L, "write to a@b.co or 10.1.2.3"),
      (2L, "clean text"))
    val batch = Curation.piiScan(docs.toDF("doc_id", "text"), col("text"))
      .orderBy("doc_id").collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = Curation.piiScan(
        mem.toDF().select(col("_1").as("doc_id"), col("_2").as("text")), col("text"))
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    val streamed =
      try {
        mem.addData(docs: _*)
        q.processAllAvailable()
        s.table("pii_stream").orderBy("doc_id").collect()
      } finally q.stop()
    assert(batch.toSeq == streamed.toSeq)
  }

  // --- chunking -----------------------------------------------------------

  test("chunkDocs: stride coverage — every token chunked, interiors full-width") {
    val docs = Seq(
      (1L, (1 to 100).map(i => s"w$i").mkString(" ")), // 100 toks: 3 full + short
      (2L, (1 to 32).map(i => s"w$i").mkString(" ")),  // exactly one full chunk
      (3L, "a b c"),                                   // short doc: one short chunk
      (4L, (1 to 33).map(i => s"w$i").mkString(" "))   // 1 token past a boundary
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocs(docs, 32, 24).collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) =>
        k -> rs.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      }
    assert(out(1L) == Seq((1L, 32L), (25L, 32L), (49L, 32L), (73L, 28L)))
    assert(out(2L) == Seq((1L, 32L)))
    assert(out(3L) == Seq((1L, 3L)))
    assert(out(4L) == Seq((1L, 32L), (25L, 9L)))
    // coverage invariant: chunks start at 1 and the last chunk reaches n
    assert(out.values.forall(cs => cs.head._1 == 1L))
  }

  test("chunkDocs fingerprints are the md5 of the exact window text") {
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val out = Curation.chunkDocs(docs, 4, 2).collect()
      .map(r => (r.getLong(1), r.getString(3))).sortBy(_._1)
    // n=5, len=4, stride=2: starts run to n-(len-stride)=3 — the chunk at 3
    // already covers token 5, so no start-5 sliver is emitted
    assert(out.toSeq == Seq(
      (1L, TextFns.md5hex("a b c d")),
      (3L, TextFns.md5hex("c d e"))))
  }

  test("q102: mask positions are the exact per-(doc,index) md5 race") {
    val docs = Seq(
      (7L, (1 to 40).map(i => s"w$i").mkString(" ")),
      (8L, "solo")
    ).toDF("doc_id", "text")
    val out = Curation.spanCorruption(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    def expectedIdx(id: Long, n: Int) =
      (1 to n).filter(i => TextFns.md5hex(s"mask|$id|$i").head < '4')
    val e7 = expectedIdx(7L, 40)
    assert(out(7L) == ((40L, e7.size.toLong, e7.mkString(","))))
    val e8 = expectedIdx(8L, 1)
    assert(out(8L) == ((1L, e8.size.toLong, e8.mkString(","))))
    // determinism across invocations (pure function of doc_id, position)
    val again = Curation.spanCorruption(docs).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(again(7L) == out(7L)._3)
  }

  // --- temperature-scaled mixture sampling ---------------------------------

  test("q147: quotas follow the T=2 integer allocation; sample is the md5 prefix per source") {
    val k = Curation.TempMixK
    val docs = graft.Tables.load(spark, sfDir, "documents")
    // JVM recompute of the whole allocation from raw token counts
    val toks = docs.select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).length.toLong))
    val w = toks.groupBy(_._1).view.mapValues(ds =>
      math.floor(math.sqrt(ds.map(_._3).sum.toDouble)).toLong).toMap
    val totW = w.values.sum
    val quota = w.view.mapValues(ws => (2 * k * ws + totW) / (2 * totW)).toMap
    val expected = toks.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      ds.toSeq.map(d => (TextFns.md5hex(d._2.toString), d._2)).sorted
        .take(quota(src).toInt).zipWithIndex
        .map { case ((_, id), i) => (src, quota(src), i + 1L, id) }
    }.toSet
    val out = Curation.queries("q147_temperature_mix")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSet == expected)
    // round-half-up proportionality: every source's quota within 1 of its
    // exact share, and the total within #sources/2 of the budget K
    quota.foreach { case (src, q) =>
      assert(math.abs(q - k.toDouble * w(src) / totW) <= 0.5 + 1e-9, src)
    }
    assert(math.abs(quota.values.sum - k) <= w.size / 2)
    // temperature flattening: a source's sampled share never exceeds its
    // raw token share by more than the sqrt compression allows, and the
    // tail is boosted — min quota > 0 on this testdata
    assert(quota.values.min >= 1)
  }

  // --- weighted sampling --------------------------------------------------

  test("weightedSample favors heavy rows and matches a JVM-side recompute") {
    val docs = spark.range(1, 1001).select(
      col("id").as("doc_id"), lit("s").as("source"),
      // half the corpus weight 1, half weight 1000
      when(col("id") % 2 === 0, 1000L).otherwise(1L).as("n_chars"))
    val out = Curation.weightedSample(docs, "source", "n_chars", 20)
      .orderBy("rank").collect()
    assert(out.length == 20)
    // exact JVM recompute of the integer priority race
    val expected = (1L until 1001L).map { id =>
      val u = java.lang.Long.parseLong(TextFns.md5hex(id.toString).substring(0, 15), 16)
      val w = if (id % 2 == 0) 1000L else 1L
      (u / w, id)
    }.sorted.take(20)
    assert(out.map(r => (r.getLong(3), r.getLong(2))).toSeq == expected)
    // the length bias is real: weight-1000 rows should dominate the sample
    val heavy = out.count(_.getLong(2) % 2 == 0)
    assert(heavy >= 18, s"only $heavy/20 sampled rows were heavy")
  }

  // --- q70 survivor clustering: shared-pair path == re-shingle path -------

  test("curate: corpus-pair-filtered survivor CC equals the re-shingle path") {
    // The q70 entry feeds curate the corpus-wide shared trigram pair list
    // and filters it to exact-dedup survivors instead of re-running the
    // signature pass on the survivor corpus. The identity (pair membership
    // depends only on the two endpoints) must make the two paths
    // row-identical END TO END on real data — survivor pair sets, CC
    // labels, and the final curated output all included transitively.
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val viaShared = Curation.curate(docs,
      Some(Dedup.corpusTrigramPairs(spark, sfDir)))
    val viaReshingle = Curation.curate(docs, None)
    assert(viaShared.count() == viaReshingle.count())
    assert(viaShared.except(viaReshingle).isEmpty &&
      viaReshingle.except(viaShared).isEmpty)
  }

  test("mega-term postings stay bounded: no row grows with corpus size") {
    // 5k docs all sharing one term: the aggregation must complete with an
    // 8-element posting string, never a 5k-element row.
    val docs = spark.range(1, 5001).select(col("id").as("doc_id"),
      lit("boilerplate header").as("text"))
    val out = Curation.invertedIndex(docs, 8)
      .filter(col("term") === "boilerplate").collect()(0)
    assert(out.getLong(1) == 5000L)
    assert(out.getString(2) == (1L to 8L).mkString(","))
  }

  test("q166: shifted-postings phrase join equals a JVM token-adjacency scan") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ")))
    val expected = docs.flatMap { case (id, tk) =>
      val hits = tk.indices.dropRight(1).filter(i =>
        tk(i) == Curation.PhraseW1 && tk(i + 1) == Curation.PhraseW2)
      if (hits.isEmpty) None
      else Some((id, hits.length.toLong, hits.min.toLong))
    }.toSet
    val out = Curation.queries("q166_phrase_search")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == expected)
    // the corpus genuinely contains the phrase, including a multi-hit doc
    assert(out.nonEmpty, "phrase absent from testdata — pick a commoner pair")
  }

  test("q200: pipeline v2 = clip-survivors ∩ gopher-pass, priority-sampled (JVM top-k)") {
    val clip = graft.operators.Dedup
      .queries("q177_exactsubstr_clip")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val pass = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        graft.operators.TextAnalysis.gopherPass(col("text")).as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val qualifying = pass.collect { case (id, src, p)
      if p && clip.contains(id) &&
        clip(id)._2 >= 32 && clip(id)._2 * 2 >= clip(id)._1 =>
      (src, id, clip(id)._2) }
    def u(id: Long): Long =
      java.lang.Long.parseLong(
        graft.operators.TextFns.md5hex(s"ps|$id").take(15), 16) + 1
    val expected = qualifying.groupBy(_._1).toSeq.flatMap { case (src, g) =>
      g.map { case (_, id, w) =>
        (math.max(w, 1L).toDouble * 1152921504606846976L.toDouble / u(id),
          id, w) }
        .sortBy { case (p, id, _) => (-p, id) }
        .take(Curation.PipelineV2K)
        .map { case (_, id, w) => (src, id, w) }
    }.toSet
    val got = Curation.queries("q200_curation_pipeline_v2")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"missing=${expected.diff(got)} extra=${got.diff(expected)}")
    assert(got.nonEmpty)
    // the clip stage genuinely filters (some doc is dropped for span reuse)
    assert(pass.count(_._3) > qualifying.length,
      "clip stage should drop at least one quality-passing doc")
  }

  test("q187: priority-sample estimator equals the JVM Duffield recompute") {
    val k = Curation.PrioritySampleK
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), math.max(r.getLong(2), 1L)))
    def u(id: Long): Long =
      java.lang.Long.parseLong(
        graft.operators.TextFns.md5hex(s"ps|$id").take(15), 16) + 1
    val expected = docs.groupBy(_._1).view.mapValues { g =>
      val pri = g.map { case (_, id, w) =>
        (w.toDouble * 1152921504606846976L.toDouble / u(id), id, w) }
        .sortBy { case (p, id, _) => (-p, id) }
      val sample = pri.take(k)
      val tau = if (pri.length >= k + 1) Some(pri(k)._1) else None
      val big = sample.collect {
        case (_, _, w) if tau.forall(w.toDouble >= _) => w }.sum
      val nSmall = sample.count { case (_, _, w) =>
        tau.exists(w.toDouble < _) }
      val est = big.toDouble + tau.map(_ * nSmall).getOrElse(0.0)
      (g.length.toLong, g.map(_._3).sum, sample.length.toLong, est)
    }.toMap
    val got = Curation.queries("q187_priority_sample")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got == expected, s"diff=${got.toSet.diff(expected.toSet)}")
    // the estimator is actually informative: within 2x of truth everywhere
    got.foreach { case (src, (_, tot, _, est)) =>
      assert(est > tot / 2.0 && est < tot * 2.0, s"$src est=$est tot=$tot") }
    // a stratum smaller than k estimates EXACTLY (tau absent)
    val tiny = (1 to 5).map(i => (i.toLong, s"src${i % 2}", 100L + i))
      .toDF("doc_id", "source", "n_chars")
      .withColumn("text", lit("x")).withColumn("lang", lit("en"))
    val dir = java.nio.file.Files.createTempDirectory("q187").toString
    tiny.write.parquet(s"$dir/documents.parquet")
    Curation.queries("q187_priority_sample")(spark, dir).collect()
      .foreach { r =>
        assert(r.getDouble(4) == r.getLong(2).toDouble,
          "small stratum must estimate exactly") }
  }
}
