package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom streaming state operators (`flatMapGroupsWithState` /
  * `mapGroupsWithState`) — the extension point the reference's keyed window
  * state maps to when the built-in windowed aggregates aren't enough
  * (SURVEY §2B "Session windows / stateful ops").
  *
  * Scale stance: state lives in the state store, partitioned by key like any
  * shuffle — the operator scales with executors. State GROWTH is the real
  * 100 TB risk, so both operators take a processing-time timeout that
  * retires idle keys; the tradeoff (a key re-admitted after idle eviction)
  * is the standard bounded-state contract. For plain streaming dedup Spark's
  * built-in `dropDuplicatesWithinWatermark` suffices; [[firstSeen]] is the
  * shape you extend when the admission logic is richer than equality
  * (budgets, quotas, per-source caps).
  */
object StatefulOps {

  /** The one idle-timeout mechanism of the keyed operators below.
    * `idleTimeout = Some(d)` retires a key after `d` of processing time
    * without records: its state is removed and `expired` turns the last
    * state, if any, into output (nothing, unless the operator says
    * otherwise).
    * Every live call re-arms the timeout before `live` runs. `None` keeps
    * state forever and never triggers an empty batch. */
  private implicit class IdleTimeoutGroups[K, V](
      grouped: KeyValueGroupedDataset[K, V]) {
    def flatMapWithIdleTimeout[S: Encoder, U: Encoder](mode: OutputMode,
        idleTimeout: Option[String],
        expired: (K, S) => Iterator[U] = (_: K, _: S) => Iterator.empty)(
        live: (K, Iterator[V], GroupState[S]) => Iterator[U]): Dataset[U] =
      grouped.flatMapGroupsWithState[S, U](mode,
        if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout()) { (key, values, state) =>
        if (state.hasTimedOut) {
          // a key can time out with no state stored: the timeout is armed
          // before `live` runs, and `live` need not call `update`
          val last = state.getOption
          state.remove()
          last.map(expired(key, _)).getOrElse(Iterator.empty)
        } else {
          idleTimeout.foreach(state.setTimeoutDuration)
          live(key, values, state)
        }
      }
  }

  /** A keyed record: `key` is the dedup identity (e.g. a content hash). */
  case class Keyed(key: String, payload: String)

  /** Streaming exact dedup: the FIRST record per key is emitted, all later
    * ones are dropped. Append-mode output.
    *
    * `idleTimeout = Some(d)` bounds state by retiring keys idle for `d`
    * (production setting; a retired key would be re-admitted). `None` keeps
    * state forever — needed where every batch must be deterministic (e.g.
    * tests: a processing-time timeout keeps the query triggering empty
    * batches, so `processAllAvailable` never settles). */
  def firstSeen(ds: Dataset[Keyed],
                idleTimeout: Option[String] = Some("1 hour")): Dataset[Keyed] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapWithIdleTimeout[Boolean, Keyed](OutputMode.Append(), idleTimeout) {
        case (_, records, state) =>
          if (state.exists) Iterator.empty
          else { state.update(true); records.take(1) }
      }
  }

  /** A document flowing through a streaming ingest pipeline. */
  case class Doc(doc_id: Long, text: String)

  /** Streaming near-dup admission: documents whose FULL MinHash signature
    * (concatenated seeded minhashes over n-token shingles) was already seen
    * are dropped; first arrival wins. Near-duplicates collide on the full
    * signature with probability J^numHashes — this is the streaming
    * counterpart of the batch LSH dedup (Dedup.lshNearDupPairs), trading its
    * banded recall for O(1) per-document state. Docs too short to shingle
    * fall back to exact-text dedup (md5). */
  def firstSeenBySignature(docs: Dataset[Doc], n: Int = 3, numHashes: Int = 4,
                           idleTimeout: Option[String] = Some("1 hour")): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.TextFns
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val keyed = docs.toDF()
      .withColumn("sh", TextFns.shingles(TextFns.toks(col("text")), n))
      .withColumn("mhs", TextFns.minhashSig(col("sh"), numHashes, 0))
      .withColumn("sig", coalesce(
        concat((0 until numHashes).map(i => element_at(col("mhs"), i + 1)): _*),
        md5(col("text"))))
      .select(col("sig"), col("doc_id"), col("text"))
      .as[(String, Long, String)]
    keyed.groupByKey(_._1)
      .flatMapWithIdleTimeout[Boolean, Doc](OutputMode.Append(), idleTimeout) {
        case (_, records, state) =>
          if (state.exists) Iterator.empty
          else { state.update(true); records.take(1).map(r => Doc(r._2, r._3)) }
      }
  }

  case class FunnelEvent(user_id: Long, event_type: String, ts: java.sql.Timestamp)
  case class FunnelProgress(tSignup: Option[java.sql.Timestamp],
                            tView: Option[java.sql.Timestamp],
                            tPurchase: Option[java.sql.Timestamp])
  case class FunnelRow(user_id: Long, t_signup: java.sql.Timestamp,
                       t_view: java.sql.Timestamp, t_purchase: java.sql.Timestamp,
                       stage: Long)

  /** Streaming twin of the batch funnel (q68, `Relational`): per-user
    * signup -> first view strictly after it -> first purchase strictly
    * after that view. State is three optional timestamps per user — O(1),
    * never an event buffer — and a user emits an updated row only on the
    * batches where their funnel actually advanced (Update-mode output;
    * users without a signup emit nothing, like the batch query).
    *
    * Exactness contract: identical to the batch funnel when each user's
    * events are fed in event-time order ACROSS batches (the log-replay
    * shape; intra-batch order is free — each group sorts its batch). With
    * O(1) state, cross-batch event-time regressions can only be healed by
    * buffering events, which is precisely what this operator exists to
    * avoid; feed from a time-ordered log or widen batches until order
    * holds. StreamingFunnelCmsSpec pins batch==stream on the real events
    * table replayed in timestamp order. */
  def funnelStream(events: Dataset[FunnelEvent],
                   idleTimeout: Option[String] = Some("1 hour")): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapWithIdleTimeout[FunnelProgress, FunnelRow](OutputMode.Update(), idleTimeout) {
        case (uid, batch, state) =>
          val before = state.getOption.getOrElse(FunnelProgress(None, None, None))
          val st = advanceFunnel(before, batch.toSeq)
          if (st == before) Iterator.empty
          else {
            state.update(st)
            Iterator.single(funnelRow(uid, st))
          }
      }
  }

  /** Fold a batch of events (sorted here by event time) into the funnel
    * progress — the single definition of the stage-advance rule shared by
    * both streaming variants. */
  private def advanceFunnel(start: FunnelProgress,
                            events: Seq[FunnelEvent]): FunnelProgress = {
    var st = start
    events.sortWith((a, b) => a.ts.compareTo(b.ts) < 0).foreach { e =>
      e.event_type match {
        case "signup" if st.tSignup.isEmpty =>
          st = st.copy(tSignup = Some(e.ts))
        case "view" if st.tSignup.nonEmpty && st.tView.isEmpty &&
            e.ts.after(st.tSignup.get) =>
          st = st.copy(tView = Some(e.ts))
        case "purchase" if st.tView.nonEmpty && st.tPurchase.isEmpty &&
            e.ts.after(st.tView.get) =>
          st = st.copy(tPurchase = Some(e.ts))
        case _ =>
      }
    }
    st
  }

  private def funnelRow(uid: Long, st: FunnelProgress): FunnelRow = {
    val stage = 1L + (if (st.tView.isDefined) 1L else 0L) +
      (if (st.tPurchase.isDefined) 1L else 0L)
    FunnelRow(uid, st.tSignup.orNull, st.tView.orNull, st.tPurchase.orNull, stage)
  }

  /** Watermark-buffered funnel state: folded progress + the events still
    * inside the disorder horizon (ts above the current watermark). */
  case class FunnelBufState(progress: FunnelProgress, held: List[FunnelEvent])

  /** Disorder-tolerant twin of [[funnelStream]]: exact under ANY arrival
    * order of on-time events, not just cross-batch event-time order.
    *
    * Mechanics: events newer than the watermark are HELD in state (an event
    * with a smaller timestamp may still arrive); once the watermark passes
    * an event's timestamp nothing older can arrive (Spark drops it as late
    * upstream), so held events at or below the watermark fold into the O(1)
    * progress in event-time order and leave state. An event-time timeout is
    * registered at the newest held timestamp, so buffered events fold and
    * emit when the watermark passes them even if the user never appears in
    * another batch.
    *
    * State is watermark-bounded by construction: per user, only events
    * inside the `delay` horizon are ever buffered — the knob trades
    * disorder tolerance for state size, and the 100 TB sizing is
    * (events/sec within delay) x per-event bytes per active user, not the
    * stream's history. Update-mode output like [[funnelStream]]: a user
    * emits only on watermark passages where their funnel advanced, and
    * emitted stages strictly increase per user.
    *
    * StreamingFunnelCmsSpec pins batch==stream on the real events table
    * replayed with every timestamp-bucket shuffled (worst-case disorder
    * within the horizon). */
  def funnelStreamWatermarked(events: Dataset[FunnelEvent],
                              delay: String = "1 hour"): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withWatermark("ts", delay)
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBufState, FunnelRow](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid, batch, state) =>
          val wm = state.getCurrentWatermarkMs()
          val old = state.getOption
            .getOrElse(FunnelBufState(FunnelProgress(None, None, None), Nil))
          val all = old.held ++ batch // batch is empty on a timeout call
          val (ripe, held) = all.partition(_.ts.getTime <= wm)
          val st = advanceFunnel(old.progress, ripe)
          state.update(FunnelBufState(st, held))
          if (held.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(held.map(_.ts.getTime).max, wm + 1L))
          if (st == old.progress) Iterator.empty
          else Iterator.single(funnelRow(uid, st))
      }
  }

  case class TransEvent(user_id: Long, event_type: String,
                        ts: java.sql.Timestamp, event_id: Long)
  case class LastEvent(ts: java.sql.Timestamp, event_id: Long,
                       event_type: String)
  case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Streaming twin of the batch transition matrix (q92, `Relational`):
    * per-user state is the LAST event only — O(1), never a buffer — and
    * each arriving event emits exactly one (from, to) pair against its
    * predecessor in (ts, event_id) order, so downstream
    * counting/probability is a plain streaming aggregation over the
    * emitted pairs. Same ordering contract as [[funnelStream]]: exact when
    * each user's events arrive in event-time order ACROSS batches
    * (intra-batch order is free — each group sorts its batch);
    * `StreamingFunnelCmsSpec` pins batch==stream on the real events table
    * replayed in timestamp order. */
  def transitionStream(events: Dataset[TransEvent],
                       idleTimeout: Option[String] = Some("1 hour")): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapWithIdleTimeout[LastEvent, Transition](OutputMode.Append(), idleTimeout) {
        case (uid, batch, state) =>
          val sorted = batch.toSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            c < 0 || (c == 0 && a.event_id < b.event_id)
          }
          var last = state.getOption
          val out = Seq.newBuilder[Transition]
          sorted.foreach { e =>
            last.foreach(l => out += Transition(uid, l.event_type, e.event_type))
            last = Some(LastEvent(e.ts, e.event_id, e.event_type))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  case class Scd2Event(user_id: Long, event_type: String,
                       ts: java.sql.Timestamp, event_id: Long)
  case class RunState(event_type: String, valid_from: java.sql.Timestamp,
                      n_events: Long)
  case class Scd2Interval(user_id: Long, event_type: String,
                          valid_from: java.sql.Timestamp,
                          valid_to: java.sql.Timestamp, n_events: Long)

  /** Streaming twin of the batch SCD2 compaction (q122, `Relational`):
    * per-user state is the OPEN run only — (type, valid_from, count),
    * O(1) regardless of history length — and an arriving event either
    * extends it or closes it, emitting the CLOSED validity interval in
    * append mode. The open run stays in state (a stream cannot know its
    * valid_to yet), so parity with batch is exactly q122's closed rows —
    * the `valid_to IS NULL` row per user is the state itself. Same
    * ordering contract as [[funnelStream]]: exact when each user's events
    * arrive in event-time order across batches; intra-batch order is free
    * (each group sorts its batch). `StreamingFunnelCmsSpec` pins
    * batch==stream on the real events table replayed in ts order. */
  def scd2Stream(events: Dataset[Scd2Event],
                 idleTimeout: Option[String] = Some("1 hour")): Dataset[Scd2Interval] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapWithIdleTimeout[RunState, Scd2Interval](OutputMode.Append(), idleTimeout) {
        case (uid, batch, state) =>
          val sorted = batch.toSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            c < 0 || (c == 0 && a.event_id < b.event_id)
          }
          var run = state.getOption
          val out = Seq.newBuilder[Scd2Interval]
          sorted.foreach { e =>
            run match {
              case Some(r) if r.event_type == e.event_type =>
                run = Some(r.copy(n_events = r.n_events + 1L))
              case Some(r) =>
                out += Scd2Interval(uid, r.event_type, r.valid_from, e.ts,
                  r.n_events)
                run = Some(RunState(e.event_type, e.ts, 1L))
              case None =>
                run = Some(RunState(e.event_type, e.ts, 1L))
            }
          }
          run.foreach(state.update)
          out.result().iterator
      }
  }

  case class CoverageEvent(user_id: Long, st_us: Long, event_id: Long)
  case class CoverageState(lastEndUs: Long, coveredUs: Long,
                           nIntervals: Long, nEvents: Long)
  case class CoverageRow(user_id: Long, n_intervals: Long, n_events: Long,
                         covered_us: Long)

  case class MvEvent(user_id: Long, value: Double)
  case class MvState(n: Long, sum_cents: Long, vmin: Double, vmax: Double)
  case class MvRow(user_id: Long, n_events: Long, v_sum: Double,
                   v_min: Double, v_max: Double, v_avg: Double)

  /** Streaming twin of the batch MV refresh (q146, `Relational`): the SAME
    * mergeable per-key state — count, exact integer-cents sum (the
    * DECIMAL(18,2) twin), min, max — folded per micro-batch, with the
    * derived read (v_sum, v_avg) emitted from state on every update.
    * Because every fold step is commutative AND associative over exact
    * values, this twin is exact under ANY arrival order — no event-time
    * ordering contract at all, unlike the funnel/SCD2 twins — which is
    * precisely the q146 associativity argument playing out live. State is
    * O(1) per key (4 scalars); at 100 TB of stream history the state
    * store holds #keys rows regardless of events seen. */
  def mvRefreshStream(events: Dataset[MvEvent]): Dataset[MvRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[MvState, MvRow](GroupStateTimeout.NoTimeout()) {
        case (uid, batch, state) =>
          var s = state.getOption
            .getOrElse(MvState(0L, 0L, Double.MaxValue, Double.MinValue))
          batch.foreach { e =>
            s = MvState(s.n + 1L,
              s.sum_cents + math.rint(e.value * 100).toLong,
              math.min(s.vmin, e.value), math.max(s.vmax, e.value))
          }
          state.update(s)
          MvRow(uid, s.n, s.sum_cents / 100.0, s.vmin, s.vmax,
            (s.sum_cents / 100.0) / s.n)
      }
  }

  /** Streaming twin of the batch interval union (q89, `Relational`): each
    * event opens a fixed `horizonUs` activity interval and the state folds
    * the union incrementally — O(1) per user (last interval end + three
    * counters), never an interval buffer. Because interval width is
    * constant and events arrive time-ordered, the union's frontier is just
    * the previous end: an event either opens a new island (start > frontier)
    * or extends the current one by `start + horizon − frontier`. Emits the
    * updated per-user coverage row each batch the user appears in (Update
    * mode). Same ordering contract as [[funnelStream]]; parity with batch
    * q89 is spec-pinned on a ts-ordered replay of the real events table.
    *
    * Unlike the funnel/dedup states, this state is CUMULATIVE — eviction
    * does not just forget an edge, it silently zeroes the user's lifetime
    * coverage and makes emitted counters regress. So the default is NO
    * idle timeout; pass one only when downstream tolerates
    * counter resets (e.g. sessions-scoped coverage). */
  def coverageStream(events: Dataset[CoverageEvent],
                     horizonUs: Long = 60L * 1000000L,
                     idleTimeout: Option[String] = None): Dataset[CoverageRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapWithIdleTimeout[CoverageState, CoverageRow](OutputMode.Update(), idleTimeout) {
        case (uid, batch, state) =>
          val sorted = batch.toSeq.sortBy(e => (e.st_us, e.event_id))
          var st = state.getOption.getOrElse(CoverageState(Long.MinValue, 0L, 0L, 0L))
          sorted.foreach { e =>
            val end = e.st_us + horizonUs
            st =
              if (e.st_us > st.lastEndUs)
                CoverageState(end, st.coveredUs + horizonUs,
                  st.nIntervals + 1, st.nEvents + 1)
              else
                CoverageState(math.max(st.lastEndUs, end),
                  st.coveredUs + math.max(0L, end - st.lastEndUs),
                  st.nIntervals, st.nEvents + 1)
          }
          state.update(st)
          Iterator.single(CoverageRow(uid, st.nIntervals, st.nEvents, st.coveredUs))
      }
  }

  case class PostingDoc(doc_id: Long, tf: Long)
  case class PostingState(docs: List[PostingDoc], saturated: Boolean)
  case class SharedTermPair(doc_a: Long, doc_b: Long, term: String,
                            tf_a: Long, tf_b: Long)

  /** Streaming twin of the batch APSS candidate stage
    * (`Dedup.sparseCosinePairs`, q93): as documents arrive, each term's
    * df-capped posting list lives in the state store, and a new document
    * emits one [[SharedTermPair]] per (already-posted doc, shared term) —
    * the per-term partial products a downstream pair-keyed aggregation
    * sums into dots exactly like the batch inverted-index join.
    *
    * The df cap is the SAME scale invariant as batch q93: per-term state
    * is at most `dfCap` postings, so per-key state is bounded no matter
    * how long the stream runs, and pair volume per term is ≤ dfCap². A
    * term that EXCEEDS the cap is retired — state dropped, flagged
    * saturated, no further pairs ever — mirroring batch's exclusion of
    * non-discriminative terms. The one inherent batch/stream divergence:
    * pairs a term emitted BEFORE saturating have already been appended
    * (a stream cannot retract); batch, knowing the final df, never emits
    * them. On corpora where no term crosses the cap the outputs are
    * identical (StreamingSparseCosineSpec pins set equality; the
    * saturation path is pinned separately). Duplicate doc arrivals for a
    * term are ignored (first tf wins — re-delivery safety). */
  def sparseCandidateStream(docs: Dataset[Doc], dfCap: Int = 64,
      idleTimeout: Option[String] = None): Dataset[SharedTermPair] = {
    import docs.sparkSession.implicits._
    // per-doc term frequencies, computed row-local (narrow, no shuffle —
    // the only shuffle is the groupByKey on term, same key as batch)
    val td = docs.flatMap { d =>
      d.text.split(" ").iterator.filter(_.nonEmpty).toSeq
        .groupBy(identity).iterator
        .map { case (t, xs) => (t, d.doc_id, xs.length.toLong) }.toSeq
    }
    td.groupByKey(_._1)
      .flatMapWithIdleTimeout[PostingState, SharedTermPair](OutputMode.Append(), idleTimeout) {
        case (term, rows, state) =>
          var st = state.getOption.getOrElse(PostingState(Nil, saturated = false))
          val out = scala.collection.mutable.ListBuffer.empty[SharedTermPair]
          rows.foreach { case (_, did, tf) =>
            if (!st.saturated && !st.docs.exists(_.doc_id == did)) {
              if (st.docs.size >= dfCap)
                // the (dfCap+1)-th distinct doc proves the term
                // non-discriminative: retire the postings for good
                st = PostingState(Nil, saturated = true)
              else {
                st.docs.foreach { e =>
                  if (e.doc_id < did) out += SharedTermPair(e.doc_id, did, term, e.tf, tf)
                  else out += SharedTermPair(did, e.doc_id, term, tf, e.tf)
                }
                st = st.copy(docs = PostingDoc(did, tf) :: st.docs)
              }
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class DupSpan(wh: String, first_doc: Long, dup_doc: Long)
  case class SpanState(firstDoc: Long, seen: List[Long])

  /** Streaming twin of the q110 duplicated-span profile: as documents
    * arrive, every 32-token window digest keys into the state store; the
    * FIRST document to post a digest owns it, and each LATER distinct
    * document that re-posts it emits one [[DupSpan]] sighting — the live
    * feed a curation run thresholds into clip/drop decisions, where batch
    * q110 reports the same signal as a per-doc fraction after the fact.
    * Within-doc repeats emit nothing (q110's cross-doc-only contract).
    *
    * State per digest is the owner + up-to-`maxSighted` reporters (dup
    * reporting saturates there — the actionable signal is "duplicated",
    * not an unbounded reporter list; re-delivered docs stay deduped by the
    * same list). Window digests are md5 over the joined tokens — the SAME
    * digest q110 computes, so the two views join. */
  def dupSpanStream(docs: Dataset[Doc], w: Int = 32,
      maxSighted: Int = 16,
      idleTimeout: Option[String] = None): Dataset[DupSpan] = {
    import docs.sparkSession.implicits._
    val sightings = docs.flatMap { d =>
      val tk = d.text.split(" ").filter(_.nonEmpty)
      if (tk.length < w) Seq.empty
      else (0 to tk.length - w).iterator
        .map(i => (graft.operators.TextFns.md5hex(
          tk.slice(i, i + w).mkString(" ")), d.doc_id)).toSeq.distinct
    }
    sightings.groupByKey(_._1)
      .flatMapWithIdleTimeout[SpanState, DupSpan](OutputMode.Append(), idleTimeout) {
        case (wh, rows, state) =>
          val out = scala.collection.mutable.ListBuffer.empty[DupSpan]
          var st = state.getOption.orNull
          rows.foreach { case (_, did) =>
            if (st == null) st = SpanState(did, Nil)
            else if (did != st.firstDoc && !st.seen.contains(did) &&
              st.seen.size < maxSighted) {
              out += DupSpan(wh, st.firstDoc, did)
              st = st.copy(seen = did :: st.seen)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  case class AsofRow(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                     tag: Int, value: Double)
  case class CalState(ts: java.sql.Timestamp, value: Double)
  case class AsofMatch(user_id: Long, ts: java.sql.Timestamp, value: Double,
                       cal_ts: Option[java.sql.Timestamp],
                       cal_value: Option[Double])

  /** Streaming twin of the as-of join (q48 composed / q183 native): the
    * input is the same tagged log both batch plans conceptually merge —
    * tag 0 = calibration (value carries the calibration reading), tag 1 =
    * event — and per-user state is ONLY the latest calibration seen,
    * O(1) forever. An event emits itself joined to that state; a
    * calibration updates it (latest (ts, then value) wins, mirroring the
    * batch dedup's max-per-(user,ts)). Ordering contract as the other
    * twins: exact when each user's rows arrive in (ts, tag) order across
    * batches; intra-batch order is free (each group sorts its batch — tag
    * 0 before tag 1 at equal ts, so a same-instant calibration is visible
    * to the event, matching ASOF >=). `AsOfJoinSpec`'s streaming test
    * pins batch==stream on the replayed events table. */
  def asofStream(rows: Dataset[AsofRow],
                 idleTimeout: Option[String] = Some("1 hour")): Dataset[AsofMatch] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.user_id)
      .flatMapWithIdleTimeout[CalState, AsofMatch](OutputMode.Append(), idleTimeout) {
        case (uid, batch, state) =>
          val sorted = batch.toSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            c < 0 || (c == 0 && (a.tag < b.tag ||
              (a.tag == b.tag && (a.value < b.value ||
                (a.value == b.value && a.event_id < b.event_id)))))
          }
          val out = Seq.newBuilder[AsofMatch]
          sorted.foreach { r =>
            if (r.tag == 0) {
              // latest-wins; at equal ts the larger value wins (batch dedup
              // keeps max(value) per (user, ts))
              val keep = state.getOption.forall { c =>
                val cc = r.ts.compareTo(c.ts)
                cc > 0 || (cc == 0 && r.value >= c.value)
              }
              if (keep) state.update(CalState(r.ts, r.value))
            } else {
              out += AsofMatch(uid, r.ts, r.value,
                state.getOption.map(_.ts), state.getOption.map(_.value))
            }
          }
          out.result().iterator
      }
  }

  case class CdcOp(user_id: Long, seq: Long, op: String, cents: Long)
  case class MvLiveState(counts: Map[Long, Long], n: Long, sum_cents: Long)
  case class MvLiveRow(user_id: Long, n: Long, sum_cents: Long,
                       min_cents: Option[Long], max_cents: Option[Long])

  /** RETRACTABLE incremental aggregates — the CDC-complete sibling of
    * [[mvRefreshStream]] (which, like most streaming MV demos, is
    * insert-only). Deletes DECREMENT count/sum (trivially retractable
    * group-invertible state) and retract min/max through an exact value
    * multiset — the honest cost of retractable extremes: count and sum
    * invert algebraically, MIN/MAX do not (deleting the minimum must
    * resurface the second-smallest, which no scalar state remembers).
    * State per user = live multiset of its current rows' values — bounded
    * by the user's LIVE set (deletes shrink it), which is the same bound a
    * lakehouse merge-on-read view pays. Emits the refreshed row per batch
    * the user appears in (Update mode). Deletes of values not live are
    * ignored (idempotent replay tolerance). Intra-batch order: `seq` (the
    * CDC log position), matching the other twins' ordered-replay contract. */
  def retractableMvStream(ops: Dataset[CdcOp]): Dataset[MvLiveRow] = {
    import ops.sparkSession.implicits._
    ops.groupByKey(_.user_id)
      .mapGroupsWithState[MvLiveState, MvLiveRow](GroupStateTimeout.NoTimeout()) {
        case (uid, batch, state) =>
          var s = state.getOption.getOrElse(MvLiveState(Map.empty, 0L, 0L))
          batch.toSeq.sortBy(_.seq).foreach { o =>
            if (o.op == "I") {
              s = MvLiveState(
                s.counts.updated(o.cents, s.counts.getOrElse(o.cents, 0L) + 1),
                s.n + 1, s.sum_cents + o.cents)
            } else {
              val c = s.counts.getOrElse(o.cents, 0L)
              if (c > 0) {
                val m = if (c == 1) s.counts - o.cents
                        else s.counts.updated(o.cents, c - 1)
                s = MvLiveState(m, s.n - 1, s.sum_cents - o.cents)
              }
            }
          }
          state.update(s)
          MvLiveRow(uid, s.n, s.sum_cents,
            if (s.counts.isEmpty) None else Some(s.counts.keys.min),
            if (s.counts.isEmpty) None else Some(s.counts.keys.max))
      }
  }

  case class DecayEvent(event_type: String, day_idx: Long, cents: Long)
  case class DecayState(days: Map[Long, (Long, Long)])
  case class DecayRow(event_type: String, n_events: Long,
                      decayed_count: Double, decayed_cents: Double)

  /** Streaming twin of the batch decayed counts (q188, `Relational`):
    * per event type the state is a (day -> (count, cents)) map PRUNED to
    * the 31-day decay horizon — entries older than 30 days from the
    * newest day seen contribute exactly 0 in the batch formula, so
    * evicting them is lossless and the state is bounded at 31 entries
    * per key FOREVER (no per-event state). Every emission recomputes the
    * decayed sums from the map with the same integer 2^(30−age) scaling
    * and one dyadic division — bit-identical to q188 on any replay
    * (order within the horizon does not matter: the map is commutative).
    * Emits the refreshed row per batch the key appears in (Update mode). */
  def decayedCountsStream(events: Dataset[DecayEvent]): Dataset[DecayRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[(Long, DecayState), DecayRow](
        GroupStateTimeout.NoTimeout()) {
        case (ty, batch, state) =>
          var (nTotal, s) = state.getOption.getOrElse((0L, DecayState(Map.empty)))
          var m = s.days
          batch.foreach { e =>
            nTotal += 1
            val (c0, s0) = m.getOrElse(e.day_idx, (0L, 0L))
            m = m.updated(e.day_idx, (c0 + 1, s0 + e.cents))
          }
          val maxDay = m.keys.max
          m = m.filter { case (d, _) => maxDay - d <= 30 }
          state.update((nTotal, DecayState(m)))
          val dn = m.iterator.map { case (d, (c, _)) =>
            BigInt(c) << (30 - (maxDay - d)).toInt }.sum
          val dc = m.iterator.map { case (d, (_, cs)) =>
            BigInt(cs) << (30 - (maxDay - d)).toInt }.sum
          DecayRow(ty, nTotal, dn.toDouble / 1073741824L,
            dc.toDouble / 1073741824L)
      }
  }

  case class BurstEvent(item: Long, day: Long)
  case class BurstState(days: Map[Long, Long])
  case class BurstRow(item: Long, day: Long, n: Long, base_sum: Long,
                      is_burst: Boolean)

  /** Streaming twin of the batch term-burst board (q224, `Relational`):
    * per item the state is its (day -> count) histogram PRUNED to a
    * 16-day horizon behind the newest day seen — bounded per-key state
    * FOREVER, with 8 days of arrival-disorder tolerance before a late
    * row could meet a partially pruned window. Each batch emits refreshed
    * (n, base_sum, is_burst) rows for the days it TOUCHED, computed
    * against the pre-prune map: under day-ordered arrival a day's full
    * trailing week is present the moment the day arrives, and no
    * later-day event can change an earlier day's window, so each day's
    * last emission is bit-identical to the batch row. Warm-up (`mind` +
    * 7) takes the corpus start as deployment config, where batch q224
    * reads it from the data. Same integer inequality, same constants. */
  def burstStream(events: Dataset[BurstEvent], mind: Long): Dataset[BurstRow] = {
    import events.sparkSession.implicits._
    val factor = graft.operators.Relational.BurstFactor
    val minN = graft.operators.Relational.MinBurstCount
    events.groupByKey(_.item)
      .flatMapGroupsWithState[BurstState, BurstRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (item, batch, state) =>
          var m = state.getOption.getOrElse(BurstState(Map.empty)).days
          var touched = Set.empty[Long]
          batch.foreach { e =>
            m = m.updated(e.day, m.getOrElse(e.day, 0L) + 1L)
            touched += e.day
          }
          // Emit TOUCHED days against the PRE-prune map: under day-ordered
          // arrival a day's full trailing week is always present the batch
          // the day itself arrives (its window days arrived no later), and
          // only touched days' rows can change (no later-day event can
          // alter an earlier day's window). Pruning happens after, purely
          // as the state bound.
          val rows = touched.toSeq.sorted.filter(_ >= mind + 7).map { d =>
            val n = m(d)
            val base = (d - 7 until d).map(m.getOrElse(_, 0L)).sum
            BurstRow(item, d, n, base, n * 7 > base * factor && n >= minN)
          }
          val maxDay = m.keys.max
          m = m.filter { case (d, _) => maxDay - d <= 15 }
          state.update(BurstState(m))
          rows.iterator
      }
  }

  case class BootEvent(event_type: String, event_id: Long, cents: Long)
  case class BootCiState(n: Long, sumC: Long, sw: Array[Long],
                         swc: Array[Long])
  case class BootCiRow(event_type: String, n: Long, mean_u: Long,
                       n_boot: Long, ci_lo: Option[Long], ci_hi: Option[Long],
                       covers_point: Option[Boolean])

  /** The rank-based CI pick, shared shape with batch q223's window lookup
    * (`rn === 2` / `rn === n_boot - 1`): both bounds exist iff ≥2 replica
    * means exist (at exactly 2 the bounds CROSS — lo is the larger mean —
    * exactly as the batch rank lookup yields), a single mean yields NULL
    * bounds and a NULL verdict (batch: no rank 2, no rank n−1), and the
    * degenerate zero-replica group emits nothing at the call site (batch:
    * the inner point⋈ci join drops it). Pure so the degenerate arms are
    * unit-testable — no real md5 weight stream can reach them (a row has
    * each replica weight 0 with prob e⁻¹, so <3 live replicas of 64 has
    * probability ~1e-27 even for a 1-row group). */
  private[streaming] def bootCiPick(means: IndexedSeq[Long], meanU: Long)
      : (Option[Long], Option[Long], Option[Boolean]) =
    if (means.length >= 2) {
      val (lo, hi) = (means(1), means(means.length - 2))
      (Some(lo), Some(hi), Some(lo <= meanU && meanU <= hi))
    } else (None, None, None)

  /** Streaming twin of the Poisson-bootstrap CI (q223, `Relational`): the
    * whole point of the Poisson bootstrap is that replica statistics are
    * SUMS of per-row terms, so the streaming state is just 2·B counters
    * per group (Σw, Σw·c per replica) plus (n, Σc) — fixed size forever,
    * merge = add, and the emitted CI is bit-identical to batch under ANY
    * arrival order or replay chunking (no order-sensitive float ever
    * exists). Weights recompute the engine's exact md5-derived 16-bit
    * uniforms against the shared [[graft.operators.Relational.PoissonCdf16]]
    * thresholds — one code path per constant, so stream and batch cannot
    * drift. */
  def bootstrapCiStream(events: Dataset[BootEvent]): Dataset[BootCiRow] = {
    import events.sparkSession.implicits._
    val b = graft.operators.Relational.BootReplicas
    val thresholds = graft.operators.Relational.PoissonCdf16
    def weight(rep: Int, id: Long): Long = {
      val h = graft.operators.TextFns.md5hex(s"bs|${rep / 8}|$id")
      val u = java.lang.Long.parseLong(
        h.substring(4 * (rep % 8), 4 * (rep % 8) + 4), 16)
      val k = thresholds.indexWhere(u < _)
      if (k < 0) thresholds.length.toLong else k.toLong
    }
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[BootCiState, BootCiRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (ty, batch, state) =>
          val s0 = state.getOption.getOrElse(
            BootCiState(0L, 0L, new Array[Long](b), new Array[Long](b)))
          var (n, sumC) = (s0.n, s0.sumC)
          val (sw, swc) = (s0.sw.clone(), s0.swc.clone())
          batch.foreach { e =>
            n += 1; sumC += e.cents
            var rep = 0
            while (rep < b) {
              val w = weight(rep, e.event_id)
              sw(rep) += w; swc(rep) += w * e.cents
              rep += 1
            }
          }
          state.update(BootCiState(n, sumC, sw, swc))
          val means = (0 until b).filter(sw(_) > 0).map { rep =>
            (BigInt(swc(rep)) * 10000 / sw(rep)).toLong -> rep
          }.sorted.map(_._1)
          if (means.isEmpty) Iterator.empty // batch: inner join drops it
          else {
            val meanU = (BigInt(sumC) * 10000 / n).toLong
            val (lo, hi, covers) = bootCiPick(means, meanU)
            Iterator.single(
              BootCiRow(ty, n, meanU, means.length.toLong, lo, hi, covers))
          }
      }
  }

  case class RetEvent(user_id: Long, day: Long) // day = epoch days (UTC)
  case class RetState(cohortDay: Option[Long], offsets: Set[Long])
  case class RetRow(user_id: Long, cohort_day: Long, offset_weeks: Long)

  /** Streaming twin of q79's weekly cohort retention: per-user state is
    * the cohort week (epoch-day of its Monday) plus the set of week
    * offsets already emitted — bounded by the date span in weeks, the same
    * bound the batch (weeks × offsets) output carries. Emits one
    * (user, cohort, offset) row the first time a user is active in a
    * week — Append mode, so the downstream cohort census is a plain
    * count-distinct fold over emitted rows (spec-pinned equal to batch
    * q79 on ts-ordered replay; within a batch days are sorted first, so
    * batch boundaries cannot reorder a user's first week). Week
    * truncation is the arithmetic form of date_trunc('week'):
    * day − ((day + 3) floorMod 7), Monday-aligned from the Thursday
    * epoch — floorMod, not %, so pre-1970 days (negative epoch-days)
    * truncate to the correct Monday instead of mis-aligning by a week.
    * The uninitialized state is Option[Long] = None, NOT a negative
    * sentinel: legitimate cohort Mondays at or before 1970-01-04 are
    * negative (weekStart(0) = −3), and a `< 0` test would re-initialize
    * such a user's cohort every batch, breaking the append-log
    * uniqueness contract. */
  def retentionStream(events: Dataset[RetEvent]): Dataset[RetRow] = {
    import events.sparkSession.implicits._
    def weekStart(day: Long): Long = day - Math.floorMod(day + 3, 7)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetState, RetRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, batch, state) =>
          var s = state.getOption.getOrElse(RetState(None, Set.empty))
          val out = scala.collection.mutable.ArrayBuffer.empty[RetRow]
          batch.map(_.day).toSeq.sorted.foreach { day =>
            val wk = weekStart(day)
            if (s.cohortDay.isEmpty) s = RetState(Some(wk), Set.empty)
            val cohort = s.cohortDay.get
            val off = (wk - cohort) / 7
            if (!s.offsets.contains(off)) {
              s = s.copy(offsets = s.offsets + off)
              out += RetRow(uid, cohort, off)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  case class KeyedValue(key: String, value: Float)
  case class RunningMin(key: String, min: Float)

  /** Continuous per-key running minimum — the reference's `min` semantics
    * without window bounds: every update emits the new minimum for the key
    * (Update-mode output, like `Example1`'s console updates). */
  def runningMin(ds: Dataset[KeyedValue],
                 idleTimeout: Option[String] = Some("1 hour")): Dataset[RunningMin] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapWithIdleTimeout[Float, RunningMin](OutputMode.Update(),
        idleTimeout, expired = (key, last) => Iterator.single(RunningMin(key, last))) {
        case (key, records, state) =>
          val batchMin = records.map(_.value).min
          val newMin =
            if (state.exists) math.min(state.get, batchMin) else batchMin
          state.update(newMin)
          Iterator.single(RunningMin(key, newMin))
      }
  }
}
