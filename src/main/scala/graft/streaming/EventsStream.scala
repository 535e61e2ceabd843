package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Structured Streaming surface over the `events` schema
  * (ts, event_type, value). The reference is strictly batch (SURVEY.md
  * §2.8) — these are the streaming-native forms of its aggregations,
  * built on watermarks + windowed aggregation and keyed state.
  *
  * Scale notes: windowed aggregation shuffles once per trigger on
  * (window, event_type); the watermark bounds state size — without it a
  * 100 TB/day stream accumulates state forever. Sessionization keeps one
  * state row per active key; timeouts evict.
  */
object EventsStream {

  /** Hourly tumbling-window counts/sums with a watermark: late events
    * beyond `lateness` are dropped and their windows finalized. Works on
    * both streaming and batch DataFrames (same plan — the batch run of
    * this function is q13's shape).
    */
  def hourlyStats(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .cast("double").as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Stream-static AS-OF attribution — the streaming twin of
    * `RelationalQueries.asofJoinBackward` (q106): each arriving event
    * picks the `valCol` of the latest at-or-before row of a STATIC keyed
    * timeline (purchases, model-version rollouts, price books).
    *
    * The batch form's union + keyed window cannot run on a stream
    * (a window over event time would buffer unboundedly), so the
    * timeline is pre-aggregated ONCE into a sorted (ts, val) array per
    * key and joined stream-static — broadcast when dimension-sized — and
    * per event the lookup is a map-only array probe: no streaming state,
    * no shuffle per trigger beyond the join, and late events attribute
    * correctly by construction since the whole timeline is present.
    * Ties at equal ts resolve to the GREATEST value via the struct sort,
    * matching the batch operator's documented tie rule (null values sort
    * first, so a null-valued tie row loses to any non-null one; a SOLE
    * latest row with a null value yields null, like the ASOF oracle).
    * Works unchanged on a batch DataFrame (the equivalence test runs it
    * both ways).
    *
    * `broadcastTimeline`: `None` (default) leaves the join unhinted so
    * AQE sizes it from runtime stats — a dimension-sized packed timeline
    * still becomes a broadcast join, a corpus-scale one stays a keyed
    * shuffle join. `Some(true)` forces the broadcast (zero shuffle per
    * micro-batch — only when the caller KNOWS the timeline is small);
    * `Some(false)` forces the keyed shuffle join (sort-merge), the
    * scale-safe shape for a timeline that grows with the corpus.
    *
    * Packing puts one array per key — a power-law hot key's ENTIRE
    * timeline lands in a single row. Fine for price books and rollout
    * schedules; for a timeline where one key can hold millions of rows,
    * pass `bucketWidth = Some(w)` to take the CHUNKED form (one array
    * per (key, ⌊ts/w⌋) time bucket — see [[attributeStreamChunked]]), or
    * use [[graft.operators.RelationalQueries.asofJoinBackward]], whose
    * per-key work is a streaming window, not a materialized array.
    */
  def attributeStream(events: DataFrame, timeline: DataFrame,
                      keyCol: String, tsCol: String, valCol: String,
                      outCol: String,
                      broadcastTimeline: Option[Boolean] = None,
                      bucketWidth: Option[Long] = None): DataFrame =
    bucketWidth match {
      case Some(w) =>
        attributeStreamChunked(events, timeline, keyCol, tsCol, valCol,
          outCol, w)
      case None =>
        attributeStreamPacked(events, timeline, keyCol, tsCol, valCol,
          outCol, broadcastTimeline)
    }

  private def attributeStreamPacked(
      events: DataFrame, timeline: DataFrame,
      keyCol: String, tsCol: String, valCol: String, outCol: String,
      broadcastTimeline: Option[Boolean]): DataFrame = {
    import org.apache.spark.sql.types.LongType
    // A null-ts timeline row can never be "at or before" anything —
    // dropped at packing so both probe forms agree.
    val packed = timeline.filter(col(tsCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(col(tsCol).as("_t"),
        col(valCol).as("_v")))).as("_tl"))
    val right = broadcastTimeline match {
      case Some(true)  => broadcast(packed)
      case Some(false) => packed.hint("merge")
      case None        => packed
    }
    val joined = events.join(right, Seq(keyCol), "left")
    // Long timestamps take the codegen'd BINARY-SEARCH probe: O(log n)
    // per event where the filter+element_at HOF form is O(n) — on a
    // power-law key whose timeline holds a constant fraction of the
    // corpus this is the difference between linear and quadratic (the
    // ScaleProbe zipf run measured 16-19× at 10% hot-key skew). Other
    // orderable ts types (timestamps, dates) keep the generic HOF form.
    val longTs = Seq(timeline.schema(tsCol).dataType,
      events.schema(tsCol).dataType).forall(_ == LongType)
    if (longTs) {
      graft.functions.NativeExpressions.register(events.sparkSession)
      joined.withColumn(outCol,
          call_function("asof_probe", col("_tl"), col(tsCol)))
        .drop("_tl")
    } else {
      joined.withColumn(outCol,
          try_element_at(
            filter(col("_tl"), p => p.getField("_t") <= col(tsCol)),
            lit(-1)).getField("_v"))
        .drop("_tl")
    }
  }

  /** Hot-key-safe CHUNKED packed timeline: same backward-ASOF contract
    * as [[attributeStream]] (latest at-or-before entry per key; greatest
    * value wins equal-ts ties, a sole latest null-valued entry yields
    * null), but the timeline packs one sorted array per (key, time
    * bucket of width `bucketWidth`) instead of one per key — so a
    * power-law key holding a constant fraction of the corpus puts at
    * most `bucketWidth × its-peak-rate` entries in any single row,
    * bounded by the caller's width choice rather than the corpus size.
    *
    * Shape, and why each piece is bounded at 100 TB:
    *  - per-(key,bucket) arrays: size ≤ entries falling in one width-w
    *    window of that key — the caller's knob, independent of scale;
    *  - a DENSE per-key bucket directory (`sequence(minb, maxb)`) whose
    *    row count is timeline-span/w per key — bounded by wall-clock
    *    time covered, not by data volume. Width rule: w ≈ span × keys /
    *    entries keeps the directory entry-count-sized (a finer w
    *    multiplies directory rows by span/w per COLD key while buying
    *    nothing — the hot key's max row is bounded at any w);
    *  - each dense bucket carries `_carry`, the greatest (ts, value)
    *    entry of all EARLIER buckets — computed as a running max over
    *    SLIM (key, bucket, tail-struct) rows, so the window's sort
    *    shuffle never moves the entry arrays, only one struct per
    *    bucket; the arrays join back on the (key, bucket) key after;
    *  - the whole timeline side (directory + arrays + per-key summary)
    *    is `localCheckpoint`ed once — timeline-span-sized, computed a
    *    single time even though the events side references it twice
    *    (and, for a streaming `events`, once across all micro-batches);
    *  - the events side is SINGLE-PASS: one left join on (key, ⌊ts/w⌋)
    *    against the directory plus one left join on key against the
    *    one-row-per-key summary, then a single CASE. A hit
    *    binary-searches its bucket
    *    ([[graft.functions.NativeExpressions]] `asof_probe`,
    *    O(log bucket-size)) and falls back to `_carry` when the bucket
    *    has no at-or-before entry; a miss (event bucket outside the
    *    key's range, or key absent) resolves to the key's final entry
    *    after the last bucket, else null. Events are never scanned or
    *    shuffled twice.
    *
    * Requires a BIGINT `tsCol` on both sides (bucket arithmetic is exact
    * integer `div`/`pmod` — no double rounding at ±2⁶³ edges).
    * Works on streaming `events` (all joins are stream-static).
    */
  def attributeStreamChunked(events: DataFrame, timeline: DataFrame,
                             keyCol: String, tsCol: String, valCol: String,
                             outCol: String, bucketWidth: Long): DataFrame = {
    import org.apache.spark.sql.types.LongType
    import org.apache.spark.sql.expressions.Window
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    require(Seq(timeline.schema(tsCol).dataType,
        events.schema(tsCol).dataType).forall(_ == LongType),
      s"chunked timeline requires BIGINT $tsCol on both sides")
    graft.functions.NativeExpressions.register(events.sparkSession)
    // Exact floor-division bucket id (pmod is non-negative, so
    // ts - pmod(ts, w) is floorDiv(ts, w) * w even for negative ts).
    def bucketOf(c: String): Column =
      expr(s"(`$c` - pmod(`$c`, ${bucketWidth}L)) div ${bucketWidth}L")

    val entries = timeline.filter(col(tsCol).isNotNull)
      .select(col(keyCol), col(tsCol).as("_t"), col(valCol).as("_v"))
      .withColumn("_b", bucketOf("_t"))
    // Bucket-level arrays, materialized once (they feed the tails, the
    // summary, and the final directory join).
    val perBucket = entries.groupBy(col(keyCol), col("_b"))
      .agg(array_sort(collect_list(struct(col("_t"), col("_v")))).as("_tl"))
      .localCheckpoint(true)
    // Slim per-bucket tail: one struct per bucket — everything below the
    // carry window moves these, never the arrays.
    val tails = perBucket.select(col(keyCol), col("_b"),
      try_element_at(col("_tl"), lit(-1)).as("_tail"))
    // One row per key: bucket range + the globally-latest entry (max of
    // per-bucket tails = lexicographic greatest (ts, value) struct,
    // matching the packed form's tie rule).
    val summary = tails.groupBy(col(keyCol))
      .agg(min("_b").as("_minb"), max("_b").as("_maxb"),
        max(col("_tail")).as("_final"))
    // Dense directory: every bucket in [minb, maxb] exists (empty ones
    // with null _tl), so an in-range event always joins a row whose
    // _carry is exact — no per-event search for "latest non-empty
    // bucket". The running max ignores null tails of empty buckets.
    val wCarry = Window.partitionBy(col(keyCol)).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = summary
      .select(col(keyCol), explode(sequence(col("_minb"), col("_maxb"))).as("_b"))
      .join(tails, Seq(keyCol, "_b"), "left")
      .withColumn("_carry", max(col("_tail")).over(wCarry))
      .drop("_tail")
      .join(perBucket, Seq(keyCol, "_b"), "left")
      .withColumn("_hit", lit(true))
      .localCheckpoint(true)

    val evCols = events.columns.map(col)
    // Single pass over events: directory join on (key, bucket), summary
    // join on key, one CASE.
    //  - Hit (directory row): probe the bucket iff its FIRST entry is
    //    at-or-before the event (asof_probe returns null both for "no
    //    entry" and "null-valued winner", so the guard keeps a
    //    null-valued in-bucket winner from leaking through to _carry).
    //  - Miss (no directory row — event bucket outside [minb, maxb], or
    //    key absent): after the last bucket every entry is at-or-before
    //    → the key's final entry; before the first, or no key at all
    //    (null _maxb) → null.
    events.withColumn("_b", bucketOf(tsCol))
      .join(buckets, Seq(keyCol, "_b"), "left")
      .join(summary.select(col(keyCol), col("_maxb"), col("_final")),
        Seq(keyCol), "left")
      .withColumn(outCol,
        when(col("_hit").isNotNull,
          when(try_element_at(col("_tl"), lit(1)).getField("_t") <= col(tsCol),
            call_function("asof_probe", col("_tl"), col(tsCol)))
          .otherwise(col("_carry").getField("_v")))
        .otherwise(
          when(col("_b") > col("_maxb"), col("_final").getField("_v"))))
      .select(evCols :+ col(outCol): _*)
  }

  case class Event(ts: java.sql.Timestamp, event_type: String, value: Double)
  case class SessionState(count: Long, lastTs: Long)
  case class Session(event_type: String, n_events: Long, closedAtMs: Long)

  case class AsofRow(user_id: Long, ts: java.sql.Timestamp, is_event: Boolean,
                     event_id: Long, k: Option[Long])
  case class AsofState(timeline: Seq[(Long, Option[Long])],
                       pending: Seq[(Long, Long)])
  case class Attributed(event_id: Long, user_id: Long, tsm: Long,
                        last_purchase_k: Option[Long])

  private def micros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Stream-STREAM AS-OF attribution — the stateful twin of
    * [[attributeStream]] for a LIVE timeline: clicks AND purchases both
    * arrive as streams, and each click gets the `k` of the user's latest
    * at-or-before purchase (same backward-ASOF contract and tie rule as
    * [[graft.operators.RelationalQueries.asofJoinBackward]]: greatest
    * value at equal ts, nulls lowest; a sole latest purchase with null k
    * attributes null).
    *
    * Correctness under out-of-order arrival: a click is only emitted once
    * the watermark passes its event time — by then every purchase at or
    * before it has arrived (later ones are beyond-watermark late data by
    * definition), so the attribution is final and never needs retraction.
    * Until then the click buffers in keyed state.
    *
    * Scale shape: both inputs union into ONE keyed stream (the batch
    * operator's union+window trick, re-expressed as keyed state), so each
    * micro-batch pays a single shuffle on user_id. State is
    * watermark-bounded on both sides: buffered clicks drain as the
    * watermark advances (event-time timeouts fire even when a key goes
    * quiet), and the purchase timeline evicts everything older than the
    * latest at-or-before-watermark entry — per key the state is one
    * in-flight window of purchases, not history.
    *
    * Both inputs must carry an event-time `ts` TIMESTAMP column (this
    * function watermarks EACH side before the union — see the inline
    * note on why a single post-union watermark would drop data).
    */
  def attributeStreams(clicks: DataFrame, purchases: DataFrame,
                       lateness: String = "10 minutes"): Dataset[Attributed] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = clicks.sparkSession
    import spark.implicits._
    // Watermark EACH side before the union: a single watermark on the
    // unioned stream would advance with the faster input's max event time
    // and silently drop the slower stream's rows as late (a click stream
    // running ahead would discard in-flight purchases). Two watermark
    // nodes make the global watermark their min, so neither side can
    // out-run the other.
    val tagged = clicks.select(col("user_id").cast("long").as("user_id"),
        col("ts"), lit(true).as("is_event"),
        col("event_id").cast("long").as("event_id"),
        lit(null).cast("long").as("k"))
      .withWatermark("ts", lateness)
      .unionByName(purchases.select(col("user_id").cast("long").as("user_id"),
        col("ts"), lit(false).as("is_event"), lit(0L).as("event_id"),
        col("k").cast("long").as("k"))
        .withWatermark("ts", lateness))
      .as[AsofRow]
    tagged.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, Attributed](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state: GroupState[AsofState]) =>
          val prev = state.getOption.getOrElse(AsofState(Nil, Nil))
          val batch = rows.toSeq
          val tl = prev.timeline ++
            batch.filterNot(_.is_event).map(r => (micros(r.ts), r.k))
          val pending = prev.pending ++
            batch.filter(_.is_event).map(r => (r.event_id, micros(r.ts)))
          val wm = state.getCurrentWatermarkMs() * 1000L
          val (ready, rest) = pending.partition(_._2 <= wm)
          def rank(e: (Long, Option[Long])) = (e._1, e._2.getOrElse(Long.MinValue))
          val out = ready.sortBy(_._1).map { case (id, ts) =>
            val cands = tl.filter(_._1 <= ts)
            val best = if (cands.isEmpty) None else Some(cands.maxBy(rank))
            Attributed(id, key, ts, best.flatMap(_._2))
          }
          // Evict: future clicks have ts > wm, so nothing strictly older
          // than the best at-or-before-watermark entry can ever win again.
          val atOrBefore = tl.filter(_._1 <= wm)
          val kept =
            if (atOrBefore.isEmpty) tl
            else atOrBefore.maxBy(rank) +: tl.filter(_._1 > atOrBefore.map(_._1).max)
          if (rest.isEmpty && kept.isEmpty) {
            state.remove()
            out.iterator
          } else {
            state.update(AsofState(kept, rest))
            // Wake when the watermark passes the earliest buffered click,
            // even if the key sees no more data (clamped a tick past the
            // current watermark — Spark rejects timeouts at-or-before it).
            if (rest.nonEmpty) state.setTimeoutTimestamp(
              (rest.map(_._2).min / 1000L).max(state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }
  }

  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
                         event_type: String)
  case class FunnelState(stage: Long, stageTs: Long,
                         pending: Seq[(Long, String)])
  case class FunnelStep(user_id: Long, stage: Long, tsm: Long)

  /** Streaming conversion funnel — the stateful twin of the q123 batch
    * fold: per user, view→click→purchase with a per-step event-time
    * window (`gapMicros`), first-touch anchored, strict-`>` advance.
    * Emits one [[FunnelStep]] per stage ADVANCE (the batch query's final
    * stage per user = the max emitted stage; users who never reach stage
    * 1 emit nothing).
    *
    * Correctness under out-of-order arrival: the fold is prefix-monotone
    * (processing events in event-time order, its state after a prefix
    * never changes when later events arrive), so events are buffered per
    * key and folded only once the watermark passes them — each advance
    * is final when emitted, no retraction. Same discipline as
    * [[attributeStreams]]: event-time timeouts drain the buffer when a
    * key goes quiet, state is removed at stage 3 with an empty buffer
    * (nothing can ever advance again), and the buffer is watermark-
    * bounded — per key it holds one lateness-window of events, not
    * history. Equal-timestamp ordering is (tsm, event_type), matching
    * the batch `array_sort(struct(tsm, event_type))` — and as in the
    * batch operator, ties cannot change the outcome: a tie can never
    * satisfy the strict `>` advance.
    *
    * Contract-violating late data (an event arriving AFTER the watermark
    * already passed its event time) folds at arrival position, not in
    * global event-time order — the standard watermark trade; size the
    * lateness to the source's real disorder or the stream can diverge
    * from the batch fold on exactly those rows.
    *
    * Callers must `withWatermark("ts", …)` on the input before the typed
    * conversion.
    */
  def funnelStream(events: Dataset[FunnelEvent],
                   gapMicros: Long = 86400000000L): Dataset[FunnelStep] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelStep](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(FunnelState(0L, 0L, Nil))
          val batch = rows.toSeq.map(r => (micros(r.ts), r.event_type))
          val wm = state.getCurrentWatermarkMs() * 1000L
          val (ready, rest) = (prev.pending ++ batch).partition(_._1 <= wm)
          var stage = prev.stage
          var sts = prev.stageTs
          val out = Seq.newBuilder[FunnelStep]
          for ((tsm, et) <- ready.sorted) {
            val adv = (stage, et) match {
              case (0L, "view")     => true
              case (1L, "click")    => tsm > sts && tsm - sts <= gapMicros
              case (2L, "purchase") => tsm > sts && tsm - sts <= gapMicros
              case _                => false
            }
            if (adv) { stage += 1; sts = tsm; out += FunnelStep(key, stage, tsm) }
          }
          if (rest.isEmpty && stage == 3L) state.remove()
          else {
            state.update(FunnelState(stage, sts, rest))
            // Wake when the watermark passes the earliest buffered event,
            // even if the key sees no more data (clamped a tick past the
            // current watermark — Spark rejects timeouts at-or-before it).
            if (rest.nonEmpty) state.setTimeoutTimestamp(
              (rest.map(_._1).min / 1000L).max(state.getCurrentWatermarkMs() + 1L))
          }
          out.result().iterator
      }
  }

  case class ScoredEvent(user_id: Long, ts: java.sql.Timestamp, cents: Long)
  case class EwmaState(score: Long, started: Boolean,
                      pending: Seq[(Long, Long)])
  case class EwmaUpdate(user_id: Long, tsm: Long, ewma_cents: Long)

  /** Streaming EWMA activity score — the stateful twin of the q129
    * batch fold: per user, s ← (decayPpm·s + (10⁶−decayPpm)·x) div 10⁶
    * in BIGINT arithmetic over events in EVENT-TIME order, first event
    * as the seed. Emits one [[EwmaUpdate]] per folded event (the latest
    * per user = the batch query's score over the same prefix).
    *
    * Same watermark-ordered prefix-fold discipline as [[funnelStream]]:
    * the fold is prefix-monotone, so events buffer per key and fold only
    * once the watermark passes them — every emitted score is final.
    * Event-time timeouts drain quiet keys; state after drain is O(1)
    * (the running score). The same late-data caveat applies: a
    * beyond-lateness event folds at arrival position.
    *
    * Callers must `withWatermark("ts", …)` on the input before the typed
    * conversion.
    */
  def ewmaStream(events: Dataset[ScoredEvent],
                 decayPpm: Long = 900000L): Dataset[EwmaUpdate] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state: GroupState[EwmaState]) =>
          val prev = state.getOption.getOrElse(EwmaState(0L, false, Nil))
          val batch = rows.toSeq.map(r => (micros(r.ts), r.cents))
          val wm = state.getCurrentWatermarkMs() * 1000L
          val (ready, rest) = (prev.pending ++ batch).partition(_._1 <= wm)
          var s = prev.score
          var started = prev.started
          val out = Seq.newBuilder[EwmaUpdate]
          for ((tsm, x) <- ready.sorted) {
            // floorDiv, not `/`: Spark's `div` floors, and a negative
            // cents value must round the same way in both twins.
            s = if (!started) { started = true; x }
                else Math.floorDiv(
                  decayPpm * s + (1000000L - decayPpm) * x, 1000000L)
            out += EwmaUpdate(key, tsm, s)
          }
          state.update(EwmaState(s, started, rest))
          if (rest.nonEmpty) state.setTimeoutTimestamp(
            (rest.map(_._1).min / 1000L).max(state.getCurrentWatermarkMs() + 1L))
          out.result().iterator
      }
  }

  case class JourneyEvent(user_id: Long, ts: java.sql.Timestamp,
                          event_type: String, cents: Long)
  case class JourneyState(pending: Seq[(Long, String, Long)],
                          nEvents: Long, lastTs: Long, nSessions: Long,
                          fStage: Long, fTs: Long,
                          cStage: Long, cTs: Long, cycles: Long,
                          score: Long, started: Boolean,
                          minPurchase: Long, attributed: Long)
  case class JourneyUpdate(user_id: Long, tsm: Long, n_events: Long,
                           n_sessions: Long, funnel_stage: Long,
                           conversions: Long, ewma_cents: Long,
                           attributed_clicks: Long)

  /** Streaming user journey — the stateful twin of the q131 flagship:
    * all five per-user analytics (events, gap-sessions, funnel stage,
    * conversion cycles, EWMA score) plus purchase-attributed clicks,
    * maintained incrementally under the [[funnelStream]]
    * watermark-ordered prefix-fold discipline. Every constituent is
    * prefix-monotone in event time (including attribution: processing
    * in event-time order, the first purchase's timestamp is final the
    * moment it is folded, and any click folded before it can never be
    * claimed by a later purchase — later events have later times), so
    * one snapshot [[JourneyUpdate]] is emitted per drained batch and is
    * final up to its `tsm`. Post-drain state is O(1) per user; the same
    * late-data caveat as [[funnelStream]] applies.
    *
    * Callers must `withWatermark("ts", …)` before the typed conversion.
    */
  def journeyStream(events: Dataset[JourneyEvent],
                    sessionGapMicros: Long = 1800000000L,
                    funnelGapMicros: Long = 86400000000L,
                    decayPpm: Long = 900000L): Dataset[JourneyUpdate] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[JourneyState, JourneyUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state: GroupState[JourneyState]) =>
          var s = state.getOption.getOrElse(JourneyState(Nil, 0L, 0L, 0L,
            0L, 0L, 0L, 0L, 0L, 0L, false, Long.MaxValue, 0L))
          val batch = rows.toSeq.map(r => (micros(r.ts), r.event_type,
            r.cents))
          val wm = state.getCurrentWatermarkMs() * 1000L
          val (ready, rest) = (s.pending ++ batch).partition(_._1 <= wm)
          // Same-timestamp tie: a purchase sorts AFTER the click it
          // should attribute (alphabetical event order), but the batch
          // semantics are "∃ purchase with tsm <= click tsm" — so ties
          // are checked against this drain's purchase timestamps too
          // (a cross-drain tie is impossible in-contract: both sides of
          // a tie pass the same watermark).
          val drainPurchases =
            ready.collect { case (t, "purchase", _) => t }.toSet
          var drained = 0
          for ((tsm, et, cents) <- ready.sorted) {
            drained += 1
            val newSession = s.nEvents == 0L || tsm - s.lastTs > sessionGapMicros
            val (fStage, fTs) = (s.fStage, et) match {
              case (0L, "view") => (1L, tsm)
              case (1L, "click")
                if tsm > s.fTs && tsm - s.fTs <= funnelGapMicros =>
                (2L, tsm)
              case (2L, "purchase")
                if tsm > s.fTs && tsm - s.fTs <= funnelGapMicros =>
                (3L, tsm)
              case _ => (s.fStage, s.fTs)
            }
            val (cStage, cTs, cycles) = (s.cStage, et) match {
              case (0L, "view") => (1L, tsm, s.cycles)
              case (1L, "click")
                if tsm > s.cTs && tsm - s.cTs <= funnelGapMicros =>
                (2L, tsm, s.cycles)
              case (2L, "purchase")
                if tsm > s.cTs && tsm - s.cTs <= funnelGapMicros =>
                (0L, 0L, s.cycles + 1L)
              case _ => (s.cStage, s.cTs, s.cycles)
            }
            val score =
              if (!s.started) cents
              else Math.floorDiv(
                decayPpm * s.score + (1000000L - decayPpm) * cents, 1000000L)
            val minP =
              if (et == "purchase") math.min(s.minPurchase, tsm)
              else s.minPurchase
            val attributed =
              if (et == "click" &&
                  (tsm >= minP || drainPurchases.contains(tsm)))
                s.attributed + 1L
              else s.attributed
            s = JourneyState(Nil, s.nEvents + 1L, tsm,
              s.nSessions + (if (newSession) 1L else 0L),
              fStage, fTs, cStage, cTs, cycles, score, true, minP,
              attributed)
          }
          state.update(s.copy(pending = rest))
          if (rest.nonEmpty) state.setTimeoutTimestamp(
            (rest.map(_._1).min / 1000L).max(state.getCurrentWatermarkMs() + 1L))
          if (drained > 0)
            Iterator(JourneyUpdate(key, s.lastTs, s.nEvents, s.nSessions,
              s.fStage, s.cycles, s.score, s.attributed))
          else Iterator.empty
      }
  }

  /** Gap-based sessionization via keyed state
    * (KeyValueGroupedDataset.flatMapGroupsWithState): a session per
    * event_type closes after `gapMs` of event-time silence. EVENT-time
    * timeouts keyed to the watermark — deterministic under replay (a
    * processing-time timeout would couple session boundaries to wall
    * clock), and the watermark bounds state size at scale.
    *
    * Callers must `withWatermark("ts", …)` on the input before the typed
    * conversion.
    */
  case class TransEvent(user_id: Long, ts: java.sql.Timestamp,
                        event_id: Long, event_type: String)
  case class TransState(lastType: Option[String],
                        pending: Seq[(Long, Long, String)])
  case class Transition(user_id: Long, tsm: Long, prev_type: String,
                        event_type: String)

  /** Streaming transition-pair extraction — the stateful twin of the
    * q156 batch [[graft.operators.RelationalQueries.transitionMatrix]]:
    * per user, each event paired with its event-time predecessor (ties
    * by event_id, the batch's exact sort). Emitted pairs ARE the
    * matrix's input rows: a downstream `groupBy(prev_type, event_type)
    * .count()` maintains the live matrix; normalization to ppm happens
    * at read time over the ≤|types|² aggregate (a streaming sink can't
    * retract a row-normalized share, the counts are the incremental
    * object).
    *
    * Same watermark-ordered prefix-fold discipline as [[funnelStream]]:
    * pair formation is prefix-monotone (a drained event's predecessor
    * is final), so every emitted pair is final; post-drain state is
    * O(1) (the last type). Callers must `withWatermark("ts", …)` before
    * the typed conversion.
    */
  def transitionStream(events: Dataset[TransEvent]): Dataset[Transition] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state: GroupState[TransState]) =>
          val prev = state.getOption.getOrElse(TransState(None, Nil))
          val batch = rows.toSeq.map(r =>
            (micros(r.ts), r.event_id, r.event_type))
          val wm = state.getCurrentWatermarkMs() * 1000L
          val (ready, rest) = (prev.pending ++ batch).partition(_._1 <= wm)
          var last = prev.lastType
          val out = Seq.newBuilder[Transition]
          for ((tsm, _, et) <- ready.sorted) {
            last.foreach(p => out += Transition(key, tsm, p, et))
            last = Some(et)
          }
          state.update(TransState(last, rest))
          if (rest.nonEmpty) state.setTimeoutTimestamp(
            (rest.map(_._1).min / 1000L)
              .max(state.getCurrentWatermarkMs() + 1L))
          out.result().iterator
      }
  }

  def sessionize(events: Dataset[Event], gapMs: Long = 60000): Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(key, s.count, s.lastTs))
          } else {
            val batch = rows.toSeq
            val prev = state.getOption.getOrElse(SessionState(0L, 0L))
            val next = SessionState(prev.count + batch.size,
              math.max(prev.lastTs, batch.map(_.ts.getTime).max))
            state.update(next)
            state.setTimeoutTimestamp(next.lastTs + gapMs)
            Iterator.empty
          }
      }
  }

  case class KmvInput(stratum: String, h: Long)
  case class KmvState(hashes: Array[Long])
  case class KmvEstimate(stratum: String, n_sk: Long, hk: Long, est: Long)

  /** Streaming KMV distinct estimate per stratum — the incremental twin
    * of `Corpus.kmvSketch` + q175's per-side estimate: state is the k
    * smallest distinct hash draws seen so far (monotone, bytes-bounded),
    * each trigger emits the stratum's refreshed estimate in Update
    * mode. The input MUST carry the SAME draw as the batch sketch
    * (`Corpus.hashU32(key, "kmv:")` computed before groupByKey), so the
    * stream's final state is bit-identical to the batch sketch over the
    * same rows — asserted in MediaStreamSpec. No watermark: a distinct
    * sketch has no event-time semantics to finalize, and the state is
    * capped at k longs per stratum regardless of stream length.
    */
  def kmvStream(hashed: Dataset[KmvInput], k: Int): Dataset[KmvEstimate] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import hashed.sparkSession.implicits._
    hashed.groupByKey(_.stratum)
      .flatMapGroupsWithState[KmvState, KmvEstimate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (stratum: String, rows: Iterator[KmvInput],
         state: GroupState[KmvState]) =>
          val cur = if (state.exists) state.get.hashes else Array.empty[Long]
          val merged = (cur ++ rows.map(_.h)).distinct.sorted.take(k)
          state.update(KmvState(merged))
          val n = merged.length.toLong
          val hk = if (merged.isEmpty) Long.MaxValue else merged.last
          val est = if (n < k) n
            else (k - 1).toLong * 4294967296L / math.max(hk, 1L)
          // (n_sk, −hk) is lexicographically monotone across triggers:
          // n_sk grows until the sketch fills, then hk only shrinks —
          // downstream consumers keep the (max n_sk, min hk) row per
          // stratum as "latest" without any clock.
          Iterator(KmvEstimate(stratum, n, hk, est))
      }
  }

  case class IjRow(user_id: Long, ts: java.sql.Timestamp, is_imp: Boolean,
                   event_id: Long)
  case class IjState(imps: Seq[(Long, Long)], clicks: Seq[(Long, Long)])
  case class ImpClick(imp_id: Long, click_id: Long, user_id: Long,
                      delta_us: Long)

  /** Stream-STREAM interval join via keyed state: every click pairs with
    * the SAME user's impressions whose event time falls within
    * `windowMicros` before it — the ad-attribution join. This container's
    * Spark build never matches `StreamingSymmetricHashJoin` rows across
    * micro-batches (SCALE.md round-12 note), so this is the
    * flatMapGroupsWithState form on the [[attributeStreams]] discipline:
    * both inputs watermarked per side, unioned into ONE keyed stream
    * (one shuffle per micro-batch), per-key buffers for both sides.
    *
    * Emission is watermark-final: a click emits only once the watermark
    * passes its event time — by then every impression at-or-before it
    * has arrived, so the pair set is complete and append-mode-final
    * (out-of-order arrival cannot change it). State is watermark-bounded
    * on both sides: clicks drain as the watermark passes them (with
    * event-time timeouts for quiet keys), impressions evict once
    * `i_ts + window < watermark` (no future finalizable click can reach
    * back that far). Per key the state holds one lateness+window span,
    * not history.
    */
  def intervalJoinStreams(impressions: DataFrame, clicks: DataFrame,
                          windowMicros: Long = 3600L * 1000000L,
                          lateness: String = "10 minutes"): Dataset[ImpClick] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = impressions.sparkSession
    import spark.implicits._
    def side(df: DataFrame, isImp: Boolean) =
      df.select(col("user_id").cast("long").as("user_id"), col("ts"),
          lit(isImp).as("is_imp"), col("event_id").cast("long").as("event_id"))
        .withWatermark("ts", lateness)
    val tagged = side(impressions, isImp = true)
      .unionByName(side(clicks, isImp = false)).as[IjRow]
    tagged.groupByKey(_.user_id)
      .flatMapGroupsWithState[IjState, ImpClick](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state: GroupState[IjState]) =>
          val prev = state.getOption.getOrElse(IjState(Nil, Nil))
          val batch = rows.toSeq
          // Invariant: the impression buffer is kept SORTED by (ts, id)
          // — prev.imps already is, the batch sorts, and a linear merge
          // keeps the trigger at O(|state| + |batch| + matches·log) even
          // for a hot key with dense impressions (the naive form
          // re-scanned the entire buffer once per ready click).
          val newImps = batch.filter(_.is_imp)
            .map(r => (micros(r.ts), r.event_id)).sorted
          val imps = {
            val a = prev.imps.toIndexedSeq; val b = newImps.toIndexedSeq
            val m = Vector.newBuilder[(Long, Long)]
            var i = 0; var j = 0
            while (i < a.length && j < b.length) {
              if (Ordering[(Long, Long)].lteq(a(i), b(j))) { m += a(i); i += 1 }
              else { m += b(j); j += 1 }
            }
            while (i < a.length) { m += a(i); i += 1 }
            while (j < b.length) { m += b(j); j += 1 }
            m.result()
          }
          val clicks = prev.clicks ++
            batch.filterNot(_.is_imp).map(r => (micros(r.ts), r.event_id))
          val wm = state.getCurrentWatermarkMs() * 1000L
          val (ready, restC) = clicks.partition(_._1 <= wm)
          // First index with imp ts >= target (imps sorted, ts
          // non-decreasing): the click's in-window slice is
          // [lb(cts − window), lb(cts + 1)).
          def lb(target: Long): Int = {
            var lo = 0; var hi = imps.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (imps(mid)._1 >= target) hi = mid else lo = mid + 1
            }
            lo
          }
          // Deterministic emission order: (click ts, click id, imp id).
          val out = ready.sortBy(c => (c._1, c._2)).flatMap { case (cts, cid) =>
            imps.slice(lb(cts - windowMicros), lb(cts + 1L))
              .sortBy(_._2)
              .map { case (its, iid) => ImpClick(iid, cid, key, cts - its) }
          }
          // An impression can still match a future click while
          // i_ts + window >= wm (that click has c_ts > wm).
          val restI = imps.filter(_._1 + windowMicros >= wm)
          if (restC.isEmpty && restI.isEmpty) {
            state.remove(); out.iterator
          } else {
            state.update(IjState(restI, restC))
            if (restC.nonEmpty) state.setTimeoutTimestamp(
              (restC.map(_._1).min / 1000L)
                .max(state.getCurrentWatermarkMs() + 1L))
            else state.setTimeoutTimestamp(
              ((restI.map(_._1 + windowMicros).max / 1000L) + 1L)
                .max(state.getCurrentWatermarkMs() + 1L))
            out.iterator
          }
      }
  }

  // ------------------------------------------------- index-sink streams
  // Streaming maintenance of the persisted sign-once indexes (X172/X175):
  // a stream keeps the dashboard tables current instead of a scheduled
  // batch job, with replay-safety matched to each index's algebra.

  /** Maintain an atomic sketch index from a stream: `build` reduces each
    * micro-batch alone (a KMV k-slot table, a bottom-k sample, a Bloom
    * set-bit table) and [[graft.sources.ShardStore.upsert]] folds it
    * into the stored index under the family's idempotent law, so
    * at-least-once delivery is enough and no batch ledger is kept. */
  def upsertSink(stream: DataFrame, dir: String, checkpointLoc: String)
                (build: DataFrame => DataFrame,
                 law: graft.sources.ShardStore.Idempotent)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointLoc)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.ShardStore.upsert(build(batch), dir, law)
      }
      .start()

  /** Maintain a `batch_id=`-sharded index from a stream: `build`
    * reduces each micro-batch alone (a histogram, a count-min sketch, a
    * Misra-Gries or quantile summary, a log) and its rows land in the
    * batch's own shard ([[graft.sources.ShardStore.writeShard]]), so a
    * replayed batch overwrites exactly itself — the replay guard the
    * additive laws need. Served by the family's law over
    * [[graft.sources.ShardStore.live]]. With `autoCompact > 0`, once
    * more than that many stream shards are live the sink folds them
    * under `fold` ([[graft.sources.ShardStore.compactIfNeeded]]): one
    * directory listing per micro-batch below the threshold, the fold
    * amortized to 1/autoCompact of itself per batch above it. */
  def shardSink(stream: DataFrame, dir: String, checkpointLoc: String,
                autoCompact: Int = 0)
               (build: DataFrame => DataFrame,
                fold: DataFrame => DataFrame = identity)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointLoc)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.sources.ShardStore.writeShard(build(batch), id, dir)
        if (autoCompact > 0) graft.sources.ShardStore.compactIfNeeded(
          batch.sparkSession, dir, autoCompact, fold)
        ()
      }
      .start()

  /** Maintain the persisted inverted search index from a document
    * stream: each micro-batch tokenizes itself ONCE and lands its
    * postings + 1-row stats under its own `batch_id=` partitions
    * ([[graft.llm.Corpus.writeSearchIndexShard]] — dynamic partition
    * overwrite, so an at-least-once replay overwrites exactly its own
    * shard and df/N/Σdl never double-count). Queries keep serving from
    * the shards mid-stream via [[graft.llm.Corpus.bm25FromIndex]].
    *
    * `upsert = true` routes each batch through
    * [[graft.llm.Corpus.upsertSearchIndexShard]] — required whenever
    * the stream can RE-DELIVER a document under the same id with new
    * text (re-crawls): the plain shard write would leave the old
    * postings live and double-count df/N/Σdl. Costs one ownership
    * semi-join per batch plus a rewrite of only the touched shards. */
  def searchIndexSink(docs: DataFrame, idCol: String, textCol: String,
                      dir: String, checkpointLoc: String,
                      buckets: Int = 32, upsert: Boolean = false,
                      autoCompact: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointLoc)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (upsert)
          graft.llm.Corpus.upsertSearchIndexShard(batch, idCol, textCol,
            dir, batchId, buckets)
        else
          graft.llm.Corpus.writeSearchIndexShard(batch, idCol, textCol,
            dir, batchId, buckets)
        if (autoCompact > 0)
          graft.llm.Corpus.compactSearchIndexIfNeeded(
            batch.sparkSession, dir, autoCompact)
      }
      .start()

  /** Streaming vector ingest into a stream-built IVF index: centroids
    * are frozen once ([[graft.llm.Similarity.writeIvfCentroids]]); each
    * micro-batch assigns map-only against them and lands its list rows
    * in its own `batch_id=` shard
    * ([[graft.llm.Similarity.writeIvfShard]] — dynamic overwrite, so a
    * redelivered batch overwrites itself instead of duplicating
    * vectors). [[graft.llm.Similarity.ivfKnnIndexed]] serves queries
    * mid-stream, partition-pruned to the probed lists. */
  def vectorIndexSink(vectors: DataFrame, idCol: String, vecCol: String,
                      dir: String, checkpointLoc: String,
                      autoCompact: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointLoc)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.llm.Similarity.writeIvfShard(batch, idCol, vecCol, dir, id)
        if (autoCompact > 0 && graft.sources.ShardStore.aboveShardThreshold(
            batch.sparkSession, s"$dir/lists", autoCompact))
          graft.llm.Similarity.compactIvfShards(batch.sparkSession, dir)
      }
      .start()

  /** Streaming ingest gate against a stored decontamination index:
    * each micro-batch of documents gets its per-doc contaminated-window
    * counts ([[graft.llm.Corpus.decontamProbe]] — only the batch is
    * hashed, the benchmark side is the signed index) and the admission
    * log lands in a `batch_id=` partition under dynamic overwrite, so
    * a replayed batch overwrites exactly its own rows ([[shardSink]];
    * `autoCompact` re-lands the log rows in one base shard). Downstream
    * curation filters the log; the benchmark corpus is never re-read. */
  def decontamSink(docs: DataFrame, idCol: String, textCol: String,
                   idxDir: String, outDir: String, checkpointLoc: String,
                   spanTokens: Int = 8, k: Int = 4, mBits: Int = 1 << 20,
                   autoCompact: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    shardSink(docs, outDir, checkpointLoc, autoCompact)(
      graft.llm.Corpus.decontamProbe(_, idCol, textCol, idxDir, spanTokens,
        k, mBits))

  /** Streaming classifier gate: each micro-batch of documents scores
    * against a [[graft.llm.Classify.saveModel]]-persisted NB model
    * (frozen-model serving — the stream NEVER retrains; scoring is one
    * token-keyed join against the vocab-sized weights + a per-doc
    * aggregate) and the per-doc score log lands in a `batch_id=`
    * partition under dynamic overwrite, so a replayed batch overwrites
    * exactly its own rows. Downstream curation filters the log by the
    * operating threshold ([[graft.llm.Classify.tuneThreshold]]). */
  def classifySink(docs: DataFrame, idCol: String, textCol: String,
                   modelDir: String, outDir: String, checkpointLoc: String,
                   autoCompact: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    shardSink(docs, outDir, checkpointLoc, autoCompact) { batch =>
      // Model loads PER BATCH, deliberately: a once-at-start load
      // would pin the weights parquet's file listing for the
      // stream's lifetime, so an operator republishing the model
      // would crash the stream on swept paths instead of being
      // picked up. The per-batch cost is one pointer read + a
      // one-row consts read — noise against any real micro-batch —
      // and a republish is picked up at the next batch boundary.
      // saveModel publishes weights+consts as ONE immutable version
      // dir behind a single _model_v pointer flip, so a load racing
      // a republish reads a consistent generation by construction
      // (and the one-version sweep grace keeps the just-superseded
      // files intact for a load already past the pointer).
      graft.llm.Classify.nbScore(batch, idCol, textCol,
        graft.llm.Classify.loadModel(batch.sparkSession, modelDir))
    }

  /** Maintain the q151/q198 SCD2 dimension from a CDC change stream:
    * each micro-batch upserts the bucket-partitioned change log and
    * re-collapses ONLY the touched buckets
    * ([[graft.operators.RelationalQueries.upsertScd2Index]] — set-law
    * log dedup makes redelivery idempotent, out-of-order late changes
    * split runs correctly because the raw log is kept). The maintained
    * `history/` table feeds the point-in-time join directly. */
  def scd2IndexSink(changes: DataFrame, keyCol: String, tsCol: String,
                    tieCol: String, valCol: String, dir: String,
                    checkpointLoc: String, buckets: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpointLoc)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.RelationalQueries.upsertScd2Index(
          batch, keyCol, tsCol, tieCol, valCol, dir, buckets)
      }
      .start()
}
