package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import graft.pipeline.Exact.d6

/** One event of the sessionization stream (the `events` fixture shape).
  * Top-level case class: Spark's state-encoder codegen requires a
  * constructor without an outer-object reference.
  */
final case class Event(
    user_id: Long, ts: Timestamp, event_type: String, value: Double)

/** A closed session emitted once its gap elapses. */
final case class Session(
    user_id: Long, session_id: Long, n_events: Long,
    total_value: Double, start_ts: Timestamp, end_ts: Timestamp)

private[streaming] final case class SessionAcc(
    sessionId: Long, startUs: Long, lastUs: Long,
    nEvents: Long, totalValue: Double)

/** One crawl arrival for [[Streaming.domainCapGate]]: the document id
  * and its (pre-extracted, stateless) registrable domain.
  */
final case class DocArrival(doc_id: Long, domain: String)

/** [[Streaming.domainCapGateTws]]'s stateful processor — the
  * transformWithState (Spark 4 arbitrary-state v2) form of the cap
  * gate: one typed `ValueState[Long]` counter per domain, no timers
  * (TimeMode.None — a policy count must never expire). Top-level class:
  * instances serialize to executors without an outer reference.
  */
private[streaming] final class DomainCapProcessor(maxPerDomain: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, DocArrival, GateVerdict] {
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var seen: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Long](
      "seen", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(
      domain: String,
      rows: Iterator[DocArrival],
      timerValues: TimerValues): Iterator[GateVerdict] = {
    var n = if (seen.exists()) seen.get() else 0L
    val out = rows.toSeq.sortBy(_.doc_id).map { d =>
      n += 1
      GateVerdict(d.doc_id, domain, n, if (n <= maxPerDomain) 1 else 0)
    }
    seen.update(n)
    out.iterator
  }

  override def handleExpiredTimer(
      domain: String,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[GateVerdict] =
    Iterator.empty
}

/** [[Streaming.domainCapGate]]'s judgment for one arrival. */
final case class GateVerdict(
    doc_id: Long, domain: String, domain_rank: Long, is_kept: Int)

/** [[Streaming.sessionizeTws]]'s stateful processor: one typed
  * `ValueState[SessionAcc]` per user plus one live event-time timer at
  * last-event + gap. Top-level class — instances serialize to executors
  * without an outer reference.
  */
private[streaming] final class SessionizeProcessor(gapMinutes: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Event, Session] {
  import org.apache.spark.sql.streaming.{
    ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}

  private val gapUs = gapMinutes * 60000000L
  private val gapMs = gapMinutes * 60000L
  @transient private var state: ValueState[SessionAcc] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[SessionAcc](
      "session", Encoders.product[SessionAcc], TTLConfig.NONE)

  private def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def tsFromMicros(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def close(userId: Long, acc: SessionAcc): Session =
    Session(userId, acc.sessionId, acc.nEvents, acc.totalValue,
      tsFromMicros(acc.startUs), tsFromMicros(acc.lastUs))

  // timer expiry for an open session: ms floor keeps it ≤ the true µs
  // gap end; it can only fire once the watermark passes it (the same
  // arithmetic sessionize uses for its group-state timeout)
  private def dueMs(acc: SessionAcc): Long = acc.lastUs / 1000L + gapMs

  override def handleInputRows(
      userId: Long,
      rows: Iterator[Event],
      timerValues: TimerValues): Iterator[Session] = {
    val sorted = rows.toSeq.sortBy(e => micros(e.ts))
    var acc = if (state.exists()) state.get() else null
    val prevDue = if (acc != null) Some(dueMs(acc)) else None
    val closed = Seq.newBuilder[Session]
    for (e <- sorted) {
      val t = micros(e.ts)
      if (acc == null) {
        acc = SessionAcc(1L, t, t, 1L, e.value)
      } else if (t - acc.lastUs > gapUs) {
        closed += close(userId, acc)
        acc = SessionAcc(acc.sessionId + 1, t, t, 1L, e.value)
      } else {
        acc = acc.copy(lastUs = math.max(acc.lastUs, t),
          nEvents = acc.nEvents + 1, totalValue = acc.totalValue + e.value)
      }
    }
    if (acc != null) {
      state.update(acc)
      val due = dueMs(acc)
      if (!prevDue.contains(due)) {
        prevDue.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(due)
      }
    }
    closed.result().iterator
  }

  override def handleExpiredTimer(
      userId: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
    if (!state.exists()) Iterator.empty
    else {
      val acc = state.get()
      // guard: only the CURRENT session's timer may close it — a stale
      // timer (earlier due time) means later events extended the session
      if (expiredTimerInfo.getExpiryTimeInMs() >= dueMs(acc)) {
        state.clear()
        Iterator.single(close(userId, acc))
      } else Iterator.empty
    }
  }
}

/** One user's funnel result: `step_us(i)` is the µs event time the
  * (i+1)-th step bound at; shorter than the step list when the user
  * stalled. Emitted exactly once per user.
  */
final case class FunnelResult(user_id: Long, step_us: Seq[Long])

private[streaming] final case class FunnelAcc(
    stepUs: Seq[Long], pendingUs: Seq[Long], pendingType: Seq[String],
    emitted: Boolean)

/** Structured Streaming surface: the streaming twins of the batch
  * operators, built on event-time watermarks so state is bounded and the
  * same job runs unchanged on an unbounded source. Everything here is
  * `readStream → transform → writeStream`-shaped: the functions take the
  * streaming DataFrame/Dataset and return the transformed stream, sinks
  * stay with the caller.
  *
  * State at scale: all three operators key their state by a column
  * (shuffle on the key, state store per partition); the watermark bounds
  * every store — late data beyond it is dropped, closed state is evicted.
  */
object Streaming {

  /** Watermarked sliding-window aggregation: events per (window, key)
    * with exact-decimal value sums (same float discipline as the batch
    * corpus). Append-mode compatible: results emit once the watermark
    * passes the window end.
    */
  def windowedCounts(
      df: DataFrame,
      tsCol: String,
      keyCol: String,
      windowLen: String = "10 minutes",
      slide: Option[String] = None,
      watermark: String = "30 minutes"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(
        slide.map(s => window(col(tsCol), windowLen, s))
          .getOrElse(window(col(tsCol), windowLen)),
        col(keyCol))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("total_value"))

  /** Streaming exact dedup: first occurrence per key within the watermark
    * horizon passes, replays are dropped. The streaming twin of
    * [[graft.pipeline.TextDedup.exactDedup]] — state is the key set,
    * bounded by the watermark (keys older than it are evicted, so a
    * 100 TB/day stream holds only the horizon's keys).
    */
  def dedupStream(df: DataFrame, tsCol: String, keyCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicates(keyCols :+ tsCol)

  /** Streaming interval (range) join — the streaming twin of
    * [[graft.ops.Joins.rangeJoin]], same bucketed design: an interval
    * [startTs, startTs + length] replicates to each `bucketWidthUs`-wide
    * bin it overlaps, a point lands in exactly ONE bin, and the pairing
    * becomes a stream-stream EQUI-join on the bin (Spark's symmetric
    * hash join needs an equality key; the raw inequality pairing would
    * not plan) plus the exact containment filter — each qualifying pair
    * emitted exactly once.
    *
    * Both sides carry an event-time watermark and the join condition
    * bounds the two event times against each other, so the join state is
    * watermark-evicted: at any moment each side's store holds only rows
    * newer than (watermark − length). Inner-join emission is match-driven
    * (not watermark-gated), so a drained bounded stream emits exactly
    * the batch answer.
    *
    * Column names of the two inputs must be disjoint. `lengthUs` is the
    * interval length in µs; choose `bucketWidthUs` ≈ `lengthUs` (~2×
    * replication), exactly as in the batch operator.
    */
  def intervalJoin(
      points: DataFrame,
      pointTs: String,
      intervals: DataFrame,
      startTs: String,
      lengthUs: Long,
      bucketWidthUs: Long,
      watermark: String = "30 minutes",
      joinType: String = "inner"): DataFrame = {
    require(lengthUs >= 0, "lengthUs must be non-negative")
    require(bucketWidthUs > 0, "bucketWidthUs must be positive")
    // left_outer: unmatched POINTS emit null-augmented rows once the
    // intervals-side watermark passes their last possible match time —
    // the event-time range condition below is what makes Spark accept
    // the outer stream-stream join and bound its state. Points are not
    // exploded (one bucket per point), so an unmatched point emits
    // exactly once. A bounded drain needs a far-future row on BOTH
    // streams or tail rows inside the watermark delay never finalize.
    require(Set("inner", "left_outer").contains(joinType),
      s"joinType must be inner or left_outer, got $joinType")
    val collisions = points.columns.toSet intersect intervals.columns.toSet
    require(collisions.isEmpty,
      s"points/intervals column collision: ${collisions.mkString(", ")}")
    val reserved = Set("_g_pb", "_g_ib")
      .intersect((points.columns ++ intervals.columns).toSet)
    require(reserved.isEmpty,
      s"reserved column names in input: ${reserved.mkString(", ")}")
    val w = lit(bucketWidthUs)
    val pts = points.withWatermark(pointTs, watermark)
      .withColumn("_g_pb", floor(unix_micros(col(pointTs)) / w).cast("long"))
    val ivs = intervals.withWatermark(startTs, watermark)
      .withColumn("_g_ib", explode(sequence(
        floor(unix_micros(col(startTs)) / w).cast("long"),
        floor((unix_micros(col(startTs)) + lengthUs) / w).cast("long"))))
    pts.join(ivs,
      col("_g_pb") === col("_g_ib") &&
        col(pointTs) >= col(startTs) &&
        col(pointTs) <= col(startTs) + expr(s"INTERVAL $lengthUs MICROSECOND"),
      joinType)
      .drop("_g_pb", "_g_ib")
  }

  /** Streaming as-of enrichment against a STATIC snapshot table — the
    * stream-static twin of [[graft.ops.Joins.asOf]]: each stream row
    * picks up the dimension row with the largest `dimTs` ≤ its event
    * time within the key (left semantics — null payload before the
    * key's first snapshot).
    *
    * Streaming frames admit no window functions, so the batch union+
    * window sweep can't run on the stream. Instead the WINDOW moves to
    * the static side, where it is legal: snapshots become half-open
    * validity intervals [dimTs, lead(dimTs)) per key, and the stream
    * joins each event to the single interval containing it — a
    * stream-static left join Spark re-executes per micro-batch,
    * broadcasting the dimension when it is small. Equal-instant events
    * match the snapshot stamped at their own time, exactly as in the
    * batch operator.
    *
    * Contract: `dim` unique per (keys, dimTs); its other columns are the
    * carried payload and must not collide with stream columns.
    *
    * Spark re-executes a stream-static side EVERY micro-batch; with
    * `cacheDim` (the default) the derived interval frame is persisted,
    * so the lead() window and the dim scan run ONCE — later batches
    * read cached blocks (StreamingSpec asserts the evaluation count
    * stays flat across batches). The stream therefore joins one
    * CONSISTENT snapshot: a mutated dim table is intentionally not
    * picked up mid-stream. To roll the snapshot, probe the table for
    * change (version/count), `unpersist()` and restart the query from
    * its checkpoint — or pass `cacheDim = false` to re-read the dim
    * each batch (per-batch window rebuild, the pre-cache behavior —
    * only sensible when the dim is tiny and freshness beats cost).
    */
  def asOfStatic(
      stream: DataFrame,
      streamTs: String,
      dim: DataFrame,
      keys: Seq[String],
      dimTs: String,
      cacheDim: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val payload = dim.columns.filterNot(c => keys.contains(c) || c == dimTs)
    val collisions = payload.toSet intersect stream.columns.toSet
    require(collisions.isEmpty,
      s"dim payload collides with stream columns: ${collisions.mkString(", ")}")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(dimTs))
    val ivs0 = dim
      .withColumn("_g_end", lead(col(dimTs), 1).over(w))
      .select(keys.map(k => col(k).as(s"_g_k_$k")) ++
        Seq(col(dimTs).as("_g_start"), col("_g_end")) ++ payload.map(col): _*)
    val ivs = if (cacheDim)
      ivs0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else ivs0
    val cond = keys.map(k => stream(k) === ivs(s"_g_k_$k")).reduce(_ && _) &&
      stream(streamTs) >= ivs("_g_start") &&
      (ivs("_g_end").isNull || stream(streamTs) < ivs("_g_end"))
    stream.join(ivs, cond, "left")
      .drop(keys.map(k => s"_g_k_$k") :+ "_g_start" :+ "_g_end": _*)
  }

  /** Streaming gap-based sessionization — the streaming twin of
    * [[graft.pipeline.Sessionize]]: a session closes when `gapMinutes`
    * pass with no event for the key. Custom state via
    * flatMapGroupsWithState with an EVENT-TIME timeout: the watermark both
    * closes idle sessions and bounds the state store. Sessions emit in
    * Append mode when closed (by a later event or by timeout).
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    val gapUs = gapMinutes * 60000000L
    implicit val accEnc = Encoders.product[SessionAcc]
    implicit val outEnc = Encoders.product[Session]
    implicit val keyEnc = Encoders.scalaLong

    // local defs (not object methods): the update closure ships to
    // executors and must not capture the enclosing object.
    // Epoch MICROS of a Timestamp — getTime alone truncates to millis,
    // which would shift session boundaries on µs-resolution event times.
    def micros(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    def tsFromMicros(us: Long): Timestamp = {
      val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    def close(userId: Long, acc: SessionAcc): Session =
      Session(userId, acc.sessionId, acc.nEvents, acc.totalValue,
        tsFromMicros(acc.startUs), tsFromMicros(acc.lastUs))

    def update(
        userId: Long,
        batch: Iterator[Event],
        state: GroupState[SessionAcc]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val done = state.get
        state.remove()
        Iterator.single(close(userId, done))
      } else {
        // fold the micro-batch in event-time order into the open session
        val sorted = batch.toSeq.sortBy(e => micros(e.ts))
        var acc = state.getOption.orNull
        val closed = Seq.newBuilder[Session]
        for (e <- sorted) {
          val t = micros(e.ts)
          if (acc == null) {
            acc = SessionAcc(1L, t, t, 1L, e.value)
          } else if (t - acc.lastUs > gapUs) {
            closed += close(userId, acc)
            acc = SessionAcc(acc.sessionId + 1, t, t, 1L, e.value)
          } else {
            acc = acc.copy(lastUs = math.max(acc.lastUs, t),
              nEvents = acc.nEvents + 1, totalValue = acc.totalValue + e.value)
          }
        }
        if (acc != null) {
          state.update(acc)
          // close via watermark once the gap elapses with no new events
          // (timeout API is millis; floor keeps it ≤ the true µs gap end,
          // and a fire can only happen once the watermark has passed it)
          state.setTimeoutTimestamp(acc.lastUs / 1000L + gapMinutes * 60000L)
        }
        closed.result().iterator
      }
    }

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Gap-sessionization on the `transformWithState` ARBITRARY-STATE API
    * (Spark 4's successor to flatMapGroupsWithState): typed
    * `ValueState` holds the open session, an EVENT-TIME TIMER replaces
    * the group-state timeout for gap-elapsed closing, and mid-batch
    * session breaks emit inline exactly as [[sessionize]] does. Output
    * ≡ [[sessionize]] ≡ the batch operator on a drained stream — the
    * same three-way law, on the API new pipelines should target (typed
    * composable state, multiple states per key, state TTL, and the
    * RocksDB store it requires are the production posture).
    *
    * Timer discipline: each fold re-registers the timer at the new
    * last-event + gap and deletes the superseded one, so at most one
    * live timer per key; `handleExpiredTimer` still guards on the
    * CURRENT session's due time, so a stale timer that slipped through
    * (e.g. restored from a checkpoint) can never close a session early.
    *
    * Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — transformWithState does
    * not run on the default HDFS-backed store.
    */
  def sessionizeTws(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    implicit val outEnc = Encoders.product[Session]
    implicit val keyEnc = Encoders.scalaLong
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionizeProcessor(gapMinutes),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Streaming sequential funnel — the streaming twin of
    * [[graft.pipeline.Behavior.funnelUsers]], same greedy-first
    * contract: step i binds to the earliest eligible occurrence
    * (strictly after step i−1, within `maxSpanUs` of step 1). Greedy
    * binding is ORDER-INCREMENTAL — it is only correct when events are
    * folded in ascending event time — so arriving step events are
    * BUFFERED in state and bound only once the watermark passes them:
    * no event older than the watermark can still arrive (the same
    * contract as [[sessionize]]), which makes the fold watermark-order
    * = event-time-order and reproduces the batch answer even on
    * OUT-OF-ORDER sources. The buffer holds at most the user's step
    * events inside the watermark-delay window (the stream-stream-join
    * state class), and drains to nothing for users who never bind
    * step 1.
    *
    * Finality comes from the span bound: once the watermark passes
    * t1 + span no step can bind anymore, so the event-time timeout
    * emits each user's row exactly once. The state then becomes a
    * TOMBSTONE that never expires: in batch semantics t1 is the
    * earliest step-1 event ever, so a later step-1 occurrence must NOT
    * restart the funnel — the retained state is one tiny row per user
    * who entered, the same cardinality class as a streaming distinct.
    */
  def funnel(
      events: Dataset[Event],
      steps: Seq[String],
      maxSpanUs: Long,
      watermarkDelay: String = "30 minutes"): Dataset[FunnelResult] = {
    require(steps.size >= 2, s"funnel needs >= 2 steps, got ${steps.size}")
    require(maxSpanUs > 0, s"maxSpanUs must be positive, got $maxSpanUs")
    implicit val accEnc = Encoders.product[FunnelAcc]
    implicit val outEnc = Encoders.product[FunnelResult]
    implicit val keyEnc = Encoders.scalaLong

    def micros(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    val stepSet = steps.toSet

    def update(
        userId: Long,
        batch: Iterator[Event],
        state: GroupState[FunnelAcc]): Iterator[FunnelResult] = {
      val acc = state.getOption
        .getOrElse(FunnelAcc(Seq.empty, Seq.empty, Seq.empty, emitted = false))
      if (acc.emitted) Iterator.empty // tombstone: drain and ignore
      else {
        val wmMs = state.getCurrentWatermarkMs
        val wmUs = wmMs * 1000L
        // watermark-order fold: only events the watermark has passed may
        // bind (nothing older can still arrive); the rest wait in the
        // buffer. Strict < keeps the ms-granularity watermark honest
        // about µs event times.
        val pending =
          (acc.pendingUs.zip(acc.pendingType).iterator ++
            batch.filter(e => stepSet.contains(e.event_type))
              .map(e => (micros(e.ts), e.event_type))).toSeq
        val (ready, waiting) = pending.partition(_._1 < wmUs)
        val bound = acc.stepUs.toBuffer
        for ((t, tpe) <- ready.sortBy(_._1)) {
          val next = bound.size
          if (next < steps.size && tpe == steps(next)) {
            if (next == 0) bound += t
            else if (t > bound(next - 1) && t <= bound.head + maxSpanUs)
              bound += t
          }
        }
        if (bound.nonEmpty && wmUs > bound.head + maxSpanUs) {
          // final: every bindable event has ts <= t1 + span < watermark,
          // so it was in `ready` — emit once, tombstone forever
          state.update(FunnelAcc(bound.toSeq, Seq.empty, Seq.empty,
            emitted = true))
          Iterator.single(FunnelResult(userId, bound.toSeq))
        } else if (bound.isEmpty && waiting.isEmpty) {
          // nothing bound, nothing buffered: no reason to keep state
          if (state.exists) state.remove()
          Iterator.empty
        } else {
          // a complete funnel can bind nothing more — drop the buffer
          val keep = if (bound.size == steps.size) Seq.empty else waiting
          state.update(FunnelAcc(bound.toSeq,
            keep.map(_._1), keep.map(_._2), emitted = false))
          // bound: fire once the watermark passes t1 + span (ms floor + 1
          // keeps it strictly past the µs bound). Buffer-only: fire on the
          // next watermark advance so buffered events bind without new
          // arrivals. Either way clamp above the current watermark.
          val target =
            if (bound.nonEmpty) (bound.head + maxSpanUs) / 1000L + 1
            else wmMs + 1
          state.setTimeoutTimestamp(math.max(target, wmMs + 1))
          Iterator.empty
        }
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** STREAMING per-domain crawl cap — the stateful half of
    * [[graft.pipeline.TextClean.domainPolicyGate]] for an ingest that
    * never ends: each domain's running document count persists across
    * micro-batches (one `GroupState[Long]` per domain, NoTimeout — a
    * policy count must never expire), and every arrival is judged with
    * `domain_rank` = its 1-based position in the domain's arrival order
    * and `is_kept` = rank ≤ `maxPerDomain`. Within a micro-batch the
    * group's rows are folded in ascending id order, so when arrival
    * order follows ids (the crawl-frontier case) the drained stream
    * reproduces the batch gate's rank cap EXACTLY — the invariant the
    * driver oracle checks. Blocklisting is stateless and belongs
    * upstream as a plain filter.
    *
    * State is one long per domain — bounded by the domain universe, not
    * the stream; the only exchange is the domain-keyed state shuffle.
    */
  def domainCapGate(
      docs: Dataset[DocArrival], maxPerDomain: Int): Dataset[GateVerdict] = {
    require(maxPerDomain >= 1, s"maxPerDomain must be >= 1, got $maxPerDomain")
    implicit val keyEnc = Encoders.STRING
    implicit val stateEnc = Encoders.scalaLong
    implicit val outEnc = Encoders.product[GateVerdict]

    def update(
        domain: String,
        batch: Iterator[DocArrival],
        state: GroupState[Long]): Iterator[GateVerdict] = {
      var seen = state.getOption.getOrElse(0L)
      val out = batch.toSeq.sortBy(_.doc_id).map { d =>
        seen += 1
        GateVerdict(d.doc_id, domain, seen,
          if (seen <= maxPerDomain) 1 else 0)
      }
      state.update(seen)
      out.iterator
    }

    docs.groupByKey(_.domain)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** [[domainCapGate]] on the transformWithState API (Spark 4's
    * successor to flatMapGroupsWithState, RocksDB-backed typed state) —
    * the same counter contract through [[DomainCapProcessor]], so the
    * fMGWS form, this form, the batch gate and DuckDB all agree on one
    * oracle (q132's pattern applied to the policy gate).
    */
  def domainCapGateTws(
      docs: Dataset[DocArrival], maxPerDomain: Int): Dataset[GateVerdict] = {
    require(maxPerDomain >= 1, s"maxPerDomain must be >= 1, got $maxPerDomain")
    implicit val keyEnc = Encoders.STRING
    implicit val outEnc = Encoders.product[GateVerdict]
    docs.groupByKey(_.domain)
      .transformWithState(
        new DomainCapProcessor(maxPerDomain),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** Streaming twin of [[graft.pipeline.Stats.ewmaControlChart]] — the
    * ingestion-volume alarm run AS a stream: per-key daily counts
    * arrive in micro-batches (any file/batch order), and once a key's
    * series is complete the whole chart emits with EXACTLY the batch
    * operator's numbers — same truncated λ=1/2 EWMA (exact binary
    * weights, fixed fold order), same whole-series d6-summed MAD scale,
    * same 3σ alarm bar. One oracle checks both forms (the q38/q132/q74
    * multi-form discipline).
    *
    * Completion protocol instead of ordering assumptions: each key's
    * stream carries one SENTINEL row (day = [[EwmaMonitor.Sentinel]],
    * x = the key's expected row count). State buffers rows; when
    * buffered == expected, the key finalizes, emits, and clears its
    * state — commutative over any arrival order, so the file-stream's
    * batch order can never corrupt the chart (the q131 order-proofing
    * idea applied to an order-SENSITIVE statistic: buffer, then sort
    * once at finalize). State is bounded by series length per key —
    * the deployment note: an ordered production ingest would keep only
    * the H-deep buffer and an online scale instead.
    */
  def ewmaMonitor(
      rows: Dataset[DayCount],
      horizon: Int = 8,
      nSigma: Double = 3.0): Dataset[EwmaPoint] = {
    require(horizon >= 1 && horizon <= 32,
      s"horizon must be in [1,32], got $horizon")
    implicit val accEnc = Encoders.product[EwmaBuf]
    implicit val outEnc = Encoders.product[EwmaPoint]
    implicit val keyEnc = Encoders.STRING

    def finalize(key: String, buf: EwmaBuf): Iterator[EwmaPoint] = {
      val series = buf.days.zip(buf.xs).sortBy(_._1)
      val xs = series.map(_._2)
      val n = xs.length
      // whole-series MAD, the batch op's dsum discipline: one IEEE
      // mean division, each |x−mean| d6-rounded BEFORE the exact
      // decimal sum, one closing division
      val mu = xs.sum.toDouble / n.toDouble
      val sigma = series.map { case (_, x) =>
        BigDecimal(math.abs(x.toDouble - mu))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble / n.toDouble
      val sigma6 = d6(sigma)
      series.zipWithIndex.iterator.map { case ((day, x), t) =>
        // lag fold j = 1..horizon in ascending j, left-assoc — the
        // batch expression order exactly
        var num = 0.0
        var den = 0.0
        var nh = 0
        var j = 1
        while (j <= horizon) {
          if (t - j >= 0) {
            val w = math.pow(2.0, -(j - 1))
            num += xs(t - j).toDouble * w
            den += w
            nh += 1
          } else {
            num += 0.0; den += 0.0
          }
          j += 1
        }
        val ewma6 =
          if (nh == 0) None else Some(d6(num / den))
        val alarm = ewma6 match {
          case Some(e) if math.abs(x.toDouble - e) > nSigma * sigma6 => 1
          case _ => 0
        }
        EwmaPoint(key, day, x, nh, ewma6, sigma6, alarm)
      }
    }

    def update(
        key: String,
        batch: Iterator[DayCount],
        state: GroupState[EwmaBuf]): Iterator[EwmaPoint] = {
      var buf = state.getOption.getOrElse(EwmaBuf(Nil, Nil, -1L))
      for (r <- batch) {
        if (r.day == EwmaMonitor.Sentinel) buf = buf.copy(expected = r.x)
        else buf = buf.copy(days = buf.days :+ r.day, xs = buf.xs :+ r.x)
      }
      if (buf.expected >= 0 && buf.days.length == buf.expected) {
        state.remove()
        finalize(key, buf)
      } else {
        state.update(buf)
        Iterator.empty
      }
    }

    rows.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  /** Streaming twin of [[graft.pipeline.Stats.cusum]] — the drift alarm
    * run AS a stream, per key: period metrics arrive in micro-batches
    * in ANY order, and once a key's series is complete (the
    * [[ewmaMonitor]] completion-sentinel protocol) the whole CUSUM
    * chart emits with EXACTLY the batch operator's numbers — the same
    * permille-scaled INTEGER prefix-sum/running-extremum closed form,
    * so drained-stream ≡ batch ≡ oracle three ways on one SQL.
    *
    * State is the bounded per-key period buffer (period count per key
    * — the series is report-sized by contract); a key with fewer than
    * `baselinePeriods` rows at its sentinel fails loudly, the batch
    * guard's semantics.
    */
  def cusumMonitor(
      rows: Dataset[PeriodCount],
      baselinePeriods: Int = 7,
      kPermille: Int = 50,
      hPermille: Int = 500): Dataset[CusumPoint] = {
    require(baselinePeriods >= 1, "baselinePeriods must be >= 1")
    require(kPermille >= 0 && kPermille < 1000,
      s"kPermille in [0, 1000), got $kPermille")
    require(hPermille > 0, s"hPermille must be positive, got $hPermille")
    implicit val accEnc = Encoders.product[CusumBuf]
    implicit val outEnc = Encoders.product[CusumPoint]
    implicit val keyEnc = Encoders.STRING

    def finalizeKey(key: String, buf: CusumBuf): Iterator[CusumPoint] = {
      val series = buf.periods.zip(buf.xs).sortBy(_._1)
      require(series.length >= baselinePeriods,
        s"cusumMonitor: key $key completed with ${series.length} < " +
          s"$baselinePeriods baseline periods")
      val t = series.take(baselinePeriods).map(_._2).sum
      require(t > 0, s"cusumMonitor: key $key baseline sum $t not positive")
      val scale = 1000L * baselinePeriods
      var c = 0L; var d = 0L; var mn = 0L; var mx = 0L
      series.iterator.map { case (p, x) =>
        c += scale * x - (1000L + kPermille) * t
        d += scale * x - (1000L - kPermille) * t
        mn = math.min(mn, c) // includes the implicit C_0 = 0
        mx = math.max(mx, d)
        val sPos = c - mn
        val sNeg = mx - d
        CusumPoint(key, p, x,
          d6(sPos.toDouble / scale.toDouble),
          d6(sNeg.toDouble / scale.toDouble),
          if (sPos >= hPermille * t) 1 else 0,
          if (sNeg >= hPermille * t) 1 else 0)
      }
    }

    def update(
        key: String,
        batch: Iterator[PeriodCount],
        state: GroupState[CusumBuf]): Iterator[CusumPoint] = {
      var buf = state.getOption.getOrElse(CusumBuf(Nil, Nil, -1L))
      for (r <- batch) {
        if (r.period == CusumMonitor.Sentinel) buf = buf.copy(expected = r.x)
        else buf = buf.copy(periods = buf.periods :+ r.period,
          xs = buf.xs :+ r.x)
      }
      if (buf.expected >= 0 && buf.periods.length == buf.expected) {
        state.remove()
        finalizeKey(key, buf)
      } else {
        state.update(buf)
        Iterator.empty
      }
    }

    rows.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  /** Streaming Population Stability Index — [[graft.pipeline.Stats.psi]]
    * run as a monitor: pre-binned (key, bin, slice) count shards arrive
    * in any order across micro-batches, ONE GroupState accumulator per
    * key folds them (counts are associative — shard order is
    * irrelevant by construction), and the key's PSI report emits when
    * its completion sentinel count is met (the [[cusumMonitor]]
    * discipline). Bin edges are REFERENCE-corpus constants, so
    * computing them upstream (batch or a prior job) is the correct
    * split: the stream carries observations, not quantiles.
    *
    * Determinism: the finalize replays Stats.psi's exact chain —
    * Laplace-smoothed shares, per-bin d6 terms summed as BigDecimal
    * (order-free), the closed-form absent-bin correction, ONE final
    * d6 — so the drained stream hash-matches the batch oracle.
    */
  def psiMonitor(
      rows: Dataset[BinCount],
      bins: Int = 10): Dataset[PsiReport] = {
    require(bins >= 2 && bins <= 100, s"bins must be in [2,100], got $bins")
    implicit val accEnc = Encoders.product[PsiBuf]
    implicit val outEnc = Encoders.product[PsiReport]
    implicit val keyEnc = Encoders.STRING
    def finalizeKey(key: String, buf: PsiBuf): Iterator[PsiReport] = {
      val byBin = buf.bins.indices
        .groupBy(i => buf.bins(i))
        .map { case (b, is) =>
          b -> ((is.map(i => if (buf.refs(i) == 1L) buf.ns(i) else 0L).sum,
            is.map(i => if (buf.refs(i) == 1L) 0L else buf.ns(i)).sum))
        }
      val nr = byBin.values.map(_._1).sum
      val nc = byBin.values.map(_._2).sum
      val psi: Option[Double] =
        if (nr > 0 && nc > 0) {
          val terms = byBin.values.map { case (cr, cc) =>
            val pr = (cr + 1L).toDouble / (nr + bins).toDouble
            val pc = (cc + 1L).toDouble / (nc + bins).toDouble
            BigDecimal(d6((pc - pr) * math.log(pc / pr)))
          }
          val prE = 1.0 / (nr + bins).toDouble
          val pcE = 1.0 / (nc + bins).toDouble
          val et = d6((pcE - prE) * math.log(pcE / prE))
          val s = terms.sum.toDouble
          Some(d6(s + (bins - byBin.size).toDouble * et))
        } else None
      Iterator.single(PsiReport(key, nr, nc, psi))
    }
    def update(
        key: String,
        batch: Iterator[BinCount],
        state: GroupState[PsiBuf]): Iterator[PsiReport] = {
      var buf = state.getOption.getOrElse(PsiBuf(Nil, Nil, Nil, -1L))
      for (r <- batch) {
        if (r.bin == PsiMonitor.Sentinel) buf = buf.copy(expected = r.n)
        else buf = buf.copy(bins = buf.bins :+ r.bin,
          refs = buf.refs :+ r.isRef, ns = buf.ns :+ r.n)
      }
      if (buf.expected >= 0 && buf.bins.length == buf.expected) {
        state.remove()
        finalizeKey(key, buf)
      } else {
        state.update(buf)
        Iterator.empty
      }
    }
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }

  /** Streaming Hellinger drift monitor — [[psiMonitor]]'s machinery
    * (associative per-key BinCount fold, completion-sentinel
    * finalize, order-proof) emitting the TRUE-METRIC member of the
    * drift family instead: H = √(1 − Σ√(pᵢqᵢ)) over the same
    * Laplace-smoothed reference-decile bins (empty bins contribute
    * the shared √(p_E·q_E) affinity term, mirroring PSI's empty-bin
    * handling). Same d6 discipline so the drained stream hash-matches
    * the batch oracle.
    */
  def hellingerMonitor(
      rows: Dataset[BinCount],
      bins: Int = 10): Dataset[HellingerReport] = {
    require(bins >= 2 && bins <= 100, s"bins must be in [2,100], got $bins")
    implicit val accEnc = Encoders.product[PsiBuf]
    implicit val outEnc = Encoders.product[HellingerReport]
    implicit val keyEnc = Encoders.STRING
    def finalizeKey(key: String, buf: PsiBuf): Iterator[HellingerReport] = {
      val byBin = buf.bins.indices
        .groupBy(i => buf.bins(i))
        .map { case (b, is) =>
          b -> ((is.map(i => if (buf.refs(i) == 1L) buf.ns(i) else 0L).sum,
            is.map(i => if (buf.refs(i) == 1L) 0L else buf.ns(i)).sum))
        }
      val nr = byBin.values.map(_._1).sum
      val nc = byBin.values.map(_._2).sum
      val h: Option[Double] =
        if (nr > 0 && nc > 0) {
          val terms = byBin.values.map { case (cr, cc) =>
            val pr = (cr + 1L).toDouble / (nr + bins).toDouble
            val pc = (cc + 1L).toDouble / (nc + bins).toDouble
            BigDecimal(d6(math.sqrt(pr * pc)))
          }
          val prE = 1.0 / (nr + bins).toDouble
          val pcE = 1.0 / (nc + bins).toDouble
          val et = d6(math.sqrt(prE * pcE))
          val s = terms.sum.toDouble + (bins - byBin.size).toDouble * et
          Some(d6(math.sqrt(math.max(0.0, 1.0 - s))))
        } else None
      Iterator.single(HellingerReport(key, nr, nc, h))
    }
    def update(
        key: String,
        batch: Iterator[BinCount],
        state: GroupState[PsiBuf]): Iterator[HellingerReport] = {
      var buf = state.getOption.getOrElse(PsiBuf(Nil, Nil, Nil, -1L))
      for (r <- batch) {
        if (r.bin == PsiMonitor.Sentinel) buf = buf.copy(expected = r.n)
        else buf = buf.copy(bins = buf.bins :+ r.bin,
          refs = buf.refs :+ r.isRef, ns = buf.ns :+ r.n)
      }
      if (buf.expected >= 0 && buf.bins.length == buf.expected) {
        state.remove()
        finalizeKey(key, buf)
      } else {
        state.update(buf)
        Iterator.empty
      }
    }
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }
}

object PsiMonitor {
  /** Sentinel bin marker carrying the key's expected row count in n
    * (bins are ≥ 1 in the contract, so −1 is free). */
  val Sentinel: Long = -1L
}

/** One per-key pre-binned slice count for [[Streaming.psiMonitor]]
  * (or its completion sentinel: bin = [[PsiMonitor.Sentinel]],
  * n = the key's expected row count). isRef: 1 = reference slice.
  */
final case class BinCount(key: String, bin: Long, isRef: Long, n: Long)

/** Accumulator of [[Streaming.psiMonitor]]: parallel (bin, slice,
  * count) triples plus the expected row count from the sentinel. */
final case class PsiBuf(
    bins: Seq[Long], refs: Seq[Long], ns: Seq[Long], expected: Long)

/** One emitted PSI report of [[Streaming.psiMonitor]] — the exact
  * column contract of [[graft.pipeline.Stats.psi]] with the key. */
final case class PsiReport(
    key: String, n_ref: Long, n_cur: Long, psi: Option[Double])

/** One emitted report of [[Streaming.hellingerMonitor]]. */
final case class HellingerReport(
    key: String, n_ref: Long, n_cur: Long, hellinger: Option[Double])

object EwmaMonitor {
  /** Sentinel day marker carrying the key's expected row count in x. */
  val Sentinel = "~complete"
}

object CusumMonitor {
  /** Sentinel period marker carrying the key's expected row count in
    * x (periods are non-negative in the contract, so −1 is free). */
  val Sentinel: Long = -1L
}

/** One per-key period metric for [[Streaming.cusumMonitor]] (or its
  * completion sentinel: period = [[CusumMonitor.Sentinel]], x = the
  * key's expected row count).
  */
final case class PeriodCount(key: String, period: Long, x: Long)

/** One emitted CUSUM point of [[Streaming.cusumMonitor]] — the exact
  * column contract of [[graft.pipeline.Stats.cusum]] plus the key. */
final case class CusumPoint(
    key: String, period: Long, x: Long, s_pos: Double, s_neg: Double,
    alarm_pos: Int, alarm_neg: Int)

private[streaming] final case class CusumBuf(
    periods: Seq[Long], xs: Seq[Long], expected: Long)

/** One per-key daily count for [[Streaming.ewmaMonitor]] (or its
  * completion sentinel: day = [[EwmaMonitor.Sentinel]], x = expected
  * row count for the key).
  */
final case class DayCount(key: String, day: String, x: Long)

/** One emitted chart point of [[Streaming.ewmaMonitor]]. */
final case class EwmaPoint(
    key: String, day: String, x: Long, n_hist: Int,
    ewma: Option[Double], sigma: Double, is_alarm: Int)

private[streaming] final case class EwmaBuf(
    days: Seq[String], xs: Seq[Long], expected: Long)
