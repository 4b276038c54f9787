package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** The custom stateful operators SURVEY §4 concludes Spark needs code
  * for (everything else maps to built-ins): per-day dedup counters (A5),
  * new/old visitor repair (O9), keep-latest changelog dedup (O18), the
  * CEP-equivalent bounce detector (W6), plus the training-pipeline
  * extensions — ingest-time exact dedup, as-of attribution in two
  * variants (O(1)-state in-order, and watermark-buffered out-of-order),
  * streaming heavy hitters and first/last-touch attribution.
  *
  * One implementation per operator, `flatMapGroupsWithState` over typed
  * Datasets — state lives in the state store, scales with #executors, and
  * is checkpointable (which the reference's jobs designed but disabled,
  * BaseLogApp.java:33-44). Two `transformWithState` pieces remain, each
  * for its own reason:
  *   - [[sessionizeTws]] is gap sessionization's only form (event-time
  *     timers + `handleExpiredTimer`);
  *   - [[bounceDetectorTws]] is kept next to [[bounceDetector]] while the
  *     fMGWS form has a known defect: a late entry page that becomes the
  *     held page sets a timeout behind the watermark and stops the query,
  *     where the timer form bounces it in that batch. Fixing the defect
  *     and deleting the losing form is one change, not two.
  *
  * Scale: state is per-key and O(bytes) — a date string (A5/O9), one held
  * row (O18/W6), a marker bit, one long, a touch pair, an O(k) sketch.
  * Keys hash-partition across the cluster. Only the event-time operators
  * ([[asofBuffered]], [[keepLatest]], [[bounceDetector]]) declare a
  * timeout that removes a key's state. The other six — [[dailyDedup]],
  * [[ingestDedup]], [[asofAttribution]], [[visitorRepair]],
  * [[heavyHittersStream]] and [[attributionStream]] — run with
  * `GroupStateTimeout.NoTimeout`, so their state grows with the number of
  * distinct keys ever seen (the Flink originals bounded the dedup markers
  * with a 1-day state TTL; nothing here does).
  */
object StatefulOps {

  /** A keyed event with an event-time date — input to the dedup ops. */
  case class KeyedEvent(key: String, ts: Long, date: String)

  /** A page view for visitor-repair / bounce detection. */
  case class PageView(mid: String, pageId: String, lastPageId: String,
                      isNew: String, ts: Long, date: String)

  /** A changelog row for keep-latest dedup. */
  case class VersionedRow(key: String, opTs: Long, payload: String)

  // private: callers use spark.implicits; these only serve the operators
  // below (and would ambiguate implicit scope if wildcard-imported).
  private implicit val keyedEventEnc: Encoder[KeyedEvent] = Encoders.product[KeyedEvent]
  private implicit val pageViewEnc: Encoder[PageView] = Encoders.product[PageView]
  private implicit val versionedEnc: Encoder[VersionedRow] = Encoders.product[VersionedRow]
  private implicit val stringEnc: Encoder[String] = Encoders.STRING

  /** A5 — daily-unique dedup: emit only the first event per (key, day).
    * State = last-emitted date per key (the Flink ValueState,
    * DwdTrafficUniqueVisitorDetail.java:69-98, which also carried a 1-day
    * TTL; no timeout here, so one date per key ever seen). */
  def dailyDedup(ds: Dataset[KeyedEvent]): Dataset[KeyedEvent] =
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, events: Iterator[KeyedEvent], state: GroupState[String]) => {
          var lastDate = state.getOption.getOrElse("")
          val out = Vector.newBuilder[KeyedEvent]
          events.toSeq.sortBy(_.ts).foreach { e =>
            // dates are monotone in ts, so "changed" ⇔ "first of its day"
            if (e.date != lastDate) { lastDate = e.date; out += e }
          }
          state.update(lastDate)
          out.result().iterator
        })

  /** An ingested document: content fingerprint + identity. */
  case class IngestDoc(fp: String, docId: Long, ts: Long)

  private implicit val ingestDocEnc: Encoder[IngestDoc] = Encoders.product[IngestDoc]
  private implicit val boolEnc: Encoder[Boolean] = Encoders.scalaBoolean

  /** Streaming exact-dedup at INGEST — the streaming complement of the
    * batch dedup stack (TextOps.dedupKeepFirst): emit only the first
    * document per content fingerprint, drop every later arrival. This is
    * the shape a training-data pipeline runs at the Kafka/file firehose,
    * before anything lands in the lake.
    *
    * Within a micro-batch ties break on (ts, docId) — a total order, so
    * output is replay-deterministic. State = one marker per DISTINCT
    * fingerprint: bounded by unique content, not traffic; that state
    * lives in the RocksDB state store (wired session-wide in
    * [[graft.GraftSession]], proven live by RocksDbStateSpec) — hash-
    * partitioned by fingerprint across executors and bounded by executor
    * disk, not heap. No timeout is declared: the dedup horizon is
    * forever, so the store holds every fingerprint ever seen. */
  def ingestDedup(ds: Dataset[IngestDoc]): Dataset[IngestDoc] =
    ds.groupByKey(_.fp)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, docs: Iterator[IngestDoc], state: GroupState[Boolean]) => {
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(docs.minBy(d => (d.ts, d.docId)))
          }
        })

  /** A closed gap-session: [startS, endS] in event-time seconds. */
  case class SessionOut(key: String, startS: Long, endS: Long, nEvents: Long)

  private implicit val sessionOutEnc: Encoder[SessionOut] =
    Encoders.product[SessionOut]

  /** Gap sessionization on `transformWithState` with EVENT-TIME TIMERS —
    * the full new-state-API surface (named state + timers +
    * `handleExpiredTimer`), covering what the reference's CEP/timer jobs
    * do with Flink timers (W5/W6 family) in the API Spark is converging
    * on. `ts` is event-time SECONDS; the caller supplies the watermark
    * (`timestamp_seconds(ts)` + `withWatermark`, as every event-time op
    * in this module).
    *
    * Mechanics: arrivals extend the open session or close it by gap
    * (in-batch disorder handled by sorting the batch); the FINAL open
    * session per key is closed by a timer registered at `end + gap`
    * event-time — when the watermark passes it, `handleExpiredTimer`
    * emits the held session and clears state. Timers are re-armed on
    * every extension (stale ones deleted), so state per key is one
    * (start, end, n) triple + one timer — O(1), store-resident, RocksDB
    * at scale. Unlike the proc-time flush the reference uses, an
    * event-time timer is replay-deterministic: re-running the stream
    * yields byte-identical sessions.
    *
    * StreamingSpec pins: in-batch gap split, cross-batch extension, and
    * timer-driven finalization exactly when the watermark passes
    * end + gap (not before). */
  class GapSessionProcessor(gapS: Long)
      extends StatefulProcessor[String, KeyedEvent, SessionOut] {
    @transient private var sess: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.product[(Long, Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[KeyedEvent],
        tv: TimerValues): Iterator[SessionOut] = {
      val out = Vector.newBuilder[SessionOut]
      var cur = if (sess.exists()) Option(sess.get()) else None
      rows.toSeq.sortBy(_.ts).foreach { e =>
        cur match {
          case Some((s0, e0, n)) if e.ts - e0 <= gapS =>
            cur = Some((s0, math.max(e0, e.ts), n + 1))
          case Some((s0, e0, n)) =>
            out += SessionOut(key, s0, e0, n)
            cur = Some((e.ts, e.ts, 1L))
          case None =>
            cur = Some((e.ts, e.ts, 1L))
        }
      }
      cur.foreach { c =>
        sess.update(c)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer((c._2 + gapS) * 1000)
      }
      out.result().iterator
    }
    override def handleExpiredTimer(key: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      if (sess.exists()) {
        val (s0, e0, n) = sess.get()
        // guard: a timer that raced an extension in the same batch must
        // not close a session that has since grown past it
        if (info.getExpiryTimeInMs >= (e0 + gapS) * 1000) {
          sess.clear()
          Iterator.single(SessionOut(key, s0, e0, n))
        } else Iterator.empty
      } else Iterator.empty
  }

  def sessionizeTws(ds: Dataset[KeyedEvent], gapS: Long = 60)
      : Dataset[SessionOut] =
    ds.groupByKey(_.key)
      .transformWithState(new GapSessionProcessor(gapS),
        TimeMode.EventTime(), OutputMode.Append())

  /** A tagged as-of event: side 0 = reference stream (view), 1 = probe
    * stream (purchase). */
  case class TaggedEvent(userId: Long, t: Long, side: Int, eventId: Long)

  /** An as-of match: the probe plus its gap to the latest reference. */
  case class AsofMatch(eventId: Long, userId: Long, buyS: Long, gapS: Long)

  private implicit val taggedEnc: Encoder[TaggedEvent] = Encoders.product[TaggedEvent]
  private implicit val asofMatchEnc: Encoder[AsofMatch] = Encoders.product[AsofMatch]
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /** Streaming complement of the batch as-of join
    * (Relational.asofLastTouch): each purchase matches the latest view
    * at-or-before it by the same user. State = ONE long per user (latest
    * view time) — O(1), the streaming-asof minimum. Within a micro-batch
    * events process in (t, side) order (views before buys at the same
    * second — the inclusive `>=` bound); across batches the same
    * in-event-time-order assumption as [[dailyDedup]] applies (late
    * cross-batch views would need watermark-buffered reordering, the
    * documented trade for O(1) state). Emitting the gap, not the matched
    * row id, keeps same-second view ties deterministic — identical to the
    * batch operator, so AsofSpec asserts batch ≡ streaming. */
  def asofAttribution(ds: Dataset[TaggedEvent]): Dataset[AsofMatch] =
    ds.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, events: Iterator[TaggedEvent], state: GroupState[Long]) => {
          var lastView = state.getOption.getOrElse(Long.MinValue)
          val out = Vector.newBuilder[AsofMatch]
          events.toSeq.sortBy(e => (e.t, e.side)).foreach { e =>
            if (e.side == 0) lastView = math.max(lastView, e.t)
            else if (lastView != Long.MinValue)
              out += AsofMatch(e.eventId, e.userId, e.t, e.t - lastView)
          }
          if (lastView != Long.MinValue) state.update(lastView)
          out.result().iterator
        })

  /** Buffer for the out-of-order as-of variant: the latest FINALIZED view
    * time plus the not-yet-finalized events above the watermark. */
  case class AsofBuffer(lastView: Long, pending: Seq[TaggedEvent])

  private implicit val asofBufEnc: Encoder[AsofBuffer] = Encoders.product[AsofBuffer]

  /** Watermark-correct as-of attribution: unlike [[asofAttribution]] (O(1)
    * state, but requires cross-batch event-time-ordered arrival), this
    * variant accepts ARBITRARY cross-batch disorder within the watermark
    * bound — the trade every streaming join makes explicit. Events buffer
    * in state until the watermark passes their time; only then do they
    * process, in full (t, side) event order, so a view arriving two
    * batches after a later buy still wins attribution. State is bounded by
    * the watermark horizon per key (not history): finalized prefix
    * collapses to ONE long. The input must carry a watermark on
    * `timestamp_seconds(t)`; an event-time timeout drains buffers for
    * keys that stop receiving events. */
  def asofBuffered(ds: Dataset[TaggedEvent]): Dataset[AsofMatch] =
    ds.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(
        (_: Long, events: Iterator[TaggedEvent],
         state: GroupState[AsofBuffer]) => {
          val st = state.getOption.getOrElse(AsofBuffer(Long.MinValue, Nil))
          val wmSec = state.getCurrentWatermarkMs() / 1000
          val all = st.pending ++ events
          // measured boundary (WatermarkBoundarySpec): with
          // EventTimeTimeout the engine's pre-filter drops rows with
          // eventTime <= watermark INCLUSIVE, so nothing at t == wmSec can
          // still arrive — finalizing the boundary second is provably
          // safe. The partition must be inclusive to match: a strict
          // t < wmSec would hold boundary-second events for a later
          // watermark advance, and if the stream quiesces with the
          // watermark exactly at a held event's second those attributions
          // would never emit (a liveness hole the measured edge rules out)
          val (ripe, hold) = all.partition(_.t <= wmSec)
          var lastView = st.lastView
          val out = Vector.newBuilder[AsofMatch]
          ripe.sortBy(e => (e.t, e.side)).foreach { e =>
            if (e.side == 0) lastView = math.max(lastView, e.t)
            else if (lastView != Long.MinValue)
              out += AsofMatch(e.eventId, e.userId, e.t, e.t - lastView)
          }
          if (hold.isEmpty && lastView == Long.MinValue) state.remove()
          else {
            state.update(AsofBuffer(lastView, hold))
            if (hold.nonEmpty)
              // wake when the earliest held event finalizes (must arm
              // strictly above the current watermark)
              state.setTimeoutTimestamp(math.max(hold.map(_.t).min * 1000,
                state.getCurrentWatermarkMs() + 1))
          }
          out.result().iterator
        })

  /** O9 — new/old visitor repair: `is_new=1` is rewritten to `0` when the
    * mid was first seen on an earlier date (BaseLogApp.java:71-108). State =
    * first-visit date. */
  def visitorRepair(ds: Dataset[PageView]): Dataset[PageView] =
    ds.groupByKey(_.mid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, events: Iterator[PageView], state: GroupState[String]) => {
          val sorted = events.toSeq.sortBy(_.ts)
          var firstDate = state.getOption.getOrElse("")
          val out = sorted.map { e =>
            if (firstDate.isEmpty) {
              firstDate = e.date
              e // genuinely new: keep is_new as sent
            } else if (e.isNew == "1" && e.date != firstDate) {
              e.copy(isNew = "0") // repeat visitor mis-flagged as new
            } else e
          }
          state.update(firstDate)
          out.iterator
        })

  /** O18 — keep-latest dedup on a changelog: hold the max-`opTs` row per
    * key, emit it once no newer version can arrive. The reference flushes
    * on a 5 s *processing-time* timer (DwsTradeSkuOrderWindow.java:81-111);
    * here the flush is *event-time* (watermark passes `opTs + flushMs`) —
    * deterministic under replay, which the proc-time original is not. The
    * input must carry a watermark on `timestamp_millis(opTs)`. */
  def keepLatest(ds: Dataset[VersionedRow],
                 flushMs: Long = 5000): Dataset[VersionedRow] =
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(
        (_: String, events: Iterator[VersionedRow],
         state: GroupState[VersionedRow]) => {
          if (state.hasTimedOut) {
            val held = state.getOption
            state.remove()
            held.iterator
          } else {
            val candidates = state.getOption.iterator ++ events
            val latest = candidates.maxBy(_.opTs)
            state.update(latest)
            // timeout must sit above the current watermark
            state.setTimeoutTimestamp(
              math.max(latest.opTs + flushMs,
                state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
        })

  /** W6 — CEP bounce detector: an entry page (lastPageId == null) held per
    * mid; emitted as a bounce if the NEXT event is also an entry page, or
    * if no event follows within `timeoutMs` event time (both arms of the
    * Flink CEP pattern + timeout side-output collapse to this one path,
    * DwdTrafficUserJumpDetail.java:79-119). Requires a watermark on the
    * input for the event-time timeout. */
  def bounceDetector(ds: Dataset[PageView],
                     timeoutMs: Long = 10000): Dataset[PageView] =
    ds.groupByKey(_.mid)
      .flatMapGroupsWithState(OutputMode.Append,
          GroupStateTimeout.EventTimeTimeout)(
        (_: String, events: Iterator[PageView],
         state: GroupState[PageView]) => {
          val out = Vector.newBuilder[PageView]
          if (state.hasTimedOut) {
            state.getOption.foreach(out += _)
            state.remove()
          } else {
            var held = state.getOption
            events.toSeq.sortBy(_.ts).foreach { e =>
              val isEntry = e.lastPageId == null || e.lastPageId.isEmpty
              held match {
                case Some(h) if e.ts > h.ts + timeoutMs =>
                  out += h // nothing followed within the horizon: bounce
                  held = if (isEntry) Some(e) else None
                case Some(h) =>
                  if (isEntry) out += h // entry→entry inside horizon: bounce
                  held = if (isEntry) Some(e) else None
                case None =>
                  held = if (isEntry) Some(e) else None
              }
            }
            held match {
              case Some(h) =>
                state.update(h)
                state.setTimeoutTimestamp(h.ts + timeoutMs)
              case None => state.remove()
            }
          }
          out.result().iterator
        })

  /** [[bounceDetector]] on `transformWithState`, kept while the fMGWS
    * form has the late-entry defect the module doc describes (the
    * reference's CEP pattern-timeout side output,
    * DwdTrafficUserJumpDetail.java:89): BOTH arms of the Flink CEP pattern live on one code path, with the
    * timeout arm now an explicit timer callback instead of a
    * `hasTimedOut` branch inside the input handler. An entry page is
    * held in named state with ONE armed timer at `ts + timeoutMs`; a
    * following entry page bounces it in-stream, a continuation clears
    * it, and watermark passage fires the timer for the no-follow-up
    * bounce — the expiry-vs-held guard drops a timer that raced a newer
    * held entry in the same batch, and a held entry whose timer is
    * already behind the watermark bounces in that same batch instead of
    * failing the query. StreamingSpec pins the two forms bit-equal on
    * an in-order slicing. */
  class BounceProcessor(timeoutMs: Long)
      extends StatefulProcessor[String, PageView, PageView] {
    @transient private var held: ValueState[PageView] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      held = getHandle.getValueState[PageView]("held", pageViewEnc,
        TTLConfig.NONE)
    override def handleInputRows(mid: String, rows: Iterator[PageView],
        tv: TimerValues): Iterator[PageView] = {
      val out = Vector.newBuilder[PageView]
      var h = if (held.exists()) Option(held.get()) else None
      rows.toSeq.sortBy(_.ts).foreach { e =>
        val isEntry = e.lastPageId == null || e.lastPageId.isEmpty
        h match {
          case Some(p) if e.ts > p.ts + timeoutMs =>
            out += p // nothing followed within the horizon: bounce
            h = if (isEntry) Some(e) else None
          case Some(p) =>
            if (isEntry) out += p // entry→entry inside horizon: bounce
            h = if (isEntry) Some(e) else None
          case None =>
            h = if (isEntry) Some(e) else None
        }
      }
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      h match {
        case Some(p) =>
          held.update(p)
          getHandle.registerTimer(p.ts + timeoutMs)
        case None => held.clear()
      }
      out.result().iterator
    }
    override def handleExpiredTimer(mid: String, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[PageView] =
      if (held.exists()) {
        val p = held.get()
        if (info.getExpiryTimeInMs >= p.ts + timeoutMs) {
          held.clear()
          Iterator.single(p)
        } else Iterator.empty
      } else Iterator.empty
  }

  /** The `transformWithState` face of [[bounceDetector]]. */
  def bounceDetectorTws(ds: Dataset[PageView],
      timeoutMs: Long = 10000): Dataset[PageView] =
    ds.groupByKey(_.mid)
      .transformWithState(new BounceProcessor(timeoutMs),
        TimeMode.EventTime(), OutputMode.Append())

  /** A keyed token occurrence — input to the streaming sketch. */
  case class KeyedToken(key: String, token: String)

  /** Streaming heavy hitters: one Misra–Gries buffer per key held in
    * state, folded forward each micro-batch with the SAME mergeable
    * Aggregator the batch query uses (`Aggregators.misraGries`, whose
    * reduce/merge algebra HeavyHitterSpec property-tests under every
    * partitioning) and re-emitted as the sketch's update-mode changelog
    * (key, token, estimate).
    *
    * This is the streaming face of `q_heavy_hitters`: the MG guarantees —
    * ≤ k entries, no false negative above n/k, undercount ≤ n/k — are
    * ORDER-FREE properties, so they hold at every micro-batch boundary
    * regardless of how arrivals were sliced (spec-pinned over the
    * accumulated prefix after every batch). State is O(k) per key —
    * bounded forever, the whole point of sketching an unbounded stream;
    * at 100 TB/day this is the only per-key token summary whose state
    * does not grow with vocabulary. */
  def heavyHittersStream(ds: Dataset[KeyedToken], k: Int)
      : Dataset[(String, String, Long)] = {
    val mg = graft.functions.Aggregators.misraGries(k)
    implicit val ktEnc: Encoder[KeyedToken] = Encoders.product[KeyedToken]
    implicit val outEnc: Encoder[(String, String, Long)] =
      Encoders.product[(String, String, Long)]
    implicit val bufEnc: Encoder[Map[String, Long]] = mg.bufferEncoder
    ds.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[KeyedToken],
            state: GroupState[Map[String, Long]]) => {
          val buf = rows.foldLeft(state.getOption.getOrElse(mg.zero))(
            (b, r) => mg.reduce(b, r.token))
          state.update(buf)
          buf.iterator.map { case (t, c) => (key, t, c) }
        })
  }

  /** One event on the attribution stream (micros, id for the total
    * order; cents already exact). */
  case class TouchEvent(userId: Long, t: Long, eventId: Long,
      eventType: String, cents: Long)
  /** A purchase with both attribution verdicts attached. */
  case class AttributedPurchase(userId: Long, t: Long, eventId: Long,
      firstCh: String, lastCh: String, cents: Long)
  /** Per-user attribution state: first touch ever, latest touch so far
    * (null = no touch yet ⇒ 'direct'). */
  case class TouchState(first: String, last: String)

  private implicit val teEnc: Encoder[TouchEvent] = Encoders.product[TouchEvent]
  private implicit val apEnc: Encoder[AttributedPurchase] =
    Encoders.product[AttributedPurchase]
  private implicit val tsEnc: Encoder[TouchState] = Encoders.product[TouchState]

  /** STREAMING first/last-touch attribution — the stateful face of
    * [[graft.ops.Relational.attribution]]: per user, state is exactly
    * TWO strings (the first touch ever and the latest touch so far) —
    * O(1) per user forever, never the history the batch window frame
    * re-reads — and every purchase is emitted AT ARRIVAL with both
    * verdicts attached, the shape a real-time marketing dashboard needs
    * (the batch query can only answer after the fact). Within a
    * micro-batch events fold in (t, eventId) order — the batch query's
    * exact total order — so output is replay-deterministic; ACROSS
    * batches correctness needs per-user event-time order (the
    * [[dailyDedup]] monotonicity caveat: production fronts this with a
    * watermark-buffered sort). AttributionStreamSpec proves the streamed
    * emission equals an in-JVM replay of the batch semantics under
    * uneven slicing, with cross-batch state carries exercised. */
  def attributionStream(ds: Dataset[TouchEvent])
      : Dataset[AttributedPurchase] =
    ds.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, events: Iterator[TouchEvent],
            state: GroupState[TouchState]) => {
          var st = state.getOption.getOrElse(TouchState(null, null))
          val out = Vector.newBuilder[AttributedPurchase]
          events.toSeq.sortBy(e => (e.t, e.eventId)).foreach { e =>
            if (e.eventType == "purchase")
              out += AttributedPurchase(uid, e.t, e.eventId,
                Option(st.first).getOrElse("direct"),
                Option(st.last).getOrElse("direct"), e.cents)
            else
              st = TouchState(
                if (st.first == null) e.eventType else st.first,
                e.eventType)
          }
          state.update(st)
          out.result().iterator
        })
}
