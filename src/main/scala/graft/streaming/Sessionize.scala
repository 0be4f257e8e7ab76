package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming sessionization (SURVEY.md §7.5): the
  * `flatMapGroupsWithState` twin of the batch `q_sessionize` query.
  * Sessions close when a subsequent event arrives more than `gapUs` after
  * the previous one; closed sessions are emitted append-style, the open
  * session stays in group state. MemoryStream-tested (StreamingSpec) — no
  * SQL oracle can model group state, which is why the oracle-matched
  * variant is the batch lag/running-sum form in StreamOps.
  */
object Sessionize {

  val gapUs: Long = 30L * 60 * 1000 * 1000

  final case class Event(userId: Long, tsUs: Long, eventType: String)
  final case class OpenSession(start: Long, end: Long, n: Long)
  final case class Session(userId: Long, sessionStart: Long,
                           sessionEnd: Long, nEvents: Long)

  private def step(userId: Long, events: Iterator[Event],
                   state: GroupState[OpenSession]): Iterator[Session] = {
    val sorted = events.toSeq.sortBy(e => (e.tsUs))
    var open = state.getOption
    val closed = Seq.newBuilder[Session]
    sorted.foreach { e =>
      open match {
        case Some(s) if e.tsUs - s.end <= gapUs =>
          open = Some(OpenSession(s.start, e.tsUs max s.end, s.n + 1))
        case Some(s) =>
          closed += Session(userId, s.start, s.end, s.n)
          open = Some(OpenSession(e.tsUs, e.tsUs, 1))
        case None =>
          open = Some(OpenSession(e.tsUs, e.tsUs, 1))
      }
    }
    open.foreach(state.update)
    closed.result().iterator
  }

  /** Append-mode sessionization over a (possibly streaming) Dataset.
    * NoTimeout variant: an idle user's open session stays in state until
    * a later event from the same user closes it. */
  def apply(events: Dataset[Event]): Dataset[Session] = {
    implicit val se = Encoders.product[Session]
    implicit val oe = Encoders.product[OpenSession]
    implicit val le = Encoders.scalaLong
    events.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(step)
  }

  final case class TimedEvent(userId: Long, tsUs: Long, eventType: String,
                              eventTime: java.sql.Timestamp)

  private def stepTimeout(userId: Long, events: Iterator[TimedEvent],
                          state: GroupState[OpenSession])
      : Iterator[Session] = {
    if (state.hasTimedOut) {
      // Watermark passed session end + gap with no new events: the session
      // can never be extended — close and clear. This is what bounds state
      // size on an unbounded stream (the NoTimeout variant retains one
      // open session per ever-seen user forever).
      val s = state.get
      state.remove()
      Iterator.single(Session(userId, s.start, s.end, s.n))
    } else {
      val out = step(userId,
        events.map(e => Event(e.userId, e.tsUs, e.eventType)), state)
      state.getOption.foreach { open =>
        // ceil to ms: truncating µs→ms would arm the timeout up to ~1ms
        // before end+gap, letting a boundary event that `step` would
        // still merge find its session already closed.
        state.setTimeoutTimestamp((open.end + gapUs + 999) / 1000)
      }
      out
    }
  }

  /** Watermarked sessionization with event-time state timeout: sessions
    * close either when a same-user event arrives past the gap, or when the
    * event-time watermark (here: `delay` behind max event time) passes the
    * open session's end + gap — so idle users' sessions both get emitted
    * AND their state is reclaimed. This is the production shape for an
    * unbounded stream; `apply` above is the state-unbounded teaching
    * variant. */
  def withTimeout(events: Dataset[Event],
                  delay: String = "10 minutes"): Dataset[Session] = {
    implicit val se = Encoders.product[Session]
    implicit val oe = Encoders.product[OpenSession]
    implicit val te = Encoders.product[TimedEvent]
    implicit val le = Encoders.scalaLong
    events
      .withColumn("eventTime", timestamp_micros(col("tsUs")))
      .as[TimedEvent]
      .withWatermark("eventTime", delay)
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(stepTimeout)
  }

  // ---- Arbitrary per-key state machine: per-user SESSION FUNNEL ----
  // (q_stream_funnel_state, r19 — the one Structured-Streaming surface
  // still undeclared after r18: a custom per-key automaton with
  // event-time TIMEOUT emission, not just a built-in windowed agg.)
  //
  // Within each 30-min-gap session, a 4-state automaton tracks ordered
  // funnel progress view → click → purchase: an event advances the
  // stage iff it is the NEXT step (a purchase before any view advances
  // nothing). Processing order inside a batch is the total order
  // (tsUs, eventId) — the same order the batch oracle's row_number
  // takes — and the sequential automaton computes exactly the greedy
  // earliest-match subsequence the oracle's three chained mins spell
  // (standard subsequence-matching equivalence: each event advances at
  // most one stage, and greedy matching is optimal for subsequence
  // containment).
  //
  // CROSS-BATCH ORDERING ASSUMPTION (ADVICE r19): the (tsUs, eventId)
  // sort holds only WITHIN a micro-batch. A late-but-within-watermark
  // event that lands in a LATER batch than a newer same-user event is
  // folded in arrival order: the session start is never min-updated and
  // stage transitions replay as they arrive, so the automaton matches
  // the batch oracle only under per-key in-order arrival ACROSS batches.
  // The exercised fixtures satisfy it by construction: both funnel
  // queries replay with copies=1, so every real event arrives in ONE
  // data batch (StreamOps.stageFixture packs fixture parts + first
  // sentinel into a single trigger) and only the sentinel-driven flush
  // batches follow. A production deployment feeding out-of-order keys
  // would need per-key buffering to the watermark before the automaton
  // (state O(horizon·key-rate)) to keep this equivalence.
  // Sessions close EITHER in-function (a same-user event
  // arrives past the gap) OR by event-time timeout (the watermark
  // passes end + gap) — the production emission path for idle users;
  // state is removed on both paths, so live state is O(open sessions
  // inside the watermark horizon).
  final case class FunnelEvent(userId: Long, eventId: Long,
                               eventType: String, tsUs: Long,
                               eventTime: java.sql.Timestamp)
  final case class OpenFunnel(start: Long, end: Long, n: Long, stage: Int)
  final case class FunnelSession(user_id: Long, session_start: Long,
                                 session_end: Long, n_events: Long,
                                 stage: Int)

  private def advance(stage: Int, eventType: String): Int =
    if (stage == 0 && eventType == "view") 1
    else if (stage == 1 && eventType == "click") 2
    else if (stage == 2 && eventType == "purchase") 3
    else stage

  private def funnelStep(userId: Long, events: Iterator[FunnelEvent],
                         state: GroupState[OpenFunnel])
      : Iterator[FunnelSession] = {
    if (state.hasTimedOut) {
      // Watermark passed end + gap with no new events: nothing can ever
      // extend or re-rank this session — emit and reclaim the state.
      val s = state.get
      state.remove()
      Iterator.single(FunnelSession(userId, s.start, s.end, s.n, s.stage))
    } else {
      val sorted = events.toSeq.sortBy(e => (e.tsUs, e.eventId))
      var open = state.getOption
      val closed = Seq.newBuilder[FunnelSession]
      sorted.foreach { e =>
        open match {
          case Some(s) if e.tsUs - s.end <= gapUs =>
            open = Some(OpenFunnel(s.start, e.tsUs max s.end, s.n + 1,
                                   advance(s.stage, e.eventType)))
          case Some(s) =>
            closed += FunnelSession(userId, s.start, s.end, s.n, s.stage)
            open = Some(OpenFunnel(e.tsUs, e.tsUs, 1,
                                   advance(0, e.eventType)))
          case None =>
            open = Some(OpenFunnel(e.tsUs, e.tsUs, 1,
                                   advance(0, e.eventType)))
        }
      }
      open.foreach { o =>
        state.update(o)
        // ceil to ms (see stepTimeout): truncation would arm the timeout
        // up to ~1 ms early and close a session a boundary event could
        // still extend.
        state.setTimeoutTimestamp((o.end + gapUs + 999) / 1000)
      }
      closed.result().iterator
    }
  }

  /** Append-mode per-user session-funnel automaton with event-time
    * timeout emission. `delay` is the watermark lateness bound on
    * `eventTime`. */
  def funnel(events: Dataset[FunnelEvent],
             delay: String = "1 hour"): Dataset[FunnelSession] = {
    implicit val fs = Encoders.product[FunnelSession]
    implicit val of = Encoders.product[OpenFunnel]
    implicit val le = Encoders.scalaLong
    events
      .withWatermark("eventTime", delay)
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(funnelStep)
  }

  /** The SAME automaton on the transformWithState API (Spark 4's
    * arbitrary-state successor to flatMapGroupsWithState): typed
    * ValueState for the open session, an explicit event-time TIMER per
    * key for the timeout emission (re-armed on every extension, stale
    * timers deleted — and handleExpiredTimer double-checks the expiry
    * against the session it would close, so a stale timer that slipped
    * through can never emit an open session early). Requires the
    * RocksDB state-store provider (virtual column families back the
    * state + timer keyspaces). One oracle covers both APIs:
    * q_stream_funnel_tws must equal q_stream_funnel_state must equal
    * the batch greedy chained-min replay. */
  final class FunnelProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, FunnelEvent, FunnelSession] {
    @transient private var open:
        org.apache.spark.sql.streaming.ValueState[OpenFunnel] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode)
        : Unit =
      open = getHandle.getValueState[OpenFunnel]("open",
        Encoders.product[OpenFunnel],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    private def timerFor(o: OpenFunnel): Long = (o.end + gapUs + 999) / 1000

    override def handleInputRows(userId: Long,
        events: Iterator[FunnelEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[FunnelSession] = {
      val sorted = events.toSeq.sortBy(e => (e.tsUs, e.eventId))
      var cur = if (open.exists()) Some(open.get()) else None
      val closed = Seq.newBuilder[FunnelSession]
      sorted.foreach { e =>
        cur match {
          case Some(s) if e.tsUs - s.end <= gapUs =>
            cur = Some(OpenFunnel(s.start, e.tsUs max s.end, s.n + 1,
                                  advance(s.stage, e.eventType)))
          case Some(s) =>
            closed += FunnelSession(userId, s.start, s.end, s.n, s.stage)
            cur = Some(OpenFunnel(e.tsUs, e.tsUs, 1,
                                  advance(0, e.eventType)))
          case None =>
            cur = Some(OpenFunnel(e.tsUs, e.tsUs, 1,
                                  advance(0, e.eventType)))
        }
      }
      cur.foreach { o =>
        open.update(o)
        // one live timer per key: the session's end moved, so the old
        // timer is stale — delete anything not matching the new expiry
        // (timers are (key, expiry) pairs; an undeleted stale one would
        // fire at the OLD end + gap).
        val want = timerFor(o)
        getHandle.listTimers().foreach { t =>
          val ts = t.asInstanceOf[Long]
          if (ts != want) getHandle.deleteTimer(ts)
        }
        getHandle.registerTimer(want)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(userId: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[FunnelSession] = {
      if (open.exists()) {
        val s = open.get()
        // emit ONLY if this timer is the one armed for the current
        // session — a stale expiry must not close a live session early
        if (expiredTimerInfo.getExpiryTimeInMs() == timerFor(s)) {
          open.clear()
          Iterator.single(FunnelSession(userId, s.start, s.end, s.n,
                                        s.stage))
        } else Iterator.empty
      } else Iterator.empty
    }
  }

  /** [[funnel]] on transformWithState — same watermark, same automaton,
    * same output; the state lives in typed ValueState and the timeout
    * in an explicit per-key event-time timer. */
  def funnelTws(events: Dataset[FunnelEvent],
                delay: String = "1 hour"): Dataset[FunnelSession] = {
    implicit val fs = Encoders.product[FunnelSession]
    implicit val le = Encoders.scalaLong
    events
      .withWatermark("eventTime", delay)
      .groupByKey(_.userId)
      .transformWithState(new FunnelProcessor,
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append)
  }
}
