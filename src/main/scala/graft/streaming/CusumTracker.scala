package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Streaming counterpart of `ops.Sessionize.evChangepoint`'s level-shift
  * question, in the sequential control-chart form a stream can actually
  * answer: a two-sided CUSUM per event type over its daily counts. The
  * batch operator localizes a shift retrospectively (argmax between-
  * segment gain over the WHOLE series); the tracker raises the alarm
  * while the shift is happening, with O(1) carried statistics — the
  * classic offline/online split for the same defect class.
  *
  * Semantics (all integer-exact): the first `baseDays` OBSERVED days
  * freeze the reference mean as the rational baseSum/baseDays; every
  * later observed day folds into
  *   sHi ← max(0, sHi + 100·den·x − (100+kPct)·num)
  *   sLo ← max(0, sLo + (100−kPct)·num − 100·den·x)
  * (the textbook CUSUM with slack k = kPct % of the reference mean,
  * scaled by 100·den so the state stays in Longs — no float drifts
  * between streaming, batch, and the spec's in-memory replay), and
  * `alarm` fires when either side reaches hTimes·100·num (h = hTimes
  * reference means of accumulated excess). Baseline days emit with
  * s = 0, alarm = false — visible but unscored.
  *
  * A (type, day) row emits exactly once, when the WATERMARK passes the
  * end of the day (the SpikeTracker finalization rule) — days therefore
  * fold into the CUSUM recursion in strict day order whatever the
  * trigger-arrival order, and an in-watermark late event lands in its
  * own day's count before that day is scored. Days with no events emit
  * nothing and advance nothing (the batch operator's observed-series
  * semantics).
  *
  * State per event_type: the in-flight day→count entries newer than the
  * watermark plus seven Longs — O(days in flight), independent of event
  * volume, co-partitioned by type. A type idle for 30 days past its last
  * scored day is garbage-collected (event-time timeout); if it later
  * resumes, it re-baselines from scratch — the one place the stream may
  * diverge from a whole-history batch replay, by declared GC policy.
  */
object CusumTracker {

  case class CuEv(ts: Timestamp, event_type: String)
  /** Parallel arrays keep the encoder flat; emitted = newest finalized
    * day (Long.MinValue before the first).
    */
  case class CuState(days: Seq[Long], ns: Seq[Long], emitted: Long,
                     baseN: Long, baseSum: Long, sHi: Long, sLo: Long)
    extends EventClock.Days
  case class CusumRow(event_type: String, day: Long, n: Long,
                      s_hi: Long, s_lo: Long, alarm: Boolean)

  /** A type idle this many days past its last scored day is GC'd. */
  private val IdleDays = 30L
  private val Empty = CuState(Nil, Nil, Long.MinValue, 0L, 0L, 0L, 0L)

  /** Fold one CLOSED day into the recursion. Pure; shared by streaming,
    * batch, and the spec replay.
    */
  private[streaming] def step(baseDays: Int, kPct: Int, hTimes: Int,
      tpe: String, st: CuState, day: Long, x: Long): (CuState, CusumRow) =
    if (st.baseN < baseDays) {
      (st.copy(emitted = day, baseN = st.baseN + 1,
        baseSum = st.baseSum + x),
        CusumRow(tpe, day, x, 0L, 0L, alarm = false))
    } else {
      val (num, den) = (st.baseSum, st.baseN)
      val sHi = math.max(0L, st.sHi + 100L * den * x - (100L + kPct) * num)
      val sLo = math.max(0L, st.sLo + (100L - kPct) * num - 100L * den * x)
      val h = hTimes * 100L * num
      (st.copy(emitted = day, sHi = sHi, sLo = sLo),
        CusumRow(tpe, day, x, sHi, sLo, alarm = sHi >= h || sLo >= h))
    }

  private def merged(st: CuState, events: Iterator[CuEv]): CuState = {
    val held = EventClock.countByDay(events, st.days.zip(st.ns))(_.ts)
    st.copy(days = held.map(_._1), ns = held.map(_._2))
  }

  /** Score the held days in (emitted, through] in day order; only the
    * in-flight days stay held. An event for a day at-or-before `emitted`
    * would re-open a scored day; the watermark drops such an event before
    * it reaches the state, so none exists.
    */
  private def advance(baseDays: Int, kPct: Int, hTimes: Int, tpe: String)(
      st: CuState, through: Long): (CuState, Seq[CusumRow]) = {
    val held = st.days.zip(st.ns)
    val (cur, rows) = EventClock.foldDays(st,
      held.filter(h => h._1 > st.emitted && h._1 <= through))(
      step(baseDays, kPct, hTimes, tpe, _, _, _))
    val keep = held.filter(_._1 > cur.emitted)
    (cur.copy(days = keep.map(_._1), ns = keep.map(_._2)), rows)
  }

  /** The daily shell over this tracker's step. A type whose state is GC'd
    * at the idle horizon re-baselines from scratch if it resumes.
    */
  private[streaming] def stateFn(baseDays: Int, kPct: Int, hTimes: Int)(
      tpe: String, events: Iterator[CuEv],
      state: GroupState[CuState]): Iterator[CusumRow] =
    EventClock.daily(events, state, Empty)(merged)(
      advance(baseDays, kPct, hTimes, tpe), _.emitted + IdleDays)

  /** Streaming entry: one row per observed day, emitted at watermark
    * finalization, folded in strict day order.
    */
  def cusumStream(events: Dataset[CuEv], baseDays: Int = 7,
      kPct: Int = 50, hTimes: Int = 4): Dataset[CusumRow] = {
    implicit val rowEnc = Encoders.product[CusumRow]
    implicit val stEnc = Encoders.product[CuState]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        stateFn(baseDays, kPct, hTimes))
  }

  /** Batch entry: each type is seen whole — every observed day final,
    * folded in day order. Equals the streaming output over the same
    * admitted events (StreamingSpec parity).
    */
  def cusumBatch(events: Dataset[CuEv], baseDays: Int = 7,
      kPct: Int = 50, hTimes: Int = 4): Dataset[CusumRow] = {
    implicit val rowEnc = Encoders.product[CusumRow]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroups { (tpe, it) =>
        EventClock.foldDays(Empty, EventClock.countByDay(it)(_.ts))(
          step(baseDays, kPct, hTimes, tpe, _, _, _))._2.iterator
      }
  }
}
