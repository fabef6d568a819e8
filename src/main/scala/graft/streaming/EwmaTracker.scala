package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{DayUs, Stamped, dayOf, usOf}

/** Streaming counterpart of `ops.Sessionize.evEwma`: the per-type daily
  * volume EWMA (α = ½) maintained CONTINUOUSLY — each day ROLLOVER emits
  * the completed day's (type, day, n, ewma) row, so a monitor holds the
  * smoothed baseline without the batch recompute; the still-open day
  * flushes at the quiesce timeout. α = ½ keeps every carried value a
  * dyadic rational (the batch operator's exactness argument), so the
  * incremental multiply-add replays the batch closed form bit-for-bit:
  * StreamingSpec pins `ewmaBatch(events) == evEwma(events)` EXACTLY.
  *
  * Per-type state is (current day, its count, the running ewma) — O(1).
  * Days only advance: an in-watermark event for a day at-or-before an
  * already-completed day cannot reopen that day's count with O(1) state —
  * it is DROPPED rather than mis-averaged (the StreaksTracker
  * never-regress rule, this family's documented cross-trigger
  * approximation; an event for the OPEN day is never dropped).
  * [[ewmaStreamExact]] buffers per-day counts until quiesce and folds
  * them whole — exact for everything the watermark admitted, at O(active
  * days) state. Batch mode ([[ewmaBatch]]) sees each group whole: EXACT.
  * Days with zero events are skipped by the fold exactly as the batch
  * query's observed-days ROW_NUMBER skips them.
  */
object EwmaTracker {

  case class EEv(ts: Timestamp, event_type: String)

  /** curDay = Long.MinValue means no day carried yet; have = an ewma has
    * been seeded (distinguishes the first completed day).
    */
  case class EState(curDay: Long, n: Long, ewma: Double, have: Boolean,
                    tMax: Long) extends Stamped

  /** Buffered-exact state: parallel (day, count) seqs, merged per trigger. */
  case class EBuf(days: Seq[Long], ns: Seq[Long], tMax: Long) extends Stamped

  case class EwmaRow(event_type: String, day: Timestamp, n: Long,
                     ewma: Double)

  private val Unset: Long = Long.MinValue

  private def dayTs(day: Long): Timestamp = new Timestamp(day * DayUs / 1000)

  private def next(prev: EState, n: Long): Double =
    if (!prev.have) n.toDouble else 0.5 * n + 0.5 * prev.ewma

  /** The shared pure core: fold ascending (day, event count) pairs onto
    * the carried state, emitting one row per COMPLETED day. Events for a
    * day before the carried current are dropped (documented); events AT it
    * accumulate.
    */
  private[streaming] def fold(tpe: String, st: EState,
      days: Seq[(Long, Long)]): (EState, Seq[EwmaRow]) = {
    var s = st
    val out = Seq.newBuilder[EwmaRow]
    for ((d, n) <- days) {
      if (s.curDay == Unset) s = s.copy(curDay = d, n = n)
      else if (d == s.curDay) s = s.copy(n = s.n + n)
      else if (d > s.curDay) {
        val e = next(s, s.n)
        out += EwmaRow(tpe, dayTs(s.curDay), s.n, e)
        s = s.copy(curDay = d, n = n, ewma = e, have = true)
      }
      // else: a day before the carried current — dropped (documented)
    }
    (s, out.result())
  }

  /** Flush the open day (quiesce / end-of-batch). */
  private[streaming] def flush(tpe: String, s: EState): Seq[EwmaRow] =
    if (s.curDay == Unset) Nil
    else Seq(EwmaRow(tpe, dayTs(s.curDay), s.n, next(s, s.n)))

  private[streaming] val Empty = EState(Unset, 0L, 0.0, have = false, 0L)

  /** One trigger: fold the slice's per-day counts in day order, emitting
    * the days it completed; `tMax` is the end of the newest day.
    */
  private[streaming] def step(tpe: String)(prev: EState,
      slice: Iterator[EEv]): (EState, Seq[EwmaRow]) = {
    val days = EventClock.countByDay(slice)(_.ts)
    val (next, rows) = fold(tpe, prev, days)
    (next.copy(tMax = (prev.tMax +: days.map(_._1 * DayUs + DayUs - 1)).max),
      rows)
  }

  /** Streaming entry: one row per completed day; O(1) state; the open
    * day flushes at the quiesce timeout.
    */
  def ewmaStream(events: Dataset[EEv]): Dataset[EwmaRow] = {
    implicit val rowEnc = Encoders.product[EwmaRow]
    implicit val stEnc = Encoders.product[EState]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (tpe: String, evs: Iterator[EEv], state: GroupState[EState]) =>
          EventClock.carried(evs, state, Empty)(step(tpe), flush(tpe, _))
      }
  }

  /** EXACT streaming entry: buffers per-day counts until quiesce (state
    * O(active days), not O(events)), folds the days whole.
    */
  def ewmaStreamExact(events: Dataset[EEv]): Dataset[EwmaRow] = {
    implicit val rowEnc = Encoders.product[EwmaRow]
    implicit val stEnc = Encoders.product[EBuf]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (tpe: String, evs: Iterator[EEv], state: GroupState[EBuf]) =>
          EventClock.buffered(evs, state, EBuf(Nil, Nil, 0L)) {
            (b, es) =>
              val held =
                EventClock.countByDay(es.iterator, b.days.zip(b.ns))(_.ts)
              val dayEnds = es.map(e => dayOf(usOf(e.ts)) * DayUs + DayUs - 1)
              EBuf(held.map(_._1), held.map(_._2), (b.tMax +: dayEnds).max)
          } { b =>
            val (st, rows) = fold(tpe, Empty, b.days.zip(b.ns))
            rows ++ flush(tpe, st)
          }
      }
  }

  /** Batch entry: each group seen whole — exact; equals evEwma row-for-row
    * (StreamingSpec parity).
    */
  def ewmaBatch(events: Dataset[EEv]): Dataset[EwmaRow] = {
    implicit val rowEnc = Encoders.product[EwmaRow]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroups { (tpe, it) =>
        EventClock.whole(it, Empty)(step(tpe), flush(tpe, _))
      }
  }
}
