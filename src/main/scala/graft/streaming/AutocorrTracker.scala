package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{Stamped, usOf}

/** Streaming counterpart of `ops.Sessionize.evAutocorr`: the lag-1
  * arrival-memory statistic maintained CONTINUOUSLY in O(1) state per
  * event type — the live burst-structure monitor next to RateTracker's
  * volume alarms. The trick is that the batch op's whole Pearson reduces
  * to seven integers per type: over the closed span [lo, hi],
  * r is a pure function of (lo, hi, S=Σc, Q=Σc², c_lo, c_hi, Σxy), where
  * Σxy only ever adds c_prev·c_next for ADJACENT minutes (zero minutes
  * contribute zero products and are implicit in the span arithmetic, the
  * batch op's own identity). So the state is those seven longs plus the
  * still-open minute's accumulating count — no minute histogram, no
  * window buffer.
  *
  * Within a trigger, events fold in ts order; a minute CLOSES when a
  * later minute arrives (its count joins S/Q/Σxy), and the final open
  * minute closes at the event-time timeout. Events for an
  * already-closed minute cannot revise that minute's count with O(1)
  * state — they are DROPPED (the family's documented cross-trigger
  * never-regress rule); in-order feeds are EXACT, and the batch fold
  * ([[autocorrBatch]]) equals the evAutocorr SQL row for row
  * (StreamingSpec parity).
  */
object AutocorrTracker {

  case class AEv(ts: Timestamp, event_type: String)

  /** curMin = Long.MinValue means nothing carried yet; sums cover CLOSED
    * minutes only.
    */
  case class AState(lo: Long, hi: Long, s: Long, q: Long, clo: Long,
                    chi: Long, sxy: Long, curMin: Long, curC: Long,
                    tMax: Long) extends Stamped

  case class AcRow(event_type: String, n_pairs: Long, autocorr: Double,
                   defined: Boolean)

  private val Unset: Long = Long.MinValue

  private val emptyState =
    AState(Unset, Unset, 0L, 0L, 0L, 0L, 0L, Unset, 0L, 0L)

  private def minuteOf(us: Long): Long = Math.floorDiv(us, 60000000L)

  /** Close the open minute into the span sums. */
  private def close(st: AState): AState = {
    if (st.curMin == Unset) st
    else if (st.lo == Unset)
      st.copy(lo = st.curMin, hi = st.curMin, s = st.curC,
        q = st.curC * st.curC, clo = st.curC, chi = st.curC,
        curMin = Unset, curC = 0L)
    else {
      val adj = if (st.curMin == st.hi + 1) st.chi * st.curC else 0L
      st.copy(hi = st.curMin, s = st.s + st.curC,
        q = st.q + st.curC * st.curC, chi = st.curC,
        sxy = st.sxy + adj, curMin = Unset, curC = 0L)
    }
  }

  /** The batch formula over the closed span; None while degenerate. */
  private[streaming] def pearson(st: AState): Option[(Long, Double)] = {
    if (st.lo == Unset) None
    else { // a single-minute span falls through to the vx <= 0 NaN arm

      val n = st.hi - st.lo
      val sx = st.s - st.chi
      val sy = st.s - st.clo
      val qx = st.q - st.chi * st.chi
      val qy = st.q - st.clo * st.clo
      val vx = n.toDouble * qx - sx.toDouble * sx
      val vy = n.toDouble * qy - sy.toDouble * sy
      if (vx <= 0 || vy <= 0) Some((n, Double.NaN))
      else {
        val r = (n.toDouble * st.sxy - sx.toDouble * sy) /
          (math.sqrt(vx) * math.sqrt(vy))
        Some((n, BigDecimal(r)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }
  }

  /** The shared pure core: fold ts-SORTED event micros onto the carried
    * state. Minutes at-or-after the open minute fold exactly; minutes
    * before it are dropped (documented).
    */
  private[streaming] def fold(st: AState, sortedUs: Seq[Long]): AState = {
    var s = st
    for (us <- sortedUs) {
      val m = minuteOf(us)
      if (s.curMin == Unset) {
        if (s.hi == Unset || m > s.hi) s = s.copy(curMin = m, curC = 1L)
        // else: minute already closed — dropped
      } else if (m == s.curMin) s = s.copy(curC = s.curC + 1L)
      else if (m > s.curMin) s = close(s).copy(curMin = m, curC = 1L)
      // else m < curMin: dropped (documented)
    }
    s
  }

  private def row(tpe: String, st: AState): Option[AcRow] =
    pearson(close(st)).map { case (n, r) =>
      if (r.isNaN) AcRow(tpe, n, 0.0, defined = false)
      else AcRow(tpe, n, r, defined = true)
    }

  /** One trigger: fold the ts-sorted slice; the statistic emits once,
    * at the timeout.
    */
  private def step(prev: AState, slice: Iterator[AEv]): (AState, Seq[AcRow]) = {
    val us = slice.map(e => usOf(e.ts)).toSeq.sorted
    (fold(prev, us).copy(tMax = (prev.tMax +: us).max), Nil)
  }

  /** Streaming entry: one final row per event type at the event-time
    * quiesce timeout; O(1) state throughout.
    */
  def autocorrStream(events: Dataset[AEv]): Dataset[AcRow] = {
    implicit val rowEnc = Encoders.product[AcRow]
    implicit val stEnc = Encoders.product[AState]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (tpe: String, evs: Iterator[AEv], state: GroupState[AState]) =>
          EventClock.carried(evs, state, emptyState)(step,
            row(tpe, _).toSeq)
      }
  }

  /** Batch entry: each type seen whole — exact; equals the evAutocorr
    * SQL row (StreamingSpec parity; NULL there maps to defined=false
    * here).
    */
  def autocorrBatch(events: Dataset[AEv]): Dataset[AcRow] = {
    implicit val rowEnc = Encoders.product[AcRow]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroups { (tpe, it) =>
        EventClock.whole(it, emptyState)(step, row(tpe, _).toSeq)
      }
  }
}
