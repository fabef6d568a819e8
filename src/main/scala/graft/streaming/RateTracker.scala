package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{Stamped, usOf}

/** Streaming counterpart of `ops.Sessionize.evBots`: the per-user
  * inter-arrival gap feed, emitted CONTINUOUSLY — every consecutive
  * per-user transition (ANY event type: bot cadence is a property of the
  * whole client, unlike GapsTracker's per-(user, type) spectra) emits one
  * (user_id, gap_us) increment row. The bot verdict needs n/Σgap/Σgap² —
  * all combinable — so aggregating the sink through
  * `ops.Sessionize.botsFromGaps` yields EXACTLY the batch operator's
  * per-user cv table (the GapsTracker preimage discipline; StreamingSpec
  * pins the parity hash-exactly, decimal sums and all).
  *
  * Per-user state is the last (ts, event_id) — O(1), independent of
  * volume. Within a trigger, events fold in (ts, event_id) order (the
  * batch LAG window's order); ACROSS triggers an in-watermark event that
  * sorts at-or-before the carried last cannot re-open an already emitted
  * gap with O(1) state — it is DROPPED rather than double-counted (the
  * StreaksTracker never-regress rule, this family's documented
  * cross-trigger approximation). [[rateStreamExact]] buffers each user's
  * (ts, event_id) pairs until the quiesce timeout and folds them whole —
  * exact for everything the watermark admitted, at O(events in window)
  * state; its rows emit once the watermark passes
  * [[EventClock.QuiesceUs]] (seven days) after the user's newest event,
  * and the O(1) state is reclaimed at the same horizon. Batch mode ([[rateBatch]])
  * sees each group whole: EXACT.
  */
object RateTracker {

  case class REv(ts: Timestamp, event_id: Long, user_id: Long)

  /** lastUs = Long.MinValue means no event carried yet. */
  case class RState(lastUs: Long, lastEid: Long, tMax: Long) extends Stamped

  case class RBuf(us: Seq[Long], eids: Seq[Long], tMax: Long) extends Stamped

  case class RateRow(user_id: Long, gap: Long)

  private val Unset: Long = Long.MinValue

  /** The shared pure core: fold (us, event_id) pairs SORTED by that order
    * onto the carried last, emitting one gap per consecutive transition.
    * Pairs at-or-before the carried last are skipped (the documented
    * drop; an exact replay of the carried event is a no-op).
    */
  private[streaming] def fold(user: Long, st: RState,
      sorted: Seq[(Long, Long)]): (RState, Seq[RateRow]) = {
    var s = st
    val out = Seq.newBuilder[RateRow]
    for ((us, eid) <- sorted) {
      if (s.lastUs == Unset) s = RState(us, eid, s.tMax)
      else if (us > s.lastUs || (us == s.lastUs && eid > s.lastEid)) {
        out += RateRow(user, us - s.lastUs)
        s = RState(us, eid, s.tMax)
      }
      // else: sorts at-or-before the carried last — dropped (documented)
    }
    (s, out.result())
  }

  private val emptyState = RState(Unset, 0L, 0L)

  /** One trigger (or a whole batch group): fold the slice in (ts,
    * event_id) order; every gap emits at once, nothing at timeout.
    */
  private def step(user: Long)(prev: RState,
      slice: Iterator[REv]): (RState, Seq[RateRow]) = {
    val sorted = slice.map(e => (usOf(e.ts), e.event_id)).toSeq.sorted
    val (next, rows) = fold(user, prev, sorted)
    (next.copy(tMax = (prev.tMax +: sorted.map(_._1)).max), rows)
  }

  /** Streaming entry: one increment row per transition; O(1) state. */
  def rateStream(events: Dataset[REv]): Dataset[RateRow] = {
    implicit val rowEnc = Encoders.product[RateRow]
    implicit val stEnc = Encoders.product[RState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[REv], state: GroupState[RState]) =>
          EventClock.carried(evs, state, emptyState)(step(user), _ => Nil)
      }
  }

  /** EXACT streaming entry: buffers (ts, event_id) until quiesce, folds
    * whole, emits every gap once.
    */
  def rateStreamExact(events: Dataset[REv]): Dataset[RateRow] = {
    implicit val rowEnc = Encoders.product[RateRow]
    implicit val stEnc = Encoders.product[RBuf]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[REv], state: GroupState[RBuf]) =>
          EventClock.buffered(evs, state, RBuf(Nil, Nil, 0L)) {
            (b, es) =>
              val us = es.map(e => usOf(e.ts))
              RBuf(b.us ++ us, b.eids ++ es.map(_.event_id), (b.tMax +: us).max)
          } { b => fold(user, emptyState, b.us.zip(b.eids).sorted)._2 }
      }
  }

  /** Batch entry: each group seen whole — exact; feeding the rows to
    * `ops.Sessionize.botsFromGaps` equals the evBots table (StreamingSpec
    * parity).
    */
  def rateBatch(events: Dataset[REv]): Dataset[RateRow] = {
    implicit val rowEnc = Encoders.product[RateRow]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroups { (user, it) =>
        EventClock.whole(it, emptyState)(step(user), _ => Nil)
      }
  }
}
