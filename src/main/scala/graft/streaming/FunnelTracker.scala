package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{Stamped, tsOf, usOf}

/** Streaming counterpart of `ops.Sessionize.evFunnel` (the strict-order
  * view→click→purchase funnel) via `mapGroupsWithState`-family state:
  * per-user state is THREE micros timestamps (earliest view, earliest
  * click strictly after it, earliest purchase strictly after that) —
  * O(1), co-partitioned by user, evicted on event-time timeout, at which
  * point the user's final funnel row is emitted. The timeout is the
  * lifetime quiesce ([[EventClock.QuiesceUs]]): a row emits once the
  * watermark passes seven days after the user's newest event, so a
  * purchase hours after the click still completes the funnel.
  *
  * Ordering: events within a trigger batch are sorted before folding (the
  * EventSessionizer discipline). The O(1) fold is order-robust for the
  * view step (an earlier view never invalidates a chosen click — the
  * eligibility window only widens) and for a late-but-in-time click that
  * slots between the view and the current click. It is APPROXIMATE under
  * any other cross-trigger disorder on the click/purchase steps — not
  * just watermark-late data: a purchase rejected against the then-current
  * click is unrecoverable even if a later trigger delivers an earlier
  * in-time click that would have admitted it (StreamingSpec documents the
  * divergence). Pipelines that need exactness under in-watermark disorder
  * use [[funnelStreamExact]], which buffers the user's events until the
  * quiesce timeout and folds them whole — O(events in the active window)
  * state instead of O(1), the classic exactness/state trade. Batch mode
  * (`funnelBatch`) sees each group whole, so it is EXACT and
  * parity-checked against the oracle-checked SQL query in StreamingSpec.
  */
object FunnelTracker {

  case class FEv(ts: Timestamp, user_id: Long, event_type: String)
  /** -1 = unset (plain longs keep the state encoder flat). `tMax` is the
    * newest event micros ever seen for the user — the quiesce deadline
    * must be computed from it, NOT from the current batch alone: a
    * late-arriving older event would otherwise SHRINK the deadline and
    * emit the funnel row prematurely (dropping later in-time events).
    */
  case class FState(tView: Long, tClick: Long, tPurchase: Long, tMax: Long)
      extends Stamped
  case class FunnelRow(user_id: Long, t_view: Timestamp, t_click: Timestamp,
                       t_purchase: Timestamp, depth: Int)

  val Unset: Long = -1L

  /** The shared pure core: fold ts-sorted events into the funnel state.
    * view keeps the global min; click the min strictly after the view;
    * purchase the min strictly after the click.
    */
  private[streaming] def fold(state: FState, sorted: Seq[(Long, String)]): FState = {
    var (v, c, p) = (state.tView, state.tClick, state.tPurchase)
    for ((us, tpe) <- sorted) tpe match {
      case "view" =>
        if (v == Unset || us < v) v = us
      case "click" =>
        if (v != Unset && us > v && (c == Unset || us < c)) c = us
      case "purchase" =>
        if (c != Unset && us > c && (p == Unset || us < p)) p = us
      case _ => ()
    }
    FState(v, c, p, state.tMax)
  }

  private def toRow(user: Long, s: FState): Option[FunnelRow] =
    if (s.tView == Unset) None
    else Some(FunnelRow(user,
      tsOf(s.tView),
      if (s.tClick == Unset) null else tsOf(s.tClick),
      if (s.tPurchase == Unset) null else tsOf(s.tPurchase),
      if (s.tPurchase != Unset) 3 else if (s.tClick != Unset) 2 else 1))

  private val emptyState = FState(Unset, Unset, Unset, 0L)

  /** One trigger: fold the ts-sorted slice; the funnel row emits once,
    * at the timeout.
    */
  private def step(prev: FState,
      slice: Iterator[FEv]): (FState, Seq[FunnelRow]) = {
    val sorted = slice.map(e => (usOf(e.ts), e.event_type)).toSeq.sortBy(_._1)
    (fold(prev, sorted).copy(tMax = (prev.tMax +: sorted.map(_._1)).max), Nil)
  }

  /** Streaming entry: rows emit when a user times out past the watermark. */
  def funnelStream(events: Dataset[FEv]): Dataset[FunnelRow] = {
    implicit val rowEnc = Encoders.product[FunnelRow]
    implicit val stEnc = Encoders.product[FState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[FEv], state: GroupState[FState]) =>
          EventClock.carried(evs, state, emptyState)(step,
            toRow(user, _).toSeq)
      }
  }

  /** Buffered per-user events awaiting the quiesce timeout (parallel
    * arrays keep the state encoder flat); `tMax` as in [[FState]].
    */
  case class FBuf(ts: Seq[Long], types: Seq[String], tMax: Long) extends Stamped

  /** EXACT streaming entry: buffers each user's events until the quiesce
    * timeout, then folds them whole — identical to [[funnelBatch]] for
    * every event the watermark admitted, whatever the trigger-arrival
    * order. State is O(events in the user's active window) — the
    * exactness price; [[funnelStream]] is the O(1) approximation.
    */
  def funnelStreamExact(events: Dataset[FEv]): Dataset[FunnelRow] = {
    implicit val rowEnc = Encoders.product[FunnelRow]
    implicit val stEnc = Encoders.product[FBuf]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[FEv], state: GroupState[FBuf]) =>
          EventClock.buffered(evs, state, FBuf(Nil, Nil, 0L)) {
            (b, es) =>
              val us = es.map(e => usOf(e.ts))
              FBuf(b.ts ++ us, b.types ++ es.map(_.event_type),
                (b.tMax +: us).max)
          } { b =>
            toRow(user, fold(emptyState, b.ts.zip(b.types).sortBy(_._1))).toSeq
          }
      }
  }

  /** Batch entry: each group is seen whole, so the same fold is exact. */
  def funnelBatch(events: Dataset[FEv]): Dataset[FunnelRow] = {
    implicit val rowEnc = Encoders.product[FunnelRow]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroups { (user, it) =>
        EventClock.whole(it, emptyState)(step, toRow(user, _).toSeq)
      }
  }
}
