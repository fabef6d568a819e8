package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{Stamped, tsOf, usOf}

/** Streaming counterpart of `ops.Sessionize.evAttribution` (last-touch
  * attribution: every purchase goes to the most recent PRECEDING click,
  * view fallback, organic else — "preceding" in strict (ts, event_id)
  * order, exactly the batch query's window frame).
  *
  * Per-user state is the last click (id, micros) and last view (id,
  * micros) — O(1); purchase rows emit AS THEY ARRIVE (each trigger folds
  * its ts-sorted slice on top of the carried lasts), and the state evicts
  * on the quiesce timeout ([[EventClock.QuiesceUs]]: seven days after
  * the user's newest event, so a purchase days after its touch still
  * attributes to it). A cross-batch touch only replaces the carried
  * one when it is LATER in (ts, event_id) order, so an out-of-order
  * in-watermark touch never regresses the state; but a purchase already
  * emitted in an earlier trigger cannot be re-attributed when a later
  * trigger delivers the touch that truly preceded it — the same
  * in-watermark cross-trigger approximation class as
  * [[FunnelTracker.funnelStream]] (StreamingSpec documents the
  * divergence). [[attributionStreamExact]] buffers the user's events
  * until quiesce and folds them whole — exact for everything the
  * watermark admitted, at O(events in the active window) state; its rows
  * therefore emit once the watermark passes that timeout. Batch
  * mode ([[attributionBatch]]) sees each group whole: EXACT, and
  * parity-checked against the oracle-checked SQL in StreamingSpec.
  */
object AttributionTracker {

  case class AEv(ts: Timestamp, user_id: Long, event_id: Long,
                 event_type: String, value: Double)

  /** -1 = unset; `tMax` = newest event micros ever seen (the monotone
    * quiesce deadline base, see [[FunnelTracker.FState]]).
    */
  case class AState(clickId: Long, clickUs: Long, viewId: Long,
                    viewUs: Long, tMax: Long) extends Stamped

  /** Buffered events awaiting quiesce (parallel seqs keep the encoder
    * flat), for the exact variant.
    */
  case class ABuf(ts: Seq[Long], ids: Seq[Long], types: Seq[String],
                  values: Seq[Double], tMax: Long) extends Stamped

  case class TouchRow(user_id: Long, purchase_id: Long,
                      t_purchase: Timestamp, value: Double,
                      touch_type: String, touch_id: Option[Long],
                      t_touch: Timestamp)

  val Unset: Long = -1L

  private val emptyState = AState(Unset, Unset, Unset, Unset, 0L)

  /** The shared pure core: fold events sorted by (micros, event_id) onto
    * the carried lasts, emitting one row per purchase from the lasts AS OF
    * strictly before it. Touch updates apply only when later in (ts, id)
    * order than the carried touch, so replaying a prefix can never
    * regress the state.
    */
  private[streaming] def fold(user: Long, st: AState,
      sorted: Seq[(Long, Long, String, Double)]): (AState, Seq[TouchRow]) = {
    var (ci, cu, vi, vu) = (st.clickId, st.clickUs, st.viewId, st.viewUs)
    val out = scala.collection.mutable.ArrayBuffer.empty[TouchRow]
    for ((us, id, tpe, v) <- sorted) tpe match {
      case "purchase" =>
        val (touchType, touchId, touchUs) =
          if (cu != Unset) ("click", ci, cu)
          else if (vu != Unset) ("view", vi, vu)
          else ("organic", Unset, Unset)
        out += TouchRow(user, id, tsOf(us), v, touchType,
          if (touchId == Unset) None else Some(touchId),
          if (touchUs == Unset) null else tsOf(touchUs))
      case "click" =>
        if (cu == Unset || us > cu || (us == cu && id > ci)) { ci = id; cu = us }
      case "view" =>
        if (vu == Unset || us > vu || (us == vu && id > vi)) { vi = id; vu = us }
      case _ => ()
    }
    (AState(ci, cu, vi, vu, st.tMax), out.toSeq)
  }

  /** One trigger (or a whole batch group): sort the slice by (ts,
    * event_id) and fold it; purchases emit at once, nothing at timeout.
    */
  private def step(user: Long)(prev: AState,
      slice: Iterator[AEv]): (AState, Seq[TouchRow]) = {
    val sorted = slice.map(e => (usOf(e.ts), e.event_id, e.event_type, e.value))
      .toSeq.sortBy(t => (t._1, t._2))
    val (next, rows) = fold(user, prev, sorted)
    (next.copy(tMax = (prev.tMax +: sorted.map(_._1)).max), rows)
  }

  /** Streaming entry: purchase rows emit on arrival; O(1) state. */
  def attributionStream(events: Dataset[AEv]): Dataset[TouchRow] = {
    implicit val rowEnc = Encoders.product[TouchRow]
    implicit val stEnc = Encoders.product[AState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[AEv], state: GroupState[AState]) =>
          EventClock.carried(evs, state, emptyState)(step(user), _ => Nil)
      }
  }

  /** EXACT streaming entry: buffers until quiesce, folds whole — rows
    * emit at timeout; the exactness/state trade of funnelStreamExact.
    */
  def attributionStreamExact(events: Dataset[AEv]): Dataset[TouchRow] = {
    implicit val rowEnc = Encoders.product[TouchRow]
    implicit val stEnc = Encoders.product[ABuf]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[AEv], state: GroupState[ABuf]) =>
          EventClock.buffered(evs, state, ABuf(Nil, Nil, Nil, Nil, 0L)) {
            (b, es) =>
              val us = es.map(e => usOf(e.ts))
              ABuf(b.ts ++ us, b.ids ++ es.map(_.event_id),
                b.types ++ es.map(_.event_type), b.values ++ es.map(_.value),
                (b.tMax +: us).max)
          } { b =>
            fold(user, emptyState, b.ts.indices
              .map(i => (b.ts(i), b.ids(i), b.types(i), b.values(i)))
              .sortBy(t => (t._1, t._2)))._2
          }
      }
  }

  /** Batch entry: each group seen whole — exact, SQL-parity-checked. */
  def attributionBatch(events: Dataset[AEv]): Dataset[TouchRow] = {
    implicit val rowEnc = Encoders.product[TouchRow]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroups { (user, it) =>
        EventClock.whole(it, emptyState)(step(user), _ => Nil)
      }
  }
}
