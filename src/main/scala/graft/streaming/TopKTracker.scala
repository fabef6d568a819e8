package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{Stamped, usOf}

/** Streaming heavy hitters: a Space-Saving summary (Metwally, Agrawal,
  * El Abbadi 2005 — the `k`-counter top-k sketch every stream processor
  * ships) of user activity PER EVENT TYPE, emitted when the key quiesces
  * under the event-time watermark. Per-key state is exactly `k` counters
  * regardless of stream volume — the O(k) alternative to the unbounded
  * exact per-(type, user) count a batch GROUP BY pays.
  *
  * Guarantees carried by the algorithm (and pinned by StreamingSpec):
  *  - every id with true count > n/k is IN the summary (no false
  *    dismissal of true heavy hitters);
  *  - for every summary row, est − err ≤ true count ≤ est (counts only
  *    ever over-estimate, by at most the evicted floor `err`).
  *
  * Determinism: within a trigger events fold in (ts, event_id) order (the
  * batch LAG window's order); eviction picks the (count, id)-minimal
  * counter — a total order, so the summary is byte-stable for a fixed
  * trigger decomposition. [[topkBatch]] folds the whole input in that
  * same order, so ordered streaming == batch exactly (not just within
  * the error bars).
  */
object TopKTracker {

  case class KEv(ts: Timestamp, event_id: Long, user_id: Long,
                 event_type: String)

  /** Parallel-array Space-Saving summary (flat state encoder), plus the
    * stream length n and the max event time seen (timeout arming).
    */
  case class KState(ids: Seq[Long], counts: Seq[Long], errs: Seq[Long],
                    n: Long, tMax: Long) extends Stamped

  case class TopKRow(event_type: String, user_id: Long, est: Long,
                     err: Long, n: Long)

  val DefaultK: Int = 8

  /** The pure Space-Saving fold: ids arrive in stream order; an unseen id
    * with a full summary takes over the (count, id)-minimal counter at
    * (minCount + 1) carrying err = minCount. Returns the summary sorted
    * by (−count, id) — a canonical, deterministic layout.
    */
  private[streaming] def foldSS(st: KState, ids: Seq[Long], k: Int): KState = {
    val m = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    st.ids.indices.foreach(i => m(st.ids(i)) = (st.counts(i), st.errs(i)))
    var n = st.n
    for (id <- ids) {
      n += 1
      m.get(id) match {
        case Some((c, e)) => m(id) = (c + 1, e)
        case None if m.size < k => m(id) = (1L, 0L)
        case None =>
          val (vid, (vc, _)) = m.minBy { case (i, (c, _)) => (c, i) }
          m.remove(vid)
          m(id) = (vc + 1, vc)
      }
    }
    val sorted = m.toSeq.sortBy { case (i, (c, _)) => (-c, i) }
    KState(sorted.map(_._1), sorted.map(_._2._1), sorted.map(_._2._2),
      n, st.tMax)
  }

  private val emptyState = KState(Nil, Nil, Nil, 0L, 0L)

  /** One trigger: fold the slice's ids in (ts, event_id) order; the
    * summary emits once, at the timeout.
    */
  private def step(k: Int)(prev: KState,
      slice: Iterator[KEv]): (KState, Seq[TopKRow]) = {
    val sorted = slice.map(e => (usOf(e.ts), e.event_id, e.user_id))
      .toSeq.sortBy(t => (t._1, t._2))
    (foldSS(prev, sorted.map(_._3), k)
      .copy(tMax = (prev.tMax +: sorted.map(_._1)).max), Nil)
  }

  private def rows(eventType: String)(st: KState): Seq[TopKRow] =
    st.ids.indices.map(i =>
      TopKRow(eventType, st.ids(i), st.counts(i), st.errs(i), st.n))

  /** Streaming entry: one summary (≤ k rows per event type) emitted at
    * quiesce; O(k) state per key.
    */
  def topkStream(events: Dataset[KEv], k: Int = DefaultK): Dataset[TopKRow] = {
    implicit val rowEnc = Encoders.product[TopKRow]
    implicit val stEnc = Encoders.product[KState]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (tpe: String, evs: Iterator[KEv], state: GroupState[KState]) =>
          EventClock.carried(evs, state, emptyState)(step(k), rows(tpe))
      }
  }

  /** Batch twin: the same fold over each type's whole (ts, event_id)-
    * ordered history — what the stream converges to when triggers deliver
    * in order.
    */
  def topkBatch(events: Dataset[KEv], k: Int = DefaultK): Dataset[TopKRow] = {
    implicit val rowEnc = Encoders.product[TopKRow]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroups { (tpe, it) =>
        EventClock.whole(it, emptyState)(step(k), rows(tpe))
      }
  }
}
