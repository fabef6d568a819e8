package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{Stamped, usOf}

/** Streaming counterpart of `ops.Sessionize.evGaps`: the inter-arrival
  * log2 spectrum, fed CONTINUOUSLY — every consecutive same-(user, type)
  * transition emits one (event_type, bucket, gap_us) increment row, so a
  * downstream combinable COUNT keyed by (type, bucket) maintains exactly
  * the batch histogram (the increments are the histogram's preimage —
  * StreamingSpec aggregates the sink and pins it against the
  * oracle-checked SQL).
  *
  * Per-(user, type) state is the last (ts, event_id) — O(1), independent
  * of event volume. Within a trigger, events fold in (ts, event_id)
  * order (the batch LAG window's order); ACROSS triggers an in-watermark
  * event that sorts at-or-before the carried last cannot re-open already
  * emitted gaps with O(1) state — it is DROPPED rather than mis-bucketed
  * (the StreaksTracker never-regress rule, this family's documented
  * cross-trigger approximation). [[gapsStreamExact]] buffers each key's
  * (ts, event_id) pairs until the quiesce timeout and folds them whole —
  * exact for everything the watermark admitted, at O(events in window)
  * state. Batch mode ([[gapsBatch]]) sees each group whole: EXACT.
  *
  * The bucket is the batch query's pure-integer rule — bucket k holds
  * gaps in [2^k, 2^(k+1)) µs, via bit length (no floating log2 whose
  * 1-ulp error could flip a boundary gap).
  */
object GapsTracker {

  case class GEv(ts: Timestamp, event_id: Long, user_id: Long,
                 event_type: String)

  /** lastUs = Long.MinValue means no event carried yet. */
  case class GState(lastUs: Long, lastEid: Long, tMax: Long) extends Stamped

  case class GBuf(us: Seq[Long], eids: Seq[Long], tMax: Long) extends Stamped

  case class GapRow(user_id: Long, event_type: String, bucket: Long,
                    gap_us: Long)

  private val Unset: Long = Long.MinValue

  /** length(bin(gap)) − 1, branchless for gap ≥ 1; gap 0 shares bucket 0
    * (the batch query's degenerate-gap rule).
    */
  private[streaming] def bucket(gap: Long): Long =
    if (gap <= 0) 0L else 63L - java.lang.Long.numberOfLeadingZeros(gap)

  /** The shared pure core: fold (us, event_id) pairs SORTED by that order
    * onto the carried last, emitting one gap per consecutive transition.
    * Pairs at-or-before the carried last are skipped (the documented
    * drop; an exact replay of the carried event is a no-op).
    */
  private[streaming] def fold(user: Long, tpe: String, st: GState,
      sorted: Seq[(Long, Long)]): (GState, Seq[GapRow]) = {
    var s = st
    val out = Seq.newBuilder[GapRow]
    for ((us, eid) <- sorted) {
      if (s.lastUs == Unset) s = GState(us, eid, s.tMax)
      else if (us > s.lastUs || (us == s.lastUs && eid > s.lastEid)) {
        val gap = us - s.lastUs
        out += GapRow(user, tpe, bucket(gap), gap)
        s = GState(us, eid, s.tMax)
      }
      // else: sorts at-or-before the carried last — dropped (documented)
    }
    (s, out.result())
  }

  private val emptyState = GState(Unset, 0L, 0L)

  /** One trigger (or a whole batch group): fold the slice in (ts,
    * event_id) order; every gap emits at once, nothing at timeout.
    */
  private def step(key: (Long, String))(prev: GState,
      slice: Iterator[GEv]): (GState, Seq[GapRow]) = {
    val sorted = slice.map(e => (usOf(e.ts), e.event_id)).toSeq.sorted
    val (next, rows) = fold(key._1, key._2, prev, sorted)
    (next.copy(tMax = (prev.tMax +: sorted.map(_._1)).max), rows)
  }

  /** Streaming entry: one increment row per transition; O(1) state. */
  def gapsStream(events: Dataset[GEv]): Dataset[GapRow] = {
    implicit val rowEnc = Encoders.product[GapRow]
    implicit val stEnc = Encoders.product[GState]
    events.groupByKey(e => (e.user_id, e.event_type))(
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, String), evs: Iterator[GEv], state: GroupState[GState]) =>
          EventClock.carried(evs, state, emptyState)(step(key), _ => Nil)
      }
  }

  /** EXACT streaming entry: buffers (ts, event_id) until quiesce, folds
    * whole, emits every gap once.
    */
  def gapsStreamExact(events: Dataset[GEv]): Dataset[GapRow] = {
    implicit val rowEnc = Encoders.product[GapRow]
    implicit val stEnc = Encoders.product[GBuf]
    events.groupByKey(e => (e.user_id, e.event_type))(
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, String), evs: Iterator[GEv], state: GroupState[GBuf]) =>
          EventClock.buffered(evs, state, GBuf(Nil, Nil, 0L)) {
            (b, es) =>
              val us = es.map(e => usOf(e.ts))
              GBuf(b.us ++ us, b.eids ++ es.map(_.event_id), (b.tMax +: us).max)
          } { b =>
            fold(key._1, key._2, emptyState, b.us.zip(b.eids).sorted)._2
          }
      }
  }

  /** Batch entry: each group seen whole — exact; aggregating the rows by
    * (type, bucket) equals the evGaps histogram (StreamingSpec parity).
    */
  def gapsBatch(events: Dataset[GEv]): Dataset[GapRow] = {
    implicit val rowEnc = Encoders.product[GapRow]
    events.groupByKey(e => (e.user_id, e.event_type))(
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .flatMapGroups { (key, it) =>
        EventClock.whole(it, emptyState)(step(key), _ => Nil)
      }
  }
}
