package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{Stamped, usOf}

/** Streaming counterpart of `ops.Sessionize.evLag`: per-user
  * first-view → first-purchase conversion lag, emitted AT THE MOMENT the
  * conversion completes — the real-time feed an attribution or
  * time-to-convert dashboard consumes, where the batch query is the
  * nightly recompute. Downstream, a combinable COUNT/SUM keyed by the
  * emitted bucket maintains exactly the batch histogram.
  *
  * Per-user state is (min view ts, min purchase ts, emitted) — O(1),
  * independent of event volume. Within a trigger, events fold in ts
  * order; the row emits ONCE, at the first moment both firsts are known
  * with view ≤ purchase (a user whose first purchase precedes every
  * view never emits — the batch query's ordering guard). Cross-trigger
  * disorder is the family's documented emit-once approximation: an
  * in-watermark view arriving in a LATER trigger than the purchase that
  * completed the conversion may lower min-view after the row is out;
  * the emitted row is never retracted or corrected (the StreaksTracker
  * never-regress rule). Batch mode ([[lagBatch]]) sees each user whole:
  * EXACT, and StreamingSpec parity-checks its histogram against the
  * oracle-checked SQL query.
  *
  * The bucket is floor(log2(lag_s + 1)) computed by integer bit length
  * (no floating log2 whose 1-ulp error could flip a boundary lag).
  */
object LagTracker {

  case class LEv(ts: Timestamp, user_id: Long, event_type: String)

  /** Unset sentinels mean the corresponding first hasn't been seen. */
  case class LState(minViewUs: Long, minPurchUs: Long, emitted: Boolean,
                    tMax: Long) extends Stamped

  case class LagRow(user_id: Long, lag_s: Long, bucket: Long)

  private val Unset: Long = Long.MinValue

  private val emptyState = LState(Unset, Unset, emitted = false, 0L)

  /** floor(log2(n + 1)) via bit length — exact for any lag ≥ 0. */
  private[graft] def bucket(lagS: Long): Long =
    63L - java.lang.Long.numberOfLeadingZeros(lagS + 1)

  /** The shared pure core: fold (us, type) pairs SORTED by ts onto the
    * carried state; the row fires at the first event completing the
    * conversion.
    */
  private[streaming] def fold(user: Long, st: LState,
      sorted: Seq[(Long, String)]): (LState, Option[LagRow]) = {
    var s = st
    var out: Option[LagRow] = None
    for ((us, tpe) <- sorted) {
      if (tpe == "view" && (s.minViewUs == Unset || us < s.minViewUs))
        s = s.copy(minViewUs = us)
      if (tpe == "purchase" && (s.minPurchUs == Unset || us < s.minPurchUs))
        s = s.copy(minPurchUs = us)
      if (!s.emitted && s.minViewUs != Unset && s.minPurchUs != Unset &&
        s.minViewUs <= s.minPurchUs) {
        val lag = (s.minPurchUs - s.minViewUs) / 1000000L
        out = Some(LagRow(user, lag, bucket(lag)))
        s = s.copy(emitted = true)
      }
    }
    (s, out)
  }

  /** One trigger (or a whole batch group): fold the ts-sorted slice; the
    * conversion row emits at once, nothing at timeout.
    */
  private def step(user: Long)(prev: LState,
      slice: Iterator[LEv]): (LState, Seq[LagRow]) = {
    val sorted = slice.map(e => (usOf(e.ts), e.event_type)).toSeq.sortBy(_._1)
    val (next, out) = fold(user, prev, sorted)
    (next.copy(tMax = (prev.tMax +: sorted.map(_._1)).max), out.toSeq)
  }

  /** Streaming entry: one row per converting user, at conversion time;
    * O(1) state.
    */
  def lagStream(events: Dataset[LEv]): Dataset[LagRow] = {
    implicit val rowEnc = Encoders.product[LagRow]
    implicit val stEnc = Encoders.product[LState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[LEv], state: GroupState[LState]) =>
          EventClock.carried(evs, state, emptyState)(step(user), _ => Nil)
      }
  }

  /** Batch entry: each user seen whole — exact; its bucket histogram
    * equals the evLag SQL query (StreamingSpec parity).
    */
  def lagBatch(events: Dataset[LEv]): Dataset[LagRow] = {
    implicit val rowEnc = Encoders.product[LagRow]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroups { (user, it) =>
        EventClock.whole(it, emptyState)(step(user), _ => Nil)
      }
  }
}
