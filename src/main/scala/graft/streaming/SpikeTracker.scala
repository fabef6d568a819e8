package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Streaming counterpart of `ops.Sessionize.evSpike` (the daily
  * event-rate anomaly score): per event_type, today's count against the
  * mean of the strictly preceding `windowDays` OBSERVED days,
  * `rate_ratio = n·base_days/base_n`, `spike` iff
  * n·base_days ≥ threshold·base_n (the integer-exact comparison the
  * batch query uses).
  *
  * A (type, day) row emits exactly once, when the WATERMARK passes the
  * end of the day — at that point every event the watermark admits for
  * the day has been folded, so the emitted row equals the batch query
  * over the admitted prefix, whatever the trigger-arrival order (an
  * in-watermark event for an earlier, not-yet-final day lands in its
  * day's count like any other; StreamingSpec locks this). Days the
  * stream never observed emit nothing, and a day with no observed
  * baseline day in its trailing window emits nothing — exactly the
  * batch query's absence semantics.
  *
  * State per event_type is the trailing day→count ring: observed days
  * newer than (last-finalized − windowDays) — O(windowDays + days in
  * flight), independent of event volume, co-partitioned by type. The
  * per-event work is the same single combinable count the batch plan
  * locks; state is GC'd once the watermark outruns the ring by a full
  * window.
  */
object SpikeTracker {

  case class SpEv(ts: Timestamp, event_type: String)
  /** Parallel day/count arrays keep the state encoder flat; `emitted` is
    * the newest finalized day (Long.MinValue before the first emit).
    */
  case class SpState(days: Seq[Long], ns: Seq[Long], emitted: Long)
    extends EventClock.Days
  case class SpikeRow(event_type: String, day: Long, n: Long, base_n: Long,
                      base_days: Long, rate_ratio: Double, spike: Boolean)

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The shared pure core: emit rows for every OBSERVED day in
    * (state.emitted, finalThrough], baselined on the observed days in
    * its trailing window — identical arithmetic to the batch SQL.
    */
  private[streaming] def emitRows(tpe: String, counts: Map[Long, Long],
      emitted: Long, finalThrough: Long, windowDays: Int,
      threshold: Int): Seq[SpikeRow] =
    counts.keys.filter(d => d > emitted && d <= finalThrough).toSeq.sorted
      .flatMap { d =>
        val base = counts.filter { case (bd, _) =>
          bd >= d - windowDays && bd < d }
        if (base.isEmpty) None
        else {
          val (baseN, baseDays) = (base.values.sum, base.size.toLong)
          val n = counts(d)
          Some(SpikeRow(tpe, d, n, baseN, baseDays,
            round6(n.toDouble * baseDays / baseN),
            n * baseDays >= threshold.toLong * baseN))
        }
      }

  private def merged(st: SpState, events: Iterator[SpEv]): SpState = {
    val held = EventClock.countByDay(events, st.days.zip(st.ns))(_.ts)
    st.copy(days = held.map(_._1), ns = held.map(_._2))
  }

  /** Emit the observed days in (emitted, through]; keep the baseline days
    * a FUTURE day inside the window could still cite.
    */
  private def advance(tpe: String, windowDays: Int, threshold: Int)(
      st: SpState, through: Long): (SpState, Seq[SpikeRow]) = {
    val held = st.days.zip(st.ns)
    val rows = emitRows(tpe, held.toMap, st.emitted, through, windowDays,
      threshold)
    val emitted = math.max(st.emitted, through)
    val keep = held.filter(_._1 > emitted - windowDays)
    (SpState(keep.map(_._1), keep.map(_._2), emitted), rows)
  }

  /** The daily shell over [[emitRows]]. A type is idle once the watermark
    * outruns its newest retained day by a full window (no future day can
    * cite it), and at once when it retains none.
    */
  private[streaming] def stateFn(windowDays: Int, threshold: Int)(
      tpe: String, events: Iterator[SpEv],
      state: GroupState[SpState]): Iterator[SpikeRow] =
    EventClock.daily(events, state, SpState(Nil, Nil, Long.MinValue))(
      merged)(advance(tpe, windowDays, threshold),
      s => s.days.lastOption.fold(s.emitted)(_ + windowDays + 1))

  /** Streaming entry: rows emit when the watermark finalizes their day. */
  def spikeStream(events: Dataset[SpEv], windowDays: Int = 7,
      threshold: Int = 2): Dataset[SpikeRow] = {
    implicit val rowEnc = Encoders.product[SpikeRow]
    implicit val stEnc = Encoders.product[SpState]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(stateFn(windowDays, threshold))
  }

  /** Batch entry: each type is seen whole, so every day is final. */
  def spikeBatch(events: Dataset[SpEv], windowDays: Int = 7,
      threshold: Int = 2): Dataset[SpikeRow] = {
    implicit val rowEnc = Encoders.product[SpikeRow]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroups { (tpe, it) =>
        val counts =
          EventClock.countByDay(it)(_.ts).toMap
        emitRows(tpe, counts, Long.MinValue, Long.MaxValue, windowDays,
          threshold).iterator
      }
  }
}
