package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Streaming counterpart of `ops.Sessionize.evHolt` — Holt's
  * linear-trend smoothing run the way a capacity panel actually
  * consumes it: one row per CLOSED day per event type with the level /
  * trend / one-step forecast / in-sample MAE as of that day, updating
  * live as the watermark closes days. The batch operator re-folds each
  * type's whole day sequence per run; the tracker carries four Longs.
  *
  * Exactness contract (StreamingSpec parity): the fold is
  * `evHolt`'s BIGINT micro-unit recursion verbatim — init l₁ = y₁·10⁶,
  * b₂ = y₂·10⁶ − l₁, then l ← ⌊(y·10⁶ + l + b)/2⌋ and
  * b ← ⌊((l' − l) + b)/2⌋ via `Math.floorDiv` (≡ the SQL's offset
  * identity H(x) = (x + 2⁵⁰) div 2 − 2⁴⁹), `sae` the exact micro SAE.
  * The terminal doubles replay the SQL's ROUND(…, 6) through the
  * engine round6 (HALF_UP over `BigDecimal.valueOf`), so the LAST row
  * per type is bit-for-bit the batch `evHolt` row over the same
  * events. Days 1 and 2 are the tracker's own live surface (batch
  * excludes single-day types and folds day 2 into init): day 1 reads
  * (level = y₁, trend = 0), day 2 the init state.
  *
  * A day row emits exactly once, when the watermark passes the end of
  * the day (the CusumTracker finalization rule): days fold in strict
  * order whatever the trigger-arrival order, and in-watermark late
  * events land in their own day's count before that day is folded.
  * State: O(1) folded scalars + the in-flight day counts inside the
  * watermark horizon.
  *
  * Scale note: keys are event types — each an independent O(1) fold,
  * the same shape as EwmaTracker; a single type whose raw event volume
  * saturates one task pre-aggregates (type, day, n) upstream.
  */
object HoltTracker {

  case class HEv(ts: Timestamp, event_type: String)
  /** In-flight (day → count) parallel arrays + the folded recursion:
    * k = days folded, l/b/sae in micro-units, emitted = last closed day.
    */
  case class HState(days: Seq[Long], ns: Seq[Long],
                    k: Long, l: Long, b: Long, sae: Long, emitted: Long)
    extends EventClock.Days
  case class HoltRow(event_type: String, day: Long, n: Long, n_days: Long,
                     level: Double, trend: Double, forecast: Double,
                     mae: Double)

  private val M = 1000000L
  private val Empty =
    HState(Nil, Nil, 0L, 0L, 0L, 0L, Long.MinValue)

  private def r6d(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Fold ONE closed day's count into the recursion — pure, shared by
    * streaming, batch, and the spec replay.
    */
  private[streaming] def step(st: HState, day: Long, n: Long)
      : (HState, HoltRow) = {
    val yM = n * M
    val (k, l, b, sae) = st.k match {
      case 0 => (1L, yM, 0L, 0L)
      case 1 => (2L, st.l, yM - st.l, 0L)
      case k0 =>
        val pred = st.l + st.b
        val lNew = Math.floorDiv(yM + st.l + st.b, 2L)
        val bNew = Math.floorDiv((lNew - st.l) + st.b, 2L)
        (k0 + 1, lNew, bNew, st.sae + math.abs(yM - pred))
    }
    val mae =
      if (k <= 2) 0.0 else r6d(sae.toDouble / (1000000.0 * (k - 2)))
    (st.copy(k = k, l = l, b = b, sae = sae, emitted = day),
      HoltRow("", day, n, k, r6d(l.toDouble / 1e6), r6d(b.toDouble / 1e6),
        r6d((l + b).toDouble / 1e6), mae))
  }

  private def merged(st: HState, events: Iterator[HEv]): HState = {
    val held = EventClock.countByDay(events, st.days.zip(st.ns))(_.ts)
    st.copy(days = held.map(_._1), ns = held.map(_._2))
  }

  /** Fold the held days in (emitted, through]; only in-flight days stay. */
  private def advance(key: String)(st: HState,
      through: Long): (HState, Seq[HoltRow]) = {
    val held = st.days.zip(st.ns)
    val (cur, rows) = EventClock.foldDays(st,
      held.filter(h => h._1 > st.emitted && h._1 <= through))(step)
    val keep = held.filter(_._1 > cur.emitted)
    (cur.copy(days = keep.map(_._1), ns = keep.map(_._2)),
      rows.map(_.copy(event_type = key)))
  }

  /** The daily shell over [[step]]. A type idle 30 days past its last
    * closed day is GC'd and re-baselines if it ever resumes (the
    * SequentialTracker horizon rule).
    */
  private[streaming] def stateFn(key: String, events: Iterator[HEv],
      state: GroupState[HState]): Iterator[HoltRow] =
    EventClock.daily(events, state, Empty)(merged)(advance(key),
      _.emitted + 30)

  /** Streaming entry: one row per observed (type, day), emitted at
    * watermark finalization, folded in strict day order.
    */
  def holtStream(events: Dataset[HEv]): Dataset[HoltRow] = {
    implicit val rowEnc = Encoders.product[HoltRow]
    implicit val stEnc = Encoders.product[HState]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(stateFn)
  }

  /** Batch entry: every observed day final, folded in day order. The
    * last row per type equals `evHolt`'s row over the same events
    * (StreamingSpec parity).
    */
  def holtBatch(events: Dataset[HEv]): Dataset[HoltRow] = {
    implicit val rowEnc = Encoders.product[HoltRow]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroups { (key, it) =>
        EventClock.foldDays(Empty, EventClock.countByDay(it)(_.ts))(step)._2
          .map(_.copy(event_type = key)).iterator
      }
  }
}
