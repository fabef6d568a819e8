package graft.streaming

import org.apache.spark.sql.streaming.GroupState

import java.sql.Timestamp

/** The event-time clock of the `flatMapGroupsWithState` twins: units,
  * the watermark read, timeout arming and the three state shapes of the
  * trackers. Every `setTimeoutTimestamp`, `getCurrentWatermarkMs`,
  * `hasTimedOut` and quiesce of the package lives here, so a timeout rule
  * is decided once (ClockLintSpec enforces it; EventSessionizer, whose
  * timeout is its session end, reads `hasTimedOut` itself).
  *
  * The three state shapes:
  *  - [[carried]]: O(1) state carried from trigger to trigger. A trigger
  *    folds its slice onto the state with the tracker's `step`; the key
  *    emits `flush` and is removed at the quiesce timeout.
  *  - [[buffered]]: the `*StreamExact` entries, a [[carried]] state whose
  *    step appends the slice to a buffer; the key folds the buffer whole
  *    at the timeout.
  *  - [[daily]]: the day-finalizing trackers. A day emits once, when the
  *    watermark passes its end.
  *
  * Batch mode: a batch `flatMapGroupsWithState` has no watermark and no
  * event-time timeout. [[arm]] is then a no-op and [[daily]] emits
  * nothing. A batch group is one trigger followed by its timeout, so a
  * carried tracker's `*Batch` entry runs [[whole]]: its `step` once on
  * the group, then its `flush`.
  */
object EventClock {

  val DayUs: Long = 86400000000L
  val DayMs: Long = 86400000L

  /** State-GC horizon of the per-key trackers: seven days of per-key
    * silence. A session-scale horizon is wrong for statistics that span
    * a key's lifetime: Spark runs a no-data micro-batch after every
    * trigger to evaluate timeouts, so on a multi-trigger feed any key
    * quiet for (watermark delay + horizon) would be flushed mid-stream
    * and its state restarted, diverging from batch (AutocorrTracker's
    * and the rate/funnel/attribution split-feed specs). Seven days bounds
    * state for keys that really left while keeping every statistic exact
    * across ordinary quiet spells.
    */
  val QuiesceUs: Long = 7L * DayUs

  /** Timestamp to epoch micros without losing sub-millisecond precision
    * (`getTime` alone is millis).
    */
  def usOf(t: Timestamp): Long = t.getTime / 1000 * 1000000 + t.getNanos / 1000

  def tsOf(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000) * 1000)
    t.setNanos((Math.floorMod(us, 1000000) * 1000).toInt)
    t
  }

  /** UTC day number of an epoch-micros stamp (floor, so pre-1970 stamps
    * land in their own day too).
    */
  def dayOf(us: Long): Long = Math.floorDiv(us, DayUs)

  /** The current watermark; None in batch mode. */
  private def watermarkMs(state: GroupState[_]): Option[Long] =
    try Some(state.getCurrentWatermarkMs())
    catch { case _: UnsupportedOperationException => None }

  /** Time the key out at `deadlineMs`. Spark rejects a timeout at or
    * behind the watermark, so a deadline the watermark has already passed
    * is clamped to watermark + 1 ms and the key still times out on the
    * next batch (dropping the rejection instead would park the key in
    * state forever). A no-op in batch mode.
    */
  def arm(state: GroupState[_], deadlineMs: Long): Unit =
    try state.setTimeoutTimestamp(
      watermarkMs(state).fold(deadlineMs)(wm => math.max(deadlineMs, wm + 1)))
    catch { case _: UnsupportedOperationException => () }

  /** Time the key out [[QuiesceUs]] after its newest event `tMaxUs`.
    * `tMaxUs` must be the newest event EVER seen for the key, not the
    * current trigger's: a late older event would otherwise pull the
    * deadline in and flush the key early.
    */
  def quiesce(state: GroupState[_], tMaxUs: Long): Unit =
    arm(state, tMaxUs / 1000 + QuiesceUs / 1000)

  /** A carried or buffered state: it holds `tMax`, the newest event
    * micros its key has ever seen, which the quiesce timeout runs from.
    */
  trait Stamped {
    def tMax: Long
  }

  /** The carried-state kernel of the O(1) trackers. `step(prev, slice)`
    * folds one trigger's slice onto the key's state (`empty` at first)
    * and returns the next state with the rows the slice completed. A
    * timed-out key emits `flush` of its state and is removed; a trigger
    * steps, stores the next state and re-arms the quiesce timeout from
    * its `tMax`. Spark only calls a key that has not timed out with
    * data, so an empty slice leaves the state as it is.
    */
  def carried[E, S <: Stamped, R](events: Iterator[E], state: GroupState[S],
      empty: S)(step: (S, Iterator[E]) => (S, Seq[R]),
      flush: S => Seq[R]): Iterator[R] =
    if (state.hasTimedOut) {
      val out = state.getOption.toSeq.flatMap(flush)
      state.remove()
      out.iterator
    } else if (!events.hasNext) Iterator.empty
    else {
      val (next, rows) = step(state.getOption.getOrElse(empty), events)
      state.update(next)
      quiesce(state, next.tMax)
      rows.iterator
    }

  /** [[carried]] on a batch group: the group is one trigger followed by
    * its timeout, so it emits the step's rows, then the flush.
    */
  def whole[E, S, R](events: Iterator[E], empty: S)(
      step: (S, Iterator[E]) => (S, Seq[R]),
      flush: S => Seq[R]): Iterator[R] = {
    val (next, rows) = step(empty, events)
    (rows ++ flush(next)).iterator
  }

  /** The buffered-exact kernel of the `*StreamExact` entries: [[carried]]
    * with a step that `append`s the trigger's slice to the key's buffer
    * and emits nothing; at the timeout `flush` folds the whole buffer
    * with the tracker's pure fold (the one its batch entry uses). Exact
    * for every event the watermark admitted, whatever the trigger
    * decomposition, at O(events in the key's active window) state.
    */
  def buffered[E, B <: Stamped, R](events: Iterator[E], state: GroupState[B],
      empty: B)(append: (B, Seq[E]) => B)(flush: B => Seq[R]): Iterator[R] =
    carried(events, state, empty)((b, es) => (append(b, es.toVector), Nil),
      flush)

  /** A day-finalizing tracker's state: the days it holds (ascending) and
    * the newest finalized day (Long.MinValue before the first). Held days
    * above `emitted` are in flight.
    */
  trait Days {
    def days: Seq[Long]
    def emitted: Long
  }

  /** The shell of the day-finalizing trackers (Cusum, Holt, Mad, Page,
    * Psi, Sequential, Spike). A day emits exactly once, when the
    * watermark passes its end, so days fold in strict order whatever the
    * trigger-arrival order, and an in-watermark late event lands in its
    * own day before that day is folded.
    *
    * A timed-out key advances from its stored state; otherwise `merge`
    * adds the trigger's per-day accumulators to the stored state (`empty`
    * at first) and the key advances. `advance(st, through)` folds the
    * held days in (st.emitted, through] with the tracker's step and
    * applies its retention. The key is then removed once nothing is in
    * flight and the watermark has passed its `idleDay` (or nothing was
    * ever finalized); else it wakes at the end of its first in-flight
    * day, or at `idleDay`.
    */
  def daily[E, S <: Days, R](events: Iterator[E], state: GroupState[S],
      empty: S)(merge: (S, Iterator[E]) => S)(
      advance: (S, Long) => (S, Seq[R]), idleDay: S => Long): Iterator[R] =
    watermarkMs(state).fold(Iterator.empty[R]) { wmMs =>
      val st =
        if (state.hasTimedOut) state.get
        else merge(state.getOption.getOrElse(empty), events)
      val (next, rows) = advance(st, Math.floorDiv(wmMs, DayMs) - 1)
      val inFlight = next.days.filter(_ > next.emitted)
      if (inFlight.isEmpty && (next.emitted == Long.MinValue ||
          wmMs >= idleDay(next) * DayMs)) state.remove()
      else {
        state.update(next)
        arm(state, inFlight.headOption.fold(idleDay(next))(_ + 1) * DayMs)
      }
      rows.iterator
    }

  /** Fold `step` over (day, acc) pairs in their order, collecting its
    * rows: the daily trackers' pass over the days they finalize, and
    * their batch entries' pass over every observed day.
    */
  def foldDays[S, A, R](st: S, days: Seq[(Long, A)])(
      step: (S, Long, A) => (S, R)): (S, Seq[R]) = {
    var cur = st
    val rows = days.map { case (d, a) =>
      val (next, row) = step(cur, d, a)
      cur = next
      row
    }
    (cur, rows)
  }

  /** Add per-day accumulators of `events` onto `held` (day, acc) pairs:
    * each event folds into its day's accumulator via `add`, starting from
    * `zero`. Returns every day ascending. Shared by the daily trackers'
    * stream merge and their batch entries.
    */
  def byDay[E, A](events: Iterator[E], held: Seq[(Long, A)], zero: => A)(
      ts: E => Timestamp, add: (A, E) => A): Seq[(Long, A)] = {
    val m = scala.collection.mutable.TreeMap.from(held)
    events.foreach { e =>
      val d = dayOf(usOf(ts(e)))
      m(d) = add(m.getOrElse(d, zero), e)
    }
    m.toSeq
  }

  /** [[byDay]] with one event count per day. */
  def countByDay[E](events: Iterator[E], held: Seq[(Long, Long)] = Nil)(
      ts: E => Timestamp): Seq[(Long, Long)] =
    byDay(events, held, 0L)(ts, (n, _) => n + 1)
}
