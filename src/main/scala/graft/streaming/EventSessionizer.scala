package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{arm, tsOf, usOf}

/** Custom stateful sessionization via `flatMapGroupsWithState` (builder
  * brief: "KeyValueGroupedDataset.mapGroupsWithState /
  * flatMapGroupsWithState for custom state") — the hand-rolled counterpart
  * of Streams.sessionWindowAgg, for session logic the built-in window
  * can't express (e.g. value-dependent gaps, early emission rules).
  *
  * State per user = the open session; an event past the gap closes and
  * emits it. Works identically over a batch Dataset (Spark runs the state
  * function per group in one pass) and a stream; on a stream, open
  * sessions emit on event-time timeout. StreamingSpec asserts batch
  * parity with the window-based sessionizers.
  *
  * Scale: state is O(1) per active user (one open session), co-partitioned
  * by the groupBy key; the state store evicts via the configured timeout.
  */
object EventSessionizer {

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, value: Double)
  case class Sess(user_id: Long, sess_start: Timestamp, sess_end: Timestamp,
                  n_events: Long, sum_value_cents: Long)
  case class OpenSess(startUs: Long, endUs: Long, n: Long, cents: Long)

  val GapMicros: Long = 30L * 60 * 1000000

  /** Monetary sum kept in integer cents — exact and order-independent
    * (matching the decimal-exact discipline of the oracle-checked ops).
    */
  private def cents(v: Double): Long = math.round(v * 100)

  private def toSess(user: Long, s: OpenSess): Sess =
    Sess(user, tsOf(s.startUs), tsOf(s.endUs), s.n, s.cents)

  private[streaming] def stateFn(user: Long, events: Iterator[Ev],
                                 state: GroupState[OpenSess]): Iterator[Sess] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Sess]
    if (state.hasTimedOut) {
      state.getOption.foreach(s => out += toSess(user, s))
      state.remove()
    } else {
      // events within one batch arrive unordered: sort by (ts, event_id)
      val sorted = events.toArray.sortBy(e => (usOf(e.ts), e.event_id))
      var cur = state.getOption
      for (e <- sorted) {
        val us = usOf(e.ts)
        cur match {
          case Some(s) if us - s.endUs > GapMicros =>
            out += toSess(user, s)
            cur = Some(OpenSess(us, us, 1, cents(e.value)))
          case Some(s) =>
            cur = Some(OpenSess(s.startUs, math.max(s.endUs, us),
              s.n + 1, s.cents + cents(e.value)))
          case None =>
            cur = Some(OpenSess(us, us, 1, cents(e.value)))
        }
      }
      cur.foreach { s =>
        state.update(s)
        // the open tail session is not emitted in batch mode (closed
        // sessions only): there `arm` is a no-op
        arm(state, s.endUs / 1000 + GapMicros / 1000)
      }
    }
    out.iterator
  }

  /** Closed sessions; open sessions stay in state (stream) or are emitted
    * by `flushOpen` (batch final pass).
    */
  def sessionize(events: Dataset[Ev]): Dataset[Sess] = {
    implicit val sessEnc = Encoders.product[Sess]
    implicit val stateEnc = Encoders.product[OpenSess]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(stateFn)
  }
}
