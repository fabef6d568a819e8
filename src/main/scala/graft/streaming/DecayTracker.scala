package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{DayUs, Stamped, dayOf, usOf}

/** Streaming counterpart of `ops.Sessionize.evDecay`: the recency-decayed
  * engagement score (Σ over a user's active days of 2^−(T−d), T = the
  * stream's last day, terms 63+ days old clamped to 0) maintained with
  * O(1) per-user state.
  *
  * The clamp IS the state bound: only a user's last 63 distinct active
  * days can ever contribute score mass, so the state is
  * (lastDay, a 63-bit day-offset MASK, a count of older distinct days) —
  * three longs, exact. Advancing to a newer day shifts the mask (expired
  * bits fold into the old-day count); an in-window late day just sets
  * its bit (exact dedup); a late day older than the window is DROPPED —
  * a distinct day the mask can no longer distinguish from the already
  * counted ones (this family's documented O(1) cross-trigger
  * approximation; it can only under-count n_days whose score terms were
  * 0 by the clamp anyway — [[StreamingSpec]] pins the divergence).
  *
  * Scoring needs the GLOBAL stream day T, which no per-user state holds,
  * so the tracker emits the state rows at quiesce and [[decayFinalize]]
  * — one broadcast MAX + a 63-step fold per user — produces the batch
  * table. Every term is an exact dyadic, so
  * `decayFinalize(decayBatch(events)) == evDecay(events)` bit-for-bit
  * (StreamingSpec parity), any input.
  *
  * Lifetime horizon (family-wide contract, see
  * [[EventClock.QuiesceUs]]): a user silent past the
  * quiesce timeout is FLUSHED and their state reclaimed — if they
  * re-activate later they start fresh and emit a SECOND row, so a
  * lifetime-spanning readout must merge per-user rows downstream (or
  * use the batch op, which sees each user whole). StreamingSpec pins
  * this divergence alongside the dropped-late-day one.
  */
object DecayTracker {

  case class DEv(ts: Timestamp, user_id: Long)

  /** lastDay = Long.MinValue means no day carried yet. mask bit k
    * (k ∈ 0..62) = active at day lastDay−k; nOld = distinct active days
    * older than the window.
    */
  case class DState(lastDay: Long, mask: Long, nOld: Long, tMax: Long)
      extends Stamped

  /** Quiesce output: the state facts the finalize step scores. */
  case class DecayRow(user_id: Long, last_day: Long, mask: Long, n_old: Long)

  private val Unset: Long = Long.MinValue

  private val Mask63: Long = (1L << 63) - 1

  /** Fold one observed day into the state — exact for any arrival order
    * except a day older than the carried 63-day window (dropped).
    */
  private[streaming] def foldDay(s: DState, d: Long): DState =
    if (s.lastDay == Unset) s.copy(lastDay = d, mask = 1L, nOld = 0L)
    else if (d > s.lastDay) {
      val sh = d - s.lastDay
      if (sh >= 63)
        s.copy(lastDay = d, mask = 1L,
          nOld = s.nOld + java.lang.Long.bitCount(s.mask))
      else {
        val expired = java.lang.Long.bitCount(s.mask >>> (63 - sh).toInt)
        s.copy(lastDay = d, mask = ((s.mask << sh.toInt) | 1L) & Mask63,
          nOld = s.nOld + expired)
      }
    } else if (d == s.lastDay) s // bit 0 already set
    else {
      val k = s.lastDay - d
      if (k <= 62) s.copy(mask = s.mask | (1L << k.toInt))
      else s // older than the window: dropped (documented)
    }

  private def row(user: Long, s: DState): Seq[DecayRow] =
    if (s.lastDay == Unset) Nil
    else Seq(DecayRow(user, s.lastDay, s.mask, s.nOld))

  private val emptyState = DState(Unset, 0L, 0L, 0L)

  /** One trigger: fold the slice's days in order; `tMax` is the end of
    * the newest day. The state row emits once, at the timeout.
    */
  private def step(prev: DState,
      slice: Iterator[DEv]): (DState, Seq[DecayRow]) = {
    val days = slice.map(e => dayOf(usOf(e.ts))).toSeq.sorted
    (days.foldLeft(prev)(foldDay).copy(
      tMax = (prev.tMax +: days.map(_ * DayUs + DayUs - 1)).max), Nil)
  }

  /** Streaming entry: per-user state rows at the quiesce timeout. */
  def decayStream(events: Dataset[DEv]): Dataset[DecayRow] = {
    implicit val rowEnc = Encoders.product[DecayRow]
    implicit val stEnc = Encoders.product[DState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[DEv], state: GroupState[DState]) =>
          EventClock.carried(evs, state, emptyState)(step, row(user, _))
      }
  }

  /** Batch entry: each user folded whole in day order — exact. */
  def decayBatch(events: Dataset[DEv]): Dataset[DecayRow] = {
    implicit val rowEnc = Encoders.product[DecayRow]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroups { (user, it) =>
        EventClock.whole(it, emptyState)(step, row(user, _))
      }
  }

  /** Score the emitted state rows against the stream day T = MAX(last
    * day): one broadcast 1-row max, a 63-step dyadic fold per user —
    * the exact evDecay table (same clamp, same ROUND).
    */
  def decayFinalize(rows: DataFrame): DataFrame = {
    val s = rows.sparkSession
    rows.createOrReplaceTempView("__dk_rows")
    s.sql(
      """WITH t AS (SELECT MAX(last_day) AS tday FROM __dk_rows)
        |SELECT user_id,
        |       CAST(n_old + bit_count(mask) AS BIGINT) AS n_days,
        |       ROUND(aggregate(
        |         filter(sequence(0, 62),
        |           k -> (shiftright(mask, k) & 1) = 1
        |                AND t.tday - last_day + k < 63),
        |         CAST(0 AS DOUBLE),
        |         (acc, k) -> acc + 1.0 / CAST(shiftleft(CAST(1 AS BIGINT),
        |           CAST(t.tday - last_day + k AS INT)) AS DOUBLE)), 6)
        |         AS score
        |FROM __dk_rows CROSS JOIN t ORDER BY user_id""".stripMargin)
  }
}
