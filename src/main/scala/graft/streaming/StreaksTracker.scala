package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{Stamped, dayOf, usOf}

/** Streaming counterpart of `ops.Sessionize.evStreaks`: the per-user
  * consecutive-day activity rollup (active days / number of streaks /
  * longest streak) maintained CONTINUOUSLY — each trigger in which a user
  * is active emits their updated rollup row, so a dashboard or feature
  * store always holds the current value instead of waiting for the batch
  * recompute. The last row emitted per user equals the batch result.
  *
  * Per-user state is (last active day, current run length, max run,
  * n runs, active days) — O(1), the gaps-and-islands fold carried
  * incrementally. Days only advance: an in-watermark event whose DAY
  * precedes the carried last day cannot retro-splice two islands with
  * O(1) state — it is DROPPED rather than mis-counted (the
  * MarkovTracker never-regress rule, this family's documented
  * cross-trigger approximation; a day AT the carried last is a no-op,
  * never a double count). [[streaksStreamExact]] buffers each user's
  * distinct days until the quiesce timeout and folds them whole — exact
  * for everything the watermark admitted, at O(active window) state.
  * Batch mode ([[streaksBatch]]) sees each group whole: EXACT, and
  * StreamingSpec parity-checks it against the oracle-checked SQL query.
  */
object StreaksTracker {

  case class SEv(ts: Timestamp, user_id: Long)

  /** lastDay = Long.MinValue means no day carried yet. */
  case class SState(lastDay: Long, runLen: Long, maxRun: Long, nRuns: Long,
                    activeDays: Long, tMax: Long) extends Stamped

  case class SBuf(days: Seq[Long], tMax: Long) extends Stamped

  case class StreakRow(user_id: Long, active_days: Long, n_streaks: Long,
                       max_streak: Long, as_of_day: Long)

  private val Unset: Long = Long.MinValue

  private val emptyState = SState(Unset, 0L, 0L, 0L, 0L, 0L)

  /** The shared pure core: fold SORTED ascending distinct days onto the
    * carried state. Days at-or-before the carried last are skipped (at =
    * idempotent no-op, before = the documented drop).
    */
  private[streaming] def fold(st: SState, sortedDays: Seq[Long]): SState = {
    var s = st
    for (d <- sortedDays) {
      if (s.lastDay == Unset)
        s = SState(d, 1L, 1L, 1L, 1L, s.tMax)
      else if (d == s.lastDay + 1)
        s = SState(d, s.runLen + 1, math.max(s.maxRun, s.runLen + 1),
          s.nRuns, s.activeDays + 1, s.tMax)
      else if (d > s.lastDay)
        s = SState(d, 1L, s.maxRun, s.nRuns + 1, s.activeDays + 1, s.tMax)
      // else: at-or-before the carried last day — dropped (documented)
    }
    s
  }

  private def row(user: Long, s: SState): StreakRow =
    StreakRow(user, s.activeDays, s.nRuns, s.maxRun, s.lastDay)

  /** One trigger (or a whole batch group): fold the slice's distinct
    * days in order and emit the rollup if it moved (a replayed old day is
    * silent; a batch group always moves it from the empty state). Nothing
    * emits at timeout.
    */
  private def step(user: Long)(prev: SState,
      slice: Iterator[SEv]): (SState, Seq[StreakRow]) = {
    val us = slice.map(e => usOf(e.ts)).toSeq
    val next = fold(prev, us.map(dayOf).distinct.sorted)
      .copy(tMax = (prev.tMax +: us).max)
    (next, if (next.activeDays != prev.activeDays ||
      next.maxRun != prev.maxRun) Seq(row(user, next)) else Nil)
  }

  /** Streaming entry: the updated rollup emits per active trigger;
    * O(1) state.
    */
  def streaksStream(events: Dataset[SEv]): Dataset[StreakRow] = {
    implicit val rowEnc = Encoders.product[StreakRow]
    implicit val stEnc = Encoders.product[SState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[SEv], state: GroupState[SState]) =>
          EventClock.carried(evs, state, emptyState)(step(user), _ => Nil)
      }
  }

  /** EXACT streaming entry: buffers distinct days until quiesce, folds
    * whole, emits the final rollup once.
    */
  def streaksStreamExact(events: Dataset[SEv]): Dataset[StreakRow] = {
    implicit val rowEnc = Encoders.product[StreakRow]
    implicit val stEnc = Encoders.product[SBuf]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[SEv], state: GroupState[SBuf]) =>
          EventClock.buffered(evs, state, SBuf(Nil, 0L)) { (b, es) =>
            val us = es.map(e => usOf(e.ts))
            SBuf((b.days ++ us.map(dayOf)).distinct, (b.tMax +: us).max)
          } { b => Seq(row(user, fold(emptyState, b.days.distinct.sorted))) }
      }
  }

  /** Batch entry: each group seen whole — exact; equals the evStreaks
    * SQL rollup (StreamingSpec parity).
    */
  def streaksBatch(events: Dataset[SEv]): Dataset[StreakRow] = {
    implicit val rowEnc = Encoders.product[StreakRow]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroups { (user, it) =>
        EventClock.whole(it, emptyState)(step(user), _ => Nil)
      }
  }
}
