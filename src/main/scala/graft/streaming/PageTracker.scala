package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Streaming counterpart of `ops.Sessionize.evCusum` — Page's one-sided
  * upper CUSUM run the way a drift monitor actually runs it: the
  * baseline mean is FITTED per event type on a reference window (the
  * batch op's own `m` CTE values) and broadcast into the tracker; the
  * live stream folds daily counts into one Long of state per type and
  * emits the running CUSUM each time the watermark closes a day. The
  * batch operator recomputes the whole prefix-sum identity per run;
  * the tracker carries the recursion directly.
  *
  * Relation to [[CusumTracker]] (the ev_changepoint twin): that chart
  * is TWO-sided and freezes its own first-`baseDays` baseline — the
  * self-calibrating level-shift alarm. This one is ONE-sided against
  * an externally fitted reference (the PsiTracker discipline), which
  * is what makes exact batch parity with `evCusum` possible: both
  * sides read the same μ.
  *
  * Exactness contract (StreamingSpec parity): the fold is the batch
  * SQL's fixed-point BIGINT micro-unit arithmetic verbatim — dev =
  * n·10⁶ − μ − μ div 10, S ← max(0, S + dev), alarm = S > 2·μ — and
  * the recursion is EQUAL to the SQL's two-window form (S_d = ps_d −
  * min(0, min_{j≤d} ps_j): a one-sided CUSUM resets exactly at the
  * running minimum of its prefix sums), so a tracker fed the batch
  * op's per-type means reads bit-for-bit the batch rows over the same
  * events.
  *
  * A day row emits exactly once, when the watermark passes the end of
  * the day (the HoltTracker finalization rule): days fold in strict
  * order whatever the trigger-arrival order, and in-watermark late
  * events land in their own day's count before that day is folded.
  * State: ONE folded Long + the in-flight day counts inside the
  * watermark horizon.
  *
  * Scale note: keys are event types — each an independent O(1) fold;
  * a type whose raw event volume saturates one task pre-aggregates
  * (type, day, n) upstream, the HoltTracker shape.
  */
object PageTracker {

  case class PgEv(ts: Timestamp, event_type: String)
  /** In-flight (day → count) parallel arrays + the folded CUSUM in
    * micro-units; emitted = last closed day.
    */
  case class PgState(days: Seq[Long], ns: Seq[Long],
                    s: Long, emitted: Long) extends EventClock.Days
  case class PageRow(event_type: String, day: Long, n: Long,
                      dev_micro: Long, cusum_micro: Long, alarm: Boolean)

  /** Default state-GC horizon: a type idle this many days past its last
    * closed day is dropped (the SequentialTracker horizon rule) and
    * RE-BASELINES (S = 0) if it ever resumes — see the [[pageStream]]
    * parity caveat.
    */
  val IdleHorizonDays: Long = 30L
  private val M = 1000000L
  private val Empty = PgState(Nil, Nil, 0L, Long.MinValue)

  /** Fold ONE closed day's count against baseline `meanMicro` — pure,
    * shared by streaming, batch, and the spec replay.
    */
  private[streaming] def step(st: PgState, day: Long, n: Long,
      meanMicro: Long): (PgState, PageRow) = {
    val dev = n * M - meanMicro - (meanMicro / 10L)
    val sNew = math.max(0L, st.s + dev)
    (st.copy(s = sNew, emitted = day),
      PageRow("", day, n, dev, sNew, sNew > 2L * meanMicro))
  }

  private def merged(st: PgState, events: Iterator[PgEv]): PgState = {
    val held = EventClock.countByDay(events, st.days.zip(st.ns))(_.ts)
    st.copy(days = held.map(_._1), ns = held.map(_._2))
  }

  /** Fold the held days in (emitted, through]; only in-flight days stay. */
  private def advance(key: String, meanMicro: Long)(st: PgState,
      through: Long): (PgState, Seq[PageRow]) = {
    val held = st.days.zip(st.ns)
    val (cur, rows) = EventClock.foldDays(st,
      held.filter(h => h._1 > st.emitted && h._1 <= through))(
      step(_, _, _, meanMicro))
    val keep = held.filter(_._1 > cur.emitted)
    (cur.copy(days = keep.map(_._1), ns = keep.map(_._2)),
      rows.map(_.copy(event_type = key)))
  }

  private def meanFor(means: Map[String, Long], key: String): Long =
    means.getOrElse(key, throw new IllegalArgumentException(
      s"PageTracker: no baseline mean for event type '$key' — every " +
        "type on the stream needs its fitted mean_micro"))

  /** The daily shell over [[step]]; the key's idle horizon is the
    * parity caveat documented on [[pageStream]].
    */
  private[streaming] def stateFn(means: Map[String, Long],
      horizonDays: Long = IdleHorizonDays)(
      key: String, events: Iterator[PgEv],
      state: GroupState[PgState]): Iterator[PageRow] =
    EventClock.daily(events, state, Empty)(merged)(
      advance(key, meanFor(means, key)), _.emitted + horizonDays)

  /** Streaming entry: one row per observed (type, day), emitted at
    * watermark finalization, folded in strict day order against the
    * per-type fitted baseline `means` (event type → mean_micro).
    *
    * PARITY CAVEAT (the exactness contract's one bound): bit-for-bit
    * equality with `evCusum` holds only while no event type goes idle
    * longer than [[IdleHorizonDays]] past its last closed day. At that
    * horizon the tracker GCs the type's state (unbounded-idle keys must
    * not accumulate), so a type that RESUMES after a longer gap
    * re-baselines — S and the emitted watermark restart at zero — while
    * the batch op's prefix-sum identity carries the full history. A
    * deployment that must survive longer outages passes a larger
    * `horizonDays` (the state held across the gap is one folded Long
    * plus the emitted day, so a long horizon is cheap).
    */
  def pageStream(events: Dataset[PgEv],
      means: Map[String, Long],
      horizonDays: Long = IdleHorizonDays): Dataset[PageRow] = {
    implicit val rowEnc = Encoders.product[PageRow]
    implicit val stEnc = Encoders.product[PgState]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(stateFn(means, horizonDays))
  }

  /** Batch entry: every observed day final, folded in day order. Rows
    * equal `evCusum`'s over the same events when `means` carries the
    * batch op's per-type mean_micro values (StreamingSpec parity).
    */
  def pageBatch(events: Dataset[PgEv],
      means: Map[String, Long]): Dataset[PageRow] = {
    implicit val rowEnc = Encoders.product[PageRow]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroups { (key, it) =>
        val mu = meanFor(means, key)
        EventClock.foldDays(Empty, EventClock.countByDay(it)(_.ts))(
          step(_, _, _, mu))._2
          .map(_.copy(event_type = key)).iterator
      }
  }
}
