package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.math.RoundingMode
import java.sql.Timestamp

/** Streaming counterpart of `ops.Sessionize.evSequential` — the
  * always-valid mixture-SPRT monitor run the way experimenters actually
  * use it: the p-value updates LIVE as days close, and the monotone
  * running minimum means the dashboard can be peeked at (and acted on)
  * any day without inflating false positives. The batch operator
  * recomputes the whole day grid per run; the tracker carries O(1)
  * cumulative moments per arm plus the running minimum.
  *
  * Exactness contract (bit-for-bit with the batch SQL over the same
  * admitted events, StreamingSpec parity): per-arm day moments
  * accumulate as 6-dp MICRO-SCALED Longs — `round6(v)·10⁶` and
  * `round6(v²)·10⁶`, round6 = the engine's ROUND(x, 6) (HALF_UP over
  * `BigDecimal.valueOf`) — so cumulative sums are exactly the batch
  * DECIMAL(·,6) sums, and every double in the λ chain derives from them
  * by IEEE-exact long→double conversion and division (correct up to
  * Σ|v|·10⁶ < 2⁵³, ~9·10⁹ total metric mass — declare bigger
  * experiments in units that fit). The λ arithmetic replays the batch
  * SQL's exact parenthesization, exp argument 6-dp-rounded first.
  *
  * A day row emits exactly once, when the WATERMARK passes the end of
  * the day (the CusumTracker finalization rule): days fold in strict
  * order whatever the trigger-arrival order, and an in-watermark late
  * event lands in its own day's moments before that day is scored.
  * State: in-flight day moment entries + 7 carried Longs.
  *
  * Scale note: the tracker keys by a single experiment — the per-event
  * fold for ONE experiment is a single state partition, the same shape
  * as CusumTracker's per-type fold. Multiplexed experimentation keys by
  * experiment id (each an independent O(1) fold); a single experiment
  * whose raw event volume saturates one task should pre-aggregate
  * day-level moments upstream and feed the daily rows in.
  */
object SequentialTracker {

  case class SqEv(ts: Timestamp, user_id: Long, value: Double)
  /** Parallel arrays keep the encoder flat: per in-flight day, the six
    * micro-scaled moments; then cumulative counts/moments and the
    * 6-dp-scaled running-min p (1000000 = 1.0 before any scored day).
    */
  case class SqState(days: Seq[Long],
                     na: Seq[Long], sa: Seq[Long], qa: Seq[Long],
                     nb: Seq[Long], sb: Seq[Long], qb: Seq[Long],
                     emitted: Long,
                     cna: Long, csa: Long, cqa: Long,
                     cnb: Long, csb: Long, cqb: Long,
                     pmin: Long) extends EventClock.Days
  case class SequentialRow(day: Long, na: Long, nb: Long,
                           mean_a: Option[Double], mean_b: Option[Double],
                           diff: Option[Double], lambda: Double,
                           p_now: Double, p_always_valid: Double)

  private val Empty = SqState(Nil, Nil, Nil, Nil, Nil, Nil, Nil,
    Long.MinValue, 0L, 0L, 0L, 0L, 0L, 0L, 1000000L)

  /** The evAbTest md5 arm rule, computed stream-side. */
  private[streaming] def isArmA(userId: Long, salt: String): Boolean = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$salt:$userId".getBytes("UTF-8"))
    ((h(0) >> 4) & 0xf) < 8
  }

  /** ROUND(x, 6) exactly as the engine's SQL round: HALF_UP over the
    * shortest decimal representation (`BigDecimal.valueOf`).
    */
  private[streaming] def round6(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP)

  private def micro(x: Double): Long =
    round6(x).movePointRight(6).longValueExact()

  private def r6d(x: Double): Double = round6(x).doubleValue()

  /** Score one CLOSED day from the POST-fold cumulative moments —
    * replays the batch SQL's double arithmetic verbatim. Pure; shared
    * by streaming, batch, and the spec replay.
    */
  private[streaming] def step(tauSq: Double, st: SqState, day: Long,
      dna: Long, dsa: Long, dqa: Long, dnb: Long, dsb: Long,
      dqb: Long): (SqState, SequentialRow) = {
    val cna = st.cna + dna; val csa = st.csa + dsa; val cqa = st.cqa + dqa
    val cnb = st.cnb + dnb; val csb = st.csb + dsb; val cqb = st.cqb + dqb
    val sa = csa.toDouble / 1e6; val qa = cqa.toDouble / 1e6
    val sb = csb.toDouble / 1e6; val qb = cqb.toDouble / 1e6
    val meanA = if (cna > 0) Some(r6d(sa / cna)) else None
    val meanB = if (cnb > 0) Some(r6d(sb / cnb)) else None
    val (lambda, diffOut) =
      if (cna > 0 && cnb > 0) {
        val n = (cna + cnb).toDouble
        val ssq = (qa + qb) / n - ((sa + sb) / n) * ((sa + sb) / n)
        val diff = sa / cna - sb / cnb
        val lam =
          if (ssq <= 0) 1.0
          else {
            val inv = 1.0 / cna + 1.0 / cnb
            math.sqrt((ssq * inv) / (ssq * inv + tauSq)) *
              math.exp(r6d(diff * diff * tauSq /
                (2 * ssq * inv * (ssq * inv + tauSq))))
          }
        (lam, Some(r6d(diff)))
      } else (1.0, None)
    val pNow = r6d(math.min(1.0, 1 / lambda))
    val pNowScaled = round6(pNow).movePointRight(6).longValueExact()
    val pmin = math.min(st.pmin, pNowScaled)
    (st.copy(emitted = day, cna = cna, csa = csa, cqa = cqa,
      cnb = cnb, csb = csb, cqb = cqb, pmin = pmin),
      SequentialRow(day, cna, cnb, meanA, meanB, diffOut,
        r6d(lambda), pNow, pmin.toDouble / 1e6))
  }

  /** [[step]] over one day's six moments, (na, sa, qa, nb, sb, qb). */
  private def stepDay(tauSq: Double)(st: SqState, day: Long,
      m: Array[Long]): (SqState, SequentialRow) =
    step(tauSq, st, day, m(0), m(1), m(2), m(3), m(4), m(5))

  /** The state's in-flight (day, six moments) pairs. */
  private def pending(st: SqState): Seq[(Long, Array[Long])] =
    st.days.indices.map(i => st.days(i) ->
      Array(st.na(i), st.sa(i), st.qa(i), st.nb(i), st.sb(i), st.qb(i)))

  private def withPending(st: SqState,
      held: Seq[(Long, Array[Long])]): SqState =
    st.copy(days = held.map(_._1),
      na = held.map(_._2(0)), sa = held.map(_._2(1)), qa = held.map(_._2(2)),
      nb = held.map(_._2(3)), sb = held.map(_._2(4)), qb = held.map(_._2(5)))

  /** Per-day arm moments of `events` added onto `held`. */
  private def moments(events: Iterator[SqEv],
      held: Seq[(Long, Array[Long])],
      salt: String): Seq[(Long, Array[Long])] =
    EventClock.byDay(events, held, Array.fill(6)(0L))(_.ts, { (m, e) =>
      val arm = if (isArmA(e.user_id, salt)) 0 else 3
      m(arm) += 1
      m(arm + 1) += micro(e.value)
      m(arm + 2) += micro(e.value * e.value)
      m
    })

  /** Score the held days in (emitted, through]; only in-flight days stay. */
  private def advance(tauSq: Double)(st: SqState,
      through: Long): (SqState, Seq[SequentialRow]) = {
    val held = pending(st)
    val (cur, rows) = EventClock.foldDays(st,
      held.filter(h => h._1 > st.emitted && h._1 <= through))(stepDay(tauSq))
    (withPending(cur, held.filter(_._1 > cur.emitted)), rows)
  }

  /** The daily shell over [[step]]. An experiment idle 30 days past its
    * last scored day is done and dropped whole (it would re-baseline if
    * it ever resumed; a monitor that outlives 30 silent days should widen
    * the horizon).
    */
  private[streaming] def stateFn(tauSq: Double, salt: String)(
      key: Int, events: Iterator[SqEv],
      state: GroupState[SqState]): Iterator[SequentialRow] =
    EventClock.daily(events, state, Empty) { (st, evs) =>
      withPending(st, moments(evs, pending(st), salt))
    }(advance(tauSq), _.emitted + 30)

  /** Streaming entry: one row per observed day, emitted at watermark
    * finalization, folded in strict day order.
    */
  def sequentialStream(events: Dataset[SqEv], tauSq: Double = 0.01,
      salt: String = "ab"): Dataset[SequentialRow] = {
    implicit val rowEnc = Encoders.product[SequentialRow]
    implicit val stEnc = Encoders.product[SqState]
    events.groupByKey(_ => 0)(Encoders.scalaInt)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(stateFn(tauSq, salt))
  }

  /** Batch entry: the experiment is seen whole — every observed day
    * final, folded in day order. Equals the streaming output over the
    * same admitted events AND `evSequential`'s SQL rows over the same
    * frame (both parities in StreamingSpec).
    */
  def sequentialBatch(events: Dataset[SqEv], tauSq: Double = 0.01,
      salt: String = "ab"): Dataset[SequentialRow] = {
    implicit val rowEnc = Encoders.product[SequentialRow]
    events.groupByKey(_ => 0)(Encoders.scalaInt)
      .flatMapGroups { (_, it) =>
        EventClock.foldDays(Empty, moments(it, Nil, salt))(
          stepDay(tauSq))._2.iterator
      }
  }
}
