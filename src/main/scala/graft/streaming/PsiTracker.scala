package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Streaming counterpart of `ops.Sessionize.evPsi` — the population
  * stability index run the way a drift monitor actually runs it: the
  * REFERENCE binning is fitted once on a baseline window (the batch
  * op's early half: `vmn`, bin width `w`, per-bin reference counts)
  * and broadcast into the tracker; the live stream accumulates its own
  * bin counts in O(nBins) state and emits the running PSI each time
  * the watermark closes a day. The batch operator recomputes the whole
  * two-window comparison per run; the tracker carries one counts
  * array.
  *
  * Exactness contract (StreamingSpec parity): the bin rule replays the
  * batch SQL verbatim — LEAST(nBins−1, GREATEST(0, ⌊(v − vmn)/w⌋)) —
  * and the PSI arithmetic is the batch chain exactly: smoothed
  * pe = (ne+1)/(te+nBins), ql = (nl+1)/(tl+nBins), per-bin term
  * ROUND((pe−ql)·ln(pe/ql), 9) summed as scale-9 BigDecimals, one
  * terminal ROUND(·, 6) — so a tracker fed the batch op's late-window
  * events against the batch op's early-window reference reads
  * bit-for-bit the batch `psi_total`.
  *
  * A day row emits exactly once, when the watermark passes the end of
  * the day (the HoltTracker finalization rule): days fold in strict
  * order whatever the trigger-arrival order, and in-watermark late
  * events land in their own day's counts before that day is folded.
  * State: the cumulative live bin counts + in-flight per-day counts
  * inside the watermark horizon (flattened days×nBins Longs).
  *
  * Scale note: one monitored metric is one key (a single O(nBins)
  * fold) — the single-metric `psiStream(events, ref, vmn, w)` entry.
  * Multiplexed metrics use the KEYED overload ([[KPEv]] events + a
  * per-metric [[PsiFit]] map): state and the per-day folding then
  * partition across tasks by metric id instead of serializing through
  * one group. A metric whose raw event volume saturates one task
  * pre-aggregates (day, bin) counts upstream — the fold consumes
  * either granularity.
  */
object PsiTracker {

  case class PEv(ts: Timestamp, value: Double)
  /** A multiplexed event: `metric` is the state key. */
  case class KPEv(metric: String, ts: Timestamp, value: Double)
  /** One metric's fitted reference binning (per-bin baseline counts,
    * bin origin, bin width) — metrics have different scales, so a
    * multiplexed stream carries one fit per metric id.
    */
  case class PsiFit(ref: Seq[Long], vmn: Double, w: Double)
  case class KPsiRow(metric: String, day: Long, n_live: Long, psi: Double)
  /** days/pend: in-flight per-day bin counts (pend flattened
    * days×nBins); live: cumulative folded bin counts; emitted = last
    * closed day.
    */
  case class PState(days: Seq[Long], pend: Seq[Long],
                    live: Seq[Long], emitted: Long) extends EventClock.Days
  case class PsiRow(day: Long, n_live: Long, psi: Double)

  private def r6d(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private def r9(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP)

  /** The batch SQL's bin rule, verbatim. */
  private[streaming] def bin(v: Double, vmn: Double, w: Double,
      nBins: Int): Int =
    math.min(nBins - 1, math.max(0, math.floor((v - vmn) / w).toInt))

  /** The batch SQL's PSI chain over reference counts `ref` and live
    * counts `live` — pure, shared by the tracker and the spec replay.
    */
  private[streaming] def psi(ref: Seq[Long], live: Seq[Long]): Double = {
    val nBins = ref.length
    val te = ref.sum.toDouble + nBins
    val tl = live.sum.toDouble + nBins
    val sum = ref.indices.foldLeft(java.math.BigDecimal.ZERO) { (acc, b) =>
      val pe = (ref(b) + 1) / te
      val ql = (live(b) + 1) / tl
      acc.add(r9((pe - ql) * math.log(pe / ql)))
    }
    r6d(sum.doubleValue)
  }

  /** The state's in-flight (day, bin counts) pairs. */
  private def pending(st: PState, nBins: Int): Seq[(Long, Array[Long])] =
    st.days.indices.map(i =>
      st.days(i) -> st.pend.slice(i * nBins, (i + 1) * nBins).toArray)

  /** Per-day bin counts of `events` added onto `held`. */
  private def binned(events: Iterator[PEv], held: Seq[(Long, Array[Long])],
      nBins: Int, vmn: Double, w: Double): Seq[(Long, Array[Long])] =
    EventClock.byDay(events, held, Array.fill(nBins)(0L))(_.ts, { (a, e) =>
      a(bin(e.value, vmn, w, nBins)) += 1L
      a
    })

  /** Add day `d`'s bin counts to the cumulative live counts and score. */
  private def step(ref: Seq[Long])(live: Array[Long], d: Long,
      a: Array[Long]): (Array[Long], PsiRow) = {
    var b = 0
    while (b < a.length) { live(b) += a(b); b += 1 }
    (live, PsiRow(d, live.sum, psi(ref, live.toIndexedSeq)))
  }

  /** Fold the held days in (emitted, through] into the live counts; only
    * in-flight days stay.
    */
  private def advance(ref: Seq[Long])(st: PState,
      through: Long): (PState, Seq[PsiRow]) = {
    val held = pending(st, ref.length)
    val closed = held.filter(h => h._1 > st.emitted && h._1 <= through)
    val (live, rows) =
      EventClock.foldDays(st.live.toArray, closed)(step(ref))
    val emitted = closed.lastOption.fold(st.emitted)(_._1)
    val keep = held.filter(_._1 > emitted)
    (PState(keep.map(_._1), keep.flatMap(_._2.toSeq), live.toIndexedSeq,
      emitted), rows)
  }

  /** The daily shell over the PSI step. A metric idle 30 days past its
    * last closed day re-baselines if it ever resumes (the
    * SequentialTracker horizon rule).
    */
  private[streaming] def stateFn(ref: Seq[Long], vmn: Double, w: Double)(
      key: Int, events: Iterator[PEv],
      state: GroupState[PState]): Iterator[PsiRow] = {
    val nBins = ref.length
    EventClock.daily(events, state,
      PState(Nil, Nil, Seq.fill(nBins)(0L), Long.MinValue)) { (st, evs) =>
      val held = binned(evs, pending(st, nBins), nBins, vmn, w)
      st.copy(days = held.map(_._1), pend = held.flatMap(_._2.toSeq))
    }(advance(ref), _.emitted + 30)
  }

  /** Streaming entry: one row per observed day, emitted at watermark
    * finalization, cumulative live distribution vs the fixed reference.
    */
  def psiStream(events: Dataset[PEv], ref: Seq[Long], vmn: Double,
      w: Double): Dataset[PsiRow] = {
    implicit val rowEnc = Encoders.product[PsiRow]
    implicit val stEnc = Encoders.product[PState]
    events.groupByKey(_ => 0)(Encoders.scalaInt)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(stateFn(ref, vmn, w))
  }

  /** Batch entry: every observed day final, folded in day order. The
    * LAST row's psi equals `evPsi`'s psi_total when `ref`/`vmn`/`w`
    * are the batch op's early-window fit and the events are its late
    * window (StreamingSpec parity).
    */
  def psiBatch(events: Dataset[PEv], ref: Seq[Long], vmn: Double,
      w: Double): Dataset[PsiRow] = {
    val nBins = ref.length
    implicit val rowEnc = Encoders.product[PsiRow]
    events.groupByKey(_ => 0)(Encoders.scalaInt)
      .flatMapGroups { (_, it) =>
        batchFold(it, ref, vmn, w, nBins)
      }
  }

  private def batchFold(it: Iterator[PEv], ref: Seq[Long], vmn: Double,
      w: Double, nBins: Int): Iterator[PsiRow] =
    EventClock.foldDays(Array.fill(nBins)(0L),
      binned(it, Nil, nBins, vmn, w))(step(ref.toIndexedSeq))._2.iterator

  private def fitFor(fits: Map[String, PsiFit], metric: String): PsiFit =
    fits.getOrElse(metric, throw new IllegalArgumentException(
      s"PsiTracker: no PsiFit for metric '$metric' — every metric id " +
        "on a multiplexed stream needs its own fitted reference binning"))

  /** KEYED streaming entry (the multiplexed-monitor shape the single-
    * metric scaladoc points to): events carry a metric id, state and
    * folding partition by it — no single-task serialization — and each
    * metric reads against its OWN fitted reference from `fits`. Per
    * metric, rows are bit-identical to a single-metric [[psiStream]]
    * run on that metric's events with its fit (StreamingSpec lock).
    * An event whose metric has no fit fails the query fast with a
    * named error rather than folding against a wrong baseline.
    */
  def psiStream(events: Dataset[KPEv],
      fits: Map[String, PsiFit]): Dataset[KPsiRow] = {
    implicit val rowEnc = Encoders.product[KPsiRow]
    implicit val stEnc = Encoders.product[PState]
    events.groupByKey(_.metric)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: String, evs: Iterator[KPEv], state: GroupState[PState]) =>
          val f = fitFor(fits, key)
          stateFn(f.ref, f.vmn, f.w)(0, evs.map(e => PEv(e.ts, e.value)),
            state).map(r => KPsiRow(key, r.day, r.n_live, r.psi))
      }
  }

  /** KEYED batch entry — [[psiBatch]] per metric id, one output row
    * per (metric, observed day).
    */
  def psiBatch(events: Dataset[KPEv],
      fits: Map[String, PsiFit]): Dataset[KPsiRow] = {
    implicit val rowEnc = Encoders.product[KPsiRow]
    events.groupByKey(_.metric)(Encoders.STRING)
      .flatMapGroups { (key: String, it: Iterator[KPEv]) =>
        val f = fitFor(fits, key)
        batchFold(it.map(e => PEv(e.ts, e.value)), f.ref, f.vmn, f.w,
          f.ref.length)
          .map(r => KPsiRow(key, r.day, r.n_live, r.psi))
      }
  }
}
