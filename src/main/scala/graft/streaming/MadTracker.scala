package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Streaming counterpart of `ops.Sessionize.evMad` — the median/MAD
  * robust anomaly chart run PREQUENTIALLY, the only honest way a
  * streaming chart can run it: each day is scored, at watermark
  * finalization, against the median and MAD of the days closed SO FAR
  * (its own included). The batch operator is RETROSPECTIVE — it scores
  * every day against the FULL window's median/MAD, which a stream
  * cannot know yet; [[madBatch]] is therefore the parity twin (the
  * same prequential fold over a bounded batch), and the divergence
  * from `evMad` is a PINNED, explained case (StreamingSpec): a day
  * that is normal against history-so-far but anomalous against the
  * full window (or vice versa) flips between the two charts. On a
  * long stable stream the two charts converge — the median has 50 %
  * breakdown, so one more day moves it at most one rank.
  *
  * WHY NOT O(1) STATE (the r11 verdict's explicit question): an exact
  * median/MAD is a global order statistic with 50 % breakdown — any
  * sublinear-state summary (P², t-digest, sampled reservoirs) makes
  * the bar itself approximate, which defeats the chart's reason to
  * exist (its bar must NOT move when the anomalies land in the
  * window). The buffered-exact cost is ONE Long pair per CLOSED DAY
  * per type — state is O(D) in observed days (730 longs per type per
  * year, ~6 KB), not O(events); that is the price of an exact robust
  * chart and it is tiny, so this tracker pays it rather than
  * approximating. (ev_spike's mean/σ twin folds in O(1) — that is
  * exactly the non-robustness being bought back here.)
  *
  * Exactness contract: the arithmetic is the batch SQL's doubled-
  * integer discipline verbatim — med2 = n_(⌈c/2⌉) + n_(⌊c/2⌋+1) with
  * ties on day, dev2 = |2n − med2|, mad4 the doubled median of dev2
  * (ties on day), alarm ⇔ 2·dev2 > 3·mad4 — NO floats anywhere, so
  * stream and batch fold bit-identically.
  *
  * A day row emits exactly once, when the watermark passes the end of
  * the day (the [[EventClock.daily]] finalization rule): days fold in
  * strict order whatever the trigger-arrival order, and in-watermark
  * late events land in their own day's count before that day is folded.
  * An event for a day that already emitted is behind the watermark, and
  * `flatMapGroupsWithState` under `EventTimeTimeout` drops such rows
  * before the state function sees them, so the emitted rows and the
  * retained history always agree.
  *
  * PARITY CAVEAT (the PageTracker horizon rule): a type idle longer
  * than `horizonDays` past its last closed day is GC'd and
  * re-baselines (empty history) if it resumes — for this chart that
  * is arguably the RIGHT semantics (a year-old median says little
  * about a resumed metric), but it is still a divergence from
  * [[madBatch]] over the same events, so it is part of the contract,
  * not fine print. Raise `horizonDays` to survive longer gaps (the
  * state held across the gap is the day-count history, O(D) longs).
  */
object MadTracker {

  case class MdEv(ts: Timestamp, event_type: String)
  /** Closed-day history + in-flight day counts, parallel arrays
    * (days sorted ascending); emitted = last closed day.
    */
  case class MdState(days: Seq[Long], ns: Seq[Long], emitted: Long)
    extends EventClock.Days
  case class MadRow(event_type: String, day: Long, n: Long,
                    med2: Long, dev2: Long, mad4: Long, alarm: Boolean)

  /** Default state-GC horizon (see the parity caveat above). */
  val IdleHorizonDays: Long = 30L

  private val Empty = MdState(Nil, Nil, Long.MinValue)

  /** Doubled median of `xs` keyed (value, tiebreak-day) — the batch
    * SQL's exact rank picks: x_(⌈c/2⌉) + x_(⌊c/2⌋+1) after sorting by
    * (value, day). Pure; shared by streaming, batch, and spec replay.
    */
  private[streaming] def med2Of(xs: Seq[(Long, Long)]): Long = {
    val sorted = xs.sortBy(x => (x._1, x._2)).map(_._1)
    val c = sorted.length
    sorted((c + 1) / 2 - 1) + sorted(c / 2 + 1 - 1)
  }

  /** Score day `d` (count `n`) against the closed history `hist`
    * (which must already include (d, n)) — pure.
    */
  private[streaming] def step(hist: Seq[(Long, Long)], d: Long,
      n: Long): MadRow = {
    val med2 = med2Of(hist.map { case (day, cnt) => (cnt, day) })
    val dev2 = math.abs(2L * n - med2)
    val mad4 = med2Of(hist.map { case (day, cnt) =>
      (math.abs(2L * cnt - med2), day)
    })
    MadRow("", d, n, med2, dev2, mad4, 2L * dev2 > 3L * mad4)
  }

  private def merged(st: MdState, events: Iterator[MdEv]): MdState = {
    val held = EventClock.countByDay(events, st.days.zip(st.ns))(_.ts)
    st.copy(days = held.map(_._1), ns = held.map(_._2))
  }

  /** Score the held days in (emitted, through], each against the history
    * of every held day up to it. Unlike PageTracker, CLOSED days stay in
    * state: they are the median's history, and only the idle horizon
    * drops them (all at once, with the key).
    */
  private def advance(key: String)(st: MdState,
      through: Long): (MdState, Seq[MadRow]) = {
    val held = st.days.zip(st.ns)
    val closed = held.filter(h => h._1 > st.emitted && h._1 <= through)
    val rows = closed.map { case (d, n) =>
      step(held.filter(_._1 <= d), d, n).copy(event_type = key)
    }
    (st.copy(emitted = closed.lastOption.fold(st.emitted)(_._1)), rows)
  }

  private[streaming] def stateFn(horizonDays: Long = IdleHorizonDays)(
      key: String, events: Iterator[MdEv],
      state: GroupState[MdState]): Iterator[MadRow] =
    EventClock.daily(events, state, Empty)(merged)(advance(key),
      _.emitted + horizonDays)

  /** Streaming entry: one row per observed (type, day), emitted at
    * watermark finalization, scored prequentially (median/MAD of the
    * days closed so far, own day included).
    */
  def madStream(events: Dataset[MdEv],
      horizonDays: Long = IdleHorizonDays): Dataset[MadRow] = {
    implicit val rowEnc = Encoders.product[MadRow]
    implicit val stEnc = Encoders.product[MdState]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(stateFn(horizonDays))
  }

  /** Batch entry: the same prequential fold with every observed day
    * final — the exact parity twin of [[madStream]] (StreamingSpec).
    * NOT `evMad`: the batch op is retrospective (full-window median);
    * the pinned divergence case in the spec shows exactly when the two
    * charts disagree.
    */
  def madBatch(events: Dataset[MdEv]): Dataset[MadRow] = {
    implicit val rowEnc = Encoders.product[MadRow]
    events.groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroups { (key, it) =>
        val held = EventClock.countByDay(it)(_.ts)
        held.zipWithIndex.map { case ((d, n), i) =>
          step(held.take(i + 1), d, n).copy(event_type = key)
        }.iterator
      }
  }

  /** The retrospective scorer over already-final (day, n) pairs — the
    * batch op's own rule (full-window median), exposed so the spec can
    * replay `evMad` rows through the same integer kernel and pin the
    * prequential-vs-retrospective divergence precisely.
    */
  private[streaming] def retrospective(key: String,
      hist: Seq[(Long, Long)]): Seq[MadRow] =
    hist.map { case (d, n) => step(hist, d, n).copy(event_type = key) }
}
