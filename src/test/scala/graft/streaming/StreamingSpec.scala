package graft.streaming

import graft.{Tables, TestSpark}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** Streaming == batch equivalence: the same transforms produce identical
  * results whether fed a batch DataFrame or a MemoryStream (append mode,
  * watermark-flushed by a sentinel event past every window).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def eventsBatch = Tables.load(spark, sf, "events")
    .select("event_id", "ts", "user_id", "event_type", "value")

  private def runStreaming(transform: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame, name: String,
      dropSentinel: org.apache.spark.sql.Column): Array[Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = eventsBatch.as[Ev].collect().sortBy(_.ts.getTime)
    val maxTs = data.map(_.ts.getTime).max
    val stream = MemoryStream[Ev]
    val q = transform(stream.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    stream.addData(data.toIndexedSeq)
    q.processAllAvailable()
    // sentinel far past every window: advances the watermark so append
    // mode flushes all real sessions/windows
    stream.addData(Ev(-1L, new Timestamp(maxTs + 24L * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(dropSentinel).collect()
  }

  test("session_window streaming == batch (and agrees with ops.Sessionize)") {
    val got = runStreaming(Streams.sessionWindowAgg, "sess_out", col("user_id") =!= -1L)
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val want = Streams.sessionWindowAgg(eventsBatch).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
    // cross-check against the window-function sessionizer: same session
    // count, same per-session starts and sums
    val lagBased = graft.ops.Sessionize.evSessionize(spark, sf).collect()
      .map(r => (r.getTimestamp(2), r.getLong(0), r.getLong(4), r.getDouble(5))).toSet
    assert(want == lagBased)
  }

  test("custom flatMapGroupsWithState sessionizer == built-in session_window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val data = eventsBatch.as[Ev].collect().sortBy(_.ts.getTime)
    val maxTs = data.map(_.ts.getTime).max
    val stream = MemoryStream[Ev]
    val sessions = EventSessionizer.sessionize(
      stream.toDF().withWatermark("ts", "0 seconds")
        .select("event_id", "ts", "user_id", "value")
        .as[EventSessionizer.Ev])
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("custom_sess").start()
    stream.addData(data.toIndexedSeq)
    q.processAllAvailable()
    // two sentinel batches: the first advances the watermark past every
    // session, the second lets the state-timeout fire under it
    stream.addData(Ev(-1L, new Timestamp(maxTs + 24L * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 25L * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("custom_sess")
      .filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3), r.getLong(4)))
      .toSet
    // built-in session_window reference: (user, start, n, cents)
    val want = Streams.sessionWindowAgg(eventsBatch).collect()
      .map(r => (r.getLong(1), r.getTimestamp(0), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
      .toSet
    assert(got == want)
  }

  test("funnel: stateful batch == the oracle-checked SQL funnel query") {
    import spark.implicits._
    val got = FunnelTracker.funnelBatch(
      eventsBatch.select("ts", "user_id", "event_type")
        .as[FunnelTracker.FEv]).collect()
      .map(r => (r.user_id, r.t_view, Option(r.t_click),
        Option(r.t_purchase), r.depth)).toSet
    val want = graft.ops.Sessionize.evFunnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.getTimestamp(2)),
        Option(r.getTimestamp(3)), r.getInt(4))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  /** Drive a funnel streaming entry over explicit trigger batches (with a
    * watermark delay so cross-trigger out-of-order events stay IN-time),
    * flush via the sentinel pair, return rows keyed by user.
    */
  private def runFunnelBatches(
      entry: org.apache.spark.sql.Dataset[FunnelTracker.FEv] =>
        org.apache.spark.sql.Dataset[FunnelTracker.FunnelRow],
      name: String, batches: Seq[Seq[Ev]], delay: String = "2 hours"
  ): Map[Long, (Timestamp, Option[Timestamp], Option[Timestamp], Int)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = entry(stream.toDF().withWatermark("ts", delay)
        .select("ts", "user_id", "event_type").as[FunnelTracker.FEv])
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    val maxTs = batches.flatten.map(_.ts.getTime).max
    // sentinel pair: advance the watermark, then let timeouts fire under it
    stream.addData(Ev(-1L, new Timestamp(maxTs + 8L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 9L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(col("user_id") =!= -1L).collect()
      .map(r => r.getLong(0) -> ((r.getTimestamp(1), Option(r.getTimestamp(2)),
        Option(r.getTimestamp(3)), r.getInt(4)))).toMap
  }

  private def funnelBatchRows(
      evs: org.apache.spark.sql.DataFrame
  ): Map[Long, (Timestamp, Option[Timestamp], Option[Timestamp], Int)] = {
    import spark.implicits._
    FunnelTracker.funnelBatch(
      evs.select("ts", "user_id", "event_type").as[FunnelTracker.FEv])
      .collect()
      .map(r => r.user_id -> ((r.t_view, Option(r.t_click),
        Option(r.t_purchase), r.depth))).toMap
  }

  test("funnel: streaming (timeout-emitted) == batch") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect().sortBy(_.ts.getTime)
    val got = runFunnelBatches(FunnelTracker.funnelStream, "funnel_out",
      Seq(data.toSeq), delay = "0 seconds")
    assert(got == funnelBatchRows(eventsBatch) && got.nonEmpty)
  }

  test("funnel: buffered-exact streaming == batch on the full corpus") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect().sortBy(_.ts.getTime)
    val got = runFunnelBatches(FunnelTracker.funnelStreamExact, "funnel_ex_out",
      Seq(data.toSeq), delay = "0 seconds")
    assert(got == funnelBatchRows(eventsBatch) && got.nonEmpty)
  }

  test("funnel: an in-watermark cross-trigger click lands in the emitted row") {
    def ts(s: String) = Timestamp.valueOf(s)
    val got = runFunnelBatches(FunnelTracker.funnelStream, "funnel_late_click", Seq(
      Seq(Ev(1L, ts("2024-06-01 10:00:00"), 7L, "view", 0.0),
        Ev(2L, ts("2024-06-01 11:30:00"), 7L, "click", 0.0),
        Ev(3L, ts("2024-06-01 12:00:00"), 7L, "purchase", 0.0)),
      // a LATER trigger delivers an EARLIER (still in-watermark) click:
      // it must refine t_click in the final row without losing the
      // already-admitted purchase (12:00 > 11:00 keeps it valid)
      Seq(Ev(4L, ts("2024-06-01 11:00:00"), 7L, "click", 0.0))))
    assert(got(7L) == ((ts("2024-06-01 10:00:00"),
      Some(ts("2024-06-01 11:00:00")), Some(ts("2024-06-01 12:00:00")), 3)))
  }

  test("funnel: cross-trigger disorder — O(1) divergence documented, buffered-exact == batch") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val batches = Seq(
      // the purchase arrives while the only known click is LATER than it:
      // the O(1) fold must reject it (nothing admissible precedes it yet)
      Seq(Ev(1L, ts("2024-06-01 10:00:00"), 9L, "view", 0.0),
        Ev(2L, ts("2024-06-01 11:15:00"), 9L, "purchase", 0.0),
        Ev(3L, ts("2024-06-01 11:30:00"), 9L, "click", 0.0)),
      // a later trigger's EARLIER in-watermark click widens the window:
      // exact semantics now admit the 11:15 purchase
      Seq(Ev(4L, ts("2024-06-01 10:30:00"), 9L, "click", 0.0)))
    val approx = runFunnelBatches(FunnelTracker.funnelStream, "funnel_div_a", batches)
    val exact = runFunnelBatches(FunnelTracker.funnelStreamExact, "funnel_div_b", batches)
    val batch = funnelBatchRows(batches.flatten.toDF()
      .select(col("ts"), col("user_id"), col("event_type")))
    // the O(1) fold cannot resurrect the discarded purchase — the
    // DOCUMENTED approximation under in-watermark cross-trigger disorder
    assert(approx(9L) == ((ts("2024-06-01 10:00:00"),
      Some(ts("2024-06-01 10:30:00")), None, 2)))
    // the buffered variant recovers it and matches batch exactly
    assert(exact(9L) == ((ts("2024-06-01 10:00:00"),
      Some(ts("2024-06-01 10:30:00")), Some(ts("2024-06-01 11:15:00")), 3)))
    assert(exact == batch)
  }

  test("funnel fold: strict ordering and order-robust view refinement") {
    import FunnelTracker.{FState, Unset, fold}
    def us(s: String) = EventClock.usOf(Timestamp.valueOf(s))
    // click before the first view never counts
    val a = fold(FState(Unset, Unset, Unset, 0L), Seq(
      us("2024-06-01 09:00:00") -> "click",
      us("2024-06-01 10:00:00") -> "view",
      us("2024-06-01 11:00:00") -> "click",
      us("2024-06-01 12:00:00") -> "purchase"))
    assert(a == FState(us("2024-06-01 10:00:00"),
      us("2024-06-01 11:00:00"), us("2024-06-01 12:00:00"), 0L))
    // a later-arriving EARLIER view refines tView without invalidating the
    // already-chosen click (the eligibility window only widens)
    val b = fold(a, Seq(us("2024-06-01 08:00:00") -> "view"))
    assert(b.tView == us("2024-06-01 08:00:00") &&
      b.tClick == a.tClick && b.tPurchase == a.tPurchase)
    // purchases without a click never count
    val c = fold(FState(Unset, Unset, Unset, 0L), Seq(
      us("2024-06-01 10:00:00") -> "view",
      us("2024-06-01 11:00:00") -> "purchase"))
    assert(c == FState(us("2024-06-01 10:00:00"), Unset, Unset, 0L))
  }

  /** Drive an attribution streaming entry over explicit trigger batches
    * (the runFunnelBatches harness shape), return rows keyed by purchase.
    */
  private def runAttrBatches(
      entry: org.apache.spark.sql.Dataset[AttributionTracker.AEv] =>
        org.apache.spark.sql.Dataset[AttributionTracker.TouchRow],
      name: String, batches: Seq[Seq[Ev]], delay: String = "2 hours"
  ): Map[Long, (Long, String, Option[Long], Option[Timestamp])] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = entry(stream.toDF().withWatermark("ts", delay)
        .select("ts", "user_id", "event_id", "event_type", "value")
        .as[AttributionTracker.AEv])
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    val maxTs = batches.flatten.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + 8L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 9L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(col("user_id") =!= -1L).collect()
      .map(r => r.getLong(1) -> ((r.getLong(0), r.getString(4),
        Option(r.get(5)).map(_.asInstanceOf[Long]),
        Option(r.getTimestamp(6))))).toMap
  }

  private def attrBatchRows(evs: org.apache.spark.sql.DataFrame
  ): Map[Long, (Long, String, Option[Long], Option[Timestamp])] = {
    import spark.implicits._
    AttributionTracker.attributionBatch(
      evs.select("ts", "user_id", "event_id", "event_type", "value")
        .as[AttributionTracker.AEv]).collect()
      .map(r => r.purchase_id -> ((r.user_id, r.touch_type, r.touch_id,
        Option(r.t_touch)))).toMap
  }

  test("attribution: stateful batch == the oracle-checked SQL query") {
    val want = graft.ops.Sessionize.evAttribution(spark, sf).collect()
      .map(r => r.getLong(1) -> ((r.getLong(0), r.getString(4),
        Option(r.get(5)).map(_.asInstanceOf[Long]),
        Option(r.getTimestamp(6))))).toMap
    val got = attrBatchRows(eventsBatch)
    assert(got == want && got.nonEmpty)
  }

  test("attribution: streaming (emit-on-arrival) == batch on ordered input") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val got = runAttrBatches(AttributionTracker.attributionStream,
      "attr_out", Seq(data.toSeq), delay = "0 seconds")
    assert(got == attrBatchRows(eventsBatch) && got.nonEmpty)
  }

  test("attribution: buffered-exact streaming == batch on the full corpus") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val got = runAttrBatches(AttributionTracker.attributionStreamExact,
      "attr_ex_out", Seq(data.toSeq), delay = "0 seconds")
    assert(got == attrBatchRows(eventsBatch) && got.nonEmpty)
  }

  test("attribution: cross-trigger disorder — O(1) divergence documented, buffered-exact == batch") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val batches = Seq(
      // the purchase arrives knowing only the 09:00 view; its true last
      // touch (a 10:30 click) rides a LATER trigger, still in-watermark
      Seq(Ev(1L, ts("2024-06-01 09:00:00"), 5L, "view", 0.0),
        Ev(2L, ts("2024-06-01 11:00:00"), 5L, "purchase", 25.0)),
      Seq(Ev(3L, ts("2024-06-01 10:30:00"), 5L, "click", 0.0)))
    val approx = runAttrBatches(AttributionTracker.attributionStream,
      "attr_div_a", batches)
    val exact = runAttrBatches(AttributionTracker.attributionStreamExact,
      "attr_div_b", batches)
    val batch = attrBatchRows(batches.flatten.toDF()
      .select(col("ts"), col("user_id"), col("event_id"),
        col("event_type"), col("value")))
    // emit-on-arrival already attributed the purchase to the view — the
    // DOCUMENTED approximation under in-watermark cross-trigger disorder
    assert(approx(2L) == ((5L, "view", Some(1L),
      Some(ts("2024-06-01 09:00:00")))))
    // the buffered variant recovers the click and matches batch exactly
    assert(exact(2L) == ((5L, "click", Some(3L),
      Some(ts("2024-06-01 10:30:00")))))
    assert(exact == batch)
  }

  test("attribution: an out-of-order cross-trigger touch never regresses the carried last") {
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    // trigger 2 delivers an EARLIER click than the carried one; the 12:00
    // purchase in trigger 3 must still attribute to the 11:00 click
    val batches = Seq(
      Seq(Ev(1L, ts("2024-06-01 11:00:00"), 6L, "click", 0.0)),
      Seq(Ev(2L, ts("2024-06-01 10:00:00"), 6L, "click", 0.0)),
      Seq(Ev(3L, ts("2024-06-01 12:00:00"), 6L, "purchase", 10.0)))
    val got = runAttrBatches(AttributionTracker.attributionStream,
      "attr_mono", batches)
    assert(got(3L) == ((6L, "click", Some(1L),
      Some(ts("2024-06-01 11:00:00")))))
  }

  test("late data behind the watermark is dropped (late-data handling)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = Streams.tumblingAgg(stream.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    val t0 = java.sql.Timestamp.valueOf("2024-06-01 10:10:00")
    stream.addData(Ev(1L, t0, 1L, "click", 1.0))
    q.processAllAvailable()
    // advance the watermark far past t0's window…
    stream.addData(Ev(2L, java.sql.Timestamp.valueOf("2024-06-01 14:00:00"), 1L, "view", 1.0))
    q.processAllAvailable()
    // …then replay an event inside the already-closed 10:00 window
    stream.addData(Ev(3L, java.sql.Timestamp.valueOf("2024-06-01 10:20:00"), 1L, "click", 9.0))
    q.processAllAvailable()
    stream.addData(Ev(4L, java.sql.Timestamp.valueOf("2024-06-01 20:00:00"), 1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("late_out")
      .filter(col("w_start") === java.sql.Timestamp.valueOf("2024-06-01 10:00:00"))
      .collect()
    // the late event must NOT have joined the closed 10:00 window
    assert(closed.length == 1 && closed.head.getLong(2) == 1L &&
      closed.head.getDouble(3) == 1.0, closed.mkString(";"))
  }

  test("session close time behind the watermark: timeout clamped to wm+1, not silently dropped") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val wmMs = Timestamp.valueOf("2024-06-01 12:00:00").getTime
    // an event whose session would close at 10:30, already 90 min behind
    // the 12:00 watermark: the raw setTimeoutTimestamp is rejected by
    // Spark; the old `catch Throwable` swallowed that and parked the open
    // session in state forever. The clamp must register wm+1 instead.
    val st = TestGroupState.create[EventSessionizer.OpenSess](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout, 0L,
      Optional.of(wmMs), hasTimedOut = false)
    val ev = EventSessionizer.Ev(1L, Timestamp.valueOf("2024-06-01 10:00:00"), 7L, 2.5)
    val out = EventSessionizer.stateFn(7L, Iterator(ev), st).toList
    assert(out.isEmpty && st.exists, "session should stay open in state")
    assert(st.getTimeoutTimestampMs.get() == wmMs + 1,
      s"expected clamp to wm+1, got ${st.getTimeoutTimestampMs}")
    // a session comfortably ahead of the watermark keeps its natural close
    val st2 = TestGroupState.create[EventSessionizer.OpenSess](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout, 0L,
      Optional.of(wmMs), hasTimedOut = false)
    val t2 = Timestamp.valueOf("2024-06-01 13:00:00")
    EventSessionizer.stateFn(7L, Iterator(EventSessionizer.Ev(2L, t2, 7L, 1.0)), st2)
    assert(st2.getTimeoutTimestampMs.get() == t2.getTime + 30L * 60 * 1000)
    // timeout firing emits the open session and clears state
    val st3 = TestGroupState.create[EventSessionizer.OpenSess](
      Optional.of(EventSessionizer.OpenSess(1000000L, 2000000L, 3L, 250L)),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(wmMs), hasTimedOut = true)
    val fired = EventSessionizer.stateFn(7L, Iterator.empty, st3).toList
    assert(fired.map(s => (s.user_id, s.n_events, s.sum_value_cents)) ==
      List((7L, 3L, 250L)) && st3.isRemoved)
  }

  test("carried kernel: a trigger carries the max tMax and arms the " +
      "quiesce, an empty trigger is a no-op, a timeout flushes and " +
      "removes, and a batch group is one trigger plus its timeout") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, TestGroupState}
    import EwmaTracker.{EEv, EState, Empty, flush, step}
    def ev(t: String) = EEv(Timestamp.valueOf(t), "a")
    def group(prev: Option[EState], wmMs: Long, timedOut: Boolean) =
      TestGroupState.create[EState](Optional.ofNullable(prev.orNull),
        GroupStateTimeout.EventTimeTimeout, 0L, Optional.of(wmMs), timedOut)
    def run(g: GroupState[EState], evs: Seq[EEv]) = EventClock.carried(
      evs.iterator, g, Empty)(step("a"), flush("a", _)).toList
    val quiesceMs = EventClock.QuiesceUs / 1000
    val all = Seq(ev("2024-06-01 10:00:00"), ev("2024-06-01 11:00:00"),
      ev("2024-06-02 09:00:00"))
    val wm0 = Timestamp.valueOf("2024-06-01 00:00:00").getTime
    val end2 = EventClock.usOf(Timestamp.valueOf("2024-06-03 00:00:00")) - 1
    // a trigger emits the day it completed, stores the stepped state with
    // tMax at the end of the newest day and arms tMax + the quiesce horizon
    val (s12, rows12) = step("a")(Empty, all.iterator)
    val g1 = group(None, wm0, timedOut = false)
    assert(run(g1, all) == rows12 && rows12.map(_.n) == Seq(2L))
    assert(g1.get == s12 && s12.tMax == end2)
    assert(g1.getTimeoutTimestampMs.get == end2 / 1000 + quiesceMs)
    // an older event keeps the carried tMax; a deadline behind the
    // watermark is clamped to watermark + 1
    val wmLate = end2 / 1000 + quiesceMs + 5000L
    val g2 = group(Some(s12), wmLate, timedOut = false)
    run(g2, Seq(ev("2024-06-01 12:00:00")))
    assert(g2.get.tMax == end2 && g2.getTimeoutTimestampMs.get == wmLate + 1)
    // a trigger with no rows leaves the state and its timeout untouched
    val g3 = group(Some(s12), wm0, timedOut = false)
    assert(run(g3, Nil).isEmpty && g3.get == s12 && !g3.isRemoved &&
      !g3.getTimeoutTimestampMs.isPresent)
    // a timed-out key emits its flush and is removed
    val g4 = group(Some(s12), wmLate, timedOut = true)
    assert(flush("a", s12).nonEmpty && run(g4, Nil) == flush("a", s12) &&
      g4.isRemoved)
    // whole == one trigger followed by its timeout, rows then flush
    val trig = group(None, wm0, timedOut = false)
    val streamed = run(trig, all) ++
      run(group(Some(trig.get), wmLate, timedOut = true), Nil)
    assert(EventClock.whole(all.iterator, Empty)(step("a"), flush("a", _))
      .toList == streamed && streamed.map(_.n) == Seq(2L, 1L))
  }

  test("streaming exact dedup drops replayed event_ids (bounded state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = Streams.dedupStream(stream.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    val t0 = Timestamp.valueOf("2024-06-01 10:00:00")
    stream.addData(Ev(1L, t0, 1L, "click", 1.0), Ev(2L, t0, 2L, "view", 2.0))
    q.processAllAvailable()
    // replay event 1 (same id, same batch-window) plus a genuine new event
    stream.addData(Ev(1L, t0, 1L, "click", 1.0),
      Ev(3L, Timestamp.valueOf("2024-06-01 10:05:00"), 3L, "click", 3.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
  }

  test("spike: batch twin == the oracle-checked SQL query") {
    import spark.implicits._
    val got = SpikeTracker.spikeBatch(
      eventsBatch.select("ts", "event_type").as[SpikeTracker.SpEv])
      .collect()
      .map(r => (r.event_type, r.day, r.n, r.base_n, r.base_days,
        r.rate_ratio, r.spike)).toSet
    val want = graft.ops.Sessionize.evSpike(eventsBatch).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getBoolean(6))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("cusum: scaled-integer recursion replays; stable series never alarms") {
    import spark.implicits._
    def at(day: Int, j: Int) = new Timestamp(
      day * 86400000L + j * 1000L + 1000L)
    // baseline days 0-6 at 10/day (num=70, den=7), then 25/day: each
    // scored day adds 100·7·25 − 150·70 = 7000 to sHi; h = 28000 —
    // the alarm must fire on the 4th scored day exactly
    val up = ((for { d <- 0 until 7; j <- 0 until 10 }
      yield (at(d, j), "a")) ++
      (for { d <- 7 until 12; j <- 0 until 25 }
        yield (at(d, j), "a"))).toDF("ts", "event_type")
    val rows = CusumTracker.cusumBatch(up.as[CusumTracker.CuEv]).collect()
      .sortBy(_.day)
    assert(rows.map(_.n).toSeq ==
      Seq.fill(7)(10L) ++ Seq.fill(5)(25L))
    assert(rows.take(7).forall(r => r.s_hi == 0 && r.s_lo == 0 && !r.alarm))
    assert(rows.drop(7).map(_.s_hi).toSeq ==
      Seq(7000L, 14000L, 21000L, 28000L, 35000L))
    assert(rows.drop(7).map(_.alarm).toSeq ==
      Seq(false, false, false, true, true))
    // a stable series accumulates nothing on either side
    val flat = (for { d <- 0 until 20; j <- 0 until 10 }
      yield (at(d, j), "b")).toDF("ts", "event_type")
    CusumTracker.cusumBatch(flat.as[CusumTracker.CuEv]).collect()
      .foreach { r =>
        assert(r.s_hi == 0 && r.s_lo == 0 && !r.alarm)
      }
    // a 80 % drop walks sLo up by (50−14)·70 = 2100/scored day
    val down = ((for { d <- 0 until 7; j <- 0 until 10 }
      yield (at(d, j), "c")) ++
      (for { d <- 7 until 9; j <- 0 until 2 }
        yield (at(d, j), "c"))).toDF("ts", "event_type")
    val dn = CusumTracker.cusumBatch(down.as[CusumTracker.CuEv]).collect()
      .sortBy(_.day).drop(7)
    assert(dn.map(_.s_lo).toSeq == Seq(2100L, 4200L) &&
      dn.forall(!_.alarm))
  }

  test("cusum: streaming == batch; an in-watermark late event lands before its day is scored") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    def day(d: Int, h: Int, evId: Long) = Ev(evId,
      new Timestamp(Timestamp.valueOf("2024-06-01 00:00:00").getTime +
        d * 86400000L + h * 3600000L), 1L, "A", 0.0)
    // baseline: days 0-6, one event each (num=7, den=7, h=2800).
    // day 7 gets 5 events in trigger 1 (would read sHi 2450 < 2800);
    // trigger 2 delivers a LATE 6th event for day 7 (watermark still
    // open) plus day 8 — the scored day-7 row must read n=6,
    // sHi = 4200−1050 = 3150 ≥ 2800: alarm, only because the late
    // event landed first
    val b1 = (0 until 7).map(d => day(d, 10, d.toLong)) ++
      (0 until 5).map(j => day(7, 10 + j, 100L + j))
    val b2 = Seq(day(7, 20, 200L)) ++ (0 until 2).map(j =>
      day(8, 10 + j, 300L + j))
    val stream = MemoryStream[Ev]
    val q = CusumTracker.cusumStream(
      stream.toDF().withWatermark("ts", "2 hours")
        .select("ts", "event_type").as[CusumTracker.CuEv])
      .writeStream.outputMode("append")
      .format("memory").queryName("cusum_out").start()
    for (b <- Seq(b1, b2)) { stream.addData(b); q.processAllAvailable() }
    val maxTs = b2.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + 9L * 24 * 3600 * 1000),
      -1L, "x", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 10L * 24 * 3600 * 1000),
      -1L, "x", 0.0))
    q.processAllAvailable()
    val rows = spark.table("cusum_out")
      .where("event_type <> 'x'").as[CusumTracker.CusumRow].collect()
      .map(r => (r.event_type, r.day, r.n, r.s_hi, r.s_lo, r.alarm))
    val batch = CusumTracker.cusumBatch((b1 ++ b2).toDF()
      .select("ts", "event_type").as[CusumTracker.CuEv]).collect()
      .map(r => (r.event_type, r.day, r.n, r.s_hi, r.s_lo, r.alarm))
    assert(rows.toSet == batch.toSet && rows.nonEmpty)
    val day7 = rows.find(_._2 == Timestamp.valueOf("2024-06-08 00:00:00")
      .getTime / 86400000L).get
    assert(day7._3 == 6L && day7._4 == 3150L && day7._6)
  }

  test("cusum: an idle key is removed at its 30-day timeout; a live key re-arms") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val fn = CusumTracker.stateFn(7, 50, 4) _
    // scored key (baseN > 0), nothing in flight, idle timeout fired:
    // the watermark is past (emitted + 30) days → the state must be
    // REMOVED, not re-armed (the re-arm-at-wm+1-forever leak)
    val idle = CusumTracker.CuState(Nil, Nil, 10L, 7L, 70L, 0L, 0L)
    val horizonMs = (10L + 30L) * EventClock.DayMs
    val timedOut = TestGroupState.create[CusumTracker.CuState](
      Optional.of(idle), GroupStateTimeout.EventTimeTimeout, 0L,
      Optional.of(horizonMs + 1L), true)
    assert(fn("a", Iterator.empty, timedOut).isEmpty && timedOut.isRemoved)
    // same key shape but the watermark has NOT reached the horizon
    // (it just closed an in-flight day): retained, timeout at horizon
    val live = CusumTracker.CuState(Seq(11L), Seq(5L), 10L, 7L, 70L, 0L, 0L)
    val g = TestGroupState.create[CusumTracker.CuState](
      Optional.of(live), GroupStateTimeout.EventTimeTimeout, 0L,
      Optional.of(13L * EventClock.DayMs), false)
    val rows = fn("a", Iterator.empty, g).toSeq
    assert(rows.map(_.day) == Seq(11L) && !g.isRemoved)
    assert(g.getTimeoutTimestampMs.get == (11L + 30L) * EventClock.DayMs)
  }

  test("convPairs: stream-stream interval join == batch on disordered input; a beyond-watermark click loses its pair") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(t: String) = Timestamp.valueOf(t)
    // user 1: click 10:00 -> purchase 10:20 pairs; purchase 11:00 is
    // outside the 30-min gap. user 2: clicks 10:00 AND 10:10 both pair
    // with purchase 10:25 (the multi-touch fan the relation exists for).
    // b2 arrives partly out of time order vs b1 (in-watermark disorder).
    val b1 = Seq(
      Ev(1, ts("2024-06-01 10:00:00"), 1, "click", 0),
      Ev(2, ts("2024-06-01 10:20:00"), 1, "purchase", 5.0),
      Ev(4, ts("2024-06-01 10:10:00"), 2, "click", 0))
    val b2 = Seq(
      Ev(3, ts("2024-06-01 10:00:00"), 2, "click", 0),
      Ev(5, ts("2024-06-01 10:25:00"), 2, "purchase", 7.0),
      Ev(6, ts("2024-06-01 11:00:00"), 1, "purchase", 9.0))
    // b3 advances the watermark (2h delay) past user 3's events; b4 then
    // delivers a click OLDER than the watermark — it must NOT pair,
    // though a batch run over the same admitted rows would pair it
    val b3 = Seq(Ev(90, ts("2024-06-01 16:00:00"), 99, "click", 0),
      Ev(7, ts("2024-06-01 10:30:00"), 3, "purchase", 3.0))
    val b4 = Seq(Ev(8, ts("2024-06-01 10:05:00"), 3, "click", 0))
    val stream = MemoryStream[Ev]
    val q = ConversionJoin.convPairs(stream.toDF())
      .writeStream.outputMode("append")
      .format("memory").queryName("conv_out").start()
    for (b <- Seq(b1, b2, b3, b4)) {
      stream.addData(b); q.processAllAvailable()
    }
    val got = spark.table("conv_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    // batch over everything EXCEPT the late click — exact parity
    val admitted = (b1 ++ b2 ++ b3).toDF()
    val batch = ConversionJoin.convPairs(admitted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(got == batch && got ==
      Set((1L, 2L, 1L), (2L, 5L, 3L), (2L, 5L, 4L)))
    // the batch run WITH the late click finds the user-3 pair the
    // stream had to drop — the documented append-mode approximation
    val full = ConversionJoin.convPairs((b1 ++ b2 ++ b3 ++ b4).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    assert(full == got + ((3L, 7L, 8L)))
    // gap algebra: user-2 pairs carry exact micros gaps (15 and 25 min)
    val gaps = spark.table("conv_out").collect()
      .map(r => (r.getLong(4), r.getLong(6))).toMap
    assert(gaps(3L) == 1500000000L && gaps(4L) == 900000000L)
    q.stop()
  }

  test("spike: streaming == batch; a day emits once, when the watermark ends it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val b1 = Seq( // days 0-2 of a local epoch; type A ramps, type B flat
      Ev(1L, ts("2024-06-01 10:00:00"), 1L, "A", 0.0),
      Ev(2L, ts("2024-06-01 11:00:00"), 1L, "A", 0.0),
      Ev(3L, ts("2024-06-02 10:00:00"), 1L, "A", 0.0),
      Ev(4L, ts("2024-06-01 10:00:00"), 1L, "B", 0.0),
      Ev(5L, ts("2024-06-02 10:00:00"), 1L, "B", 0.0))
    val b2 = Seq( // trigger 2: day 3 burst for A — and a LATE-but-in-time
      // event for day 2 (watermark still open) that must land in day 2
      Ev(6L, ts("2024-06-03 09:00:00"), 1L, "A", 0.0),
      Ev(7L, ts("2024-06-03 09:30:00"), 1L, "A", 0.0),
      Ev(8L, ts("2024-06-03 10:00:00"), 1L, "A", 0.0),
      Ev(9L, ts("2024-06-03 11:00:00"), 1L, "A", 0.0),
      Ev(10L, ts("2024-06-02 23:00:00"), 1L, "A", 0.0),
      Ev(11L, ts("2024-06-03 10:00:00"), 1L, "B", 0.0))
    val stream = MemoryStream[Ev]
    val q = SpikeTracker.spikeStream(
      stream.toDF().withWatermark("ts", "2 hours")
        .select("ts", "event_type").as[SpikeTracker.SpEv])
      .writeStream.outputMode("append")
      .format("memory").queryName("spike_out").start()
    for (b <- Seq(b1, b2)) { stream.addData(b); q.processAllAvailable() }
    val maxTs = b2.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + 9L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 10L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("spike_out")
      .filter(col("event_type") =!= "x").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getBoolean(6)))
    // exactly-once per (type, day)
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length)
    val batch = SpikeTracker.spikeBatch((b1 ++ b2).toDF()
      .select("ts", "event_type").as[SpikeTracker.SpEv]).collect()
      .map(r => (r.event_type, r.day, r.n, r.base_n, r.base_days,
        r.rate_ratio, r.spike))
    assert(rows.toSet == batch.toSet && rows.nonEmpty)
    // the late event counted: day-2 A has n=2, and day-3 A (n=4) spikes
    // against base (2+2)/2 days => ratio 2.0
    val a = rows.map(t => (t._1, t._2) -> t).toMap
    val day2 = EventClock.usOf(ts("2024-06-02 10:00:00")) /
      EventClock.DayUs
    assert(a(("A", day2))._3 == 2L)
    assert(a(("A", day2 + 1))._6 == 2.0 && a(("A", day2 + 1))._7)
  }

  test("tumbling window streaming == batch") {
    val got = runStreaming(Streams.tumblingAgg, "tumb_out", col("event_type") =!= "x")
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = Streams.tumblingAgg(eventsBatch).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
  }

  /** Drive a markov streaming entry over explicit trigger batches. */
  private def runMarkovBatches(
      entry: org.apache.spark.sql.Dataset[MarkovTracker.KEv] =>
        org.apache.spark.sql.Dataset[MarkovTracker.TransRow],
      name: String, batches: Seq[Seq[Ev]], delay: String = "2 hours"
  ): Seq[(Long, String, String, Timestamp)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = entry(stream.toDF().withWatermark("ts", delay)
        .select("ts", "user_id", "event_id", "event_type")
        .as[MarkovTracker.KEv])
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    val maxTs = batches.flatten.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + 15L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 16L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getTimestamp(3))).toSeq
  }

  private def markovBatchRows: Seq[(Long, String, String, Timestamp)] = {
    import spark.implicits._
    MarkovTracker.markovBatch(
      eventsBatch.select("ts", "user_id", "event_id", "event_type")
        .as[MarkovTracker.KEv]).collect()
      .map(r => (r.user_id, r.prev, r.cur, r.t_cur)).toSeq
  }

  test("markov: batch transition counts == the oracle-checked SQL matrix") {
    val want = graft.ops.Sessionize.evMarkov(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = markovBatchRows.groupBy(t => (t._2, t._3)).view
      .mapValues(_.length.toLong).toMap
    assert(got == want && got.nonEmpty)
  }

  test("markov: streaming (emit-on-arrival) == batch on ordered input") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val got = runMarkovBatches(MarkovTracker.markovStream,
      "mk_out", Seq(data.toSeq), delay = "0 seconds")
    assert(got.toSet == markovBatchRows.toSet && got.nonEmpty)
  }

  test("markov: cross-trigger disorder — late event dropped in O(1), recovered buffered-exact") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val batches = Seq(
      // trigger 1 sequences view(9:00) -> purchase(11:00)
      Seq(Ev(1L, t("2024-06-01 09:00:00"), 7L, "view", 0.0),
        Ev(2L, t("2024-06-01 11:00:00"), 7L, "purchase", 5.0)),
      // trigger 2 delivers the 10:00 click that truly sat between them
      Seq(Ev(3L, t("2024-06-01 10:00:00"), 7L, "click", 0.0)))
    val approx = runMarkovBatches(MarkovTracker.markovStream,
      "mk_div_a", batches)
    val exact = runMarkovBatches(MarkovTracker.markovStreamExact,
      "mk_div_b", batches)
    // O(1): the late click's transitions are DROPPED, never mis-ordered
    assert(approx.map(x => (x._2, x._3)).toSet ==
      Set(("view", "purchase")))
    // buffered-exact recovers the true chain view->click->purchase
    assert(exact.map(x => (x._2, x._3)).toSet ==
      Set(("view", "click"), ("click", "purchase")))
    val batch = MarkovTracker.markovBatch(batches.flatten.toDF()
      .select("ts", "user_id", "event_id", "event_type")
      .as[MarkovTracker.KEv]).collect()
      .map(r => (r.user_id, r.prev, r.cur, r.t_cur))
    assert(exact.toSet == batch.toSet)
  }

  private def runStreaksBatches(
      entry: org.apache.spark.sql.Dataset[StreaksTracker.SEv] =>
        org.apache.spark.sql.Dataset[StreaksTracker.StreakRow],
      name: String, batches: Seq[Seq[Ev]], delay: String = "2 hours"
  ): Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = entry(stream.toDF().withWatermark("ts", delay)
        .select("ts", "user_id").as[StreaksTracker.SEv])
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    // quiesce sentinels far past maxTs + any delay under test (≤ 3 days)
    val maxTs = batches.flatten.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + 15L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 16L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
  }

  private def streaksBatchRows: Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    StreaksTracker.streaksBatch(
      eventsBatch.select("ts", "user_id").as[StreaksTracker.SEv]).collect()
      .map(r => (r.user_id, r.active_days, r.n_streaks, r.max_streak)).toSeq
  }

  test("streaks: batch rollup == the oracle-checked SQL query") {
    val want = graft.ops.Sessionize.evStreaks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val got = streaksBatchRows.toSet
    assert(got == want && got.nonEmpty)
  }

  test("streaks: streaming last row per user == batch on ordered input") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val rows = runStreaksBatches(StreaksTracker.streaksStream,
      "stk_out", Seq(data.toSeq), delay = "0 seconds")
    // the feed emits intermediate rollups; the LAST per user is current
    val last = rows.groupBy(_._1).view.mapValues(_.last).values.toSet
    assert(last == streaksBatchRows.toSet && last.nonEmpty)
    // exact variant emits exactly once per user, already final
    val ex = runStreaksBatches(StreaksTracker.streaksStreamExact,
      "stk_out_ex", Seq(data.toSeq))
    assert(ex.toSet == streaksBatchRows.toSet && ex.size == last.size)
  }

  private def runLagBatches(
      entry: org.apache.spark.sql.Dataset[LagTracker.LEv] =>
        org.apache.spark.sql.Dataset[LagTracker.LagRow],
      name: String, batches: Seq[Seq[Ev]], delay: String = "2 hours"
  ): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = entry(stream.toDF().withWatermark("ts", delay)
        .select("ts", "user_id", "event_type").as[LagTracker.LEv])
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    val maxTs = batches.flatten.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + 15L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
  }

  private def lagBatchRows: Seq[(Long, Long, Long)] = {
    import spark.implicits._
    LagTracker.lagBatch(
      eventsBatch.select("ts", "user_id", "event_type").as[LagTracker.LEv])
      .collect().map(r => (r.user_id, r.lag_s, r.bucket)).toSeq
  }

  test("lag: batch fold histogram == the oracle-checked SQL query") {
    val rows = lagBatchRows
    assert(rows.nonEmpty)
    val got = rows.groupBy(_._3).map { case (b, rs) =>
      val lags = rs.map(_._2)
      val mean = BigDecimal(lags.sum.toDouble / lags.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (b, rs.length.toLong, lags.min, lags.max, mean)
    }.toSet
    val want = graft.ops.Sessionize.evLag(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got == want)
  }

  test("lag: streaming emits once per converting user == batch (ordered)") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val rows = runLagBatches(LagTracker.lagStream, "lag_out",
      Seq(data.toSeq), delay = "0 seconds")
    assert(rows.map(_._1).distinct.length == rows.length) // emit-once
    assert(rows.toSet == lagBatchRows.toSet && rows.nonEmpty)
  }

  test("lag: cross-trigger earlier view is the documented approximation") {
    def ev(id: Long, sec: Long, u: Long, tpe: String) =
      Ev(id, new Timestamp(sec * 1000L), u, tpe, 0.0)
    // trigger 1: view@100, purchase@200 -> emits lag 100 immediately;
    // trigger 2: in-watermark view@50 lands AFTER the row is out -> the
    // emitted row stands (never corrected), while a batch recompute
    // over all three events reads lag 150
    val streamed = runLagBatches(LagTracker.lagStream, "lag_late",
      Seq(Seq(ev(1, 100, 7, "view"), ev(2, 200, 7, "purchase")),
        Seq(ev(3, 50, 7, "view"))), delay = "2 hours")
    assert(streamed == Seq((7L, 100L, 6L)))
    // trigger-2-completed conversion stays EXACT: no premature emission
    // means the late earlier view still participates
    val lateExact = runLagBatches(LagTracker.lagStream, "lag_late2",
      Seq(Seq(ev(1, 200, 8, "purchase")), // no view yet -> nothing emits
        Seq(ev(2, 100, 8, "view"))), delay = "2 hours")
    assert(lateExact == Seq((8L, 100L, 6L)))
  }

  private def runAutocorrBatches(
      entry: org.apache.spark.sql.Dataset[AutocorrTracker.AEv] =>
        org.apache.spark.sql.Dataset[AutocorrTracker.AcRow],
      name: String, batches: Seq[Seq[Ev]], delay: String = "2 hours"
  ): Seq[(String, Long, Double, Boolean)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = entry(stream.toDF().withWatermark("ts", delay)
        .select("ts", "event_type").as[AutocorrTracker.AEv])
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    val maxTs = batches.flatten.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + 15L * 24 * 3600 * 1000), -1L, "zz_sentinel", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 16L * 24 * 3600 * 1000), -1L, "zz_sentinel", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(col("event_type") =!= "zz_sentinel").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSeq
  }

  private def autocorrBatchRows: Seq[(String, Long, Double, Boolean)] = {
    import spark.implicits._
    AutocorrTracker.autocorrBatch(
      eventsBatch.select("ts", "event_type").as[AutocorrTracker.AEv])
      .collect()
      .map(r => (r.event_type, r.n_pairs, r.autocorr, r.defined)).toSeq
  }

  test("autocorr: batch fold == the oracle-checked SQL query") {
    val want = graft.ops.Sessionize.evAutocorr(spark, sf).collect()
      .map { r =>
        if (r.isNullAt(2)) (r.getString(0), r.getLong(1), 0.0, false)
        else (r.getString(0), r.getLong(1), r.getDouble(2), true)
      }.toSet
    val got = autocorrBatchRows.toSet
    assert(got == want && got.nonEmpty)
  }

  test("autocorr: O(1) streaming fold == batch, single and split feeds") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val one = runAutocorrBatches(AutocorrTracker.autocorrStream,
      "ac_out", Seq(data.toSeq), delay = "0 seconds")
    assert(one.toSet == autocorrBatchRows.toSet && one.nonEmpty)
    // in-order split across triggers stays exact: the open minute
    // carries across the trigger boundary
    val (h1, h2) = data.splitAt(data.length / 2)
    val two = runAutocorrBatches(AutocorrTracker.autocorrStream,
      "ac_out2", Seq(h1.toSeq, h2.toSeq), delay = "2 hours")
    assert(two.toSet == autocorrBatchRows.toSet)
  }

  private def runGapsBatches(
      entry: org.apache.spark.sql.Dataset[GapsTracker.GEv] =>
        org.apache.spark.sql.Dataset[GapsTracker.GapRow],
      name: String, batches: Seq[Seq[Ev]], delay: String = "2 hours"
  ): Seq[(Long, String, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = entry(stream.toDF().withWatermark("ts", delay)
        .select("ts", "event_id", "user_id", "event_type")
        .as[GapsTracker.GEv])
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    val maxTs = batches.flatten.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + 15L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 16L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
  }

  /** Aggregate gap increment rows into the evGaps output shape. */
  private def gapsHist(rows: Seq[(Long, String, Long, Long)])
      : Set[(String, Long, Long, Long, Long)] = {
    val byType = rows.groupBy(_._2)
    byType.flatMap { case (tpe, rs) =>
      val nGaps = rs.size.toLong
      val mean = rs.map(_._4).sum / nGaps
      rs.groupBy(_._3).map { case (bucket, bs) =>
        (tpe, bucket, bs.size.toLong, nGaps, mean)
      }
    }.toSet
  }

  test("gaps: batch increments aggregate to the oracle-checked SQL histogram") {
    import spark.implicits._
    val got = gapsHist(GapsTracker.gapsBatch(
      eventsBatch.select("ts", "event_id", "user_id", "event_type")
        .as[GapsTracker.GEv]).collect()
      .map(r => (r.user_id, r.event_type, r.bucket, r.gap_us)).toSeq)
    val want = graft.ops.Sessionize.evGaps(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("gaps: streaming increments == batch on ordered input") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val stream = runGapsBatches(GapsTracker.gapsStream, "gap_out",
      Seq(data.toSeq), delay = "0 seconds")
    val batch = GapsTracker.gapsBatch(
      eventsBatch.select("ts", "event_id", "user_id", "event_type")
        .as[GapsTracker.GEv]).collect()
      .map(r => (r.user_id, r.event_type, r.bucket, r.gap_us))
    assert(gapsHist(stream) == gapsHist(batch.toSeq) && stream.nonEmpty)
    val exact = runGapsBatches(GapsTracker.gapsStreamExact, "gap_out_ex",
      Seq(data.toSeq), delay = "0 seconds")
    assert(gapsHist(exact) == gapsHist(batch.toSeq))
  }

  test("gaps: cross-trigger late event dropped in O(1), recovered buffered-exact") {
    def t(s: String) = Timestamp.valueOf(s)
    // trigger 1: user 7 'view' at :00 and :10 (one 10 s gap); trigger 2
    // delivers :04 late (in-watermark) — it would SPLIT the gap into 4+6 s
    val batches = Seq(
      Seq(Ev(1L, t("2024-06-10 10:00:00"), 7L, "view", 0.0),
        Ev(3L, t("2024-06-10 10:00:10"), 7L, "view", 0.0)),
      Seq(Ev(2L, t("2024-06-10 10:00:04"), 7L, "view", 0.0)))
    val approx = runGapsBatches(GapsTracker.gapsStream, "gap_div_a",
      batches, delay = "1 hour")
    val exact = runGapsBatches(GapsTracker.gapsStreamExact, "gap_div_b",
      batches, delay = "1 hour")
    // O(1): the late :04 sorts before the carried :10 — dropped; the
    // emitted spectrum keeps the single 10 s gap (bucket 23)
    assert(approx == Seq((7L, "view", 23L, 10000000L)))
    // buffered-exact recovers both sub-gaps: 4 s (bucket 21) + 6 s (22)
    assert(exact.toSet == Set((7L, "view", 21L, 4000000L),
      (7L, "view", 22L, 6000000L)))
  }

  test("streaks: cross-trigger late DAY dropped in O(1), recovered buffered-exact") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // trigger 1: days 10 and 12 (two islands); trigger 2 delivers day 11
    // late — it would SPLICE the islands into one 3-day run
    val batches = Seq(
      Seq(Ev(1L, t("2024-06-10 09:00:00"), 7L, "view", 0.0),
        Ev(2L, t("2024-06-12 09:00:00"), 7L, "view", 0.0)),
      Seq(Ev(3L, t("2024-06-11 09:00:00"), 7L, "view", 0.0)))
    val approx = runStreaksBatches(StreaksTracker.streaksStream,
      "stk_div_a", batches, delay = "3 days")
    val exact = runStreaksBatches(StreaksTracker.streaksStreamExact,
      "stk_div_b", batches, delay = "3 days")
    // O(1): day 11 dropped — final rollup stays 2 islands of length 1
    assert(approx.last == ((7L, 2L, 2L, 1L)))
    // buffered-exact recovers the spliced 3-day streak == batch
    assert(exact.toSet == Set((7L, 3L, 1L, 3L)))
    val batch = StreaksTracker.streaksBatch(batches.flatten.toDF()
      .select("ts", "user_id").as[StreaksTracker.SEv]).collect()
      .map(r => (r.user_id, r.active_days, r.n_streaks, r.max_streak))
    assert(exact.toSet == batch.toSet)
  }

  private def runRateBatches(
      entry: org.apache.spark.sql.Dataset[RateTracker.REv] =>
        org.apache.spark.sql.Dataset[RateTracker.RateRow],
      name: String, batches: Seq[Seq[Ev]], delay: String = "2 hours"
  ): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = entry(stream.toDF().withWatermark("ts", delay)
        .select("ts", "event_id", "user_id")
        .as[RateTracker.REv])
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    val maxTs = batches.flatten.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + 8L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 9L * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  private def runEwmaBatches(
      entry: org.apache.spark.sql.Dataset[EwmaTracker.EEv] =>
        org.apache.spark.sql.Dataset[EwmaTracker.EwmaRow],
      name: String, batches: Seq[Seq[Ev]], delay: String = "2 hours"
  ): Seq[(String, Timestamp, Long, Double)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = entry(stream.toDF().withWatermark("ts", delay)
        .select("ts", "event_type")
        .as[EwmaTracker.EEv])
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    val maxTs = batches.flatten.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + 15L * 24 * 3600 * 1000), -1L, "zzz", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 16L * 24 * 3600 * 1000), -1L, "zzz", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(col("event_type") =!= "zzz").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3))).toSeq
  }

  private def runDecayBatches(
      entry: org.apache.spark.sql.Dataset[DecayTracker.DEv] =>
        org.apache.spark.sql.Dataset[DecayTracker.DecayRow],
      name: String, batches: Seq[Seq[Ev]], delay: String = "2 hours",
      sentinelDays: Long = 15L
  ): Seq[(Long, Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = entry(stream.toDF().withWatermark("ts", delay)
        .select("ts", "user_id")
        .as[DecayTracker.DEv])
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    val maxTs = batches.flatten.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + sentinelDays * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + (sentinelDays + 1) * 24 * 3600 * 1000), -1L, "x", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(col("user_id") =!= -1L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
  }

  test("decay: finalize(batch fold) == the oracle-checked evDecay table EXACTLY") {
    import spark.implicits._
    val got = DecayTracker.decayFinalize(
      DecayTracker.decayBatch(
        eventsBatch.select("ts", "user_id").as[DecayTracker.DEv]).toDF())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val want = graft.ops.Sessionize.evDecay(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // dyadic terms + identical clamp: bit-for-bit, doubles included
    assert(got.toSeq == want && got.nonEmpty)
  }

  test("decay: streaming state rows == batch fold on ordered input") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val stream = runDecayBatches(DecayTracker.decayStream, "decay_out",
      Seq(data.toSeq), delay = "0 seconds")
    val batch = DecayTracker.decayBatch(
      eventsBatch.select("ts", "user_id").as[DecayTracker.DEv])
      .collect().map(r => (r.user_id, r.last_day, r.mask, r.n_old))
    assert(stream.sortBy(_._1) == batch.toSeq.sortBy(_._1) && stream.nonEmpty)
  }

  test("decay: a late day beyond the 63-day window drops from n_days only — its score term was clamped to 0 anyway") {
    def t(s: String) = Timestamp.valueOf(s)
    import spark.implicits._
    // trigger 1: user 1 active at day ~2024-06-10; trigger 2 delivers an
    // event 90 days EARLIER — outside the carried window, dropped by the
    // O(1) state. The batch op counts that day (n_days 2) but its score
    // term is clamped (90 >= 63), so the scores agree exactly.
    val batches = Seq(
      Seq(Ev(1L, t("2024-06-10 09:00:00"), 1L, "A", 0.0)),
      Seq(Ev(2L, t("2024-03-12 09:00:00"), 1L, "A", 0.0)))
    // delay 120 days admits the 90-day-late event (the TRACKER must do
    // the dropping, not the watermark); the flush sentinel then has to
    // outrun delay + the 7-day lifetime quiesce
    val stream = runDecayBatches(DecayTracker.decayStream, "decay_div",
      batches, delay = "120 days", sentinelDays = 135L)
    assert(stream.length == 1)
    val fin = DecayTracker.decayFinalize(
      stream.toDF("user_id", "last_day", "mask", "n_old"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batchWant = graft.ops.Sessionize.evDecay(
      batches.flatten.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fin.head._1 == 1L && fin.head._2 == 1L) // dropped from n_days
    assert(batchWant.head._2 == 2L)                // batch counts it
    assert(fin.head._3 == batchWant.head._3)       // scores identical
    assert(fin.head._3 == 1.0)
  }

  test("decay: re-activation after the lifetime quiesce emits a second state row (documented horizon)") {
    def t(s: String) = Timestamp.valueOf(s)
    // user 1 active day 0; two sentinels walk the watermark past the
    // 7-day lifetime quiesce so the state flushes and is reclaimed;
    // user 1 re-activates on day 20 -> a FRESH state, a SECOND row
    val batches = Seq(
      Seq(Ev(1L, t("2024-06-01 09:00:00"), 1L, "A", 0.0)),
      Seq(Ev(-3L, t("2024-06-11 09:00:00"), -1L, "x", 0.0)),
      Seq(Ev(-4L, t("2024-06-12 09:00:00"), -1L, "x", 0.0)),
      Seq(Ev(2L, t("2024-06-21 09:00:00"), 1L, "A", 0.0)))
    val rows = runDecayBatches(DecayTracker.decayStream, "decay_horizon",
      batches, delay = "0 seconds")
    assert(rows.count(_._1 == 1L) == 2,
      s"expected the documented two-rows-per-reactivated-user horizon: $rows")
  }

  test("ewma: batch fold == the oracle-checked evEwma table EXACTLY") {
    import spark.implicits._
    val got = EwmaTracker.ewmaBatch(
      eventsBatch.select("ts", "event_type").as[EwmaTracker.EEv])
      .collect().map(r => (r.event_type, r.day, r.n, r.ewma))
      .sortBy(x => (x._1, x._2.getTime))
    val want = graft.ops.Sessionize.evEwma(spark, sf).collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // dyadic alpha: the incremental multiply-add must equal the batch
    // closed form bit-for-bit, including the doubles
    assert(got.toSeq == want && got.nonEmpty)
  }

  test("ewma: streaming day rollover == batch on ordered input") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val stream = runEwmaBatches(EwmaTracker.ewmaStream, "ewma_out",
      Seq(data.toSeq), delay = "0 seconds")
    val batch = EwmaTracker.ewmaBatch(
      eventsBatch.select("ts", "event_type").as[EwmaTracker.EEv])
      .collect().map(r => (r.event_type, r.day, r.n, r.ewma))
    assert(stream.sortBy(x => (x._1, x._2.getTime)) ==
      batch.toSeq.sortBy(x => (x._1, x._2.getTime)) && stream.nonEmpty)
    val exact = runEwmaBatches(EwmaTracker.ewmaStreamExact, "ewma_out_ex",
      Seq(data.toSeq), delay = "0 seconds")
    assert(exact.sortBy(x => (x._1, x._2.getTime)) ==
      batch.toSeq.sortBy(x => (x._1, x._2.getTime)))
  }

  test("ewma: late day dropped in O(1) after rollover, recovered buffered-exact") {
    def t(s: String) = Timestamp.valueOf(s)
    // trigger 1: days 10 and 12 (day 10 completes at the rollover);
    // trigger 2 delivers a day-11 event late — O(1) cannot reopen the
    // already-emitted sequence; buffered-exact refolds 10, 11, 12
    val batches = Seq(
      Seq(Ev(1L, t("2024-06-10 09:00:00"), 1L, "A", 0.0),
        Ev(2L, t("2024-06-12 09:00:00"), 1L, "A", 0.0)),
      Seq(Ev(3L, t("2024-06-11 09:00:00"), 1L, "A", 0.0)))
    val approx = runEwmaBatches(EwmaTracker.ewmaStream, "ewma_div_a",
      batches, delay = "3 days")
    val exact = runEwmaBatches(EwmaTracker.ewmaStreamExact, "ewma_div_b",
      batches, delay = "3 days")
    def d(s: String) = Timestamp.valueOf(s)
    // O(1): day 11 dropped -> 10 (ewma 1.0) then 12 (0.5+0.5 = 1.0)
    assert(approx.sortBy(_._2.getTime) == Seq(
      ("A", d("2024-06-10 00:00:00"), 1L, 1.0),
      ("A", d("2024-06-12 00:00:00"), 1L, 1.0)))
    // buffered-exact: 10 (1.0), 11 (1.0), 12 (1.0) — all three days
    assert(exact.sortBy(_._2.getTime).map(_._2.getTime).length == 3)
  }

  test("rate: batch gap rows aggregate to the evBots table hash-exactly") {
    import spark.implicits._
    val gapRows = RateTracker.rateBatch(
      eventsBatch.select("ts", "event_id", "user_id")
        .as[RateTracker.REv]).toDF()
    val got = graft.ops.Sessionize.botsFromGaps(gapRows).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toSeq
    val want = graft.ops.Sessionize.evBots(eventsBatch).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4))).toSeq
    // EXACT equality including the decimal-sum cv doubles: the streaming
    // preimage and the batch LAG window produce the same gap multiset
    assert(got == want && got.nonEmpty)
  }

  test("rate: streaming increments == batch on ordered input") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val stream = runRateBatches(RateTracker.rateStream, "rate_out",
      Seq(data.toSeq), delay = "0 seconds")
    val batch = RateTracker.rateBatch(
      eventsBatch.select("ts", "event_id", "user_id")
        .as[RateTracker.REv]).collect().map(r => (r.user_id, r.gap))
    assert(stream.sorted == batch.toSeq.sorted && stream.nonEmpty)
    val exact = runRateBatches(RateTracker.rateStreamExact, "rate_out_ex",
      Seq(data.toSeq), delay = "0 seconds")
    assert(exact.sorted == batch.toSeq.sorted)
  }

  test("rate: cross-trigger late event dropped in O(1), recovered buffered-exact") {
    def t(s: String) = Timestamp.valueOf(s)
    // trigger 1: user 7 at :00 and :10 (one 10 s gap); trigger 2 delivers
    // :04 late (in-watermark) — it would SPLIT the gap into 4 s + 6 s
    val batches = Seq(
      Seq(Ev(1L, t("2024-06-10 10:00:00"), 7L, "view", 0.0),
        Ev(3L, t("2024-06-10 10:00:10"), 7L, "view", 0.0)),
      Seq(Ev(2L, t("2024-06-10 10:00:04"), 7L, "view", 0.0)))
    val approx = runRateBatches(RateTracker.rateStream, "rate_div_a",
      batches, delay = "1 hour")
    val exact = runRateBatches(RateTracker.rateStreamExact, "rate_div_b",
      batches, delay = "1 hour")
    // O(1): the late :04 sorts before the carried :10 — dropped
    assert(approx == Seq((7L, 10000000L)))
    // buffered-exact recovers both sub-gaps
    assert(exact.toSet == Set((7L, 4000000L), (7L, 6000000L)))
  }

  test("rate, funnel, attribution: a user quiet past the session gap keeps " +
      "their state — stream == buffered-exact == batch on a split feed") {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // user 8's 12:00 view moves the watermark (10 min delay) more than
    // 30 min past user 7's newest event; user 7's purchase in trigger 3
    // must still fold onto the state trigger 1 built
    val batches = Seq(
      Seq(Ev(1L, t("2024-06-10 10:00:00"), 7L, "view", 0.0),
        Ev(2L, t("2024-06-10 10:00:10"), 7L, "click", 0.0),
        Ev(3L, t("2024-06-10 10:00:00"), 8L, "view", 0.0)),
      Seq(Ev(4L, t("2024-06-10 12:00:00"), 8L, "view", 0.0)),
      Seq(Ev(5L, t("2024-06-10 12:05:00"), 7L, "purchase", 1.0),
        Ev(6L, t("2024-06-10 12:06:00"), 8L, "view", 0.0)))
    val all = batches.flatten.toDF()
    val delay = "10 minutes"

    val rate = Seq(RateTracker.rateStream _, RateTracker.rateStreamExact _)
      .zipWithIndex.map { case (entry, i) =>
        runRateBatches(entry, s"split_rate_$i", batches, delay)
          .filter(_._1 == 7L).map(_._2).sorted
      }
    val rateBatch = RateTracker.rateBatch(
      all.select("ts", "event_id", "user_id").as[RateTracker.REv]).collect()
      .filter(_.user_id == 7L).map(_.gap).toSeq.sorted
    assert(rateBatch == Seq(10000000L, 7490000000L))

    val funnel = Seq(FunnelTracker.funnelStream _,
        FunnelTracker.funnelStreamExact _).zipWithIndex.map {
      case (entry, i) =>
        runFunnelBatches(entry, s"split_funnel_$i", batches, delay).get(7L)
    }
    val funnelBatch = funnelBatchRows(all).get(7L)
    assert(funnelBatch.map(_._4).contains(3))

    val attr = Seq(AttributionTracker.attributionStream _,
        AttributionTracker.attributionStreamExact _).zipWithIndex.map {
      case (entry, i) =>
        runAttrBatches(entry, s"split_attr_$i", batches, delay).get(5L)
    }
    val attrBatch = attrBatchRows(all).get(5L)
    assert(attrBatch.contains((7L, "click", Some(2L),
      Some(t("2024-06-10 10:00:10")))))
    // (stream, buffered-exact) per tracker, each equal to batch
    assert((rate, funnel, attr) == ((Seq(rateBatch, rateBatch),
      Seq(funnelBatch, funnelBatch), Seq(attrBatch, attrBatch))))
  }

  private def runTopkBatches(name: String, batches: Seq[Seq[Ev]],
      k: Int, delay: String = "0 seconds"): Seq[(String, Long, Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val q = TopKTracker.topkStream(stream.toDF().withWatermark("ts", delay)
        .select("ts", "event_id", "user_id", "event_type")
        .as[TopKTracker.KEv], k)
      .writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    for (b <- batches) { stream.addData(b); q.processAllAvailable() }
    val maxTs = batches.flatten.map(_.ts.getTime).max
    stream.addData(Ev(-1L, new Timestamp(maxTs + 15L * 24 * 3600 * 1000), -1L, "zz", 0.0))
    q.processAllAvailable()
    stream.addData(Ev(-2L, new Timestamp(maxTs + 16L * 24 * 3600 * 1000), -1L, "zz", 0.0))
    q.processAllAvailable()
    q.stop()
    spark.table(name).filter(col("event_type") =!= "zz").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
  }

  test("survival over STREAMED sessions == the batch hazard table") {
    import spark.implicits._
    // sessions computed by the streaming session_window path, durations
    // fed to the batch Nelson-Aalen operator — the composed pipeline a
    // real deployment runs (online sessionizer, offline survival)
    val streamed = runStreaming(Streams.sessionWindowAgg, "surv_sess_out",
      col("user_id") =!= -1L)
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
    assert(streamed.nonEmpty)
    // session_window rows carry (start, user, count) — recompute spans
    // from the batch sessionizer instead (same sessions, spec'd above)
    val subj = graft.ops.Sessionize.evSessionize(eventsBatch, 30L * 60 * 1000000)
      .selectExpr(
        "(unix_micros(sess_end) - unix_micros(sess_start)) div 60000000 AS t",
        "false AS censored")
    val viaBatch = graft.ops.Sessionize.evSurvival(subj).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    val oracleForm = graft.ops.Sessionize.evSurvival(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(viaBatch.toSeq == oracleForm.toSeq)
    // streamed session COUNT matches the subject total the hazard uses
    assert(streamed.length.toLong == viaBatch.head._2)
  }

  test("topk fold: space-saving capacity, eviction order, overestimate bars") {
    val z = TopKTracker.KState(Nil, Nil, Nil, 0L, 0L)
    // k=2: a a b c — c must evict b (the (count,id)-minimal counter)
    val st = TopKTracker.foldSS(z, Seq(10L, 10L, 20L, 30L), k = 2)
    assert(st.ids == Seq(10L, 30L) && st.counts == Seq(2L, 2L) &&
      st.errs == Seq(0L, 1L) && st.n == 4L)
    // count ties evict the smaller id: d at n=5 must replace 10, not 30
    val st2 = TopKTracker.foldSS(st, Seq(40L), k = 2)
    assert(st2.ids.contains(40L) && !st2.ids.contains(10L))
    // overestimate bars: est - err <= true <= est for the planted stream
    assert(st.counts.zip(st.errs).forall { case (c, e) => c - e >= 1 })
  }

  test("topk: batch summary carries every true heavy hitter within bars") {
    import spark.implicits._
    val k = 8
    // plant a true heavy hitter: every user_id % 5 == 0 event collapses
    // onto user 999 (~20 % of each type's stream — far above n/k)
    val planted = eventsBatch.withColumn("user_id",
      expr("CASE WHEN user_id % 5 = 0 THEN 999L ELSE user_id END"))
    val evs = planted.select("ts", "event_id", "user_id", "event_type")
      .as[TopKTracker.KEv]
    val got = TopKTracker.topkBatch(evs, k).collect()
      .map(r => (r.event_type, r.user_id, r.est, r.err, r.n))
    assert(got.nonEmpty)
    val truth = planted.groupBy("event_type", "user_id").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // (a) est bars hold for every summary row
    got.foreach { case (t, u, est, err, _) =>
      val tru = truth.getOrElse((t, u), 0L)
      assert(est - err <= tru && tru <= est, s"bars broken for ($t,$u)")
    }
    // (b) every id with true count > n/k is present (no false dismissal)
    val byType = got.groupBy(_._1)
    byType.foreach { case (t, rows) =>
      val n = rows.head._5
      val present = rows.map(_._2).toSet
      truth.collect { case ((`t`, u), c) if c > n / k => u }
        .foreach(u => assert(present(u), s"heavy hitter ($t,$u) dismissed"))
      assert(rows.length <= k)
    }
  }

  test("topk: ordered streaming == batch fold, emitted at quiesce") {
    import spark.implicits._
    val data = eventsBatch.as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val stream = runTopkBatches("topk_out", Seq(data.toSeq), k = 8)
    val batch = TopKTracker.topkBatch(
      eventsBatch.select("ts", "event_id", "user_id", "event_type")
        .as[TopKTracker.KEv], 8).collect()
      .map(r => (r.event_type, r.user_id, r.est, r.err, r.n)).toSeq
    assert(stream.sorted == batch.sorted && stream.nonEmpty)
  }

  test("sequential: tracker == evSequential SQL row-for-row") {
    import spark.implicits._
    // 40 users x 6 days, deterministic non-trivial values — both arms
    // populated by the md5 rule at this user count
    val evs = (for { u <- 0L until 40L; d <- 0 until 6 } yield Ev(
      u * 100 + d,
      new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        d * 86400000L + (u % 24) * 3600000L),
      u, "purchase", 3.25 + ((u * 13 + d * 7) % 11) * 0.37)).toDF()
    val viaSql = graft.ops.Sessionize.evSequential(evs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8)))
    val viaTracker = SequentialTracker.sequentialBatch(
        evs.select("ts", "user_id", "value")
          .as[SequentialTracker.SqEv]).collect()
      .map(r => (r.day, r.na, r.nb, r.mean_a.get, r.mean_b.get,
        r.diff.get, r.lambda, r.p_now, r.p_always_valid))
    assert(viaTracker.sortBy(_._1).toSeq == viaSql.sortBy(_._1).toSeq &&
      viaSql.nonEmpty)
  }

  test("sequential: streaming == batch; late in-watermark event lands first") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(u: Long, d: Int, h: Int, v: Double) = SequentialTracker.SqEv(
      new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        d * 86400000L + h * 3600000L), u, v)
    // trigger 1: days 0-2 for 20 users; trigger 2 delivers a LATE day-2
    // whale (inside the 3h watermark) plus day 3 — day 2's scored row
    // must include the whale because the watermark held day 2 open
    val b1 = for { u <- 0L until 20L; d <- 0 until 3 }
      yield ev(u, d, 10, 5.0 + (u % 7) * 0.5)
    val b2 = Seq(ev(3L, 2, 22, 50.0)) ++
      (0L until 20L).map(u => ev(u, 3, 10, 5.0 + (u % 7) * 0.5))
    val stream = MemoryStream[SequentialTracker.SqEv]
    val q = SequentialTracker.sequentialStream(
        stream.toDF().withWatermark("ts", "3 hours")
          .as[SequentialTracker.SqEv])
      .writeStream.outputMode("append")
      .format("memory").queryName("seq_out").start()
    for (b <- Seq(b1, b2)) { stream.addData(b); q.processAllAvailable() }
    // ONE sentinel far-future event advances the watermark past every
    // real day; its own day stays in flight and never emits (a second,
    // later sentinel would close the first's day and emit its polluted
    // row — the single-key fold has no type column to filter on)
    val maxTs = (b1 ++ b2).map(_.ts.getTime).max
    stream.addData(ev(999L, 0, 0, 0.0).copy(
      ts = new Timestamp(maxTs + 9L * 86400000L)))
    q.processAllAvailable()
    val got = spark.table("seq_out").as[SequentialTracker.SequentialRow]
      .collect().map(r => (r.day, r.na, r.nb, r.lambda, r.p_always_valid))
    val batch = SequentialTracker.sequentialBatch((b1 ++ b2).toDS())
      .collect().map(r => (r.day, r.na, r.nb, r.lambda, r.p_always_valid))
    assert(got.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq &&
      got.length == 4, got.toSeq)
  }

  test("holt: tracker last row per type == evHolt SQL") {
    import spark.implicits._
    val evs = eventsBatch
    val viaSql = graft.ops.Sessionize.evHolt(evs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    val viaTracker = HoltTracker.holtBatch(
        evs.select("ts", "event_type").as[HoltTracker.HEv]).collect()
      .groupBy(_.event_type).map { case (t, rows) =>
        val last = rows.maxBy(_.day)
        (t, last.n_days, last.level, last.trend, last.forecast, last.mae)
      }.toSeq.filter(_._2 >= 2)
    assert(viaTracker.sortBy(_._1) == viaSql.sortBy(_._1) &&
      viaSql.nonEmpty)
  }

  test("holt: streaming == batch; late in-watermark event lands in its day") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(t: String, d: Int, h: Int) = HoltTracker.HEv(
      new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        d * 86400000L + h * 3600000L), t)
    // trigger 1: days 0-2 for two types; trigger 2 delivers a LATE
    // day-2 'a' event (inside the 3h watermark) plus day 3 — day 2's
    // folded count must include it because the watermark held day 2
    val b1 = (for { d <- 0 until 3; i <- 0 until (3 + d) }
        yield ev("a", d, 8 + (i % 4))) ++
      (for { d <- 0 until 3; _ <- 0 until 2 } yield ev("b", d, 9))
    val b2 = Seq(ev("a", 2, 22)) ++
      (0 until 5).map(_ => ev("a", 3, 10)) ++ Seq(ev("b", 3, 11))
    val stream = MemoryStream[HoltTracker.HEv]
    val q = HoltTracker.holtStream(
        stream.toDF().withWatermark("ts", "3 hours")
          .as[HoltTracker.HEv])
      .writeStream.outputMode("append")
      .format("memory").queryName("holt_out").start()
    for (b <- Seq(b1, b2)) { stream.addData(b); q.processAllAvailable() }
    // sentinel on its own key: advances the watermark past every real
    // day; its own in-flight day never emits
    val maxTs = (b1 ++ b2).map(_.ts.getTime).max
    stream.addData(HoltTracker.HEv(
      new Timestamp(maxTs + 9L * 86400000L), "zz"))
    q.processAllAvailable()
    val got = spark.table("holt_out").as[HoltTracker.HoltRow].collect()
      .map(r => (r.event_type, r.day, r.n, r.n_days, r.level, r.trend,
        r.forecast, r.mae)).toSeq
    val batch = HoltTracker.holtBatch((b1 ++ b2).toDS()).collect()
      .map(r => (r.event_type, r.day, r.n, r.n_days, r.level, r.trend,
        r.forecast, r.mae)).toSeq
    assert(got.sorted == batch.sorted && got.length == 8, got.toString)
    // the late day-2 event is in day 2's count: 5 + 1
    assert(got.find(r => r._1 == "a" && r._2 ==
      Timestamp.valueOf("2024-03-03 00:00:00").getTime / 86400000L)
      .exists(_._3 == 6L))
  }

  test("page cusum: tracker fed the batch means == evCusum SQL rows") {
    import spark.implicits._
    val evs = eventsBatch
    val viaSql = graft.ops.Sessionize.evCusum(evs).collect()
      .map(r => ((r.getString(0), r.getTimestamp(1).getTime / 86400000L),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toSeq
    // the batch op's per-type baseline, recomputed exactly (split-floor
    // integer micro mean of the daily counts)
    val daily = viaSql.groupBy(_._1._1)
      .map { case (t, rows) => t -> rows.map(_._2._1) }
    val means = daily.map { case (t, ns) =>
      val s = ns.sum; val c = ns.size.toLong
      t -> ((s / c) * 1000000L + ((s % c) * 1000000L) / c)
    }
    val viaTracker = PageTracker.pageBatch(
        evs.select("ts", "event_type").as[PageTracker.PgEv], means)
      .collect()
      .map(r => ((r.event_type, r.day),
        (r.n, r.dev_micro, r.cusum_micro, r.alarm))).toSeq
    assert(viaTracker.sorted == viaSql.sorted && viaSql.nonEmpty,
      s"tracker != SQL (${viaTracker.length} vs ${viaSql.length} rows)")
  }

  test("page cusum: streaming == batch; a planted sustained shift alarms and " +
      "a flat type never does; recursion == prefix-min identity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(t: String, d: Int, i: Int) = PageTracker.PgEv(
      new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        d * 86400000L + (8 + i % 12) * 3600000L), t)
    // 'flat': 4/day for 12 days; 'drift': 4/day for 8 days then a
    // sustained 8/day for 4 days — no single day is a spike relative
    // to the fitted 4/day baseline x2 bar, but the CUSUM walks over it
    val flat = for { d <- 0 until 12; i <- 0 until 4 } yield ev("flat", d, i)
    val drift = (for { d <- 0 until 8; i <- 0 until 4 }
        yield ev("drift", d, i)) ++
      (for { d <- 8 until 12; i <- 0 until 8 } yield ev("drift", d, i))
    // chronological delivery: an unsorted concat would let flat's late
    // days advance the watermark past drift's unsent middle days
    val all = (flat ++ drift).sortBy(_.ts.getTime)
    val means = Map("flat" -> 4000000L, "drift" -> 4000000L,
      "zz" -> 1000000L)
    val stream = MemoryStream[PageTracker.PgEv]
    val q = PageTracker.pageStream(
        stream.toDF().withWatermark("ts", "3 hours")
          .as[PageTracker.PgEv], means)
      .writeStream.outputMode("append")
      .format("memory").queryName("pagecusum_out").start()
    // two triggers then a sentinel that closes every real day
    val (b1, b2) = all.splitAt(all.length / 2)
    for (b <- Seq(b1, b2)) { stream.addData(b); q.processAllAvailable() }
    val maxTs = all.map(_.ts.getTime).max
    stream.addData(PageTracker.PgEv(
      new Timestamp(maxTs + 9L * 86400000L), "zz"))
    q.processAllAvailable()
    val got = spark.table("pagecusum_out").as[PageTracker.PageRow].collect()
      .map(r => (r.event_type, r.day, r.n, r.dev_micro, r.cusum_micro,
        r.alarm)).toSeq
    val batch = PageTracker.pageBatch(all.toDS(), means).collect()
      .map(r => (r.event_type, r.day, r.n, r.dev_micro, r.cusum_micro,
        r.alarm)).toSeq
    assert(got.sorted == batch.sorted && got.length == 24, got.toString)
    // detection contract: the flat type NEVER alarms; the drifting type
    // alarms inside the shift window and only there
    assert(got.filter(_._1 == "flat").forall(!_._6))
    val dAlarms = got.filter(r => r._1 == "drift" && r._6).map(_._2).sorted
    val day0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime / 86400000L
    assert(dAlarms.nonEmpty && dAlarms.forall(_ >= day0 + 8),
      s"alarms outside the planted shift: $dAlarms")
    // the tracker's max(0, S+dev) recursion equals the SQL's two-window
    // prefix-min identity on the same day counts
    val devs = got.filter(_._1 == "drift").sortBy(_._2).map(_._4)
    val ps = devs.scanLeft(0L)(_ + _).tail
    val viaIdentity = ps.zipWithIndex.map { case (p, i) =>
      p - math.min(0L, ps.take(i + 1).min)
    }
    assert(got.filter(_._1 == "drift").sortBy(_._2).map(_._5) ==
      viaIdentity)
  }

  test("mad chart: streaming == batch prequential fold; late in-watermark " +
      "event lands in its day") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(t: String, d: Int, i: Int) = MadTracker.MdEv(
      new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        d * 86400000L + (8 + i % 12) * 3600000L), t)
    // 'shift': 9/day for 2 days then 4/day (the pinned level-shift
    // fixture, minus one event delivered LATE); 'flat': 4/day
    val shift = (for { d <- 0 until 2; i <- 0 until 9 }
        yield ev("shift", d, i)) ++
      (for { d <- 2 until 5; i <- 0 until 4 } yield ev("shift", d, i))
    val flat = for { d <- 0 until 5; i <- 0 until 4 } yield ev("flat", d, i)
    val all = (shift ++ flat).sortBy(_.ts.getTime)
    // hold back one day-3 'shift' event; redeliver it in trigger 2
    // inside the 3h watermark — day 3 must fold WITH it
    val held = ev("shift", 3, 3)
    val eager = all.filterNot(_ == held)
    val (b1, b2) = eager.splitAt(eager.length / 2)
    val stream = MemoryStream[MadTracker.MdEv]
    val q = MadTracker.madStream(
        stream.toDF().withWatermark("ts", "3 hours")
          .as[MadTracker.MdEv])
      .writeStream.outputMode("append")
      .format("memory").queryName("mad_out").start()
    stream.addData(b1); q.processAllAvailable()
    stream.addData(b2 :+ held); q.processAllAvailable()
    val maxTs = all.map(_.ts.getTime).max
    stream.addData(MadTracker.MdEv(
      new Timestamp(maxTs + 9L * 86400000L), "zz"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("mad_out").as[MadTracker.MadRow].collect()
      .map(r => (r.event_type, r.day, r.n, r.med2, r.dev2, r.mad4,
        r.alarm)).toSeq
    val batch = MadTracker.madBatch(all.toDS()).collect()
      .map(r => (r.event_type, r.day, r.n, r.med2, r.dev2, r.mad4,
        r.alarm)).toSeq
    assert(got.sorted == batch.sorted && got.length == 10, got.toString)
    // the held-back event is in day 3's count: 4 (not 3)
    val day0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime / 86400000L
    assert(got.find(r => r._1 == "shift" && r._2 == day0 + 3)
      .exists(_._3 == 4L))
    // the flat type never alarms on either chart
    assert(got.filter(_._1 == "flat").forall(!_._7))
  }

  test("mad chart: a beyond-watermark straggler for an emitted day is " +
      "DROPPED — history stays consistent with the emitted rows") {
    // pins Spark's late-row filter: under EventTimeTimeout,
    // flatMapGroupsWithState drops rows behind the watermark before the
    // state function sees them, and a day emits only once the watermark
    // has passed its end — so no straggler can reach an emitted day
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(t: String, d: Int, i: Int) = MadTracker.MdEv(
      new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        d * 86400000L + (8 + i % 12) * 3600000L), t)
    // counts chosen so the straggler WOULD move the median if folded:
    // days 0,1,2 = 1,2,3 events; day 6 = 4; day 7 = 5. With day 1
    // mutated to 3, hist at day 6 = [1,3,3,4] → med2 = 6 (vs 5).
    val early = (for { (d, n) <- Seq((0, 1), (1, 2), (2, 3)); i <- 0 until n }
      yield ev("m", d, i))
    val later6 = (0 until 4).map(i => ev("m", 6, i))
    val later7 = (0 until 5).map(i => ev("m", 7, i))
    val straggler = ev("m", 1, 11) // day 1 — already emitted by then
    val stream = MemoryStream[MadTracker.MdEv]
    val q = MadTracker.madStream(
        stream.toDF().withWatermark("ts", "3 hours")
          .as[MadTracker.MdEv])
      .writeStream.outputMode("append")
      .format("memory").queryName("mad_late_out").start()
    // trigger 1: days 0-2 plus the day-6 head — watermark reaches
    // day 6 05:00, finalizing days 0-2 (emitted = day 2)
    stream.addData(early ++ later6.take(1)); q.processAllAvailable()
    // trigger 2: the beyond-watermark straggler arrives WITH day 6/7
    // traffic — it is behind the watermark, so Spark drops it
    stream.addData((straggler +: later6.drop(1)) ++ later7)
    q.processAllAvailable()
    // advance the clock far enough to finalize day 7
    stream.addData(MadTracker.MdEv(new Timestamp(
      Timestamp.valueOf("2024-03-21 00:00:00").getTime), "zz"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("mad_late_out").as[MadTracker.MadRow].collect()
      .filter(_.event_type == "m")
      .map(r => (r.day, r.n, r.med2, r.dev2, r.mad4, r.alarm)).toSeq.sorted
    // the chart equals the batch fold over the events WITHOUT the
    // straggler — the straggler left no trace in any later day
    val batch = MadTracker.madBatch(
        (early ++ later6 ++ later7).toDS()).collect()
      .map(r => (r.day, r.n, r.med2, r.dev2, r.mad4, r.alarm)).toSeq.sorted
    assert(got == batch && got.length == 5, got.toString)
    val day0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime / 86400000L
    // day 1 emitted once with n=2 and was never mutated; day 6 scored
    // against the UNmutated history (med2 = 5, not 6)
    assert(got.find(_._1 == day0 + 1).exists(_._2 == 2L))
    assert(got.find(_._1 == day0 + 6).exists(_._3 == 5L))
  }

  test("mad chart: the prequential-vs-retrospective divergence is PINNED — " +
      "a level shift reads opposite ways, and the kernel equals evMad") {
    import spark.implicits._
    // counts [9, 9, 4, 4, 4]: the stream (history-so-far) flags day 2 —
    // the first post-shift day against the 9-baseline; hindsight (the
    // full-window evMad chart) flags days 0-1 — the 9s against the
    // 4-majority. Same data, opposite alarms: THE divergence between an
    // online chart and a batch chart, pinned exactly.
    val hist = Seq((0L, 9L), (1L, 9L), (2L, 4L), (3L, 4L), (4L, 4L))
    def evs(t: String) = hist.flatMap { case (d, n) =>
      (0 until n.toInt).map(i => MadTracker.MdEv(
        new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
          d * 86400000L + (8 + i % 12) * 3600000L), t))
    }
    val day0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime / 86400000L
    val pre = MadTracker.madBatch(evs("m").toDS()).collect()
      .sortBy(_.day)
    assert(pre.map(_.alarm).toSeq ==
      Seq(false, false, true, false, false),
      s"prequential alarms: ${pre.map(r => (r.day - day0, r.alarm)).toSeq}")
    val retro = MadTracker.retrospective("m",
      hist.map { case (d, n) => (day0 + d, n) }).sortBy(_.day)
    assert(retro.map(_.alarm).toSeq ==
      Seq(true, true, false, false, false),
      s"retrospective alarms: ${retro.map(r => (r.day - day0, r.alarm)).toSeq}")
    // the retrospective kernel IS evMad: replaying the SQL op over the
    // same events gives the identical rows (doubled-integer identity)
    val df = evs("m").map(e => (0L, e.ts, 0L, e.event_type, 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val sql = graft.ops.Sessionize.evMad(df).collect()
      .map(r => (r.getTimestamp(1).getTime / 86400000L,
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getBoolean(6)))).sortBy(_._1)
    val viaKernel = retro
      .map(r => (r.day, (r.n, r.med2, r.dev2, r.mad4, r.alarm)))
      .sortBy(_._1)
    assert(sql.toSeq == viaKernel.toSeq,
      "retrospective kernel != evMad SQL rows")
  }

  test("psi: tracker fed the late window against the early-window fit " +
      "== evPsi psi_total") {
    import spark.implicits._
    def ev(d: Int, h: Int, v: Double) = (0L,
      new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        d * 86400000L + h * 3600000L), 1L, "m", v)
    // early (day 0): min 0, max 10 -> vmn = 0, w = 1; late (day 2): the
    // mass shifts up two bins
    val early = Seq(0.0, 10.0, 1.0, 1.2, 2.0, 2.5, 3.0, 3.0, 4.0, 5.0)
      .zipWithIndex.map { case (v, i) => ev(0, i % 12, v) }
    val late = Seq(3.0, 3.5, 4.0, 4.4, 5.0, 5.5, 6.0, 6.2, 7.0, 8.0)
      .zipWithIndex.map { case (v, i) => ev(2, i % 12, v) }
    val all = (early ++ late)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val viaSql = graft.ops.Sessionize.evPsi(all).head().getDouble(4)
    // the reference fit the batch op derives: bin the early values with
    // the same public rule
    val ref = Array.fill(10)(0L)
    Seq(0.0, 10.0, 1.0, 1.2, 2.0, 2.5, 3.0, 3.0, 4.0, 5.0)
      .foreach(v => ref(PsiTracker.bin(v, 0.0, 1.0, 10)) += 1L)
    val lateDs = late.map(e => PsiTracker.PEv(e._2, e._5)).toDS()
    val rows = PsiTracker.psiBatch(lateDs, ref.toIndexedSeq, 0.0, 1.0)
      .collect().sortBy(_.day)
    assert(rows.last.n_live == 10L)
    assert(rows.last.psi == viaSql,
      s"tracker ${rows.last.psi} != batch $viaSql")
  }

  test("psi: streaming == batch; late in-watermark event lands in its day") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def pev(d: Int, h: Int, v: Double) = PsiTracker.PEv(
      new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        d * 86400000L + h * 3600000L), v)
    val ref = Seq(5L, 3L, 2L, 1L, 1L)
    val b1 = (0 until 3).flatMap(d =>
      (0 until 4).map(i => pev(d, 8 + i, (d + i) % 5 * 1.0)))
    val b2 = Seq(pev(2, 22, 4.0)) ++
      (0 until 4).map(i => pev(3, 10, i * 1.0))
    val stream = MemoryStream[PsiTracker.PEv]
    val q = PsiTracker.psiStream(
        stream.toDF().withWatermark("ts", "3 hours")
          .as[PsiTracker.PEv], ref, 0.0, 1.0)
      .writeStream.outputMode("append")
      .format("memory").queryName("psi_out").start()
    for (b <- Seq(b1, b2)) { stream.addData(b); q.processAllAvailable() }
    val maxTs = (b1 ++ b2).map(_.ts.getTime).max
    stream.addData(pev(0, 0, 0.0).copy(
      ts = new Timestamp(maxTs + 9L * 86400000L)))
    q.processAllAvailable()
    val got = spark.table("psi_out").as[PsiTracker.PsiRow].collect()
      .map(r => (r.day, r.n_live, r.psi)).toSeq.sorted
    val batch = PsiTracker.psiBatch((b1 ++ b2).toDS(), ref, 0.0, 1.0)
      .collect().map(r => (r.day, r.n_live, r.psi)).toSeq.sorted
    assert(got == batch && got.length == 4, got.toString)
    // day 2 carries its late event: 4 + 1 on top of days 0-1's 8
    assert(got.find(_._1 == Timestamp.valueOf("2024-03-03 00:00:00")
      .getTime / 86400000L).exists(_._2 == 13L))
  }

  test("psi keyed: multiplexed metrics partition by id and match their " +
      "single-metric runs; a fitless metric fails fast") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def kev(m: String, d: Int, h: Int, v: Double) = PsiTracker.KPEv(m,
      new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        d * 86400000L + h * 3600000L), v)
    // two metrics on DIFFERENT scales, each with its own fit
    val fits = Map(
      "lat" -> PsiTracker.PsiFit(Seq(5L, 3L, 2L, 1L, 1L), 0.0, 1.0),
      "qps" -> PsiTracker.PsiFit(Seq(2L, 6L, 2L), 100.0, 50.0))
    val lat = (0 until 3).flatMap(d =>
      (0 until 4).map(i => kev("lat", d, 8 + i, (d + i) % 5 * 1.0)))
    val qps = (0 until 2).flatMap(d =>
      (0 until 5).map(i => kev("qps", d, 9 + i, 100.0 + (d * i) % 3 * 50.0)))
    val all = scala.util.Random.shuffle(lat ++ qps)
    val stream = MemoryStream[PsiTracker.KPEv]
    val q = PsiTracker.psiStream(
        stream.toDF().withWatermark("ts", "3 hours")
          .as[PsiTracker.KPEv], fits)
      .writeStream.outputMode("append")
      .format("memory").queryName("psi_keyed_out").start()
    stream.addData(all)
    q.processAllAvailable()
    val maxTs = all.map(_.ts.getTime).max
    stream.addData(kev("lat", 0, 0, 0.0).copy(
      ts = new Timestamp(maxTs + 9L * 86400000L)))
    q.processAllAvailable()
    val got = spark.table("psi_keyed_out").as[PsiTracker.KPsiRow].collect()
      .map(r => (r.metric, r.day, r.n_live, r.psi)).toSeq.sorted
    // each metric bit-matches its own single-metric batch fold
    val expect = fits.toSeq.flatMap { case (m, f) =>
      PsiTracker.psiBatch(
        all.filter(_.metric == m).map(e => PsiTracker.PEv(e.ts, e.value))
          .toDS(), f.ref, f.vmn, f.w)
        .collect().map(r => (m, r.day, r.n_live, r.psi))
    }.sorted
    assert(got == expect, s"keyed stream != per-metric batch:\n$got\n$expect")
    assert(got.map(_._1).distinct.sorted == Seq("lat", "qps"))
    // keyed batch matches too
    val kb = PsiTracker.psiBatch(all.toDS(), fits).collect()
      .map(r => (r.metric, r.day, r.n_live, r.psi)).toSeq.sorted
    assert(kb == expect)
    // unknown metric id: named failure, not a wrong-baseline fold
    val err = intercept[Exception] {
      PsiTracker.psiBatch(Seq(kev("mem", 0, 1, 1.0)).toDS(), fits).collect()
    }
    assert(err.getMessage != null)
  }

  test("url dedup fold: keeps the (ts, fetch_id)-minimal record under any " +
      "delivery order") {
    import UrlDedupTracker._
    def e(ts: Long, id: Long) = UEv(new Timestamp(ts), id, "u")
    val evs = Seq(e(3000, 5L), e(1000, 9L), e(1000, 2L), e(2000, 1L))
    val z = UState(0L, 0L, 0L, 0L)
    // any split of the sequence into trigger chunks converges identically
    val whole = fold(z, evs)
    val split = fold(fold(z, evs.take(1)), evs.drop(1))
    val rev = fold(z, evs.reverse)
    assert(whole == split && whole == rev)
    assert(whole.minId == 2L && whole.minTsUs == 1000000L && whole.n == 4L)
  }

  test("url dedup: streamed canonical keep-first == batch == ddUrlOn") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // two logical pages fetched messily; ts monotone in fetch_id so the
    // stream keeper must equal ddUrlOn's MIN(id)
    val raw = Seq(
      (1L, "https://www.ex.com/a/b?x=1"),
      (2L, "HTTP://EX.COM:80/a/b/?x=1&utm_source=z#f"),
      (3L, "https://ex.com/c?y=2"),
      (4L, "https://ex.com/a//b?x=1"),
      (5L, "http://www.ex.com/c/?y=2&gclid=g"))
    val fetches = raw.map { case (id, u) =>
      (new Timestamp(1000L * id), id, u)
    }.toDF("ts", "fetch_id", "url")
    val canon = UrlDedupTracker.canonicalize(fetches)
    val batch = UrlDedupTracker.urlBatch(canon).collect()
      .map(r => (r.url, r.keep_id, r.n_dups)).sortBy(_._2)
    val viaOp = graft.ops.Dedup.ddUrlOn(
        fetches.selectExpr("fetch_id AS id", "url")).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2))).sortBy(_._2)
    assert(batch.toSeq == viaOp.toSeq)
    val stream = MemoryStream[UrlDedupTracker.UEv]
    // 1h watermark: trigger 2 delivers records EARLIER than trigger 1's
    // max event time — they are in-watermark late data the fold must
    // absorb (0s would legitimately drop them)
    val q = UrlDedupTracker.urlStream(
        stream.toDF().withWatermark("ts", "1 hour")
          .as[UrlDedupTracker.UEv])
      .writeStream.outputMode("append")
      .format("memory").queryName("url_out").start()
    // deliver out of arrival order across two triggers — the min-fold
    // must still converge to the batch summary
    val evs = canon.collect().toSeq.sortBy(e => -e.fetch_id)
    for (b <- evs.grouped(3)) { stream.addData(b); q.processAllAvailable() }
    stream.addData(UrlDedupTracker.UEv(
      new Timestamp(5000L + 15L * 24 * 3600 * 1000), -1L, "zz"))
    q.processAllAvailable()
    stream.addData(UrlDedupTracker.UEv(
      new Timestamp(5000L + 16L * 24 * 3600 * 1000), -2L, "zz"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("url_out").filter(col("url") =!= "zz")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      .sortBy(_._2)
    assert(streamed.toSeq == batch.map(t => (t._1, t._2, t._3)).toSeq)
  }

  test("MinhashTracker: band keys bit-identical to the batch chain; stream == batch candidates across trigger decompositions; cap bounds a blown bucket") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus: 24 diverse docs + an 80%-prefix twin for every 4th (the
    // batch oracle's planting recipe) + 6 copies of one boilerplate
    // (they alias into ONE bucket per band — the blown-bucket class)
    def text(i: Long): String =
      (0 until 12).map(j => s"w${(i * 7 + j * 3) % 997}x$j").mkString(" ")
    val base = (0L until 24L).map(i => (i, text(i)))
    val twins = base.filter(_._1 % 4 == 0).map { case (i, t) =>
      (i + 100000L, t.split(" ").take(9).mkString(" ")) }
    val boiler = (200L until 206L).map(i => (i, "the cookie banner text " +
      "appears on every single page of this site verbatim"))
    val all = (base ++ twins ++ boiler).map { case (i, t) =>
      graft.streaming.MinhashTracker.DEv(
        new Timestamp(1700000000000L + i * 1000), i, t) }
    val docsDf = all.toDF()

    // 1) signature parity: bandHits == the batch chain's band relation
    val hits = MinhashTracker.bandHits(docsDf)
    val gotBands = hits.collect().map(h => (h.doc_id, h.band, h.bh)).toSet
    val corpus = docsDf.selectExpr("doc_id", "split(text, ' ') AS toks")
    val (_, _, batchBand) = graft.ops.Dedup.minhashRelationsOn(corpus)
    val wantBands = batchBand.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    graft.SparkHygiene.clearSessionCaches(spark)
    assert(gotBands == wantBands,
      s"band keys drifted from the batch chain: ${gotBands.size} vs ${wantBands.size}")

    // 2) candidates: stream (two different trigger decompositions) ==
    // batch fold == the batch band join's distinct candidate set
    // (under-cap buckets only in this corpus at the default cap)
    val wantCand = batchBand.as("a").join(batchBand.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.SparkHygiene.clearSessionCaches(spark)
    val batchCand = MinhashTracker.candBatch(hits).collect()
      .map(p => (p.doc_a, p.doc_b)).toSet
    assert(batchCand == wantCand, "batch fold != band join candidates")
    for (chunk <- Seq(7, 50)) {
      val stream = MemoryStream[MinhashTracker.DEv]
      val q = MinhashTracker.candStream(
          MinhashTracker.bandHits(stream.toDF()))
        .toDF().writeStream.outputMode("append")
        .format("memory").queryName(s"mh_cand_$chunk").start()
      all.sortBy(_.ts.getTime).grouped(chunk).foreach { b =>
        stream.addData(b); q.processAllAvailable() }
      q.stop()
      val got = spark.table(s"mh_cand_$chunk").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == wantCand, s"stream(chunk=$chunk) != batch candidates")
    }

    // 3) the streaming density guard: at cap=3 the boilerplate bucket
    // admits 3 members — C(3,2)=3 pairs per band instead of C(6,2)=15
    val capped = MinhashTracker.candBatch(hits, cap = 3).collect()
    val boilerPairs = capped.filter(p => p.doc_a >= 200L && p.doc_a < 300L)
    assert(boilerPairs.groupBy(p => (p.band, p.bh))
      .forall(_._2.length == 3), "cap=3 must bound each bucket at 3 pairs")
    // under-cap (diverse) pairs are untouched by the cap
    val cappedDiverse = capped.filter(_.doc_a < 200L)
      .map(p => (p.doc_a, p.doc_b)).toSet
    val fullDiverse = MinhashTracker.candBatch(hits).collect()
      .filter(_.doc_a < 200L).map(p => (p.doc_a, p.doc_b)).toSet
    assert(cappedDiverse == fullDiverse,
      "cap must not touch under-cap buckets")
    // every planted twin is a candidate (identical first-9-token prefix
    // keeps >= 1 identical band at these sizes — verified by the set)
    assert(base.filter(_._1 % 4 == 0).forall { case (i, _) =>
      wantCand.contains((i, i + 100000L)) },
      "planted prefix twins must surface as candidates")
  }
}
