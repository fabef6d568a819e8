package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Structured-Streaming surface (builder brief; the reference is pure batch
  * — SURVEY §1.4 notes no streaming semantics exist there, so this layer is
  * Spark-native by design).
  *
  * Each transform is mode-agnostic: it accepts either a batch DataFrame or
  * a streaming one (`readStream`/MemoryStream) with the `events` schema,
  * and the StreamingSpec asserts that the streaming run (append mode,
  * watermark-closed windows) produces exactly the batch result.
  *
  * Scale: both aggs shuffle once on their group keys; state store size is
  * bounded by open windows per key (watermark-evicted). At 100 TB/day the
  * same code runs with a real source (Kafka/files) — only the reader
  * changes.
  *
  * These transforms use Spark's own windowed state. The hand-rolled
  * `flatMapGroupsWithState` twins (EventSessionizer and the `*Tracker`s)
  * take every event-time decision from [[EventClock]]: the time units,
  * the watermark read, timeout arming, the 7-day quiesce horizon and the
  * three state kernels. An O(1) tracker states one `step` (fold a
  * trigger's slice onto its carried state) and one `flush` (its rows at
  * the timeout) for `EventClock.carried`, and its `*Batch` entry runs
  * the same pair through `EventClock.whole`; the `*StreamExact` entries
  * run on the buffered-exact kernel (`carried` with a step that appends
  * the slice to a buffer) and the day-finalizing trackers on
  * the daily shell. EventSessionizer alone handles its own timeout (a
  * session ends 30 minutes after its last event, not at the quiesce
  * horizon).
  */
object Streams {

  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Gap-based sessionization via Spark's native session_window — the
    * built-in equivalent of ops.Sessionize (30-minute gap). Works in batch
    * and streaming; in streaming, append mode emits a session once the
    * watermark passes its close.
    */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("sess_start"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Tumbling 1-hour window per event type. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Streaming exact dedup on event_id — the streaming counterpart of
    * ops.Dedup.ddExact: `dropDuplicatesWithinWatermark` keys the state
    * store on event_id and evicts entries once the watermark passes their
    * event time (bounded state — a plain dropDuplicates on a stream would
    * grow its key set forever; the 1-hour delay tolerates that much
    * duplicate lateness). Batch mode degrades to ordinary dropDuplicates
    * semantics on the same key.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
}
