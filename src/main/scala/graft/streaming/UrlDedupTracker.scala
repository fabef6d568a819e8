package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{Stamped, usOf}

/** Streaming keep-first URL dedup — the twin of
  * [[graft.ops.Dedup.ddUrlOn]] for a live fetch stream (the crawl
  * frontier's "have we already fetched this page" check, run as a
  * stream instead of a batch pass). Fetch records are keyed by their
  * CANONICAL URL (the exact [[graft.ops.Dedup.urlCanonSql]] expression,
  * applied in [[canonicalize]] so the two canonical forms cannot
  * drift); per-key state is O(1) — the (ts, fetch_id)-minimal record
  * seen plus a count — and the summary row (url, keeper, first ts,
  * duplicate count) is emitted when the key quiesces under the event-
  * time watermark.
  *
  * Determinism: the fold keeps the (ts, fetch_id)-MINIMAL record rather
  * than the first delivered, so any trigger decomposition and any
  * in-watermark reordering converge to the same summary — ordered
  * streaming == batch exactly, and with ts monotone in fetch_id the
  * keeper equals ddUrlOn's MIN(id) (both pinned by StreamingSpec).
  */
object UrlDedupTracker {

  case class UEv(ts: Timestamp, fetch_id: Long, url: String)

  /** (ts, fetch_id)-minimal record + count; tMax arms the quiesce timer. */
  case class UState(minTsUs: Long, minId: Long, n: Long, tMax: Long)
      extends Stamped

  case class UrlRow(url: String, keep_id: Long, first_ts_us: Long,
                    n_dups: Long)

  /** Apply the shared canonicalization: (ts, fetch_id, url) → same with
    * `url` replaced by its canonical form.
    */
  def canonicalize(fetches: DataFrame): Dataset[UEv] = {
    implicit val enc = Encoders.product[UEv]
    fetches.selectExpr("ts", "fetch_id",
      s"${graft.ops.Dedup.urlCanonSql("url")} AS url").as[UEv]
  }

  private[streaming] def fold(st: UState, evs: IterableOnce[UEv]): UState =
    evs.iterator.foldLeft(st) { (s, e) =>
      val us = usOf(e.ts)
      val keepNew = s.n == 0 ||
        us < s.minTsUs || (us == s.minTsUs && e.fetch_id < s.minId)
      UState(
        if (keepNew) us else s.minTsUs,
        if (keepNew) e.fetch_id else s.minId,
        s.n + 1,
        math.max(s.tMax, us))
    }

  private val emptyState = UState(0L, 0L, 0L, 0L)

  /** One trigger: the min-fold (order-free, so unsorted); the summary
    * row emits once, at the timeout.
    */
  private def step(prev: UState, slice: Iterator[UEv]): (UState, Seq[UrlRow]) =
    (fold(prev, slice), Nil)

  private def row(url: String)(st: UState): Seq[UrlRow] =
    Seq(UrlRow(url, st.minId, st.minTsUs, st.n))

  /** Streaming entry over ALREADY-canonical events ([[canonicalize]]
    * upstream): one row per canonical URL at quiesce, O(1) state per key.
    */
  def urlStream(events: Dataset[UEv]): Dataset[UrlRow] = {
    implicit val rowEnc = Encoders.product[UrlRow]
    implicit val stEnc = Encoders.product[UState]
    events.groupByKey(_.url)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (url: String, evs: Iterator[UEv], state: GroupState[UState]) =>
          EventClock.carried(evs, state, emptyState)(step, row(url))
      }
  }

  /** Batch twin: the same min-fold over each URL's whole history. */
  def urlBatch(events: Dataset[UEv]): Dataset[UrlRow] = {
    implicit val rowEnc = Encoders.product[UrlRow]
    events.groupByKey(_.url)(Encoders.STRING)
      .flatMapGroups { (url, it) =>
        EventClock.whole(it, emptyState)(step, row(url))
      }
  }
}
