package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

import EventClock.{Stamped, tsOf, usOf}

/** Streaming counterpart of `ops.Sessionize.evMarkov`'s transition
  * STREAM: every consecutive (prev → cur) event-type pair of a user's
  * time-ordered stream emits as a row the moment `cur` arrives; the
  * |types|²-sized transition-matrix aggregate (counts / row-normalized
  * probabilities) is a downstream groupBy any sink can maintain
  * incrementally, so the model updates continuously instead of per
  * recompute.
  *
  * Per-user state is the LAST event (type, micros, id) — O(1). The
  * emit-on-arrival fold applies each trigger's ts-sorted slice on top of
  * the carried last; an in-watermark event arriving in a later trigger
  * but TIMED BEFORE the carried last cannot be retro-sequenced — its
  * transition is DROPPED rather than emitted out of order (the state
  * never regresses, the AttributionTracker monotonicity rule), which is
  * this family's documented cross-trigger approximation.
  * [[markovStreamExact]] buffers each user's events until the quiesce
  * timeout and folds them whole — exact for everything the watermark
  * admitted, at O(active window) state. Batch mode ([[markovBatch]])
  * sees each group whole: EXACT, and StreamingSpec parity-checks its
  * aggregate against the oracle-checked SQL query.
  */
object MarkovTracker {

  case class KEv(ts: Timestamp, user_id: Long, event_id: Long,
                 event_type: String)

  /** lastUs = -1 means no event carried yet; tMax as [[FunnelTracker]]. */
  case class KState(lastType: String, lastUs: Long, lastId: Long, tMax: Long)
      extends Stamped

  case class KBuf(ts: Seq[Long], ids: Seq[Long], types: Seq[String],
                  tMax: Long) extends Stamped

  case class TransRow(user_id: Long, prev: String, cur: String,
                      t_cur: Timestamp)

  val Unset: Long = -1L

  private val emptyState = KState("", Unset, Unset, 0L)

  /** The shared pure core: fold (micros, id, type) rows SORTED by
    * (micros, id) onto the carried last, emitting a transition for every
    * event that extends the sequence. Events at-or-before the carried
    * last in (micros, id) order are skipped — never emitted out of
    * sequence, never regressing the state.
    */
  private[streaming] def fold(user: Long, st: KState,
      sorted: Seq[(Long, Long, String)]): (KState, Seq[TransRow]) = {
    var (lt, lu, li) = (st.lastType, st.lastUs, st.lastId)
    val out = scala.collection.mutable.ArrayBuffer.empty[TransRow]
    for ((us, id, tpe) <- sorted) {
      if (lu == Unset) { lt = tpe; lu = us; li = id }
      else if (us > lu || (us == lu && id > li)) {
        out += TransRow(user, lt, tpe, tsOf(us))
        lt = tpe; lu = us; li = id
      } // else: at-or-before the carried last — dropped (documented)
    }
    (KState(lt, lu, li, st.tMax), out.toSeq)
  }

  /** One trigger (or a whole batch group): fold the slice in (ts,
    * event_id) order; transitions emit at once, nothing at timeout.
    */
  private def step(user: Long)(prev: KState,
      slice: Iterator[KEv]): (KState, Seq[TransRow]) = {
    val sorted = slice.map(e => (usOf(e.ts), e.event_id, e.event_type))
      .toSeq.sortBy(t => (t._1, t._2))
    val (next, rows) = fold(user, prev, sorted)
    (next.copy(tMax = (prev.tMax +: sorted.map(_._1)).max), rows)
  }

  /** Streaming entry: transitions emit on arrival; O(1) state. */
  def markovStream(events: Dataset[KEv]): Dataset[TransRow] = {
    implicit val rowEnc = Encoders.product[TransRow]
    implicit val stEnc = Encoders.product[KState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[KEv], state: GroupState[KState]) =>
          EventClock.carried(evs, state, emptyState)(step(user), _ => Nil)
      }
  }

  /** EXACT streaming entry: buffers until quiesce, folds whole. */
  def markovStreamExact(events: Dataset[KEv]): Dataset[TransRow] = {
    implicit val rowEnc = Encoders.product[TransRow]
    implicit val stEnc = Encoders.product[KBuf]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[KEv], state: GroupState[KBuf]) =>
          EventClock.buffered(evs, state, KBuf(Nil, Nil, Nil, 0L)) {
            (b, es) =>
              val us = es.map(e => usOf(e.ts))
              KBuf(b.ts ++ us, b.ids ++ es.map(_.event_id),
                b.types ++ es.map(_.event_type), (b.tMax +: us).max)
          } { b =>
            fold(user, emptyState, b.ts.indices
              .map(i => (b.ts(i), b.ids(i), b.types(i)))
              .sortBy(t => (t._1, t._2)))._2
          }
      }
  }

  /** Batch entry: each group seen whole — exact; its (prev, cur) counts
    * equal the SQL query's transition matrix (StreamingSpec parity).
    */
  def markovBatch(events: Dataset[KEv]): Dataset[TransRow] = {
    implicit val rowEnc = Encoders.product[TransRow]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroups { (user, it) =>
        EventClock.whole(it, emptyState)(step(user), _ => Nil)
      }
  }
}
