package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Streaming MinHash/LSH near-duplicate CANDIDATE detection — the twin
  * of [[graft.ops.Dedup.ddMinhashLshOn]]'s band join for a live
  * document stream (the ingest-time "have I already seen a near-dup of
  * this page" check every crawl pipeline wants online instead of as a
  * nightly batch pass). The 21st tracker, and the one that carries the
  * round-13 DensityGuard theme into streaming state.
  *
  * Signature parity: [[bandHits]] computes the EXACT batch chain's
  * signatures row-locally — MIN over a doc's 3-shingles of
  * md5("i:" || shingle) for the 8 slots (MIN over duplicates equals
  * MIN over the batch chain's DISTINCT shingle relation), bands of 2
  * as md5(h_{2b} || h_{2b+1}) — so a doc's (band, bh) keys are
  * bit-identical to `minhashRelationsOn`'s band relation (pinned by
  * spec). Docs under 3 tokens produce no shingles and are absent,
  * exactly as in batch.
  *
  * State = the LSH index itself: one key per (band, bandhash) bucket
  * holding the member doc ids, which is precisely what an online ANN
  * index stores — the memory contract is the index size, not the
  * corpus. The streaming density guard: each bucket admits at most
  * `cap` members (the [[graft.ops.DensityGuard.DefaultMaxBlockRows]]
  * default); a doc arriving at a full bucket is counted in `overflow`
  * and emits no pairs from that bucket (its OTHER bands still work —
  * the per-(doc, band) independence the batch guard's draw provides).
  * This is the ONLINE analogue of the batch guard, not a replica: the
  * batch sample needs the final block count, which a stream never has,
  * so admission is first-`cap` instead of a rate draw. Under-cap
  * buckets are exact — the emitted distinct pair set EQUALS the batch
  * band join's candidate set (spec-pinned); a blown bucket is bounded
  * at C(cap, 2) pairs in both tiers, by each tier's documented rule.
  *
  * Determinism: within a trigger, events fold in (ts, doc_id) order;
  * across triggers, admission to a FULL bucket depends on arrival
  * order, so blown-bucket membership is reproducible for ordered
  * streams (the production case: ingest by fetch time) and declared
  * order-sensitive otherwise. Under-cap results are order-independent
  * — every member pairs with every other exactly once regardless of
  * decomposition (the pair emits when its LATER member arrives).
  *
  * No timeout/GC by design: dropping a bucket forgets its members and
  * silently misses every cross-horizon near-dup, which is a recall
  * cliff no watermark can justify for a dedup index. Production
  * bounds state by re-sharding the index (new query, fresh state) at
  * corpus-epoch boundaries, the same lifecycle as any ANN index.
  */
object MinhashTracker {

  case class DEv(ts: Timestamp, doc_id: Long, text: String)

  case class BandHit(ts: Timestamp, doc_id: Long, band: Int, bh: String)

  /** Bucket members in admission order + overflow count. */
  case class BState(ids: Array[Long], overflow: Long)

  /** One candidate pair, tagged with the bucket that produced it
    * (consumers DISTINCT over (doc_a, doc_b) before verification, as
    * the batch chain does).
    */
  case class CandPair(doc_a: Long, doc_b: Long, band: Int, bh: String)

  /** The row-local signature/band computation (batch-bit-identical). */
  private def bandExprs: Seq[String] = {
    val shingles =
      """CASE WHEN size(split(text, ' ')) >= 3
        |  THEN transform(sequence(1, size(split(text, ' ')) - 2),
        |         i -> concat(element_at(split(text, ' '), i), ' ',
        |                     element_at(split(text, ' '), i + 1), ' ',
        |                     element_at(split(text, ' '), i + 2)))
        |  ELSE array() END""".stripMargin
    val hs = (0 to 7).map(i =>
      s"array_min(transform(__sh, t -> md5(concat('$i:', t)))) AS h$i")
    Seq(s"$shingles AS __sh") ++ hs
  }

  /** (ts, doc_id, text) → one row per (doc, band): the doc's 4 LSH
    * bucket keys, bit-identical to the batch band relation. Works on a
    * batch OR streaming DataFrame (all expressions are row-local).
    */
  def bandHits(docs: DataFrame): Dataset[BandHit] = {
    implicit val enc = Encoders.product[BandHit]
    val withSh = docs.selectExpr(Seq("ts", "doc_id") ++ Seq(bandExprs.head): _*)
      .selectExpr(Seq("ts", "doc_id", "__sh") ++ bandExprs.tail: _*)
    withSh.filter("h0 IS NOT NULL")
      .selectExpr("ts", "doc_id",
        """explode(transform(sequence(0, 3), b -> struct(
          |  CAST(b AS INT) AS band,
          |  md5(concat(element_at(array(h0, h1, h2, h3, h4, h5, h6, h7),
          |                        2 * b + 1),
          |             element_at(array(h0, h1, h2, h3, h4, h5, h6, h7),
          |                        2 * b + 2))) AS bh))) AS e""".stripMargin)
      .selectExpr("ts", "doc_id", "e.band AS band", "e.bh AS bh")
      .as[BandHit]
  }

  private def stateFn(cap: Int)(key: (Int, String),
      events: Iterator[BandHit],
      state: GroupState[BState]): Iterator[CandPair] = {
    val evs = events.toArray.sortBy(e => (EventClock.usOf(e.ts),
      e.doc_id))
    var st = state.getOption.getOrElse(BState(Array.empty, 0L))
    val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
    val members = scala.collection.mutable.LinkedHashSet(st.ids.toSeq: _*)
    var overflow = st.overflow
    evs.foreach { e =>
      if (!members.contains(e.doc_id)) {
        if (members.size >= cap) overflow += 1
        else {
          members.foreach { m =>
            out += CandPair(math.min(m, e.doc_id), math.max(m, e.doc_id),
              key._1, key._2)
          }
          members += e.doc_id
        }
      }
    }
    st = BState(members.toArray, overflow)
    state.update(st)
    out.iterator
  }

  /** Streaming entry: candidate pairs emitted the moment the second
    * member of a bucket arrives. State per key is ≤ cap longs.
    */
  def candStream(hits: Dataset[BandHit],
      cap: Int = graft.ops.DensityGuard.DefaultMaxBlockRows)
      : Dataset[CandPair] = {
    implicit val pairEnc = Encoders.product[CandPair]
    implicit val stEnc = Encoders.product[BState]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
    hits.groupByKey(h => (h.band, h.bh))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(stateFn(cap))
  }

  /** Batch twin: the same admission fold over each bucket's full,
    * (ts, doc_id)-ordered history — one trigger containing everything.
    */
  def candBatch(hits: Dataset[BandHit],
      cap: Int = graft.ops.DensityGuard.DefaultMaxBlockRows)
      : Dataset[CandPair] = {
    implicit val pairEnc = Encoders.product[CandPair]
    implicit val keyEnc = Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
    hits.groupByKey(h => (h.band, h.bh)).flatMapGroups { (key, it) =>
      val evs = it.toArray.sortBy(e => (EventClock.usOf(e.ts),
        e.doc_id))
      val members = scala.collection.mutable.LinkedHashSet.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
      evs.foreach { e =>
        if (!members.contains(e.doc_id) && members.size < cap) {
          members.foreach(m => out += CandPair(math.min(m, e.doc_id),
            math.max(m, e.doc_id), key._1, key._2))
          members += e.doc_id
        }
      }
      out.iterator
    }
  }
}
