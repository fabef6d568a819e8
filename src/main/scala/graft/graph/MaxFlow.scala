package graft.graph

import graft.Caches
import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.LongAccumulator

import scala.collection.mutable
import scala.util.Random

/** Distributed max-flow via bidirectional excess-path growth — the
  * reference's ff1–ff5 algorithm family re-expressed as Spark supersteps
  * (SURVEY §2/§3/§7), in ff3's **schimmy** layout (SURVEY §2.4 J1, §2.1 S5;
  * ff3/ReduceFF.java:82-137, ff3/MapFF.java:46-59): the graph topology is
  * never shuffled, only the messages are.
  *
  * One round =
  *   1. extension pass over the master partitions: refresh edge/path flows
  *      against the broadcast accepted-flow deltas (T6/J2), prune saturated
  *      paths (T7), extend a random eligible path toward each unvisited
  *      neighbor (T8, ff5 `fset` memo T9), emitting delta-vertices;
  *   2. the round's one shuffle — the delta messages onto the masters'
  *      partitioner — and a partitioner-preserving `zipPartitions` merge of
  *      each master partition with its messages (A1, K-bounded retention
  *      A5), with meet-in-the-middle concat of S×T pairs and cycle splice
  *      (J3): the reference's reducer-side merge-join of the local master
  *      partition file. The merge recomputes the master refresh of pass 1:
  *      every per-vertex choice is seeded by (id, round), so it is the same
  *      update and the master never moves;
  *   3. stream the candidates to the driver and greedily admit them against
  *      an intra-round residual delta map (C1/C2 — Spark's driver plays the
  *      reference's RMI ApServer);
  *   4. broadcast the admitted deltas into the next round.
  * Convergence per C3 (no accepted flow, no moves). Because the excess-path
  * engine (like the reference's) is a heuristic search, an optional
  * exactness cleanup runs classic shortest-augmenting-path (driver-side, or
  * distributed residual BFS on large residual graphs) until no augmenting
  * path remains — guaranteeing the exact max-flow that the reference
  * validates by known answers.
  *
  * Scale notes: the masters are an `RDD[(id, VertexState)]` under one
  * `HashPartitioner` sized from the input ([[masterPartitions]]), laid out
  * by a single `partitionBy`; each later state is a partition-preserving
  * projection of the round's merge, which is also the round's lazy local
  * checkpoint, so the plan stays O(1) in rounds and a round moves
  * O(messages), not O(state). The merge is cached SERIALIZED
  * (`MEMORY_AND_DISK_SER`, which `localCheckpoint` keeps): a deserialized
  * block is sized by Spark's SizeEstimator, which reflectively re-walks the
  * growing partition's object graph at every 1.1× growth step, and that
  * walk was about three quarters of the executors' CPU samples on the
  * 1k-vertex benchmark graph (PERF.md); a serialized block's size is its
  * byte count. Message volume is degree-bounded and memoized by fset;
  * candidate traffic to the driver is bounded by `candidatesPerVertex` ×
  * (meet vertices), the same back-pressure as `mf.excess.list.max`. Off
  * the rounds, Catalyst is kept to the ends of the solve: the build is one
  * exchange and no join ([[GraphBuilder.buildState]]), and the pending
  * flush and the driver cleanup are RDD jobs on the masters: on the
  * 1k-vertex benchmark graph a Dataset action spent 38–69 ms planning
  * before its job started, an RDD action 8–11 ms (PERF.md). A `Dataset` is
  * built only for durable writes and the distributed cleanup's BFS.
  *
  * Why an RDD partitioner and not a Catalyst join: a DataFrame master whose
  * hash partitioning is "remembered" through `localCheckpoint` loses it
  * under AQE, and the plan re-exchanges the full master state every round
  * (measured: 4.24 GB shuffled at 1M vertices, more than shuffling it
  * outright). The partitioner makes the no-state-shuffle contract a
  * structure instead of an optimizer outcome; MaxFlowSchimmySpec locks it
  * by shuffle records. ff1's shuffle-all layout (masters ∪ deltas through
  * `groupByKey` every round) was removed: schimmy was 1.3–2.2× faster from
  * 20k to 5.1M vertices (PERF.md) and on the 1k-vertex benchmark graphs.
  */
object MaxFlow {

  /** Tuning parameters, mirroring the reference's `mf.*` configs
    * (run:123-139): K = mf.excess.list.max, maxPathLength =
    * mf.max.epath.length.
    */
  case class Config(
      excessListMax: Int = 32,
      maxPathLength: Int = 30,
      candidatesPerVertex: Int = 16,
      maxRounds: Int = 200,
      seed: Long = 42L,
      exactCleanup: Boolean = true,
      /** Residual-edge count up to which the exactness cleanup collects the
        * residual graph and runs driver-side Edmonds-Karp in one pass (the
        * same driver-as-sequential-commit-point role the reference gives
        * its RMI ApServer). Above this, cleanup falls back to distributed
        * per-path BFS. ~50M triples ≈ a few GB driver heap. */
      driverCleanupMaxEdges: Long = 50000000L,
      /** Stop the engine after this many consecutive zero-accept rounds
        * once some flow has been found — the excess flood keeps "moving"
        * long after all augmenting flow is in (the reference waits for the
        * full C3 quiescence; we can cut the tail because the exactness
        * cleanup catches anything the early stop misses). */
      acceptPatience: Int = 3,
      /** K-truncation policy (A5/A6): "priority" = bounded best-first
        * (potential desc, length asc — ff1/Vertex.java:118-131);
        * "random" = seeded random retention (ff2/ff3/ff4,
        * ff3/ReduceFF.java:60-71). */
      truncation: String = "priority",
      /** Durable round-state checkpointing (S7; the reference's
        * round-<i>/master dirs, ff3/FordFulkerson.java:155-162): when set,
        * the flushed state is written here every `checkpointEvery` rounds
        * and at convergence, and `MaxFlow.resume` can continue from it. */
      stateDir: Option[String] = None,
      checkpointEvery: Int = 10,
      /** mf.sink.excess (ff1/FordFulkerson.java:29, default true): when
        * false the search is source-only — T-side paths are never
        * extended, and S paths complete by reaching the supersink's
        * initial empty T excess (exactly the reference's unidirectional
        * mode). */
      useSinkExcess: Boolean = true,
      /** Debug invariant layer (SURVEY §5): re-assert the reference's
        * runtime invariants — |flow| within caps (ff2/Edge.java:34),
        * path simplicity/acyclicity (ff1/Excess.java:49-50), hop-count
        * consistency — on every vertex each round. Off by default (costs
        * a full state pass). */
      validate: Boolean = false)

  /** Per-round counter set (A8) — the reference's MFCounter family
    * (mf/MFCounter.java:3-49) as one record per round:
    * acceptedFlow/totalFlow = ACCEPTED_FLOWS (per-round / cumulative),
    * acceptedPaths = ACCEPTED_AUGPATHS, candidates = AUGPATH_CANDIDATES,
    * loseExcess = LOSE_EXCESS (vertices whose whole S or T list
    * saturated, ff2/FordFulkerson.java:103-115), moveS/moveT =
    * SOURCE_MOVE/SINK_MOVE (masters newly alive,
    * ff2/FordFulkerson.java:222-226), extendS/extendT =
    * EXTEND_SOURCE_E/EXTEND_SINK_E, satS/satT =
    * SOURCE_E_SATURATED/SINK_E_SATURATED (paths pruned on refresh),
    * dropS/dropT = SOURCE_E_DROPPED/SINK_E_DROPPED (merge-time dedup +
    * K-truncation losses), aliveS/aliveT = SOURCE_EPATH_COUNT/
    * SINK_EPATH_COUNT (vertices holding S/T paths after the merge).
    */
  case class RoundCounters(
      round: Int,
      acceptedFlow: Long, totalFlow: Long,
      acceptedPaths: Long, candidates: Long,
      loseExcess: Long,
      moveS: Long, moveT: Long,
      extendS: Long, extendT: Long,
      satS: Long, satT: Long,
      dropS: Long, dropT: Long,
      aliveS: Long, aliveT: Long) {
    def moves: Long = extendS + extendT
    /** The reference's per-round echo line
      * (ff2/FordFulkerson.java:438-445, minus the wall-clock fields). */
    def echo: String =
      s"i=$round; Flows=$acceptedFlow/$totalFlow; LE=$loseExcess; " +
        s"So=$moveS/$aliveS; Si=$moveT/$aliveT"
  }

  /** The round's live accumulator bundle behind [[RoundCounters]]. */
  private[graph] case class Ctrs(
      extendS: LongAccumulator, extendT: LongAccumulator,
      satS: LongAccumulator, satT: LongAccumulator,
      loseExcess: LongAccumulator,
      moveS: LongAccumulator, moveT: LongAccumulator,
      dropS: LongAccumulator, dropT: LongAccumulator,
      aliveS: LongAccumulator, aliveT: LongAccumulator) extends Serializable {
    def moves: Long = extendS.value + extendT.value
  }

  private[graph] object Ctrs {
    def apply(sc: org.apache.spark.SparkContext, tag: String): Ctrs = Ctrs(
      sc.longAccumulator(s"$tag-extendS"), sc.longAccumulator(s"$tag-extendT"),
      sc.longAccumulator(s"$tag-satS"), sc.longAccumulator(s"$tag-satT"),
      sc.longAccumulator(s"$tag-loseExcess"),
      sc.longAccumulator(s"$tag-moveS"), sc.longAccumulator(s"$tag-moveT"),
      sc.longAccumulator(s"$tag-dropS"), sc.longAccumulator(s"$tag-dropT"),
      sc.longAccumulator(s"$tag-aliveS"), sc.longAccumulator(s"$tag-aliveT"))
  }

  case class Result(
      flow: Long,
      engineFlow: Long,
      cleanupFlow: Long,
      rounds: Int,
      /** accumulated directed flow assignment (u,v) → f over all rounds */
      assignment: Map[(Long, Long), Long],
      /** accepted augmenting paths (vertex sequence, admitted flow) —
        * the reference's flowpaths output (ff1/Vertex.java:171-188) */
      paths: Seq[(Seq[Long], Long)],
      /** per-round counter records — the reference's round report
        * (A8; ff2/FordFulkerson.java:438-445) */
      rounds_report: Seq[RoundCounters] = Seq.empty,
      /** the exactness-cleanup tier that ran */
      cleanupTier: CleanupTier = CleanupTier.Off)

  /** Which exactness cleanup ran: none (`exactCleanup = false`), the
    * one-shot driver pass (residual edges ≤ `driverCleanupMaxEdges`), or
    * the distributed BFS fallback. */
  sealed trait CleanupTier
  object CleanupTier {
    case object Off extends CleanupTier
    case object Driver extends CleanupTier
    case object Distributed extends CleanupTier
  }

  /** Directed intra/inter-round flow deltas: (u,v) → additional flow u→v. */
  type FlowDelta = Map[(Long, Long), Long]

  private[graph] def effFlow(f: Long, a: Long, b: Long, d: FlowDelta): Long =
    f + d.getOrElse((a, b), 0L) - d.getOrElse((b, a), 0L)

  /** Phase 1: refresh + prune + extend (SURVEY T6–T9): returns the updated
    * master (refreshed flows, pruned paths, grown fsets) and the extension
    * messages. All choices are seeded by (vertex, round), so a re-run over
    * the same state reproduces the same output — the merge recomputes the
    * master update this way instead of shuffling it (counters are passed
    * only on the counting pass).
    */
  private[graph] def extendVertex(v: VertexState, d: FlowDelta, round: Int,
                                  conf: Config, ctrsOpt: Option[Ctrs])
      : (VertexState, Array[VertexState]) = {
    val fresh = applyDeltaOnly(v, d)
    val (adj2, s2, t2) = (fresh.adj, fresh.s, fresh.t)
    ctrsOpt.foreach { ctrs =>
      ctrs.satS.add(v.s.length - s2.length)
      ctrs.satT.add(v.t.length - t2.length)
      // LOSE_EXCESS (ff2/FordFulkerson.java:103-115): the vertex held paths
      // and every one of them just saturated
      if (v.s.nonEmpty && s2.isEmpty) ctrs.loseExcess.add(1)
      if (v.t.nonEmpty && t2.isEmpty) ctrs.loseExcess.add(1)
    }

    // seeded randomness, ff1's Random(key*round) discipline
    // (ff1/FordFulkerson.java:74) — reproducible across retries
    val rng = new Random(v.id * 0x9E3779B97F4A7C15L + round)
    val msgs = mutable.ArrayBuffer.empty[VertexState]
    var fs = v.fsetS.toSet
    var ft = v.fsetT.toSet
    val empty = Array.empty[PathState]
    val noAdj = Array.empty[Adj]
    val noIds = Array.empty[Long]

    if (s2.nonEmpty && v.id != GraphModel.SuperSink) {
      for (a <- adj2) {
        if (a.residualOut > 0 && !fs(a.nbr) && a.nbr != GraphModel.SuperSource) {
          val eligible = s2.filter(p =>
            p.length < conf.maxPathLength && !p.contains(a.nbr))
          if (eligible.nonEmpty) {
            val p = eligible(rng.nextInt(eligible.length))
            val np = PathState(p.nodes :+ a.nbr, p.flows :+ a.flow, p.caps :+ a.capOut)
            msgs += VertexState(a.nbr, noAdj, Array(np), empty, noIds, noIds)
            fs += a.nbr
            ctrsOpt.foreach(_.extendS.add(1))
          }
        }
      }
    }
    if (conf.useSinkExcess && t2.nonEmpty && v.id != GraphModel.SuperSource) {
      for (a <- adj2) {
        if (a.residualIn > 0 && !ft(a.nbr) && a.nbr != GraphModel.SuperSink) {
          val eligible = t2.filter(p =>
            p.length < conf.maxPathLength && !p.contains(a.nbr))
          if (eligible.nonEmpty) {
            val p = eligible(rng.nextInt(eligible.length))
            // new first hop nbr→v: flow seen from nbr = -a.flow, cap = capIn
            val np = PathState(a.nbr +: p.nodes, (-a.flow) +: p.flows, a.capIn +: p.caps)
            msgs += VertexState(a.nbr, noAdj, empty, Array(np), noIds, noIds)
            ft += a.nbr
            ctrsOpt.foreach(_.extendT.add(1))
          }
        }
      }
    }
    val master = VertexState(v.id, adj2, s2, t2, fs.toArray.sorted, ft.toArray.sorted)
    (master, msgs.toArray)
  }

  /** Meet-in-the-middle concat with cycle splice (J3; ff1/Excess.java:48-68):
    * walk the T path from the meet vertex; a node already on the combined
    * path truncates it there (splicing the loop out), otherwise append.
    */
  private[graph] def concat(sp: PathState, tp: PathState): Option[Candidate] = {
    val nodes = mutable.ArrayBuffer.empty[Long] ++= sp.nodes
    val flows = mutable.ArrayBuffer.empty[Long] ++= sp.flows
    val caps = mutable.ArrayBuffer.empty[Long] ++= sp.caps
    var j = 1
    while (j < tp.nodes.length) {
      val n = tp.nodes(j)
      val idx = nodes.indexOf(n)
      if (idx >= 0) {
        nodes.remove(idx + 1, nodes.length - idx - 1)
        flows.remove(idx, flows.length - idx)
        caps.remove(idx, caps.length - idx)
      } else {
        nodes += n
        flows += tp.flows(j - 1)
        caps += tp.caps(j - 1)
      }
      j += 1
    }
    if (nodes.length < 2 || nodes.head != GraphModel.SuperSource ||
        nodes.last != GraphModel.SuperSink) None
    else {
      val c = Candidate(nodes.toArray, flows.toArray, caps.toArray)
      var q = Long.MaxValue
      var i = 0
      while (i < c.flows.length) { q = math.min(q, c.caps(i) - c.flows(i)); i += 1 }
      if (q > 0) Some(c) else None
    }
  }

  /** Phase 2: vertex merge (A1) with K-bounded priority retention (A5:
    * potential desc, length asc — ff1/Vertex.java:118-131) plus candidate
    * generation from pairs involving at least one newly-arrived path.
    */
  private[graph] def mergeVertex(id: Long, it: Iterator[VertexState], round: Int,
                          conf: Config,
                          ctrs: Option[Ctrs] = None): (VertexState, Array[Candidate]) = {
    val all = it.toArray
    val master = all.find(_.adj.nonEmpty).getOrElse(all.head)
    val deltas = all.filter(_ ne master)
    val inS = deltas.map(_.s.length.toLong).sum
    val inT = deltas.map(_.t.length.toLong).sum
    val newS = dedupPaths(deltas.flatMap(_.s), master.s)
    val newT = dedupPaths(deltas.flatMap(_.t), master.t)
    ctrs.foreach { c =>
      // SOURCE_MOVE / SINK_MOVE (ff2/FordFulkerson.java:222-226): the
      // master held no paths of this side and just received some
      if (master.s.isEmpty && newS.nonEmpty) c.moveS.add(1)
      if (master.t.isEmpty && newT.nonEmpty) c.moveT.add(1)
    }

    val rng = new Random(id * 0xBF58476D1CE4E5B9L + round)
    val cands = mutable.ArrayBuffer.empty[Candidate]
    val pairs = mutable.ArrayBuffer.empty[(PathState, PathState)]
    for (sp <- newS; tp <- master.t ++ newT) pairs += ((sp, tp))
    for (sp <- master.s; tp <- newT) pairs += ((sp, tp))
    val chosen =
      if (pairs.length <= conf.candidatesPerVertex) pairs
      else rng.shuffle(pairs).take(conf.candidatesPerVertex)
    for ((sp, tp) <- chosen; c <- concat(sp, tp)) cands += c

    val s = truncate(master.s ++ newS, conf, id, round)
    val t = truncate(master.t ++ newT, conf, id, round)
    ctrs.foreach { c =>
      // merge-time losses (dedup + K-truncation) and post-merge alive gauges
      c.dropS.add(master.s.length + inS - s.length)
      c.dropT.add(master.t.length + inT - t.length)
      if (s.nonEmpty) c.aliveS.add(1)
      if (t.nonEmpty) c.aliveT.add(1)
    }
    (VertexState(id, master.adj, s, t, master.fsetS, master.fsetT), cands.toArray)
  }

  private[graph] def dedupPaths(incoming: Array[PathState],
                         existing: Array[PathState]): Array[PathState] = {
    val seen = mutable.HashSet.empty[Seq[Long]]
    existing.foreach(p => seen += p.nodes.toSeq)
    incoming.filter(p => seen.add(p.nodes.toSeq))
  }

  private def truncate(ps: Array[PathState], conf: Config, id: Long,
                       round: Int): Array[PathState] = {
    val k = conf.excessListMax
    if (ps.length <= k) ps
    else if (conf.truncation == "random") {
      // ff2-ff4 semantics: keep a seeded random K-subset (hotspot avoidance)
      val rng = new Random(id * 0x2545F4914F6CDD1DL + round)
      rng.shuffle(ps.toVector).take(k).toArray
    } else {
      ps.sortBy(p => (-p.potential, p.length, p.nodes.mkString(","))).take(k)
    }
  }

  /** Phase 3: driver-side greedy acceptance (C1/C2; ff1/Excess.java:265-305,
    * ff2/ApServer.java:19-49) as an INCREMENTAL service — the reference's
    * RMI ApServer accepts paths while the job still runs; here candidate
    * batches are `offer`ed as map partitions finish (see runLoop) and
    * admitted against the intra-round delta map. Batches are shuffled
    * (hotspot avoidance, ff2/ApServer.java:32-33); admitted flow = min hop
    * residual.
    */
  private[graph] final class Acceptor(seed: Long) {
    private val rng = new Random(seed)
    private val delta = mutable.HashMap.empty[(Long, Long), Long]
    private val accepted = mutable.ArrayBuffer.empty[(Seq[Long], Long)]
    private var total = 0L
    private var nCands = 0L
    private def get(k: (Long, Long)) = delta.getOrElse(k, 0L)

    def offer(batch: Array[Candidate]): Unit = {
      nCands += batch.length
      for (c <- rng.shuffle(batch.toVector)) {
        var q = Long.MaxValue
        var i = 0
        while (i < c.flows.length) {
          val a = c.nodes(i); val b = c.nodes(i + 1)
          val eff = c.flows(i) + get((a, b)) - get((b, a))
          q = math.min(q, c.caps(i) - eff)
          i += 1
        }
        if (c.flows.length > 0 && q > 0) {
          i = 0
          while (i < c.flows.length) {
            val k = (c.nodes(i), c.nodes(i + 1))
            delta.update(k, get(k) + q)
            i += 1
          }
          total += q
          accepted += ((c.nodes.toSeq, q))
        }
      }
    }

    def candidateCount: Long = nCands
    def result: (Long, FlowDelta, Seq[(Seq[Long], Long)]) =
      (total, delta.toMap, accepted.toSeq)
  }

  /** One-shot barrier acceptance over a full candidate array, for the
    * specs; the run loop streams through [[Acceptor]].
    */
  private[graph] def accept(cands: Array[Candidate],
      seed: Long): (Long, FlowDelta, Seq[(Seq[Long], Long)]) = {
    val a = new Acceptor(seed)
    a.offer(cands)
    a.result
  }

  /** The masters' partition count, one rule for [[run]] and [[resume]]: the
    * partition count the initial state already has — the build's
    * AQE-coalesced exchange, or the splits of a resumed round dir — at
    * least 2 and at most `spark.sql.shuffle.partitions`. Read off the
    * materialized input, so sizing costs no job, and under AQE's
    * partition coalescing (on by default) a tiny graph gets a few
    * partitions even on a 200-partition session.
    */
  private[graph] def masterPartitions(spark: SparkSession,
                                      initial: RDD[VertexState]): Int =
    math.max(2, math.min(initial.getNumPartitions,
      spark.conf.get("spark.sql.shuffle.partitions").toInt))

  /** Phases 1-2 of one round: the extension pass emits messages only, they
    * are the round's one shuffle (onto the masters' partitioner), and each
    * master partition merge-joins its own messages in place
    * (ff3/ReduceFF.java:82-137). The merge is the round's lazy local
    * checkpoint: the round's job caches it, serialized, then truncates its
    * lineage.
    */
  private def superstep(state: RDD[(Long, VertexState)], part: HashPartitioner,
                        d: Broadcast[FlowDelta], round: Int, conf: Config,
                        ctrs: Ctrs): RDD[(VertexState, Array[Candidate])] = {
    // the counting pass for the refresh/extend counters
    val msgs = state.mapPartitions(_.flatMap { case (_, v) =>
      extendVertex(v, d.value, round, conf, Some(ctrs))._2.iterator.map(m => (m.id, m))
    })
    state.zipPartitions(msgs.partitionBy(part), preservesPartitioning = true) {
      (mit, dit) =>
        val byDst = mutable.HashMap.empty[Long, mutable.ArrayBuffer[VertexState]]
        dit.foreach { case (id, m) =>
          byDst.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += m
        }
        mit.map { case (id, v) =>
          // the seeded master update pass 1 saw, without its counters
          val (master, _) = extendVertex(v, d.value, round, conf, None)
          val deltas = byDst.remove(id).map(_.iterator).getOrElse(Iterator.empty)
          mergeVertex(id, Iterator(master) ++ deltas, round, conf, Some(ctrs))
        }
    }.setName(RoundRddName)
      // serialized, a block's size is its byte count; deserialized, Spark's
      // SizeEstimator re-walks every VertexState as the block grows
      // (localCheckpoint keeps a level already set and only forces useDisk)
      .persist(StorageLevel.MEMORY_AND_DISK_SER).localCheckpoint()
  }

  /** The name of each round's merged state RDD, as the Spark UI and
    * listeners see it. */
  private[graft] val RoundRddName = "MaxFlow.round"

  /** Run max-flow between `sources` and `sinks` over the directed edge
    * relation `edges(src, dst, cap)`.
    */
  def run(spark: SparkSession, edges: DataFrame, sources: Seq[Long],
          sinks: Seq[Long], conf: Config = Config()): Result = {
    require(sources.toSet.intersect(sinks.toSet).isEmpty,
      "sources and sinks must be disjoint")
    val init = GraphBuilder.buildState(spark, edges, sources, sinks)
    runLoop(spark, init, conf, startRound = 0)
  }

  /** Continue a run from durable round state written via Config.stateDir
    * (the reference's restart-from-round-<i> capability). The state dir
    * holds round-tagged checkpoints (`round-<i>/`, StateIO.writeRound);
    * resume picks the newest COMPLETE one — so a kill that interrupts a
    * checkpoint write costs at most `checkpointEvery` rounds of work —
    * and continues with ROUND-INDEX CONTINUITY: the first resumed
    * RoundCounters record carries round i+1, and `maxRounds` keeps its
    * meaning as a total-rounds budget across restarts. A flat dir written
    * directly by StateIO.writeState is still accepted (round restarts
    * at 1).
    */
  def resume(spark: SparkSession, stateDir: String,
             conf: Config = Config()): Result = {
    val (st, startRound) =
      graft.sources.StateIO.readLatestForResume(spark, stateDir)
    runLoop(spark, st, conf, startRound)
  }

  private def runLoop(spark: SparkSession, initial: Dataset[VertexState],
                      conf: Config, startRound: Int): Result = {
    import spark.implicits._
    val sc = spark.sparkContext

    // `.rdd` runs the input's exchanges, so its partition count is final;
    // the masters are laid out by this one partitionBy, and the first
    // round's job reads its output twice (extension pass and merge)
    val input = initial.rdd
    val part = new HashPartitioner(masterPartitions(spark, input))
    var st: RDD[(Long, VertexState)] = input.map(v => (v.id, v)).partitionBy(part)
    var prevMrdd: RDD[(VertexState, Array[Candidate])] = null
    var prevBc: Broadcast[FlowDelta] = null
    var engineFlow = 0L
    var round = startRound
    var pending: FlowDelta = Map.empty
    val assignment = mutable.HashMap.empty[(Long, Long), Long]
    val allPaths = mutable.ArrayBuffer.empty[(Seq[Long], Long)]
    val reports = mutable.ArrayBuffer.empty[RoundCounters]
    var done = false
    var zeroStreak = 0
    def credit(delta: collection.Map[(Long, Long), Long]): Unit =
      delta.foreach { case (k, v) => assignment.update(k, assignment.getOrElse(k, 0L) + v) }
    // round-tagged dir (kill-safe: never overwritten) + prune to bound storage
    def durable(s: RDD[VertexState], r: Int): Unit = conf.stateDir.foreach { dir =>
      graft.sources.StateIO.writeRound(spark.createDataset(s), dir, r)
      graft.sources.StateIO.pruneRounds(spark, dir)
    }

    while (!done && round < conf.maxRounds) {
      round += 1
      val bc = sc.broadcast(pending)
      val ctrs = Ctrs(sc, s"mf-r$round")
      val mrdd = superstep(st, part, bc, round, conf, ctrs)
      // Mid-round acceptance overlap (the reference's RMI ApServer,
      // ff2/ApServer.java:19-49): ONE parallel job materializes the merged
      // state into cache, and each partition's candidates are offered to
      // the driver-side acceptor the moment the partition finishes — in
      // partition order, so acceptance stays deterministic while it
      // overlaps the computation of the remaining partitions.
      val acceptor = new Acceptor(conf.seed * 31 + round)
      val nParts = mrdd.getNumPartitions
      val partCands = new Array[Array[Candidate]](nParts)
      val partDone = new Array[Boolean](nParts)
      val lock = new Object
      var nextOffer = 0
      sc.runJob(mrdd,
        (it: Iterator[(VertexState, Array[Candidate])]) =>
          it.flatMap(_._2).toArray,
        (idx: Int, cs: Array[Candidate]) => lock.synchronized {
          partCands(idx) = cs
          partDone(idx) = true
          while (nextOffer < nParts && partDone(nextOffer)) {
            acceptor.offer(partCands(nextOffer))
            partCands(nextOffer) = null
            nextOffer += 1
          }
        })
      // runJob returns after every handler ran: acceptance is complete and
      // the round's accumulators are final. It also materialized mrdd's
      // lazy checkpoint (doCheckpoint truncates its lineage when the job
      // ends), so the previous round's cache AND broadcast are now
      // droppable. They could not be dropped a round earlier: this job's
      // tasks serialize the untruncated lineage, which still references
      // them (counters are not double-counted: the projection map over the
      // previous cached mrdd carries no accumulators).
      if (prevMrdd != null) prevMrdd.unpersist(blocking = false)
      if (prevBc != null) prevBc.destroy()
      if (conf.validate) mrdd.foreach(p => validateVertex(p._1))
      val (got, delta, roundPaths) = acceptor.result
      allPaths ++= roundPaths
      credit(delta)
      engineFlow += got
      reports += RoundCounters(round, got, engineFlow,
        roundPaths.size, acceptor.candidateCount, ctrs.loseExcess.value,
        ctrs.moveS.value, ctrs.moveT.value,
        ctrs.extendS.value, ctrs.extendT.value,
        ctrs.satS.value, ctrs.satT.value,
        ctrs.dropS.value, ctrs.dropT.value,
        ctrs.aliveS.value, ctrs.aliveT.value)
      pending = delta
      // the next masters: a projection of the checkpointed merge, kept in
      // place on the same partitions
      st = mrdd.mapPartitions(_.map { case (v, _) => (v.id, v) },
        preservesPartitioning = true)
      prevMrdd = mrdd
      prevBc = bc // destroyed after the NEXT job truncates this lineage
      zeroStreak = if (got == 0) zeroStreak + 1 else 0
      // C3 quiescence; the ff2 counter rule (no flow, no lost excess, one
      // frontier stalled — ff2/FordFulkerson.java:447-451); or early stop
      // once found flow has gone stale. The exactness cleanup guarantees
      // the same final flow under any of the three.
      // "a frontier stalled" is one-sided in unidirectional mode: the
      // sink frontier never moves when useSinkExcess=false, so only the
      // source side counts (else the ff2 rule fires at round 2)
      val frontierStalled =
        if (conf.useSinkExcess) ctrs.moveS.value == 0 || ctrs.moveT.value == 0
        else ctrs.moveS.value == 0
      done = (got == 0 && ctrs.moves == 0) ||
        (round > 1 && got == 0 && ctrs.loseExcess.value == 0 && frontierStalled) ||
        (engineFlow > 0 && zeroStreak >= conf.acceptPatience)
      if (conf.stateDir.nonEmpty && (done || round % conf.checkpointEvery == 0)) {
        // persist the FLUSHED view so resume starts with no pending delta
        val bcF = sc.broadcast(pending)
        durable(st.values.map(applyDeltaOnly(_, bcF.value)), round)
        bcF.destroy()
      }
    }
    // flush any un-applied deltas into the state before cleanup: a lazy
    // RDD map over the cached round state, which the driver tier's two
    // actions (residual count, residual collect) each re-run. No Dataset
    // action here: each paid its own query planning (Scale notes).
    var state: RDD[VertexState] = st.values
    if (pending.nonEmpty) {
      val bc = sc.broadcast(pending)
      state = state.map(applyDeltaOnly(_, bc.value))
      pending = Map.empty
    }

    var cleanupFlow = 0L
    var tier: CleanupTier = CleanupTier.Off
    if (conf.exactCleanup) {
      val nResidual = state.map(_.adj.count(_.residualOut > 0).toLong)
        .fold(0L)(_ + _)
      if (nResidual <= conf.driverCleanupMaxEdges) {
        tier = CleanupTier.Driver
        // Driver-side one-shot: collect the residual graph, run in-memory
        // shortest-augmenting-path to exhaustion, broadcast the deltas
        // back in a single distributed refresh.
        val resid = state.flatMap(v =>
          v.adj.withFilter(_.residualOut > 0).map(a => (v.id, a.nbr, a.residualOut)))
          .collect()
        val (extra, delta, cleanPaths) = residualMaxFlowDriver(resid)
        allPaths ++= cleanPaths
        if (extra > 0) {
          credit(delta)
          cleanupFlow = extra
          // the refreshed state is only observable through a durable
          // checkpoint — when one is asked, refresh AND WRITE it as round
          // round+1 (a NEW dir, the writeRound never-overwrite discipline):
          // an in-place rewrite of the newest round dir would open a
          // delete-then-write window that, when it is the ONLY complete
          // round, can leave zero resumable checkpoints after a kill. A
          // resume then sees a quiescent graph under the next round index.
          if (conf.stateDir.nonEmpty) {
            val bc = sc.broadcast(delta)
            durable(state.map(applyDeltaOnly(_, bc.value)), round + 1)
            bc.destroy() // writeRound is the refresh's only action
          }
        }
      } else {
        tier = CleanupTier.Distributed
        // Distributed fallback: each BFS returns a BATCH of vertex-disjoint
        // shortest augmenting paths (vertex-disjoint ⇒ edge-disjoint ⇒
        // their bottlenecks are simultaneously valid), all bottlenecks are
        // read in ONE state collect, and all deltas apply in one refresh —
        // no per-hop or per-path driver round-trips.
        var pinned: RDD[VertexState] = null // the newest refreshed state
        val deltas = mutable.ArrayBuffer.empty[Broadcast[FlowDelta]]
        var found = true
        while (found) {
          val paths = findAugmentingPaths(spark, spark.createDataset(state))
          if (paths.isEmpty) found = false
          else {
            val ids = paths.flatMap(_.toSeq).toSet
            val rows = state.filter(v => ids.contains(v.id)).collect()
            val adjOf = rows.map(v => v.id -> v.adj).toMap
            val delta = mutable.HashMap.empty[(Long, Long), Long].withDefaultValue(0L)
            for (path <- paths) {
              val q = path.sliding(2).map { h =>
                adjOf(h(0)).find(_.nbr == h(1))
                  .getOrElse(sys.error(s"missing edge ${h(0)}→${h(1)}"))
                  .residualOut
              }.min
              assert(q > 0, s"augmenting path with zero bottleneck: ${path.mkString("→")}")
              path.sliding(2).foreach(h => delta((h(0), h(1))) += q)
              allPaths += ((path.toSeq, q))
              cleanupFlow += q
            }
            credit(delta)
            val bc = sc.broadcast(delta.toMap)
            deltas += bc
            state = state.map(applyDeltaOnly(_, bc.value))
              .persist(StorageLevel.MEMORY_AND_DISK_SER).localCheckpoint()
            state.count()
            // the checkpoint above is materialized and self-contained — the
            // state it replaced is dead (one frame per BFS batch otherwise)
            if (pinned != null) pinned.unpersist(blocking = false)
            pinned = state
          }
        }
        // same durable contract as the driver-side path: when the fallback
        // found flow, a resume must see the quiescent post-cleanup graph —
        // written as round+1 (never overwriting the newest complete dir)
        if (cleanupFlow > 0) durable(state, round + 1)
        // a checkpointed map RDD keeps its closure, and every later job
        // over the frame serializes it: its broadcast lives until here
        deltas.foreach(_.destroy())
        if (pinned != null) pinned.unpersist(blocking = false)
      }
    }
    if (prevMrdd != null) prevMrdd.unpersist(blocking = false)
    if (prevBc != null) prevBc.destroy()
    Result(engineFlow + cleanupFlow, engineFlow, cleanupFlow, round,
      assignment.toMap, allPaths.toSeq, reports.toSeq, tier)
  }

  /** Reference invariant set, applied to one vertex (Config.validate). */
  private[graph] def validateVertex(v: VertexState): Unit = {
    v.adj.foreach { a =>
      require(a.flow <= a.capOut && -a.flow <= a.capIn,
        s"flow out of bounds at ${v.id}->${a.nbr}: $a")
    }
    (v.s ++ v.t).foreach { p =>
      require(p.nodes.distinct.length == p.nodes.length,
        s"non-simple path at ${v.id}: ${p.nodes.mkString(":")}")
      require(p.flows.length == p.nodes.length - 1 &&
        p.caps.length == p.nodes.length - 1,
        s"hop arity mismatch at ${v.id}")
    }
    val nbrs = v.adj.map(_.nbr)
    require(nbrs.distinct.length == nbrs.length,
      s"duplicate adjacency at ${v.id}")
  }

  /** The accepted-flow refresh (T6/J2) with saturated-path pruning (T7):
    * edge and path flows re-read through the delta map, paths with no
    * potential left dropped. An empty delta leaves every flow as it is.
    */
  private[graph] def applyDeltaOnly(v: VertexState, d: FlowDelta): VertexState = {
    def refresh(p: PathState): PathState =
      if (d.isEmpty || p.length == 0) p
      else {
        val nf = Array.tabulate(p.flows.length)(i =>
          effFlow(p.flows(i), p.nodes(i), p.nodes(i + 1), d))
        PathState(p.nodes, nf, p.caps)
      }
    val adj2 = if (d.isEmpty) v.adj
      else v.adj.map(a => a.copy(flow = effFlow(a.flow, v.id, a.nbr, d)))
    VertexState(v.id, adj2, v.s.map(refresh).filter(_.potential > 0),
      v.t.map(refresh).filter(_.potential > 0), v.fsetS, v.fsetT)
  }

  /** Driver-side exhaustive augmentation over a collected residual graph:
    * shortest-augmenting-path (BFS) until the supersink is unreachable.
    * Returns (total extra flow, net positive directed deltas, paths). This
    * is the same "sequential commit point on the master" role the
    * reference assigns its RMI ApServer (ff2/ApServer.java) — exactness
    * without per-path distributed jobs.
    *
    * The graph is Int-indexed: vertex ids map to 0..n-1, each unordered
    * vertex pair is one arc pair (2p: lo→hi, 2p+1: hi→lo, so an arc's
    * reverse is `a ^ 1`) holding residual capacities, and the arcs sit in
    * CSR order by tail. A BFS is an `Array[Int]` queue and a parent-arc
    * array, with no boxed tuple keys on the per-path loop.
    */
  private[graph] def residualMaxFlowDriver(
      resid: Array[(Long, Long, Long)]): (Long, FlowDelta, Seq[(Seq[Long], Long)]) = {
    import java.util.Arrays.binarySearch
    def sortedUnique(xs: Array[Long]): Array[Long] = {
      java.util.Arrays.sort(xs)
      var m = 0
      var i = 0
      while (i < xs.length) {
        if (m == 0 || xs(i) != xs(m - 1)) { xs(m) = xs(i); m += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(xs, m)
    }
    val ids = sortedUnique(resid.map(_._1) ++ resid.map(_._2))
    val n = ids.length
    val src = binarySearch(ids, GraphModel.SuperSource)
    val snk = binarySearch(ids, GraphModel.SuperSink)
    if (src < 0 || snk < 0) return (0L, Map.empty, Seq.empty)
    def ix(id: Long): Int = binarySearch(ids, id)
    def pairKey(a: Int, b: Int): Long =
      (math.min(a, b).toLong << 32) | math.max(a, b).toLong
    val keys = sortedUnique(resid.map(r => pairKey(ix(r._1), ix(r._2))))
    val nArcs = 2 * keys.length
    val head = new Array[Int](nArcs)
    val res = new Array[Long](nArcs) // residual capacity per arc
    var p = 0
    while (p < keys.length) {
      head(2 * p) = (keys(p) & 0xFFFFFFFFL).toInt
      head(2 * p + 1) = (keys(p) >>> 32).toInt
      p += 1
    }
    resid.foreach { case (u, v, c) =>
      val (iu, iv) = (ix(u), ix(v))
      val pi = binarySearch(keys, pairKey(iu, iv))
      res(if (iu < iv) 2 * pi else 2 * pi + 1) += c
    }
    val cap = res.clone()
    // CSR by tail: an arc's tail is the head of its reverse
    val start = new Array[Int](n + 1)
    var a = 0
    while (a < nArcs) { start(head(a ^ 1) + 1) += 1; a += 1 }
    var i = 0
    while (i < n) { start(i + 1) += start(i); i += 1 }
    val out = new Array[Int](nArcs)
    val fill = start.clone()
    a = 0
    while (a < nArcs) {
      val t = head(a ^ 1); out(fill(t)) = a; fill(t) += 1; a += 1
    }

    val parentArc = new Array[Int](n)
    val queue = new Array[Int](n)
    val paths = mutable.ArrayBuffer.empty[(Seq[Long], Long)]
    var total = 0L
    var go = true
    while (go) {
      java.util.Arrays.fill(parentArc, -1)
      parentArc(src) = nArcs // the root's marker: reached, no arc
      queue(0) = src
      var qh = 0
      var qt = 1
      while (qh < qt && parentArc(snk) < 0) {
        val u = queue(qh); qh += 1
        var k = start(u)
        while (k < start(u + 1)) {
          val e = out(k)
          val v = head(e)
          if (parentArc(v) < 0 && res(e) > 0) {
            parentArc(v) = e; queue(qt) = v; qt += 1
          }
          k += 1
        }
      }
      if (parentArc(snk) < 0) go = false
      else {
        var bn = Long.MaxValue
        var v = snk
        while (v != src) { val e = parentArc(v); bn = math.min(bn, res(e)); v = head(e ^ 1) }
        val pbuf = mutable.ArrayBuffer(ids(snk))
        v = snk
        while (v != src) {
          val e = parentArc(v)
          res(e) -= bn
          res(e ^ 1) += bn
          v = head(e ^ 1)
          pbuf += ids(v)
        }
        paths += ((pbuf.reverse.toSeq, bn))
        total += bn
      }
    }
    // net flow lo→hi of pair p is what its forward arc lost
    val delta = mutable.HashMap.empty[(Long, Long), Long]
    p = 0
    while (p < keys.length) {
      val f = cap(2 * p) - res(2 * p)
      val (lo, hi) = (ids(head(2 * p + 1)), ids(head(2 * p)))
      if (f > 0) delta((lo, hi)) = f else if (f < 0) delta((hi, lo)) = -f
      p += 1
    }
    (total, delta.toMap, paths.toSeq)
  }

  /** Distributed residual BFS; returns a batch of vertex-disjoint shortest
    * augmenting paths (supersource→supersink vertex sequences), or empty
    * when the supersink is unreachable.
    *
    * Exactly one Spark job per BFS level (frontier-expand + stats in one
    * action), one job collecting the parent forest, and one job for the
    * supersink's parent set — the per-hop `dist.filter(...).head()` driver
    * round-trips and the per-level re-persisted growing union of the old
    * design are gone (VERDICT r2 "wrong" #3). `adj` and each level are
    * pinned once through [[Caches]] and released before returning, on
    * the failure path too.
    */
  private def findAugmentingPaths(spark: SparkSession,
                                  state: Dataset[VertexState]): Seq[Array[Long]] = {
    import spark.implicits._
    val adj = Caches.track(GraphBuilder.residualEdges(spark, state)
      .repartition(col("src")))
    val levels = mutable.ArrayBuffer[DataFrame](
      Seq((GraphModel.SuperSource, GraphModel.SuperSource)).toDF("node", "parent"))
    try {
      var frontier = levels.head.select("node")
      var reached = false
      var frontierSize = 1L
      while (!reached && frontierSize > 0) {
        val seen = levels.reduce(_ unionAll _) // all inputs cached; no re-persist
        // lazy pin: caches the level AND breaks the lineage back to adj
        // (the next level's join would otherwise be an ambiguous
        // self-join); each level is pinned exactly once
        val next = Caches.pin(frontier.join(adj, frontier("node") === adj("src"))
          .select(adj("dst").as("node"), adj("src").as("parent"))
          .groupBy("node").agg(min("parent").as("parent"))
          .join(seen, Seq("node"), "left_anti"))
        // single action per level: frontier size + sink-reached together
        val stats = next.agg(count(lit(1)),
          count(when(col("node") === GraphModel.SuperSink, lit(1)))).head()
        frontierSize = stats.getLong(0)
        reached = stats.getLong(1) > 0
        levels += next
        frontier = next.select("node")
      }
      if (!reached) Seq.empty
      else {
        // ONE action: the whole BFS parent forest to the driver (bounded by
        // reached vertices; 16 B/row — the same driver budget as the
        // one-shot cleanup's residual collect)
        val parent = levels.reduce(_ unionAll _).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // the supersink's FULL in-frontier (min(parent) kept only one):
        // every penultimate vertex seeds an independent backtrack
        val prevFrontier = levels(levels.length - 2).select("node")
        // re-aliased projection of the cached adj: prevFrontier's lineage
        // already contains adj, so a direct re-join would be an ambiguous
        // self-join
        val adjIn = adj.select(col("src").as("e_src"), col("dst").as("e_dst"))
        val sinkParents = prevFrontier
          .join(adjIn, col("node") === col("e_src"))
          .filter(col("e_dst") === GraphModel.SuperSink)
          .select("e_src").distinct()
          .collect().map(_.getLong(0)).sorted
        val used = mutable.HashSet.empty[Long]
        val paths = mutable.ArrayBuffer.empty[Array[Long]]
        for (p <- sinkParents) {
          val buf = mutable.ArrayBuffer(GraphModel.SuperSink, p)
          var cur = p
          var ok = !used.contains(p) && parent.contains(p)
          while (ok && cur != GraphModel.SuperSource) {
            cur = parent(cur)
            if (cur != GraphModel.SuperSource && used.contains(cur)) ok = false
            else buf += cur
          }
          if (ok) {
            // greedy vertex-disjoint selection: intermediate vertices of an
            // accepted path block later paths through them
            buf.view.slice(1, buf.length - 1).foreach(used += _)
            paths += buf.reverse.toArray
          }
        }
        paths.toSeq
      }
    } finally Caches.release(adj +: levels.tail.toSeq: _*)
  }
}
