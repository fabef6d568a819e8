package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** The one round loop of the iterative graph engines: read round i's
  * frame, write round i+1's, stop on a counter — the reference's
  * job-per-round driver (ff1/FordFulkerson.java:186-190), written once.
  * Bfs, ConnectedComponents, LabelProp, KCore, Truss, PageRank, Hits,
  * Katz, Walks, Betweenness, the distributed tiers of Coreness and
  * Layers, and GraphQueries' q26_sssp / anfOn run on it. Scc's peel loop,
  * Mst's Borůvka rounds and MaxFlow's durable RDD rounds stay hand-rolled
  * and release their frames through [[Checkpoints]].
  *
  * Block-manager contract. Every `localCheckpoint` pins its partitions
  * in the BlockManager, and the only default release path is the async
  * ContextCleaner, which frees them when a driver GC collects the RDD
  * object. A large heap may not GC for a whole session, so a session of
  * iterative queries accumulates dead blocks: q43_scc ran 6 s alone but
  * 17.8 → 37.8 → 38.7 s late in a 228-query session. [[iterate]] therefore
  * releases a round's frame the moment its successor is MATERIALIZED —
  * not earlier: a local checkpoint truncates lineage, so a released frame
  * can never be recomputed, and nothing may read it again.
  */
private[graft] object Superstep {

  /** Runs `run` over `edges` laid out for per-round joins on `keys`, and
    * releases (and unregisters) the layout when `run` returns or throws.
    *
    * The layout is hash-partitioned on `keys`, SORTED within partitions
    * on them, persisted and registered with [[graft.Caches]]. The
    * InMemoryRelation keeps the cached plan's partitioning and output
    * ordering, so each round's sort-merge join reads the edge side with
    * no exchange and no sort; an unsorted layout re-sorts the graph-sized
    * side every round. A `localCheckpoint` would not do: under AQE its
    * scan reports neither partitioning nor ordering, and every round
    * re-exchanges the edges. PlanSpec locks both properties.
    *
    * `run` should return a frame of [[iterate]] (or a local relation),
    * not a lazy plan over the layout: once released, the layout would be
    * recomputed from `edges` by whoever reads that plan.
    */
  def layout[A](edges: DataFrame, keys: String*)(run: DataFrame => A): A = {
    val by = keys.map(col)
    val adj = graft.Caches.track(
      edges.repartition(by: _*).sortWithinPartitions(by: _*))
    try run(adj)
    finally {
      adj.unpersist(blocking = false)
      graft.Caches.untrack(adj)
    }
  }

  /** Rounds 1, 2, … of `step` from `init`, for at most `maxRounds`
    * rounds; returns the final frame and the number of rounds run.
    *
    * Each frame (`init` included) is lazily checkpointed, registered with
    * [[graft.Caches]], and handed to `done` — the round's one action (a
    * count, an exact sum or an emptiness test) — which materializes it in
    * the same job and says whether to stop. `init` is asked too, so an
    * engine with nothing to do runs 0 rounds. If `done` ran no action (a
    * fixed-round engine, `never`), the frame is materialized here. Only
    * then is the frame it replaced released, so at most two frames are
    * pinned at once and one is left: the returned frame, materialized.
    *
    * `step(frame, round)` may throw (a round cap, a `require`); every
    * frame this call pinned is then released before the exception
    * propagates.
    */
  def iterate(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame)(
      done: DataFrame => Boolean): (DataFrame, Int) = {
    var cur: DataFrame = null
    var next: DataFrame = null
    try {
      cur = pin(init)
      var stop = settle(cur, done)
      var round = 0
      while (!stop && round < maxRounds) {
        round += 1
        next = pin(step(cur, round))
        stop = settle(next, done)
        unpin(cur)
        cur = next
        next = null
      }
      (cur, round)
    } catch {
      case t: Throwable =>
        unpin(cur, next)
        throw t
    }
  }

  /** `done` for fixed-round engines: every round up to the cap runs. */
  val never: DataFrame => Boolean = _ => false

  /** `done` that stops once `measure` (one action) repeats its value for
    * the previous frame: a row count for engines whose state only grows
    * or only shrinks, an exact sum for monotone labels.
    */
  def unchanged[A](measure: DataFrame => A): DataFrame => Boolean = {
    var last: Option[A] = None
    frame => {
      val m = measure(frame)
      val stop = last.contains(m)
      last = Some(m)
      stop
    }
  }

  private def pin(df: DataFrame): DataFrame =
    graft.Caches.trackPinned(df.localCheckpoint(eager = false))

  private def settle(frame: DataFrame, done: DataFrame => Boolean): Boolean = {
    val stop = done(frame)
    val rdd = checkpointRdd(frame)
    if (rdd != null && !rdd.isCheckpointed) rdd.count()
    stop
  }

  private def checkpointRdd(df: Dataset[_]) =
    if (df == null) null
    else df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd
      case _              => null
    }

  /** Frees the BlockManager storage behind checkpointed frames: exactly
    * the frames `localCheckpoint` returned (a single `LogicalRDD` leaf).
    * Any other frame, or null, is a no-op — plan trees are deliberately
    * not walked, since a derived plan's leaves may be checkpoints the
    * caller still holds.
    */
  private[graph] def unpin(frames: Dataset[_]*): Unit =
    frames.foreach { df =>
      val rdd = checkpointRdd(df)
      if (rdd != null) rdd.unpersist(blocking = false)
    }
}
