package graft.graph

import graft.Caches
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The one round loop of the iterative graph engines: read round i's
  * frame, write round i+1's, stop on a counter — the reference's
  * job-per-round driver (ff1/FordFulkerson.java:186-190), written once.
  * Bfs, ConnectedComponents, LabelProp, KCore, Truss, PageRank, Hits,
  * Katz, Walks, Betweenness, the distributed tiers of Coreness and
  * Layers, and GraphQueries' q26_sssp / anfOn run on it. Scc's peel loop
  * and Mst's Borůvka rounds stay hand-rolled on the same verbs; MaxFlow's
  * durable rounds are RDD state it frees itself.
  *
  * Block-manager contract. Every frame is pinned with [[Caches.pin]] or
  * [[Caches.track]] and freed with [[Caches.release]]. A pin holds its
  * partitions in the BlockManager, and without a release the only path
  * back is the async ContextCleaner, which frees them when a driver GC
  * collects the RDD object. A large heap may not GC for a
  * whole session, so a session of iterative queries accumulates dead
  * blocks: q43_scc ran 6 s alone but 17.8 → 37.8 → 38.7 s late in a
  * 228-query session. [[iterate]] therefore releases a round's frame the
  * moment its successor is MATERIALIZED — not earlier: a local checkpoint
  * truncates lineage, so a released frame can never be recomputed, and
  * nothing may read it again. The frame left pinned stays registered, so
  * `Caches.releaseAll` frees it.
  */
private[graft] object Superstep {

  /** Runs `run` over `edges` laid out for per-round joins on `keys`, and
    * releases (and unregisters) the layout when `run` returns or throws.
    *
    * The layout is hash-partitioned on `keys`, SORTED within partitions
    * on them, and tracked with [[Caches.track]]. The
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
    val adj = Caches.track(
      edges.repartition(by: _*).sortWithinPartitions(by: _*))
    try run(adj)
    finally Caches.release(adj)
  }

  /** Rounds 1, 2, … of `step` from `init`, for at most `maxRounds`
    * rounds; returns the final frame and the number of rounds run.
    *
    * Each frame (`init` included) is lazily pinned ([[Caches.pin]]) and
    * handed to `done` — the round's one action (a count, an exact sum or
    * an emptiness test) — which materializes it in the same job and says
    * whether to stop. `init` is asked too, so an
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
      cur = Caches.pin(init)
      var stop = settle(cur, done)
      var round = 0
      while (!stop && round < maxRounds) {
        round += 1
        next = Caches.pin(step(cur, round))
        stop = settle(next, done)
        Caches.release(cur)
        cur = next
        next = null
      }
      (cur, round)
    } catch {
      case t: Throwable =>
        Caches.release(cur, next)
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

  private def settle(frame: DataFrame, done: DataFrame => Boolean): Boolean = {
    val stop = done(frame)
    val rdd = Caches.checkpointRdd(frame)
    if (rdd != null && !rdd.isCheckpointed) rdd.count()
    stop
  }
}
