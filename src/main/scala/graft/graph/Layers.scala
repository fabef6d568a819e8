package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DAG longest-path layering (topological levels): layer(v) = length of the
  * longest directed path ending at v — the level assignment a scheduler /
  * dependency planner uses (ASAP schedule), and the layered drawing every
  * DAG visualizer computes. The same superstep discipline as the other
  * iterative graph ops (Bfs/Sssp/KCore): the reference's engine family runs
  * iterative vertex programs as one MapReduce job per round
  * (ff1/FordFulkerson.java:186-190 round-i output → round-i+1 input); here
  * each round is ONE Spark job over a frontier-delta.
  *
  * Algorithm: every vertex starts at layer 0; each round relaxes
  * layer(dst) ← max(layer(dst), layer(src)+1) over edges whose src improved
  * last round (Bellman-Ford-max restricted to the frontier). On a DAG this
  * reaches the longest-path fixpoint in depth(DAG) rounds; a cycle would
  * relax forever, so `maxRounds` is a cycle guard that fails fast with a
  * clear message instead of looping.
  *
  * Scale notes: the edge relation is laid out by src once ([[Superstep]])
  * and every superstep reuses that exchange; the frontier shrinks to the
  * deep tail after the first rounds (most vertices settle at small
  * layers), so late rounds join a tiny frontier against the
  * pre-partitioned edges. Each round's layer map is a Superstep frame, so
  * the plan stays O(1) in rounds.
  */
object Layers {

  /** @param edges directed edge relation (src, dst); must be acyclic
    * @param maxRounds cycle guard AND depth cap: a DAG deeper than
    *        maxRounds-1 fails fast in BOTH tiers (the driver Kahn
    *        enforces the same bound the superstep loop hits, so the
    *        failure contract is tier-uniform)
    * @param driverFinishMaxEdges DAG size (|edges|) up to which ONE
    *        bounded collect + in-memory Kahn longest-path computes the
    *        layering (the Mst/Scc/Coreness driver-tier discipline; the
    *        fixpoint is unique so the tiers agree exactly, spec-locked);
    *        0 disables the driver tier. The superstep loop pays one job
    *        per DAG-depth round — pure scheduling overhead on graphs
    *        this tier absorbs.
    * @return DataFrame(node: Long, layer: Long)
    */
  def run(spark: SparkSession, edges: DataFrame, maxRounds: Int = 64,
          driverFinishMaxEdges: Long = 5000000L): DataFrame =
    Superstep.layout(
        edges.select(col("src").cast("long"), col("dst").cast("long"))
          .distinct(),
        "src") { adj =>
      // `> 0` keeps "0 disables the driver tier" literal even for an
      // empty edge relation (count() <= 0 must not take the driver path)
      if (driverFinishMaxEdges > 0 && adj.count() <= driverFinishMaxEdges) {
        import spark.implicits._
        val (srcA, dstA) = DriverGraph.collectEdges(adj)
        kahnLayers(srcA, dstA, maxRounds).toSeq.toDF("node", "layer")
      } else {
        // every vertex starts at layer 0, all of it the first frontier
        val init = adj.select(col("src").as("node"))
          .unionAll(adj.select(col("dst").as("node")))
          .distinct()
          .select(col("node"), lit(0L).as("layer"), lit(true).as("up"))
        Superstep.iterate(init, Int.MaxValue) { (layer, round) =>
          if (round > maxRounds) throw new IllegalStateException(
            s"Layers: no fixpoint after $maxRounds rounds — the edge " +
              "relation has a cycle (or raise maxRounds for a deeper DAG)")
          val cand = layer.where(col("up"))
            .select(col("node").as("fnode"), (col("layer") + 1L).as("cl"))
            .join(adj, col("fnode") === col("src"))
            .groupBy(col("dst"))
            .agg(max(col("cl")).as("cand"))
            .select(col("dst").as("node"), col("cand"))
          // ONE full-outer join both merges the relaxation into the layer
          // map and flags the improved rows (the round-7 rewrite: the
          // previous join + anti-join + union shape paid an extra exchange
          // per round)
          layer.join(cand, Seq("node"), "full_outer")
            .select(col("node"),
              greatest(coalesce(col("layer"), lit(0L)),
                coalesce(col("cand"), lit(0L))).as("layer"),
              (coalesce(col("cand"), lit(-1L)) >
                coalesce(col("layer"), lit(0L))).as("up"))
        }(_.where(col("up")).count() == 0)._1.select("node", "layer")
      }
    }

  /** In-memory Kahn topological longest-path: layer(v) = length of the
    * longest directed path ending at v, on the primitive CSR
    * ([[DriverGraph]]) — int indegree/queue arrays, zero boxing, so the
    * 5M-edge driver tier costs ~tens of MB, not the hundreds a boxed
    * Map/ArrayBuffer adjacency did.
    *
    * Failure contract mirrors the distributed loop exactly:
    * a cycle (queue drains with nodes left) and a DAG deeper than
    * maxRounds-1 (the depth the superstep loop would exceed its round
    * guard on) both fail fast, each with a message naming its cause.
    */
  private[graph] def kahnLayers(src: Array[Long], dst: Array[Long],
      maxRounds: Int): Array[(Long, Long)] = {
    val g = DriverGraph.csr(src, dst)
    val n = g.n
    val indeg = new Array[Int](n)
    var i = 0
    while (i < g.tgt.length) { indeg(g.tgt(i)) += 1; i += 1 }
    val layer = new Array[Long](n)
    val queue = new Array[Int](n)
    var qh = 0
    var qt = 0
    i = 0
    while (i < n) { if (indeg(i) == 0) { queue(qt) = i; qt += 1 }; i += 1 }
    var maxLayer = 0L
    while (qh < qt) {
      val v = queue(qh); qh += 1
      var j = g.off(v)
      while (j < g.off(v + 1)) {
        val w = g.tgt(j)
        if (layer(v) + 1 > layer(w)) {
          layer(w) = layer(v) + 1
          if (layer(w) > maxLayer) maxLayer = layer(w)
        }
        indeg(w) -= 1
        if (indeg(w) == 0) { queue(qt) = w; qt += 1 }
        j += 1
      }
    }
    if (qh != n)
      throw new IllegalStateException(
        "Layers: cycle detected — the edge relation is not a DAG")
    // the superstep loop needs depth+1 rounds (the last one observes the
    // fixpoint), so depth >= maxRounds is exactly where it would throw
    if (maxLayer >= maxRounds)
      throw new IllegalStateException(
        s"Layers: DAG depth $maxLayer exceeds the maxRounds=$maxRounds " +
          "cap — raise maxRounds for a DAG this deep")
    Array.tabulate(n)(k => (g.nodes(k), layer(k)))
  }
}
