package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et al.
  * 2007), on the same superstep substrate as Bfs/ConnectedComponents.
  *
  * Unlike ConnectedComponents (which converges to one label per connected
  * component — a REACHABILITY answer), LPA's plurality-vote update finds
  * densely-linked clusters INSIDE a component: each round every node
  * adopts the most frequent label among ITSELF and its neighbors, ties
  * broken toward the smallest label. The self-vote is load-bearing:
  * without it, synchronous LPA on clique-ish structure settles into a
  * 2-cycle whose label groups are INDEPENDENT SETS (measured on the
  * sf0.01 co-occurrence graph — every community had zero intra edges,
  * i.e. anti-communities), while the self-inclusive vote damps the
  * oscillation and converges onto the dense clusters. The round count is
  * FIXED (a declared parameter, not a convergence test): even damped
  * synchronous LPA can cycle on bipartite structure, so production runs
  * pick a small fixed budget — and a fixed budget is what keeps the op
  * DuckDB-expressible (the oracle unrolls the same votes verbatim).
  *
  * Determinism: the update is a pure function of the previous labelling
  * (count DESC, label ASC rank), so results are reproducible across
  * engines, partitionings, and retries — no asynchronous visit-order
  * dependence.
  *
  * Per round: one equi-join of the edge list against the labels on the
  * neighbor end + one (node, label) count + one per-node `max_by` top-1 —
  * two hash aggregates (both partial-aggregable map-side), NO per-node
  * sort: the plurality/min-tie vote is the struct-ordering maximum of
  * (count, -label), so the round never pays a WindowExec sort over the
  * adjacency. Cost is O(|E|) rows per round with no quadratic term. The
  * edge relation is laid out once by the joined end ([[Superstep]]) and
  * each round's labelling is materialized before the previous one is
  * released.
  */
object LabelProp {

  /** @param und undirected edge relation (u, v), one row per edge
    *            (orientation irrelevant; both directions derived here)
    * @param rounds fixed number of synchronous update rounds
    * @return DataFrame(node: Long, community: Long)
    */
  def run(spark: SparkSession, und: DataFrame, rounds: Int): DataFrame = {
    val fwd = und.select(col("u").cast("long"), col("v").cast("long"))
    val both = fwd.select(col("u").as("a"), col("v").as("b"))
      .unionAll(fwd.select(col("v").as("a"), col("u").as("b")))
    // each round joins labels on the b side
    Superstep.layout(both, "b") { edges =>
      val init = edges.select(col("a").as("node")).distinct()
        .withColumn("lbl", col("node"))
      Superstep.iterate(init, rounds) { (labels, _) =>
        edges.join(labels, edges("b") === labels("node"))
          .select(edges("a"), col("lbl"))
          .unionAll(labels.select(col("node").as("a"), col("lbl")))
          .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("a").as("node"))
          .agg(max_by(col("lbl"), struct(col("c"), -col("lbl"))).as("lbl"))
      }(Superstep.never)._1
    }.select(col("node"), col("lbl").as("community"))
  }
}
