package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling: repeatedly delete every
  * vertex whose degree in the SURVIVING graph is below k, until none
  * remains to delete. The fixpoint — the maximal subgraph with minimum
  * degree ≥ k — is unique regardless of deletion order (the classic
  * peeling invariant), so the result is deterministic at any parallelism
  * and expressible in DuckDB as a statically unrolled peel (the q34
  * oracle unrolls 4 rounds, a proven margin for the test graph).
  *
  * Scale design: each round is ONE map-side-combinable degree
  * aggregation plus two anti-joins against the round's DROP set — the
  * fringe below k, the SMALL side (empty at the fixpoint), which AQE
  * broadcasts — so the edge relation shrinks monotonically and no round
  * hashes the survivor relation. Round cost is proportional to the
  * surviving graph, round count to the peeling depth (shallow on
  * heavy-tailed graphs: dense cores stabilize after the fringe cascades
  * off). Each round's survivor set is a [[Superstep]] frame, so round R
  * plans O(1) stages. No windows, no driver-side vertex data — only the
  * per-round survivor COUNT reaches the driver: an unchanged count means
  * nothing was peeled.
  */
object KCore {

  /** @param edges symmetric deduplicated (src, dst) BIGINT pairs — every
    *              undirected edge present in both directions, so the
    *              src-degree IS the vertex degree.
    * @return surviving (node, deg) with deg the degree INSIDE the core,
    *         ordered by node; empty when no vertex sustains k neighbors.
    */
  def run(s: SparkSession, edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"KCore.run: k must be >= 1, got $k")
    Superstep.iterate(edges, Int.MaxValue) { (cur, _) =>
      // peel by the DROP set, not the keep set: per round it is the small
      // side (the fringe below k — empty at the fixpoint), so AQE turns
      // both anti-joins into broadcasts; a keep-side semi-join would hash
      // the near-corpus-sized survivor relation every round. A vertex
      // whose neighbors all drop loses its edges and leaves the degree
      // relation implicitly — same fixpoint.
      val drop = cur.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") < k).select(col("src").as("node"))
      cur
        .join(drop.select(col("node").as("src")), Seq("src"), "left_anti")
        .join(drop.select(col("node").as("dst")), Seq("dst"), "left_anti")
        .select("src", "dst")
    }(Superstep.unchanged(_.count()))._1
      .groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .orderBy("node")
  }
}
