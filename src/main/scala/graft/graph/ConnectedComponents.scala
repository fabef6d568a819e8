package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation — a second iterative
  * fixpoint algorithm on the same superstep substrate as Bfs/MaxFlow
  * (SURVEY §7 stage 2's loop shape, generalized).
  *
  * Per round: propagate each node's current component label to its
  * neighbors and keep the minimum — one join + one aggregate, both
  * hash-partitioned on node. Convergence is detected by the EXACT label
  * sum (decimal(38,0), one scalar per round, no row-diff join): because
  * `next` always folds in the node's own label, per-node labels are
  * monotonically non-increasing, so the exact sum strictly decreases iff
  * any label changed — no overflow wrap or collision is possible even at
  * 1e8 nodes × 1e14 folded ids (a Long sum could wrap and stop the loop
  * early; VERDICT r2 "wrong" #6). Rounds ≤ the largest component's
  * diameter.
  */
object ConnectedComponents {

  /** @param edges directed edge relation (src, dst); pass both directions
    *              for undirected connectivity
    * @return DataFrame(node: Long, comp: Long) — comp = min node id of the
    *         component
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 50): DataFrame =
    runCounted(spark, edges, maxIter)._1

  /** As [[run]], also reporting the rounds executed (the final, no-change
    * round included) — the convergence diagnostic the scale probes record.
    */
  def runCounted(spark: SparkSession, edges: DataFrame,
                 maxIter: Int = 50): (DataFrame, Int) =
    Superstep.layout(
        edges.select(col("src").cast("long"), col("dst").cast("long")),
        "src") { adj =>
      if (adj.isEmpty)
        // no edges — no labels (the exact-sum convergence test is
        // undefined on an empty relation; callers fold isolated nodes
        // back in themselves, e.g. Scc's coalesce)
        (spark.range(0).selectExpr("id AS node", "id AS comp"), 0)
      else {
        val init = adj.select(col("src").as("node"))
          .union(adj.select(col("dst").as("node")))
          .distinct()
          .withColumn("comp", col("node"))
        // the returned frame is the round's checkpoint itself, so Scc can
        // release it per peel
        Superstep.iterate(init, maxIter) { (labels, _) =>
          val prop = adj.join(labels, adj("src") === labels("node"))
            .select(adj("dst").as("node"), col("comp"))
          // r13: aggregate the PROPAGATED labels alone (edge-fan-in rows,
          // map-side partial MIN), then fold into the label relation with
          // a node-keyed left join — min over {labels(v)} ∪ prop(v)
          // equals least(labels.comp, min(prop(v))) because min is
          // associative with the join's null as identity (a node nobody
          // propagated to keeps its label; every prop target IS in
          // labels, which holds all nodes from round 0). The previous
          // self-union + re-aggregate re-shuffled the FULL label relation
          // every round on top of the propagated rows (guide §2.3
          // "aggregate before you shuffle"): the per-round shuffle drops
          // from |nodes| + |prop| rows to |prop| rows.
          val inMin = prop.groupBy("node").agg(min("comp").as("pcomp"))
          labels.join(inMin, Seq("node"), "left_outer")
            .select(col("node"), least(col("comp"), col("pcomp")).as("comp"))
        }(Superstep.unchanged(exactSum))
      }
    }

  /** The exact label sum, the convergence measure (see above). */
  private def exactSum(labels: DataFrame): java.math.BigInteger =
    labels.agg(sum(col("comp").cast("decimal(38,0)"))).head()
      .getDecimal(0).toBigInteger
}
