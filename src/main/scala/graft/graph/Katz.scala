package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Truncated Katz centrality (Katz 1953): katz(v) = Σ_{k=1..horizon}
  * α^k · (#walks of length k ending at v), α = 1/invAlpha. Where q58's
  * betweenness scores SHORTEST-path flow-through, Katz scores total
  * reachability mass with geometric damping — the influence measure
  * behind eigenvector-style rankings, truncated to a fixed horizon so
  * the result is closed-form in both engines (the infinite series needs
  * α < 1/λ_max and an iteration-to-convergence neither engine can
  * hash-compare).
  *
  * Engine-exactness: walk counts are an integer DP (w_k(v) = Σ_{u→v}
  * w_{k-1}(u), revisits allowed — walks, not paths); each level scales
  * by the INTEGER invAlpha^(horizon−k), so the whole accumulation is
  * exact in BIGINT/DECIMAL and the single terminal division by
  * invAlpha^horizon is one IEEE op + ROUND 6, identical bits both
  * engines. The accumulation runs in Horner form, acc_k = acc_{k-1} ·
  * invAlpha + w_k, which is the same integer Σ_k w_k · invAlpha^(horizon−k)
  * after `horizon` levels, carried in one (node, w, acc) relation.
  *
  * Scale: one join of the level vector against the edge relation + one
  * node aggregate per level — horizon exchanges total, each linear in
  * |E|; no window, no global sort. Each level is one [[Superstep]]
  * frame. Walk counts grow as deg^k: BIGINT holds horizon 4 up to ~30k
  * average degree.
  */
object Katz {

  /** @param und undirected (u, v) pairs with u < v
    * @return DataFrame(node, katz) over all nodes with an edge,
    *         ordered by node
    */
  def run(s: SparkSession, und: DataFrame, horizon: Int = 4,
          invAlpha: Int = 4): DataFrame = {
    // denom must be an exactly representable double (one terminal
    // division): bound the declared parameters instead of silently
    // corrupting weights through an inexact math.pow
    require(BigInt(invAlpha).pow(horizon) < BigInt(2).pow(53),
      s"invAlpha^horizon = $invAlpha^$horizon exceeds exact double range")
    val denom = math.pow(invAlpha.toDouble, horizon.toDouble)
    Superstep.layout(GraphQueries.bidirectional(und), "a") { e =>
      val init = e.select(col("a").as("node")).distinct()
        .select(col("node"), lit(1L).as("w"),
          lit(0).cast("decimal(38,0)").as("acc"))
      Superstep.iterate(init, horizon) { (lvl, _) =>
        val w = e.join(lvl, lvl("node") === e("a"))
          .groupBy(e("b").as("node"))
          .agg(sum("w").as("nw"))
        lvl.join(w, Seq("node"), "left_outer")
          .select(col("node"), coalesce(col("nw"), lit(0L)).as("w"),
            (col("acc") * lit(invAlpha) +
              coalesce(col("nw"), lit(0L)).cast("decimal(38,0)"))
              .cast("decimal(38,0)").as("acc"))
      }(Superstep.never)._1
    }.select(col("node"),
        round(col("acc").cast("double") / lit(denom), 6).as("katz"))
      .orderBy("node")
  }
}
