package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pivot-sampled, horizon-bounded betweenness centrality (Brandes 2001,
  * the dependency-accumulation formulation; pivot sampling per
  * Brandes/Pich 2007): from each of the `nPivots` smallest node ids,
  * count shortest paths σ level-synchronously out to `horizon` hops,
  * then accumulate dependencies backward — δ(v) = Σ_{w: succ}
  * σ(v)/σ(w)·(1+δ(w)) — and report bc(v) = Σ_pivots δ(v), v ≠ pivot.
  * Both bounds are DECLARED semantics (the oracle unrolls the same
  * levels), which is also the honest 100 TB shape: exact all-pairs
  * betweenness is O(V·E) supersteps and no engine runs it on a large
  * graph; the pivot/horizon estimator is the standard production
  * compromise.
  *
  * Engine-exactness: σ is an integer DP (level-synchronous sums); δ is
  * carried in INTEGER nano-units — each term is the truncating integer
  * quotient σ(v)·(1e9 + δ̃(w)) div σ(w) summed in DECIMAL(38,0) — so the
  * whole recursion is integer algebra with no float anywhere (a 9-dp
  * ROUND on doubles would hit exact midpoints here, where Spark and
  * DuckDB round differently); bc is one terminal CAST-to-double / 1e9
  * / ROUND 6. σ(v) ≤ σ(w) for a predecessor, so each term ≤ 1e9 +
  * δ̃(w). The real headroom ceiling is the LongType quotient Spark's
  * `div` returns: terms cap at ~9.2e18 nano-units (δ ~9.2e9 dependency
  * units per node) — ample at any sane horizon, but NOT 38 digits.
  *
  * Scale: per level, one join of the frontier against the edge relation
  * + one (pivot, node) aggregate — frontier-sized, never corpus-rank.
  * The backward pass mirrors it level by level. State is (pivots ×
  * reached nodes), bounded by the horizon; the edge relation is laid out
  * once. Both passes are one [[Superstep]] loop over one
  * (s, v, sigma, d, delta) relation — rounds 1..horizon add level d =
  * round, rounds horizon+1..2·horizon−1 fill delta for levels
  * horizon−1..1 — so O(horizon) jobs total, independent of graph size,
  * and one frame is left pinned.
  */
object Betweenness {

  /** @param und undirected (u, v) pairs with u < v
    * @return DataFrame(node, bc) for every node reached by some pivot,
    *         pivots' own rows excluded, ordered by node
    */
  def run(s: SparkSession, und: DataFrame, nPivots: Int = 8,
          horizon: Int = 4): DataFrame = {
    val zero = lit(0).cast("decimal(38,0)")
    Superstep.layout(GraphQueries.bidirectional(und), "a") { e =>
      val piv = e.select(col("a").as("node")).distinct()
        .orderBy("node").limit(nPivots)
      // level d = the nodes FIRST reached at d; delta null = not yet
      // accumulated (the deepest level's delta is 0)
      val init = piv.select(col("node").as("s"), col("node").as("v"),
        lit(1L).as("sigma"), lit(0).as("d"), lit(null).cast("decimal(38,0)")
          .as("delta"))
      def forward(st: DataFrame, d: Int): DataFrame = {
        val lvl = st.filter(col("d") === d - 1)
        val fresh = lvl.join(e, lvl("v") === e("a"))
          .select(col("s"), e("b").as("v"), col("sigma"))
          .join(st.select("s", "v"), Seq("s", "v"), "left_anti")
          .groupBy("s", "v").agg(sum("sigma").as("sigma"))
        st.unionAll(fresh.select(col("s"), col("v"), col("sigma"),
          lit(d).as("d"), lit(null).cast("decimal(38,0)").as("delta")))
      }
      // level d's delta sums the truncating nano-unit quotient
      // sigma_v*(1e9 + delta_w) div sigma_w over its successors w at d+1.
      // Level 0 is never accumulated — it holds only pivot self-rows,
      // which the output excludes anyway.
      def backward(st: DataFrame, d: Int): DataFrame = {
        val cur = st.filter(col("d") === d)
        val above = st.filter(col("d") === d + 1)
        val terms = cur.join(e, cur("v") === e("a"))
          .select(col("s"), col("v"), col("sigma"), e("b").as("w"))
          .join(above.select(col("s"), col("v").as("w"),
            col("sigma").as("sw"), coalesce(col("delta"), zero).as("dw")),
            Seq("s", "w"))
          .groupBy("s", "v")
          .agg(sum(expr("(CAST(sigma AS DECIMAL(38,0)) * (1000000000 + dw))" +
            " div sw").cast("decimal(38,0)")).as("delta"))
        st.filter(col("d") =!= d).unionAll(cur.select("s", "v", "sigma", "d")
          .join(terms, Seq("s", "v"), "left_outer")
          .select(col("s"), col("v"), col("sigma"), col("d"),
            coalesce(col("delta"), zero).as("delta")))
      }
      Superstep.iterate(init, 2 * horizon - 1) { (st, r) =>
        if (r <= horizon) forward(st, r) else backward(st, 2 * horizon - r)
      }(Superstep.never)._1
    }.filter(col("d") > 0 && col("v") =!= col("s"))
      .groupBy(col("v").as("node"))
      .agg(round(sum(coalesce(col("delta"), zero)).cast("double") /
        lit(1000000000d), 6).as("bc"))
      .orderBy("node")
  }
}
