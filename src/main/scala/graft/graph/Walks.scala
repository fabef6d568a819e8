package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic random-walk corpus generation — the DeepWalk/node2vec
  * input step of a graph-embedding training pipeline (Perozzi et al.
  * 2014, public): from every seed vertex, a fixed-length walk whose
  * step-t transition picks neighbor index `H(walk_id, t) mod deg(v)`,
  * with H an md5 digest draw (the ds_shuffle/ds_wsample digest family —
  * order-independent, engine-portable, reproducible across runs and
  * partitionings). The walk "tape" is drawn per (walk, step), not per
  * vertex, so the whole trajectory is a pure function of (seed, salt) —
  * re-runs and the DuckDB oracle replay it node for node.
  *
  * Scale design: the adjacency is laid out ONCE by src ([[Superstep]]),
  * which gives the node-sized degree relation without another exchange,
  * and indexed ONCE into a second layout on the exact-lookup key
  * (src, idx), idx = rank of dst in src's neighbor list. Each step is TWO
  * equi-joins sized by the FRONTIER, not the graph: (node = src) against
  * the degree relation computes the wanted index, then
  * (node, want_idx) = (src, idx) is an exact one-row lookup into the
  * indexed adjacency — a hub vertex with 10^6 neighbors costs one row,
  * never a fan-out-then-filter. Walks ≪ edges at any SF, so the per-step
  * shuffle carries the walk frontier only (broadcast when it fits, AQE's
  * call); steps are inherently sequential — L joins, L stages, no
  * driver-side graph data. Each step's frame holds every walk row so
  * far and is the result after the last step.
  */
object Walks {

  /** @param edges distinct directed edge relation (src, dst) — pass both
    *              directions for an undirected graph; duplicate pairs
    *              would bias the draw (each copy gets its own index)
    * @param seeds one walk per row: (walk_id, node) — node must have at
    *              least one out-edge or the walk ends at step 0
    * @param steps fixed walk length (output has steps+1 rows per walk
    *              when no dead end is hit)
    * @param salt  digest namespace — two corpora with different salts are
    *              independent draws over the same graph
    * @return DataFrame(walk_id: Long, step: Int, node: Long)
    */
  def run(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
          steps: Int, salt: String): DataFrame = {
    Superstep.layout(
        edges.select(col("src").cast("long"), col("dst").cast("long")),
        "src") { adj =>
      val degs = adj.groupBy("src").agg(count(lit(1)).as("ddeg"))
        .select(col("src").as("dsrc"), col("ddeg"))
      // the co-partitioning requires ALL join keys, so a layout on lsrc
      // alone would be re-exchanged by every step's lookup
      val indexed = adj.select(col("src").as("lsrc"),
        (row_number().over(Window.partitionBy("src").orderBy("dst")) - 1)
          .cast("long").as("lidx"),
        col("dst").as("ldst"))
      Superstep.layout(indexed, "lsrc", "lidx") { look =>
        val init = seeds.select(col("walk_id").cast("long"), lit(0).as("step"),
          col("node").cast("long"))
        Superstep.iterate(init, steps) { (walked, t) =>
          val h = expr(
            s"CAST(conv(substring(md5(concat('wk$salt:', " +
              s"CAST(walk_id AS STRING), ':$t')), 1, 15), 16, 10) AS BIGINT)")
          val frontier = walked.filter(col("step") === t - 1)
          val want = frontier.join(degs, frontier("node") === degs("dsrc"))
            .select(col("walk_id"), col("node").as("at"),
              (h % col("ddeg")).as("want_idx"))
          walked.unionAll(want.join(look,
              want("at") === look("lsrc") && want("want_idx") === look("lidx"))
            .select(col("walk_id"), lit(t).as("step"), col("ldst").as("node")))
        }(Superstep.never)._1
      }
    }
  }
}
