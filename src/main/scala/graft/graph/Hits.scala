package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HITS (hubs & authorities) in FIXED-POINT integer arithmetic — the
  * PageRank.scala discipline applied to the two-score mutual
  * reinforcement recurrence (Kleinberg's algorithm):
  *
  *   a_i(v) = Σ_{u→v} h_{i-1}(u)      (authority = endorsed by hubs)
  *   h_i(u) = Σ_{u→v} a_i(v)          (hub = endorses authorities)
  *
  * with each half-step max-normalized in integers:
  * s' = (s · SCALE) div max(s). Float HITS normalizes by an L2 norm whose
  * partition-order summation can never hash-match an external engine;
  * the integer max is order-free and exact on any partitioning, and
  * max-normalization is the textbook alternative to L2 (rankings
  * identical — both are positive scalings). Scores stay bounded by
  * SCALE·N·SCALE ≈ 1e16 « 2^63, so no overflow at any corpus this side
  * of 10^6 nodes per score unit.
  *
  * Scale design: per half-iteration ONE join of the score relation
  * against edges (hash-partitioned on the join key) and ONE partial+final
  * SUM aggregation, then the max as a 1-row broadcast cross join — fully
  * declarative, no driver-side scalar collect. The edges are laid out once
  * per join side ([[Superstep]]); each iteration's (kind, node, score)
  * relation, hubs and authorities together, is one Superstep frame,
  * released once its successor is materialized. On a bipartite
  * graph (the q42 supplier→part feed) hubs and authorities partition the
  * node set; the operator itself is general to any directed graph.
  */
object Hits {

  /** 1e6 fixed-point scale: 6 significant decimals of score. */
  val Scale: Long = 1000000L

  /** @param edges directed (src, dst) BIGINT pairs, pre-deduplicated.
    * @return ("hub"|"auth", node, score) — final hub and authority
    *         relations after `iters` full (a-then-h) iterations.
    */
  def run(s: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"Hits.run: iters must be >= 1, got $iters")
    // the edge relation is consumed 2·iters times (a-step joins on src,
    // h-step joins on dst): one layout per side, edst derived from the
    // esrc cache so the upstream distinct runs exactly once
    val fwd = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    Superstep.layout(fwd, "src") { esrc =>
      Superstep.layout(esrc, "dst") { edst =>
        val init = esrc.select(col("src").as("node")).distinct()
          .selectExpr("'hub' AS kind", "node", s"${Scale}L AS score")
        Superstep.iterate(init, iters) { (scores, _) =>
          val h = scores.filter(col("kind") === "hub")
          val a = normalize(
            esrc.as("e").join(h.as("h"), expr("h.node = e.src"))
              .selectExpr("e.dst AS node", "h.score AS c")
              .groupBy("node").agg(sum("c").as("score")))
          normalize(edst.as("e").join(a.as("a"), expr("a.node = e.dst"))
            .selectExpr("e.src AS node", "a.score AS c")
            .groupBy("node").agg(sum("c").as("score")))
            .selectExpr("'hub' AS kind", "node", "score")
            .unionAll(a.selectExpr("'auth' AS kind", "node", "score"))
        }(Superstep.never)._1
      }
    }.orderBy("kind", "node")
  }

  /** Integer max-normalization as a 1-row broadcast cross join. */
  private def normalize(x: DataFrame): DataFrame =
    x.crossJoin(broadcast(x.agg(max("score").as("mx"))))
      .selectExpr("node", s"(score * ${Scale}L) div mx AS score")
}
