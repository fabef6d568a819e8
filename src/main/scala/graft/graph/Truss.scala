package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** k-truss refinement (Cohen 2008): repeatedly drop every edge whose
  * triangle support is below k−2 — the dense-subgraph / community-core
  * mining staple one notch stronger than k-core (edges must sit in
  * triangles, not just have degree). This implementation runs a FIXED
  * number of refinement passes (declared query semantics — the DuckDB
  * oracle unrolls the same count) and then reports each surviving edge
  * with its support measured on the final edge set; graphs whose truss
  * converges within `rounds` get the exact k-truss.
  *
  * Scale design: triangles are enumerated ONCE per pass in the ordered
  * (a < b < c) orientation — the q25 formulation whose per-bucket cap
  * upstream bounds fan-out — and each triangle credits its three edges
  * via a projection union + one count aggregate. Edge sets shrink
  * monotonically, so later passes are cheaper; each pass's edge set is a
  * [[Superstep]] frame, so the lineage stays one pass deep.
  */
object Truss {

  /** @param edges undirected simple edges as ordered pairs (u < v rows;
    *              others are normalized away)
    * @param k truss order (edges must close ≥ k−2 triangles per pass)
    * @param rounds refinement passes (fixed, part of the semantics)
    * @return DataFrame(u, v, support) — survivors with final-set support
    */
  def run(spark: SparkSession, edges: DataFrame, k: Int,
          rounds: Int): DataFrame = {
    require(k >= 3, s"k=$k must be >= 3")
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    val init = edges.select(col("u").cast("long"), col("v").cast("long"))
      .where(col("u") < col("v")).distinct()

    // Degree-ordered triangle enumeration (Suri & Vassilvitskii's "curse
    // of the last reducer" fix): orient every edge from its (degree, id)-
    // smaller endpoint, enumerate each triangle at its unique apex (the
    // vertex with two out-edges), and check the closing oriented edge.
    // Fan-out is Σ C(outdeg(x), 2) ≤ O(m^1.5) on ANY graph — the id-
    // ordered join pays Σ deg² and detonated on a dense co-occurrence
    // graph (the first 10M-event run of PERF.md r7, addendum19 filled
    // the disk).
    def support(cur: DataFrame): DataFrame = {
      val deg = cur.select(col("u").as("node"))
        .unionAll(cur.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val du = deg.select(col("node").as("u"), col("deg").as("du"))
      val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
      val uFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val o = cur.join(du, "u").join(dv, "v")
        .select(
          when(uFirst, col("u")).otherwise(col("v")).as("x"),
          when(uFirst, col("v")).otherwise(col("u")).as("y"),
          when(uFirst, col("dv")).otherwise(col("du")).as("dy"))
      // wedge at apex x: two out-neighbors y < z in (deg, id) order; the
      // closing edge y→z is oriented the same way, so ONE equality join
      val w1 = o.select(col("x"), col("y"), col("dy"))
      val w2 = o.select(col("x").as("x2"), col("y").as("z"), col("dy").as("dz"))
      val wedges = w1.join(w2, col("x2") === col("x"))
        .where(col("dy") < col("dz") ||
          (col("dy") === col("dz") && col("y") < col("z")))
        .select("x", "y", "z")
      val closing = o.select(col("x").as("y"), col("y").as("z"))
      val tri = wedges.join(closing, Seq("y", "z"))
      tri.select(least(col("x"), col("y")).as("u"),
          greatest(col("x"), col("y")).as("v"))
        .unionAll(tri.select(least(col("x"), col("z")).as("u"),
          greatest(col("x"), col("z")).as("v")))
        .unionAll(tri.select(least(col("y"), col("z")).as("u"),
          greatest(col("y"), col("z")).as("v")))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
    }

    val (e, _) = Superstep.iterate(init, rounds) { (cur, _) =>
      support(cur).where(col("support") >= k - 2).select("u", "v")
    }(Superstep.never)
    e.join(support(e), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
      .orderBy("u", "v")
  }
}
