package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full coreness (k-core number) decomposition by iterated neighborhood
  * h-index (Lü / Zhou / Zhang / Stanley, PNAS 113(1), 2016 — public):
  * start every vertex at its degree and repeatedly replace each value
  * with the H-INDEX of its neighbors' values (the largest h such that at
  * least h neighbors hold value ≥ h). The sequence is monotone
  * non-increasing and converges exactly to the coreness — the full
  * decomposition [[KCore]] answers only one k of.
  *
  * Spark-first shape: per round, ONE join of the edge relation against
  * the current value table and one per-vertex window (rank neighbor
  * values descending, h = max(min(rank, value)) — the classic h-index
  * identity), then an exact changed-count for convergence. No DuckDB
  * oracle exists for an iterative fixpoint of this depth, so correctness
  * is spec-locked against an in-memory min-heap peeling oracle plus the
  * KCore cross-check (nodes with coreness ≥ k are EXACTLY KCore.run's
  * k-core) — the BFS/max-flow verification discipline.
  *
  * Scale design: the edges are laid out once by dst ([[Superstep]]), so
  * each round's join reads them with no exchange; round cost is the
  * value shuffle plus a degree-bounded window per vertex; round count is
  * the h-index convergence depth (single digits on heavy-tailed graphs,
  * bounded by graph diameter × value range in theory). Each round's value
  * table is a Superstep frame, so the plan stays O(1) stages; only the
  * per-round changed COUNT reaches the driver.
  */
object Coreness {

  /** @param edges symmetric deduplicated (src, dst) BIGINT pairs — every
    *              undirected edge present in both directions (the KCore
    *              contract).
    * @param driverFinishMaxEdges graph size (|edges|) up to which ONE
    *              bounded collect + in-memory bucket peeling computes the
    *              decomposition (the Mst/Scc driver-tier discipline —
    *              coreness is unique, so the tiers agree exactly and the
    *              equivalence is spec-locked); 0 disables the driver tier.
    *              The h-index loop's per-round cost is a window over the
    *              edge relation, so small graphs pay pure job overhead ×
    *              convergence depth there.
    * @return (node, coreness) for every vertex with at least one edge,
    *         ordered by node
    */
  def run(s: SparkSession, edges: DataFrame, maxIter: Int = 100,
          driverFinishMaxEdges: Long = 5000000L): DataFrame =
    Superstep.layout(
        edges.select(col("src").cast("long"), col("dst").cast("long")),
        "dst") { e =>
      // the `> 0` guard makes "0 disables the driver tier" literal: an
      // empty edge relation must not satisfy count() <= 0 and sneak into
      // the driver path when the caller asked for the distributed loop
      if (driverFinishMaxEdges > 0 && e.count() <= driverFinishMaxEdges) {
        import s.implicits._
        val (srcA, dstA) = DriverGraph.collectEdges(e)
        peelCoreness(srcA, dstA).toSeq.toDF("node", "coreness")
      } else {
        val init = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("c"))
          .withColumn("changed", lit(true))
        Superstep.iterate(init, Int.MaxValue) { (vals, r) =>
          if (r > maxIter) throw new IllegalStateException(
            s"Coreness.run: not converged after $maxIter rounds")
          round(e, vals)
        }(_.filter(col("changed")).count() == 0)._1
          .select(col("node"), col("c").as("coreness"))
      }
    }.orderBy("node")

  /** One h-index round over the dst-keyed edge layout `e` and the value
    * table (node, c): (node, c, changed) — exposed so PlanSpec can lock
    * that the round join reads the layout with no exchange.
    */
  private[graft] def round(e: DataFrame, vals: DataFrame): DataFrame = {
    val nb = e.join(vals.select(col("node").as("dst"), col("c").as("nc")),
      Seq("dst"))
      .select(col("src").as("node"), col("nc"))
    val w = Window.partitionBy("node").orderBy(col("nc").desc)
    val h = nb.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("hl", least(col("rn"), col("nc")))
      .groupBy("node").agg(max("hl").as("h"))
    vals.join(h, Seq("node"))
      .select(col("node"), col("h").as("c"),
        (col("h") =!= col("c")).as("changed"))
  }

  /** In-memory bucket peeling (Batagelj–Zaveršnik 2003, the classic
    * O(V+E) algorithm): process vertices in nondecreasing residual
    * degree via degree buckets; each vertex's coreness is the running
    * peel level, and removing it decrements its unprocessed neighbors'
    * degrees (floored at the current level). Runs on the primitive CSR
    * ([[DriverGraph]]) — int bucket/position/degree arrays, zero boxing,
    * so the 5M-edge driver tier costs ~tens of MB, not the hundreds a
    * boxed Map/heap adjacency did.
    */
  private[graph] def peelCoreness(src: Array[Long],
      dst: Array[Long]): Array[(Long, Long)] = {
    val g = DriverGraph.csr(src, dst)
    val n = g.n
    if (n == 0) return Array.empty
    val deg = new Array[Int](n)
    var i = 0
    var maxDeg = 0
    while (i < n) { // symmetric contract: out-degree IS the degree
      deg(i) = g.off(i + 1) - g.off(i)
      if (deg(i) > maxDeg) maxDeg = deg(i)
      i += 1
    }
    // counting-sort vertices by degree: bin(d) = start of bucket d
    val bin = new Array[Int](maxDeg + 2)
    i = 0
    while (i < n) { bin(deg(i)) += 1; i += 1 }
    var start = 0
    var d = 0
    while (d <= maxDeg) { val c = bin(d); bin(d) = start; start += c; d += 1 }
    val vert = new Array[Int](n)
    val pos = new Array[Int](n)
    i = 0
    while (i < n) {
      pos(i) = bin(deg(i)); vert(pos(i)) = i; bin(deg(i)) += 1; i += 1
    }
    d = maxDeg
    while (d >= 1) { bin(d) = bin(d - 1); d -= 1 } // restore bucket starts
    bin(0) = 0
    val core = new Array[Int](n)
    var level = 0
    i = 0
    while (i < n) {
      val v = vert(i)
      if (deg(v) > level) level = deg(v)
      core(v) = level
      var j = g.off(v)
      while (j < g.off(v + 1)) {
        val u = g.tgt(j)
        if (deg(u) > deg(v)) { // swap u to the front of its bucket, shrink
          val du = deg(u); val pu = pos(u); val pw = bin(du); val w = vert(pw)
          if (u != w) {
            vert(pu) = w; pos(w) = pu; vert(pw) = u; pos(u) = pw
          }
          bin(du) += 1
          deg(u) = du - 1
        }
        j += 1
      }
      i += 1
    }
    Array.tabulate(n)(k => (g.nodes(k), core(k).toLong))
  }
}
