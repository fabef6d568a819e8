package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Damped PageRank in FIXED-POINT integer arithmetic (scores scaled by
  * 1e12, every division an integer `div`). The fixed-point choice is a
  * scale decision, not a test convenience: float PageRank sums in-neighbor
  * contributions in partition order, so two runs of the same job on a
  * 1000-executor cluster can disagree in the last ulps and a Spark result
  * can never hash-match an external engine. Integer contributions make the
  * per-iteration aggregation exact and order-free — the same answer on any
  * partitioning, any engine (same reasoning as the DECIMAL folds in
  * ta_perplexity / ev_sessionize).
  *
  * Semantics (declared, mirrored exactly by the q33 oracle):
  *   pr_0        = SCALE div N
  *   teleport    = (15 * (SCALE div N)) div 100
  *   contrib(e)  = pr(src) div outdeg(src)
  *   pr_{i+1}(v) = teleport + (85 * Σ_in contrib) div 100
  * Truncation error per node per iteration is < 1e-12 of total mass —
  * invisible at ranking granularity. Callers must pass a graph where every
  * node has at least one outgoing AND one incoming edge (symmetric graphs
  * qualify); dangling-mass redistribution is out of scope.
  *
  * Scale design: the edges are laid out once by src ([[Superstep]]), one
  * outdegree aggregation seeds the rank relation (node, outdeg, pr), then
  * per iteration ONE join of the rank relation against the layout and ONE
  * aggregation on dst; the re-join onto the previous rank relation (for
  * outdeg) keys on the same node id. Each iteration's rank relation is a
  * Superstep frame, so round R plans O(1) stages and at most two rank
  * frames are ever pinned. One job per iteration; no windows, no
  * driver-side data.
  */
object PageRank {

  /** 1e12 fixed-point scale: 12 significant decimals of rank mass. */
  val Scale: Long = 1000000000000L

  /** @param edges directed (src, dst) BIGINT pairs, pre-deduplicated. */
  def run(s: SparkSession, edges: DataFrame, iters: Int): DataFrame =
    Superstep.layout(edges, "src") { e =>
      val deg = outdeg(e)
      val n = deg.count()
      require(n > 0, "PageRank.run: empty edge relation (no nodes to rank)")
      val pr0 = Scale / n
      iterate(e, deg.withColumn("pr", lit(pr0)), lit(15L * pr0 / 100L), iters)
    }

  /** Personalized PageRank: the random surfer teleports ONLY to the
    * `sources` set (pr_0 = SCALE div |S| on sources, 0 elsewhere; the
    * teleport term likewise) — the "importance relative to MY seed set"
    * ranking behind related-item feeds and seed-expansion crawls. Same
    * fixed-point integer discipline, same per-iteration plan as [[run]].
    */
  def runPersonalized(s: SparkSession, edges: DataFrame, sources: Seq[Long],
                      iters: Int): DataFrame = {
    require(sources.nonEmpty, "runPersonalized: empty source set")
    // dedup FIRST: pr0 sizes the teleport mass per seed, and a duplicated
    // seed must not silently shrink the total mass below SCALE
    val srcs = sources.distinct
    Superstep.layout(edges, "src") { e =>
      val deg = outdeg(e)
      require(!deg.isEmpty, "runPersonalized: empty edge relation")
      // every seed must rank — a seed with no out-edges is absent from deg
      // and would silently drop from the init AND the teleport term, so the
      // documented "teleports ONLY to the sources set" contract would hold
      // less than SCALE mass; fail fast instead
      val present = deg.filter(col("node").isin(srcs: _*)).count()
      require(present == srcs.size,
        s"runPersonalized: ${srcs.size - present} seed(s) have no outgoing " +
          "edge — every source must appear as an edge src")
      val pr0 = Scale / srcs.size
      def seeded(v: Long) =
        when(col("node").isin(srcs: _*), lit(v)).otherwise(lit(0L))
      iterate(e, deg.withColumn("pr", seeded(pr0)), seeded(15L * pr0 / 100L),
        iters)
    }
  }

  /** (node, outdeg) over the laid-out edges. */
  private def outdeg(e: DataFrame): DataFrame =
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))

  /** The one rank loop of [[run]] and [[runPersonalized]]. */
  private def iterate(e: DataFrame, init: DataFrame, teleport: Column,
      iters: Int): DataFrame =
    Superstep.iterate(init, iters) { (pr, _) => step(pr, e, teleport) }(
      Superstep.never)._1.select("node", "pr")

  /** One rank iteration over (node, outdeg, pr) — exposed so PlanSpec can
    * lock the pre-checkpoint plan shape (partial+final inflow combine).
    * `teleport` is evaluated per `node`. Qualified dataset aliases
    * throughout: pr re-enters the join against edges and itself every
    * iteration, so unqualified columns would trip Spark's ambiguous
    * self-join check.
    */
  private[graft] def step(pr: DataFrame, edges: DataFrame,
      teleport: Column): DataFrame = {
    val inflow = pr.as("p").join(edges.as("e"), expr("p.node = e.src"))
      .selectExpr("e.dst AS node", "p.pr div p.outdeg AS contrib")
      .groupBy("node").agg(sum("contrib").as("inflow"))
    inflow.as("i").join(pr.as("d"), expr("i.node = d.node"))
      .selectExpr("i.node", "d.outdeg", "i.inflow")
      .select(col("node"), col("outdeg"),
        (teleport + expr("(85 * inflow) div 100")).as("pr"))
  }
}
