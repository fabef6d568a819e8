package graft.graph

import graft.Caches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Strongly connected components by forward-backward min-label peeling
  * (the coloring algorithm of Orzan / FW-BW, distributed-friendly): per
  * peel round,
  *
  *   1. f(v) = min node id with a directed path TO v — one
  *      [[ConnectedComponents]] min-propagation over the DIRECTED edges
  *      (CC on a directed relation computes exactly forward-min labels);
  *   2. b(v) = min id v can reach through nodes of the SAME color f —
  *      the same propagation over the color-restricted REVERSED edges;
  *   3. every v with f(v) = b(v) = p belongs to SCC(p) (classic FW-BW
  *      argument: f(v)=p means p reaches v; b(v)=p within color means v
  *      reaches p through nodes p also reaches — mutual reachability,
  *      and p is the component minimum), so the contract matches the
  *      oracle's mutual-reachability closure: scc = min mutually
  *      reachable id;
  *   4. peel the settled nodes, keep edges between survivors, repeat.
  *
  * Rounds: each peel settles every color root's full SCC — the
  * condensation DAG loses all its current source-color components per
  * round, so peel count is bounded by the condensation's chain depth,
  * not the SCC count. Each propagation is the CC loop: one join + one
  * min aggregate per iteration, exact-decimal-sum convergence, lazy
  * checkpoints. No driver-side graph data beyond one count per peel —
  * except the declared bounded finish below.
  *
  * Bounded driver finish (the q16_maxflow / Mst.driverMergeMaxEdges
  * discipline): once the RESIDUAL graph (surviving edges + nodes) fits
  * `driverFinishMaxEdges`, one collect + in-memory iterative Tarjan
  * settles everything left in a single pass. The peel tail is where the
  * distributed loop's cost concentrates — each tail peel runs two full
  * CC fixpoints of small jobs whose cost is pure scheduling overhead —
  * and the residual there is condensation-chain-shaped: tiny next to the
  * input. At 100 TB the cap simply doesn't fire until the residual
  * shrinks under it (every BIG peel stays distributed); set it to 0 to
  * force the distributed loop everywhere — the equivalence is
  * spec-locked on random digraphs both ways.
  */
object Scc {

  /** @param edges directed (src, dst) pairs
    * @param driverFinishMaxEdges residual size (|edges|+|nodes|) up to
    *        which one bounded collect + in-memory Tarjan finishes the
    *        peel tail; 0 disables the driver tier
    * @return DataFrame(node: Long, scc: Long) — scc = min node id of the
    *         strongly connected component
    */
  def run(spark: SparkSession, edges: DataFrame,
          maxPeels: Int = 50,
          driverFinishMaxEdges: Long = 5000000L): DataFrame = {
    var cur = Caches.pin(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct(), eager = true)
    var remaining = Caches.pin(cur.select(col("src").as("node"))
      .union(cur.select(col("dst").as("node"))).distinct(), eager = true)
    // settled frames accumulate here and union ONCE at the end: each is
    // checkpointed, so the final union is pure cached lineage — an
    // eager re-checkpoint of the growing result every peel was a full
    // extra job per round for nothing
    val parts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var peels = 0
    var remN = remaining.count()
    while (remN > 0 && peels < maxPeels) {
      peels += 1
      val curN = cur.count()
      if (curN == 0) {
        // every survivor is edge-isolated — all singleton SCCs (also
        // guards CC's exact-sum convergence, undefined on no labels).
        // The old `remaining` checkpoint is NOT released here: the parts
        // entry just added reads through it at result time.
        parts += remaining.select(col("node"), col("node").as("scc"))
        remaining = Caches.pin(remaining.limit(0), eager = true)
        remN = 0
      } else if (driverFinishMaxEdges > 0 &&
          curN + remN <= driverFinishMaxEdges) {
        // bounded finish: collect the residual, settle it in one pass
        import spark.implicits._
        val nodeArr = remaining.select("node").collect().map(_.getLong(0))
        val (srcA, dstA) = DriverGraph.collectEdges(cur)
        parts += tarjanScc(nodeArr, srcA, dstA).toSeq.toDF("node", "scc")
        Caches.release(cur, remaining)
        // non-checkpoint empties so the post-loop release is a no-op and
        // nothing can touch the released frames again
        cur = spark.range(0).selectExpr("id AS src", "id AS dst")
        remaining = spark.range(0).selectExpr("id AS node")
        remN = 0
      } else {
      // 1. forward-min colors over the surviving directed subgraph;
      // CC's node set comes from edge endpoints, so fold isolated
      // survivors (all their edges peeled) back in as their own color
      val fEdges = ConnectedComponents.run(spark, cur)
      val f = Caches.pin(remaining.join(fEdges, Seq("node"), "left")
        .select(col("node"), coalesce(col("comp"), col("node")).as("f")))
      // 2. backward-min within color: reverse only the edges whose both
      // endpoints share a color
      val fs = f.select(col("node").as("s"), col("f").as("sf"))
      val fd = f.select(col("node").as("d"), col("f").as("df"))
      val colorRev = cur.join(fs, cur("src") === fs("s"))
        .join(fd, cur("dst") === fd("d"))
        .filter(col("sf") === col("df"))
        .select(cur("dst").as("src"), cur("src").as("dst"))
      val bEdges = ConnectedComponents.run(spark, colorRev)
      // CC's first action computed through f (colorRev derives from it),
      // so f's lazy checkpoint is materialized — fEdges is superseded
      // (the Superstep contract: release once the successor is solid)
      Caches.release(fEdges)
      val b = f.join(bEdges, Seq("node"), "left")
        .select(col("node"), col("f"),
          coalesce(col("comp"), col("node")).as("b"))
      // 3. settled: f == b — LAZY checkpoint: the peel's anti-join
      // checkpoint right below is the materializing action (one job,
      // not two), and the end-of-run union reuses the cache
      val settled = Caches.pin(b.filter(col("f") === col("b"))
        .select(col("node"), col("f").as("scc")))
      parts += settled
      // 4. peel
      val prevRemaining = remaining
      val prevCur = cur
      remaining = Caches.pin(remaining.join(settled.select("node"), Seq("node"),
          "left_anti"), eager = true)
      val rs = remaining.select(col("node").as("s"))
      val rd = remaining.select(col("node").as("d"))
      cur = Caches.pin(cur.join(rs, cur("src") === rs("s"))
        .join(rd, cur("dst") === rd("d"))
        .select(cur("src"), cur("dst")), eager = true)
      // settled (via the eager anti-join), the new remaining, and the
      // new cur are all materialized now — everything this peel consumed
      // is dead. parts keeps only the settled checkpoints.
      Caches.release(bEdges, f, prevRemaining, prevCur)
      remN = remaining.count()
      }
    }
    if (remN != 0) {
      // failure path keeps the hygiene discipline: release the survivor
      // frames AND the settled-part checkpoints nothing will ever read
      Caches.release(cur, remaining)
      Caches.release(parts.toSeq: _*)
      throw new IllegalStateException(
        s"Scc.run: not converged after $maxPeels peels")
    }
    // the final survivor relations are empty and nothing reads them (the
    // isolated-survivor parts entry references the PRE-limit(0) frame)
    Caches.release(cur, remaining)
    if (parts.isEmpty) // edge-less input: empty result, not empty.reduce
      spark.range(0).selectExpr("id AS node", "id AS scc")
    else parts.reduce(_ unionAll _).orderBy("node")
  }

  /** Iterative Tarjan over the collected residual: every node its SCC's
    * minimum id. Explicit work stack (no recursion — residuals can be
    * chain-shaped, exactly the stack-overflow case), O(V+E), on the
    * primitive CSR ([[DriverGraph]]): int index/lowlink/stack/cursor
    * arrays, zero boxing, so the 5M-element driver tier costs ~tens of
    * MB, not the hundreds a boxed Map/Set/tuple-stack build did. Dense
    * int ids also make the component-pop sentinel-free by construction
    * (the old Long-id pop needed the do-while shape for that).
    */
  private[graph] def tarjanScc(nodes: Array[Long], src: Array[Long],
      dst: Array[Long]): Array[(Long, Long)] = {
    val g = DriverGraph.csr(src, dst, nodes)
    val n = g.n
    val idx = new Array[Int](n)
    java.util.Arrays.fill(idx, -1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    var sp = 0
    val out = new Array[Long](n)
    // explicit call stack: node + its edge cursor into g.tgt
    val cs = new Array[Int](n)
    val cc = new Array[Int](n)
    var cp = 0
    var counter = 0
    var root = 0
    while (root < n) {
      if (idx(root) < 0) {
        idx(root) = counter; low(root) = counter; counter += 1
        stack(sp) = root; sp += 1; onStack(root) = true
        cs(0) = root; cc(0) = g.off(root); cp = 1
        while (cp > 0) {
          val v = cs(cp - 1)
          if (cc(cp - 1) < g.off(v + 1)) {
            val w = g.tgt(cc(cp - 1)); cc(cp - 1) += 1
            if (idx(w) < 0) {
              idx(w) = counter; low(w) = counter; counter += 1
              stack(sp) = w; sp += 1; onStack(w) = true
              cs(cp) = w; cc(cp) = g.off(w); cp += 1
            } else if (onStack(w) && idx(w) < low(v)) low(v) = idx(w)
          } else {
            cp -= 1
            if (low(v) == idx(v)) {
              val top = sp // pop [base, top): min id, then assign
              var minId = Long.MaxValue
              var w = -1
              while (w != v) {
                sp -= 1; w = stack(sp); onStack(w) = false
                if (g.nodes(w) < minId) minId = g.nodes(w)
              }
              var k = sp
              while (k < top) { out(stack(k)) = minId; k += 1 }
            }
            if (cp > 0) {
              val p = cs(cp - 1)
              if (low(v) < low(p)) low(p) = low(v)
            }
          }
        }
      }
      root += 1
    }
    Array.tabulate(n)(k => (g.nodes(k), out(k)))
  }
}
