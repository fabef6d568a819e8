package graft.graph

import graft.{Caches, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-checkable query surface of the graph layer (SURVEY §2.7 Q13 +
  * the max-flow entry point §3.1). The BFS query is DuckDB-oracle-checked
  * via a recursive CTE; max-flow is not SQL-expressible, so its `queries`
  * entry is rows-only checked by the driver and its real correctness gate
  * is the Edmonds-Karp-oracle ScalaTest suite (MaxFlowSpec,
  * GraphQueriesSpec).
  */
object GraphQueries {

  /** Node encoding for the lineitem-derived bipartite graph: suppliers keep
    * their key; parts are offset so the id spaces don't collide.
    */
  private[graph] val PartOffset = 1000000L

  /** lineitem's distinct supplier→part edges, pinned: each query below
    * derives both directions (or re-joins it every round) from this one
    * frame instead of re-running the lineitem scan and distinct.
    */
  private def supplierParts(s: SparkSession, dir: String,
      eager: Boolean = false): DataFrame =
    Caches.pin(Tables.load(s, dir, "lineitem").select(col("l_suppkey").as("src"),
      (col("l_partkey") + PartOffset).as("dst")).distinct(), eager)

  /** Q13: iterative-fixpoint BFS — shortest hop distance from supplier 1
    * over the supplier↔part co-occurrence graph.
    */
  def q13_bfs(s: SparkSession, dir: String): DataFrame = {
    val fwd = supplierParts(s, dir)
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
    Bfs.run(s, edges, Seq(1L), maxDepth = 6).orderBy("node")
  }

  val q13OracleSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT DISTINCT l_suppkey AS u, l_partkey + 1000000 AS v FROM lineitem
      |  UNION
      |  SELECT DISTINCT l_partkey + 1000000 AS u, l_suppkey AS v FROM lineitem
      |), walk(node, dist) AS (
      |  SELECT CAST(1 AS BIGINT) AS node, 0 AS dist
      |  UNION
      |  SELECT e.v, w.dist + 1 FROM walk w JOIN edges e ON e.u = w.node
      |  WHERE w.dist < 6
      |)
      |SELECT node, MIN(dist) AS dist FROM walk GROUP BY node ORDER BY node
      |""".stripMargin.replaceAll("\n", " ").trim

  /** The max-flow "query" (SURVEY §3.1): supplier/part bipartite graph with
    * lineitem-count capacities; flow from the first 8 suppliers to the
    * first 8 parts. Exact (engine + cleanup), hence deterministic.
    */
  def q16_maxflow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = q16Edges(s, dir)
    val sources = (10L to 17L)                          // suppkeys 0..7
    val sinks = (PartOffset + 10L to PartOffset + 17L)  // partkeys 0..7
    // per-workload tuning in the spirit of the reference's mf.* configs:
    // the bipartite graph meets in 3 hops and its accepted flow arrives in
    // one contiguous burst (measured: rounds 5-7 of 8), so the FIRST stale
    // round already signals exhaustion — hand the remainder straight to
    // the exactness cleanup (which guarantees the flow either way)
    val r = MaxFlow.run(s, edges, sources, sinks,
      MaxFlow.Config(acceptPatience = 1))
    Seq(r.flow).toDF("maxflow")
  }

  /** Derived edge relation used by q16 — exposed so tests can feed the same
    * graph to the in-memory oracle.
    */
  def q16Edges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").filter(col("l_orderkey") < 2000)
    val pairs = li.groupBy(
        (col("l_suppkey") + 10).as("su"),
        (col("l_partkey") + PartOffset + 10).as("pu"))
      .agg(count(lit(1)).as("cap"))
    pairs.select(col("su").as("src"), col("pu").as("dst"), col("cap"))
      .unionAll(pairs.select(col("pu").as("src"), col("su").as("dst"), col("cap")))
  }

  /** Distinct user-per-bucket incidence for the co-occurrence graph — the
    * shared input of q24/q25. Deduping (user, bucket) FIRST means a user
    * firing 10k events inside one 10-second bucket contributes one row, not
    * 10k, before any pairing happens.
    */
  def userBuckets(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .selectExpr("user_id", "unix_micros(ts) div 10000000 AS b")
      .distinct()

  /** Connectivity edges as a STAR per bucket instead of a clique: every
    * user links to the bucket's minimum user id. A star has exactly the
    * same connected components as the clique over the same bucket (both
    * connect all its members), but materializes O(k) edges per bucket
    * where the k² self-join detonates on a flash-crowd bucket at 100×
    * scale (VERDICT r2 "wrong" #2). One shuffle on bucket, no join.
    */
  def ccStarEdges(users: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spokes = users
      .withColumn("hub", min("user_id").over(Window.partitionBy("b")))
      .filter(col("user_id") =!= col("hub"))
      .select(col("hub").as("src"), col("user_id").as("dst"))
      .distinct()
    spokes.unionAll(spokes.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Co-occurrence pairs (u < v) with a deterministic per-bucket fan-out
    * bound: only the `cap` smallest user ids of each bucket participate in
    * pairing, so one bucket can emit at most cap·(cap−1)/2 candidates
    * instead of k². The cap is part of the declared query semantics — the
    * DuckDB oracle applies the identical rule — and at the test scales no
    * bucket reaches it, so results equal the uncapped query.
    */
  def cooccurPairs(users: DataFrame, cap: Int = CooccurCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capped = users
      .withColumn("rn",
        row_number().over(Window.partitionBy("b").orderBy("user_id")))
      .filter(col("rn") <= cap).drop("rn")
    capped.as("a").join(capped.as("b"), "b")
      .select(col("a.user_id").as("u"), col("b.user_id").as("v"))
      .filter(col("u") < col("v"))
      .distinct()
  }

  /** Per-bucket participant cap for clique-style pairing (q25). */
  val CooccurCap = 256

  /** Undirected (u, v) pairs as a bidirectional edge relation (a, b) —
    * the shared input shape of [[Betweenness]], [[Katz]] and [[anfOn]],
    * each of which lays it out by `a` ([[Superstep.layout]]).
    */
  private[graph] def bidirectional(und: DataFrame): DataFrame =
    und.selectExpr("u AS a", "v AS b")
      .unionAll(und.selectExpr("v AS a", "u AS b"))

  /** Q24: connected components of the user co-occurrence graph (users with
    * events in the same 10-second epoch bucket are linked). Edge relation
    * is the per-bucket star (see [[ccStarEdges]]) — component-equivalent
    * to the clique the oracle's recursive CTE walks, with linear instead
    * of quadratic per-bucket fan-out.
    */
  def q24_cc(s: SparkSession, dir: String): DataFrame = {
    ConnectedComponents.run(s, ccStarEdges(userBuckets(s, dir)), maxIter = 30)
      .withColumnRenamed("node", "user_id")
      .orderBy("user_id")
  }

  val q24OracleSql: String =
    """WITH RECURSIVE e0 AS (
      |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |  FROM (SELECT user_id, epoch_us(ts) // 10000000 AS b FROM events) a
      |  JOIN (SELECT user_id, epoch_us(ts) // 10000000 AS b FROM events) b
      |    USING (b)
      |  WHERE a.user_id <> b.user_id),
      |reach(u, v) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM e0)
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN e0 e ON e.u = r.v)
      |SELECT u AS user_id, MIN(v) AS comp FROM reach GROUP BY u
      |ORDER BY user_id""".stripMargin.replaceAll("\n", " ")

  /** Q25: triangle count on the user co-occurrence graph — the canonical
    * ordered two-join formulation (u < v < w prunes each triangle to one
    * orientation), integer-exact in both engines. Pairing runs over the
    * capped participant set (see [[cooccurPairs]]); the oracle applies the
    * identical per-bucket cap.
    */
  def q25_triangles(s: SparkSession, dir: String): DataFrame = {
    val und = Caches.pin(cooccurPairs(userBuckets(s, dir))) // reused 3× below
    und.as("e1")
      .join(und.as("e2"), col("e1.v") === col("e2.u"))
      .join(und.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  val q25OracleSql: String =
    s"""WITH ub AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 10000000 AS b FROM events),
      |capped AS (
      |  SELECT user_id, b FROM ub
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY b ORDER BY user_id) <= $CooccurCap),
      |und AS (
      |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |  FROM capped a JOIN capped b USING (b)
      |  WHERE a.user_id < b.user_id)
      |SELECT COUNT(*) AS n_triangles
      |FROM und e1
      |JOIN und e2 ON e2.u = e1.v
      |JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin
      .replaceAll("\n", " ")

  /** Q50: local clustering coefficient distribution over the user
    * co-occurrence graph — per node, lcc = 2·t / (deg·(deg−1)) where t is
    * the node's triangle count, histogrammed into tenth-buckets (bucket
    * 9 holds [0.9, 1.0]). The community-structure fingerprint next to
    * q49's degree distribution: social graphs read high, random graphs
    * read ≈ density. Triangle corners come from q25's ordered two-join
    * (u < v < w), each triangle credited to all three corners; lcc is a
    * single division of exact integers and the bucket mean accumulates
    * ROUND(·,6) decimals, so both engines agree bit-for-bit.
    *
    * Scale design: same capped pairing as q25 (per-bucket fan-out is
    * cap-bounded, never k²); the corner relation is 3 rows per triangle,
    * partial-agg counted; everything after is node-sized, and the final
    * histogram is 10 rows.
    */
  def q50_lcc(s: SparkSession, dir: String): DataFrame =
    lccOn(cooccurPairs(userBuckets(s, dir)))

  /** DataFrame-in production entry: `und` is the (u, v) u < v distinct
    * undirected edge relation of ANY graph.
    */
  def lccOn(und: DataFrame): DataFrame = {
    val s = und.sparkSession
    Caches.pin(und) // reused 4x: 3 triangle legs + degree
      .createOrReplaceTempView("__lcc_und")
    s.sql(
      """WITH sym AS (
        |  SELECT u, v FROM __lcc_und
        |  UNION ALL SELECT v AS u, u AS v FROM __lcc_und),
        |deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM __lcc_und e1
        |  JOIN __lcc_und e2 ON e2.u = e1.v
        |  JOIN __lcc_und e3 ON e3.u = e1.u AND e3.v = e2.v),
        |corner AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
        |t AS (SELECT node, COUNT(*) AS t FROM corner GROUP BY node),
        |l AS (
        |  SELECT d.node,
        |         ROUND(2.0 * coalesce(t.t, 0) / (d.deg * (d.deg - 1)), 6)
        |           AS lcc
        |  FROM deg d LEFT JOIN t ON t.node = d.node WHERE d.deg >= 2)
        |SELECT LEAST(9, CAST(floor(lcc * 10) AS INT)) AS bucket,
        |       COUNT(*) AS n_nodes,
        |       ROUND(CAST(SUM(CAST(lcc AS DECIMAL(28,9))) AS DOUBLE)
        |             / COUNT(*), 6) AS mean_lcc
        |FROM l GROUP BY 1 ORDER BY bucket""".stripMargin)
  }

  val q50OracleSql: String =
    s"""WITH ub AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 10000000 AS b FROM events),
      |capped AS (
      |  SELECT user_id, b FROM ub
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY b ORDER BY user_id) <= $CooccurCap),
      |und AS (
      |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |  FROM capped a JOIN capped b USING (b)
      |  WHERE a.user_id < b.user_id),
      |sym AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
      |deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u),
      |tri AS (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM und e1 JOIN und e2 ON e2.u = e1.v
      |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
      |corner AS (
      |  SELECT a AS node FROM tri
      |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
      |t AS (SELECT node, COUNT(*) AS t FROM corner GROUP BY node),
      |l AS (
      |  SELECT d.node,
      |         ROUND(2.0 * coalesce(t.t, 0) / (d.deg * (d.deg - 1)), 6) AS lcc
      |  FROM deg d LEFT JOIN t ON t.node = d.node WHERE d.deg >= 2)
      |SELECT LEAST(9, floor(lcc * 10)::INT) AS bucket, COUNT(*) AS n_nodes,
      |       ROUND((SUM(CAST(lcc AS DECIMAL(28,9))))::DOUBLE / COUNT(*), 6)
      |         AS mean_lcc
      |FROM l GROUP BY 1 ORDER BY bucket""".stripMargin.replaceAll("\n", " ")

  /** Q51: global transitivity (the graph-level closure ratio) —
    * 3·triangles / wedges, where wedges = Σ C(deg, 2) counts open triads.
    * The one-row companion to q50's per-node histogram: q50 says WHERE
    * clustering lives, q51 is the scalar a monitoring dashboard tracks
    * over time. deg·(deg−1)/2 is integer-exact (consecutive integers),
    * the triangle count is q25's ordered two-join, and the final ratio
    * is one double division — bit-equal in both engines.
    *
    * Scale design: wedges roll up from the node-sized degree relation;
    * triangles reuse the capped pairing; output is ONE row.
    */
  def q51_transitivity(s: SparkSession, dir: String): DataFrame =
    transitivityOn(cooccurPairs(userBuckets(s, dir)))

  /** DataFrame-in production entry: `und` is the (u, v) u < v distinct
    * undirected edge relation of ANY graph.
    */
  def transitivityOn(und: DataFrame): DataFrame = {
    val s = und.sparkSession
    Caches.pin(und) // reused 4x: 3 triangle legs + degree
      .createOrReplaceTempView("__tr_und")
    s.sql(
      """WITH sym AS (
        |  SELECT u, v FROM __tr_und
        |  UNION ALL SELECT v AS u, u AS v FROM __tr_und),
        |deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u),
        |w AS (SELECT SUM(deg * (deg - 1) div 2) AS n_wedges FROM deg),
        |t AS (
        |  SELECT COUNT(*) AS n_triangles
        |  FROM __tr_und e1
        |  JOIN __tr_und e2 ON e2.u = e1.v
        |  JOIN __tr_und e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT t.n_triangles, w.n_wedges,
        |       ROUND(CAST(3 * t.n_triangles AS DOUBLE) / w.n_wedges, 6)
        |         AS transitivity
        |FROM t CROSS JOIN w""".stripMargin)
  }

  val q51OracleSql: String =
    s"""WITH ub AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 10000000 AS b FROM events),
      |capped AS (
      |  SELECT user_id, b FROM ub
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY b ORDER BY user_id) <= $CooccurCap),
      |und AS (
      |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |  FROM capped a JOIN capped b USING (b)
      |  WHERE a.user_id < b.user_id),
      |sym AS (SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und),
      |deg AS (SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u),
      |w AS (SELECT SUM(deg * (deg - 1) // 2)::BIGINT AS n_wedges FROM deg),
      |t AS (
      |  SELECT COUNT(*) AS n_triangles
      |  FROM und e1 JOIN und e2 ON e2.u = e1.v
      |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT t.n_triangles, w.n_wedges,
      |       ROUND((3 * t.n_triangles)::DOUBLE / w.n_wedges, 6)
      |         AS transitivity
      |FROM t CROSS JOIN w""".stripMargin.replaceAll("\n", " ")

  /** Q52: component-size distribution of the user co-occurrence graph —
    * CC's per-node labels rolled to per-component sizes, log2-bucketed
    * (q49's degree-distribution discipline applied to components). The
    * fragmentation fingerprint: one giant component plus dust is a
    * healthy social graph; many mid-size islands is a partitioned
    * product. Uses the SAME star edge relation as q24 (component-
    * equivalent to the clique the oracle walks) and pure integer
    * arithmetic end to end.
    *
    * Scale design: CC is the iterative engine (one job per round); the
    * rollups after it are component-sized then ~32-bucket-sized.
    */
  def q52_compdist(s: SparkSession, dir: String): DataFrame = {
    ConnectedComponents.run(s, ccStarEdges(userBuckets(s, dir)), maxIter = 30)
      .createOrReplaceTempView("__cd_comp")
    s.sql(
      """WITH sizes AS (
        |  SELECT comp, COUNT(*) AS sz FROM __cd_comp GROUP BY comp)
        |SELECT CAST(length(bin(sz)) - 1 AS BIGINT) AS bucket,
        |       COUNT(*) AS n_comps, SUM(sz) AS n_nodes,
        |       MIN(sz) AS min_size, MAX(sz) AS max_size
        |FROM sizes GROUP BY length(bin(sz)) - 1
        |ORDER BY bucket""".stripMargin)
  }

  val q52OracleSql: String =
    """WITH RECURSIVE e0 AS (
      |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |  FROM (SELECT user_id, epoch_us(ts) // 10000000 AS b FROM events) a
      |  JOIN (SELECT user_id, epoch_us(ts) // 10000000 AS b FROM events) b
      |    USING (b)
      |  WHERE a.user_id <> b.user_id),
      |reach(u, v) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM e0)
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN e0 e ON e.u = r.v),
      |comp AS (SELECT u AS user_id, MIN(v) AS comp FROM reach GROUP BY u),
      |sizes AS (SELECT comp, COUNT(*) AS sz FROM comp GROUP BY comp)
      |SELECT (length(bin(sz)) - 1)::BIGINT AS bucket, COUNT(*) AS n_comps,
      |       SUM(sz)::BIGINT AS n_nodes, MIN(sz) AS min_size,
      |       MAX(sz) AS max_size
      |FROM sizes GROUP BY 1 ORDER BY bucket""".stripMargin
      .replaceAll("\n", " ")

  /** Q53: coreness histogram of the supplier↔part bipartite graph — the
    * full k-core decomposition ([[Coreness]], iterated neighborhood
    * h-index) rolled to (coreness, n_nodes). q34's KCore answers "who
    * survives k"; this answers "how deep does EVERY vertex sit", the
    * engagement-depth fingerprint of the whole graph in one table.
    * DuckDB-oracled by [[q53OracleSql]] — the statically-unrolled
    * h-index twin (the q60_anf discipline): the iteration converges in
    * 4 rounds at sf0.01 and 5 at sf0.1 (measured), the oracle unrolls
    * [[CorenessUnroll]] = 10, and at the fixpoint the value IS the
    * coreness (Lü et al. 2016), so the engines agree exactly. The
    * in-memory min-heap peeling oracle + KCore cross-checks stay in
    * CorenessSpec as the any-depth check.
    */
  def q53_coreness(s: SparkSession, dir: String): DataFrame = {
    val fwd = supplierParts(s, dir)
    val sym = fwd.unionAll(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    Coreness.run(s, sym)
      .groupBy("coreness").agg(count(lit(1)).as("n_nodes"))
      .orderBy("coreness")
  }

  /** Unroll depth of [[q53OracleSql]]'s h-index iteration — 2× the
    * deepest measured convergence (4 rounds at sf0.01, 5 at sf0.1);
    * past the fixpoint every extra round is the identity, so over-
    * unrolling can only confirm, never drift.
    */
  private val CorenessUnroll = 10

  /** DuckDB twin of [[Coreness]] on the q53 graph: h₀ = degree, then
    * [[CorenessUnroll]] statically-unrolled rounds of hₜ₊₁(v) =
    * max over ranked neighbor values of LEAST(rank, value) — the same
    * h-index identity the Spark loop uses, join + window + max per
    * round. Aggregation inside a recursive CTE is not expressible in
    * DuckDB 1.0, so the loop is unrolled to a measured-safe depth
    * instead (the q60_anf oracle discipline).
    *
    * SELF-CHECKING (round-11 advice): the unroll depth is sized from
    * convergence measured at the test SFs; on a deeper graph a
    * pre-fixpoint oracle would silently blame Spark. So the oracle
    * asserts its OWN fixpoint — if the last two rounds differ on any
    * node, it emits a poison `coreness = -1` row (carrying the
    * disagreeing-node count) that the Spark side can never produce,
    * turning "unroll too shallow" into an unmistakable diagnostic
    * instead of a spurious value mismatch. At the fixpoint the
    * symmetric EXCEPT is empty and the poison row vanishes, so the
    * green path is untouched.
    */
  val q53OracleSql: String = {
    val rounds = (1 to CorenessUnroll).map { k =>
      s"""h$k AS (
         |  SELECT node, MAX(LEAST(rn, nv)) AS c FROM (
         |    SELECT e.src AS node, v.c AS nv,
         |           ROW_NUMBER() OVER (PARTITION BY e.src
         |                              ORDER BY v.c DESC) AS rn
         |    FROM e JOIN h${k - 1} v ON v.node = e.dst) GROUP BY node)"""
        .stripMargin
    }.mkString(",\n")
    val last = s"h$CorenessUnroll"
    val prev = s"h${CorenessUnroll - 1}"
    s"""WITH fwd AS (
       |  SELECT DISTINCT l_suppkey::BIGINT AS src,
       |         (l_partkey + 1000000)::BIGINT AS dst FROM lineitem),
       |e AS (SELECT src, dst FROM fwd UNION ALL SELECT dst, src FROM fwd),
       |h0 AS (SELECT src AS node, COUNT(*)::BIGINT AS c FROM e GROUP BY src),
       |$rounds,
       |conv AS (
       |  SELECT COUNT(*)::BIGINT AS nc FROM (
       |    (SELECT * FROM $last EXCEPT SELECT * FROM $prev)
       |    UNION ALL
       |    (SELECT * FROM $prev EXCEPT SELECT * FROM $last)))
       |SELECT coreness, n_nodes FROM (
       |  SELECT c AS coreness, COUNT(*)::BIGINT AS n_nodes
       |  FROM $last GROUP BY 1
       |  UNION ALL
       |  SELECT (-1)::BIGINT AS coreness, nc AS n_nodes FROM conv
       |  WHERE nc > 0)
       |ORDER BY coreness""".stripMargin
      .replaceAll("\n", " ")
  }

  /** Q26: hop-bounded weighted shortest paths (≤6 hops) from supplier 1
    * over the supplier↔part graph with lineitem-count weights. 6 rounds of
    * FRONTIER-DELTA Bellman-Ford (VERDICT r1 #2): each round relaxes only
    * the nodes improved in the previous round and merges only the strictly
    * improving candidates back into `dist` (anti-join + union), with early
    * exit when a round improves nothing — instead of re-aggregating the
    * full dist×edges product every round. Per-round frontier-only
    * relaxation reaches the same per-round fixpoint as full Bellman-Ford
    * (an unimproved node's outgoing relaxations already fired the round
    * after its last improvement), so the hop-bound semantics stay
    * identical to the oracle's bounded recursion; all arithmetic integer.
    */
  def q26_sssp(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{min => fmin}
    // No session-conf sizing (VERDICT r4 "wrong" #2): exchange counts stay
    // session-default and AQE coalesces the per-hop shuffles at runtime.
    val li = Tables.load(s, dir, "lineitem")
    // aggregate ONCE, checkpoint, then derive both directions — the union
    // would otherwise re-run the 600k-row aggregation per branch
    val fwd = Caches.pin(li.groupBy(col("l_suppkey").as("u"),
        (col("l_partkey") + PartOffset).as("v"))
      .agg(count(lit(1)).as("w")))
    val edges = fwd.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionAll(fwd.select(col("v").as("src"), col("u").as("dst"), col("w")))
    Superstep.layout(edges, "src") { adj =>
      val init = s.range(1).selectExpr("CAST(1 AS BIGINT) AS node",
        "CAST(0 AS BIGINT) AS cost", "true AS up")
      // `up` flags the nodes improved last hop: the frontier. ONE
      // full-outer join merges the candidates and flags the improved rows
      // (the Layers round shape), and the improved count is the hop's one
      // action
      Superstep.iterate(init, 6) { (dist, _) =>
        val cand = dist.where(col("up")).join(adj, col("node") === col("src"))
          .select(col("dst").as("node"), (col("cost") + col("w")).as("cand"))
          .groupBy("node").agg(fmin("cand").as("cand"))
        val better = col("cand").isNotNull &&
          (col("cost").isNull || col("cand") < col("cost"))
        dist.join(cand, Seq("node"), "full_outer")
          .select(col("node"),
            when(better, col("cand")).otherwise(col("cost")).as("cost"),
            better.as("up"))
      }(_.where(col("up")).count() == 0)._1
    }.select("node", "cost").orderBy("node")
  }

  val q26OracleSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT l_suppkey AS u, l_partkey + 1000000 AS v, COUNT(*) AS w
      |  FROM lineitem GROUP BY 1, 2
      |  UNION ALL
      |  SELECT l_partkey + 1000000, l_suppkey, COUNT(*)
      |  FROM lineitem GROUP BY l_partkey + 1000000, l_suppkey),
      |walk(node, cost, hops) AS (
      |  SELECT CAST(1 AS BIGINT), CAST(0 AS BIGINT), 0
      |  UNION
      |  SELECT e.v, w.cost + e.w, w.hops + 1
      |  FROM walk w JOIN edges e ON e.u = w.node
      |  WHERE w.hops < 6)
      |SELECT node, MIN(cost) AS cost FROM walk GROUP BY node
      |ORDER BY node""".stripMargin.replaceAll("\n", " ")

  /** Q33: 3-iteration fixed-point PageRank over the q13 supplier↔part
    * graph (see [[PageRank]] for the integer-arithmetic contract that makes
    * the result exact on any partitioning and hash-comparable to the
    * oracle's unrolled CTE chain). The symmetric graph guarantees every
    * node has in- and out-edges, so no dangling-mass term is needed.
    */
  def q33_pagerank(s: SparkSession, dir: String): DataFrame = {
    val fwd = supplierParts(s, dir)
    val edges = fwd.unionAll(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    PageRank.run(s, edges, iters = 3).orderBy("node")
  }

  /** Q42: 2-iteration fixed-point HITS over the DIRECTED supplier→part
    * graph (see [[Hits]] for the integer max-normalization contract that
    * makes the result exact on any partitioning and hash-comparable to
    * the oracle's unrolled CTE chain). Where q33 ranks the symmetrized
    * graph by stationary mass, HITS keeps the direction and ranks the two
    * sides separately: suppliers as hubs (they endorse many
    * well-endorsed parts), parts as authorities — the natural query on a
    * bipartite who-supplies-what relation.
    */
  def q42_hits(s: SparkSession, dir: String): DataFrame = {
    val fwd = supplierParts(s, dir, eager = true)
    Hits.run(s, fwd, iters = 2)
  }

  val q42OracleSql: String =
    """WITH fwd AS (
      |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
      |  FROM lineitem),
      |a1r AS (SELECT dst AS node, 1000000 * COUNT(*) AS s
      |        FROM fwd GROUP BY dst),
      |a1 AS (SELECT node, (s * 1000000) // (SELECT MAX(s) FROM a1r) AS s
      |       FROM a1r),
      |h1r AS (SELECT f.src AS node, SUM(a.s)::BIGINT AS s
      |        FROM fwd f JOIN a1 a ON a.node = f.dst GROUP BY f.src),
      |h1 AS (SELECT node, (s * 1000000) // (SELECT MAX(s) FROM h1r) AS s
      |       FROM h1r),
      |a2r AS (SELECT f.dst AS node, SUM(h.s)::BIGINT AS s
      |        FROM fwd f JOIN h1 h ON h.node = f.src GROUP BY f.dst),
      |a2 AS (SELECT node, (s * 1000000) // (SELECT MAX(s) FROM a2r) AS s
      |       FROM a2r),
      |h2r AS (SELECT f.src AS node, SUM(a.s)::BIGINT AS s
      |        FROM fwd f JOIN a2 a ON a.node = f.dst GROUP BY f.src),
      |h2 AS (SELECT node, (s * 1000000) // (SELECT MAX(s) FROM h2r) AS s
      |       FROM h2r)
      |SELECT 'hub' AS kind, node, s AS score FROM h2
      |UNION ALL SELECT 'auth' AS kind, node, s AS score FROM a2
      |ORDER BY kind, node""".stripMargin.replaceAll("\n", " ")

  /** Q43: strongly connected components of a DIRECTED supplier↔part
    * graph with asymmetric thresholds (supplier→part for quantity ≥ 30,
    * part→supplier for quantity ≤ 5 — the sparse back-edges leave ~100
    * SCCs: one giant mutual core plus a peel tail, measured in DuckDB).
    * See [[Scc]] for the FW-BW min-label peeling algorithm; the contract
    * — scc = min mutually reachable node id — is exactly what the
    * oracle's recursive-closure query computes, so the iterative engine
    * hash-matches a declarative transitive closure.
    */
  def q43_scc(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val fwd = li.filter(col("l_quantity") >= 30)
      .select(col("l_suppkey").as("src"),
        (col("l_partkey") + PartOffset).as("dst"))
    val back = li.filter(col("l_quantity") <= 5)
      .select((col("l_partkey") + PartOffset).as("src"),
        col("l_suppkey").as("dst"))
    Scc.run(s, fwd.unionAll(back).distinct())
  }

  /** DAG longest-path layering (q44): a three-class dependency DAG —
    * supplier → part (l_quantity ≥ 30), part → order (same cut, order ids
    * offset by 2M), and per-(customer, quarter) order chains (each order
    * points at the customer's next order that quarter, LAG by date) — so
    * layers mix a fixed 2-hop backbone with variable-depth chains (max
    * chain ≈ 6 orders/quarter). Strictly acyclic: supplier < part < order
    * classes, chains follow a strict (date, orderkey) order. See
    * [[Layers.run]] for the superstep discipline.
    */
  def q44_layers(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val e1 = li.filter(col("l_quantity") >= 30)
      .select(col("l_suppkey").as("src"),
        (col("l_partkey") + PartOffset).as("dst"))
    val e2 = li.filter(col("l_quantity") >= 30)
      .select((col("l_partkey") + PartOffset).as("src"),
        (col("l_orderkey") + 2L * PartOffset).as("dst"))
    Tables.load(s, dir, "orders").createOrReplaceTempView("__q44_orders")
    val e3 = s.sql(
      s"""SELECT prev + ${2 * PartOffset} AS src,
         |       o_orderkey + ${2 * PartOffset} AS dst
         |FROM (
         |  SELECT o_orderkey,
         |         LAG(o_orderkey) OVER (
         |           PARTITION BY o_custkey, date_trunc('QUARTER', o_orderdate)
         |           ORDER BY o_orderdate, o_orderkey) AS prev
         |  FROM __q44_orders)
         |WHERE prev IS NOT NULL""".stripMargin)
    Layers.run(s, e1.unionAll(e2).unionAll(e3)).orderBy("node")
  }

  /** Landmark harmonic centrality (q45): the all-pairs-BFS estimate used
    * on graphs too big for exact centrality — pick L landmark vertices,
    * run ONE multi-source BFS ([[Bfs.runMulti]]: diameter rounds total,
    * not diameter × L), and score every vertex by Σ_l 1/d(v, l) over the
    * landmarks it reaches. Landmarks are suppliers 1-4 on the q13
    * supplier↔part graph; a vertex's own landmark row (d = 0) is excluded.
    *
    * Engine-exactness: distances are integers; each 1/d is rounded to 9
    * and summed as DECIMAL(28,9) (the ta_entropy fixed-point discipline),
    * cast+rounded once.
    */
  def q45_closeness(s: SparkSession, dir: String): DataFrame = {
    val fwd = supplierParts(s, dir)
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
    Bfs.runMulti(s, edges, Seq(1L, 2L, 3L, 4L), maxDepth = 8)
      .createOrReplaceTempView("__q45_d")
    s.sql(
      """SELECT node, COUNT(*) AS n_landmarks,
        |       ROUND(CAST(SUM(CAST(ROUND(CAST(1 AS DOUBLE) / dist, 9)
        |             AS DECIMAL(28,9))) AS DOUBLE), 6) AS harmonic
        |FROM __q45_d WHERE dist > 0
        |GROUP BY node ORDER BY node""".stripMargin)
  }

  /** Landmark eccentricity (q46): per landmark, the reached-vertex count
    * and the max BFS distance within the `maxDepth` horizon — the
    * landmark estimate of graph radius/diameter (max ecc lower-bounds the
    * diameter; min ecc upper-bound-estimates the radius). Shares ONE
    * [[Bfs.runMulti]] pass across all landmarks; n_reached includes the
    * landmark itself (dist 0).
    */
  def q46_ecc(s: SparkSession, dir: String): DataFrame = {
    val fwd = supplierParts(s, dir)
    val edges = fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
    Bfs.runMulti(s, edges, Seq(1L, 2L, 3L, 4L), maxDepth = 8)
      .createOrReplaceTempView("__q46_d")
    s.sql(
      """SELECT src AS landmark, COUNT(*) AS n_reached, MAX(dist) AS ecc
        |FROM __q46_d GROUP BY src ORDER BY landmark""".stripMargin)
  }

  /** 3-truss refinement (q47) on the capped user co-occurrence graph:
    * two passes dropping every edge outside all triangles (support < 1),
    * then the final-set support report — the triangle-connected backbone.
    * See [[Truss.run]].
    */
  def q47_ktruss(s: SparkSession, dir: String): DataFrame =
    Truss.run(s, cooccurPairs(userBuckets(s, dir)), k = 3, rounds = 2)

  /** Personalized PageRank (q48): rank relative to the seed set
    * {suppliers 1-4} on the symmetric supplier↔part graph, 3 fixed-point
    * integer iterations — see [[PageRank.runPersonalized]].
    */
  def q48_ppr(s: SparkSession, dir: String): DataFrame = {
    val fwd = supplierParts(s, dir)
    val edges = fwd.unionAll(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    PageRank.runPersonalized(s, edges, Seq(1L, 2L, 3L, 4L), iters = 3)
      .orderBy("node")
  }

  /** Degree distribution (q49): log2-bucketed histogram of vertex degrees
    * on the symmetric supplier↔part graph — the first plot of any graph
    * audit (a power law reads as a straight decay down the buckets; a
    * truncated tail flags caps or sampling artifacts upstream). Integer
    * buckets via repeated halving: bucket = floor(log2(deg)) computed as
    * length-of-binary-string − 1, engine-portable.
    */
  def q49_degdist(s: SparkSession, dir: String): DataFrame = {
    val fwd = supplierParts(s, dir)
    val edges = fwd.unionAll(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    edges.createOrReplaceTempView("__q49_e")
    s.sql(
      """WITH deg AS (
        |  SELECT src AS node, COUNT(*) AS deg FROM __q49_e GROUP BY src)
        |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bucket,
        |       COUNT(*) AS n_nodes,
        |       MIN(deg) AS min_deg, MAX(deg) AS max_deg
        |FROM deg GROUP BY length(bin(deg)) - 1
        |ORDER BY bucket""".stripMargin)
  }

  val q49OracleSql: String =
    """WITH fwd AS (
      |  SELECT DISTINCT l_suppkey AS u, l_partkey + 1000000 AS v FROM lineitem),
      |edges AS (SELECT u AS src, v AS dst FROM fwd
      |          UNION ALL SELECT v AS src, u AS dst FROM fwd),
      |deg AS (SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src)
      |SELECT (length(bin(deg)) - 1)::BIGINT AS bucket, COUNT(*) AS n_nodes,
      |       MIN(deg) AS min_deg, MAX(deg) AS max_deg
      |FROM deg GROUP BY length(bin(deg)) - 1
      |ORDER BY bucket""".stripMargin.replaceAll("\n", " ")

  val q48OracleSql: String =
    """WITH fwd AS (
      |  SELECT DISTINCT l_suppkey AS u, l_partkey + 1000000 AS v FROM lineitem),
      |edges AS (SELECT u AS src, v AS dst FROM fwd
      |          UNION ALL SELECT v AS src, u AS dst FROM fwd),
      |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      |pr0 AS (SELECT src AS node, outdeg,
      |               CASE WHEN src IN (1, 2, 3, 4)
      |                    THEN 250000000000 ELSE 0 END AS pr FROM deg),
      |i1 AS (SELECT e.dst AS node, SUM(p.pr // p.outdeg) AS inflow
      |       FROM pr0 p JOIN edges e ON e.src = p.node GROUP BY e.dst),
      |pr1 AS (SELECT i.node, d.outdeg,
      |               (CASE WHEN i.node IN (1, 2, 3, 4)
      |                     THEN 37500000000 ELSE 0 END
      |                + (85 * i.inflow) // 100)::BIGINT AS pr
      |        FROM i1 i JOIN deg d ON d.src = i.node),
      |i2 AS (SELECT e.dst AS node, SUM(p.pr // p.outdeg) AS inflow
      |       FROM pr1 p JOIN edges e ON e.src = p.node GROUP BY e.dst),
      |pr2 AS (SELECT i.node, d.outdeg,
      |               (CASE WHEN i.node IN (1, 2, 3, 4)
      |                     THEN 37500000000 ELSE 0 END
      |                + (85 * i.inflow) // 100)::BIGINT AS pr
      |        FROM i2 i JOIN deg d ON d.src = i.node),
      |i3 AS (SELECT e.dst AS node, SUM(p.pr // p.outdeg) AS inflow
      |       FROM pr2 p JOIN edges e ON e.src = p.node GROUP BY e.dst),
      |pr3 AS (SELECT i.node,
      |               (CASE WHEN i.node IN (1, 2, 3, 4)
      |                     THEN 37500000000 ELSE 0 END
      |                + (85 * i.inflow) // 100)::BIGINT AS pr
      |        FROM i3 i JOIN deg d ON d.src = i.node)
      |SELECT node, pr FROM pr3 ORDER BY node""".stripMargin
      .replaceAll("\n", " ")

  val q47OracleSql: String =
    s"""WITH ub AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 10000000 AS b FROM events),
      |capped AS (
      |  SELECT user_id, b FROM ub
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY b ORDER BY user_id) <= $CooccurCap),
      |e0 AS (
      |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |  FROM capped a JOIN capped b USING (b)
      |  WHERE a.user_id < b.user_id),
      |t1 AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e0 e1
      |       JOIN e0 e2 ON e2.u = e1.v
      |       JOIN e0 e3 ON e3.u = e1.u AND e3.v = e2.v),
      |s1 AS (SELECT u, v, COUNT(*) AS sup FROM (
      |         SELECT a AS u, b AS v FROM t1
      |         UNION ALL SELECT a, c FROM t1
      |         UNION ALL SELECT b, c FROM t1) GROUP BY u, v),
      |e1 AS (SELECT u, v FROM s1 WHERE sup >= 1),
      |t2 AS (SELECT x.u AS a, x.v AS b, y.v AS c FROM e1 x
      |       JOIN e1 y ON y.u = x.v
      |       JOIN e1 z ON z.u = x.u AND z.v = y.v),
      |s2 AS (SELECT u, v, COUNT(*) AS sup FROM (
      |         SELECT a AS u, b AS v FROM t2
      |         UNION ALL SELECT a, c FROM t2
      |         UNION ALL SELECT b, c FROM t2) GROUP BY u, v),
      |e2 AS (SELECT u, v FROM s2 WHERE sup >= 1),
      |t3 AS (SELECT x.u AS a, x.v AS b, y.v AS c FROM e2 x
      |       JOIN e2 y ON y.u = x.v
      |       JOIN e2 z ON z.u = x.u AND z.v = y.v),
      |s3 AS (SELECT u, v, COUNT(*) AS sup FROM (
      |         SELECT a AS u, b AS v FROM t3
      |         UNION ALL SELECT a, c FROM t3
      |         UNION ALL SELECT b, c FROM t3) GROUP BY u, v)
      |SELECT e2.u, e2.v, COALESCE(s3.sup, 0)::BIGINT AS support
      |FROM e2 LEFT JOIN s3 ON s3.u = e2.u AND s3.v = e2.v
      |ORDER BY e2.u, e2.v""".stripMargin.replaceAll("\n", " ")

  val q46OracleSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT DISTINCT l_suppkey AS u, l_partkey + 1000000 AS v FROM lineitem
      |  UNION
      |  SELECT DISTINCT l_partkey + 1000000 AS u, l_suppkey AS v FROM lineitem),
      |walk(node, src, dist) AS (
      |  SELECT lm::BIGINT, lm::BIGINT, 0
      |  FROM (SELECT unnest([1, 2, 3, 4]) AS lm)
      |  UNION
      |  SELECT e.v, w.src, w.dist + 1 FROM walk w JOIN edges e ON e.u = w.node
      |  WHERE w.dist < 8),
      |d AS (SELECT node, src, MIN(dist) AS dist FROM walk GROUP BY node, src)
      |SELECT src AS landmark, COUNT(*) AS n_reached, MAX(dist) AS ecc
      |FROM d GROUP BY src ORDER BY landmark""".stripMargin.replaceAll("\n", " ")

  val q45OracleSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT DISTINCT l_suppkey AS u, l_partkey + 1000000 AS v FROM lineitem
      |  UNION
      |  SELECT DISTINCT l_partkey + 1000000 AS u, l_suppkey AS v FROM lineitem),
      |walk(node, src, dist) AS (
      |  SELECT lm::BIGINT, lm::BIGINT, 0
      |  FROM (SELECT unnest([1, 2, 3, 4]) AS lm)
      |  UNION
      |  SELECT e.v, w.src, w.dist + 1 FROM walk w JOIN edges e ON e.u = w.node
      |  WHERE w.dist < 8),
      |d AS (SELECT node, src, MIN(dist) AS dist FROM walk GROUP BY node, src)
      |SELECT node, COUNT(*) AS n_landmarks,
      |       ROUND(CAST(SUM(CAST(ROUND(1::DOUBLE / dist, 9)
      |             AS DECIMAL(28,9))) AS DOUBLE), 6) AS harmonic
      |FROM d WHERE dist > 0
      |GROUP BY node ORDER BY node""".stripMargin.replaceAll("\n", " ")

  val q44OracleSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
      |  FROM lineitem WHERE l_quantity >= 30
      |  UNION
      |  SELECT DISTINCT l_partkey + 1000000, l_orderkey + 2000000
      |  FROM lineitem WHERE l_quantity >= 30
      |  UNION
      |  SELECT prev + 2000000, o_orderkey + 2000000 FROM (
      |    SELECT o_orderkey,
      |           LAG(o_orderkey) OVER (
      |             PARTITION BY o_custkey, date_trunc('quarter', o_orderdate)
      |             ORDER BY o_orderdate, o_orderkey) AS prev
      |    FROM orders) WHERE prev IS NOT NULL),
      |nodes AS (
      |  SELECT DISTINCT src AS node FROM e
      |  UNION SELECT DISTINCT dst FROM e),
      |walk(node, d) AS (
      |  SELECT node, 0 FROM nodes
      |  UNION
      |  SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.node)
      |SELECT node, MAX(d)::BIGINT AS layer
      |FROM walk GROUP BY node ORDER BY node""".stripMargin.replaceAll("\n", " ")

  val q43OracleSql: String =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
      |  FROM lineitem WHERE l_quantity >= 30
      |  UNION
      |  SELECT DISTINCT l_partkey + 1000000, l_suppkey
      |  FROM lineitem WHERE l_quantity <= 5),
      |nodes AS (
      |  SELECT DISTINCT src AS node FROM e
      |  UNION SELECT DISTINCT dst FROM e),
      |reach(a, b) AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
      |mutual AS (
      |  SELECT r1.a AS v, r1.b AS w
      |  FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a)
      |SELECT n.node, LEAST(n.node, COALESCE(MIN(m.w), n.node)) AS scc
      |FROM nodes n LEFT JOIN mutual m ON m.v = n.node
      |GROUP BY n.node ORDER BY n.node""".stripMargin.replaceAll("\n", " ")

  val q33OracleSql: String =
    """WITH fwd AS (
      |  SELECT DISTINCT l_suppkey AS u, l_partkey + 1000000 AS v FROM lineitem),
      |edges AS (SELECT u AS src, v AS dst FROM fwd
      |          UNION ALL SELECT v AS src, u AS dst FROM fwd),
      |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      |n AS (SELECT COUNT(*) AS n FROM deg),
      |pr0 AS (SELECT src AS node, outdeg,
      |               (SELECT 1000000000000 // n FROM n) AS pr FROM deg),
      |i1 AS (SELECT e.dst AS node, SUM(p.pr // p.outdeg) AS inflow
      |       FROM pr0 p JOIN edges e ON e.src = p.node GROUP BY e.dst),
      |pr1 AS (SELECT i.node, d.outdeg,
      |               ((SELECT (15 * (1000000000000 // n)) // 100 FROM n)
      |                + (85 * i.inflow) // 100)::BIGINT AS pr
      |        FROM i1 i JOIN deg d ON d.src = i.node),
      |i2 AS (SELECT e.dst AS node, SUM(p.pr // p.outdeg) AS inflow
      |       FROM pr1 p JOIN edges e ON e.src = p.node GROUP BY e.dst),
      |pr2 AS (SELECT i.node, d.outdeg,
      |               ((SELECT (15 * (1000000000000 // n)) // 100 FROM n)
      |                + (85 * i.inflow) // 100)::BIGINT AS pr
      |        FROM i2 i JOIN deg d ON d.src = i.node),
      |i3 AS (SELECT e.dst AS node, SUM(p.pr // p.outdeg) AS inflow
      |       FROM pr2 p JOIN edges e ON e.src = p.node GROUP BY e.dst),
      |pr3 AS (SELECT i.node,
      |               ((SELECT (15 * (1000000000000 // n)) // 100 FROM n)
      |                + (85 * i.inflow) // 100)::BIGINT AS pr
      |        FROM i3 i JOIN deg d ON d.src = i.node)
      |SELECT node, pr FROM pr3 ORDER BY node""".stripMargin
      .replaceAll("\n", " ")

  /** Q34: 4-core of the symmetric order↔part bipartite graph (orders
    * with ≥4 distinct parts whose parts survive, and vice versa —
    * cascades until stable). The peeling fixpoint is deletion-order
    * independent, so the oracle's statically unrolled 4-round peel
    * hash-matches the engine's run-to-fixpoint loop (the test graph
    * converges in ≤2 rounds at every SF; rounds 3-4 are no-op margin).
    */
  def q34_kcore(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val fwd = Caches.pin(li.select(col("l_orderkey").as("src"),
      (col("l_partkey") + OrderPartOffset).as("dst")).distinct())
    val edges = fwd.unionAll(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    KCore.run(s, edges, k = 4)
  }

  private val OrderPartOffset = 10000000L

  val q34OracleSql: String = {
    // statically unrolled peel: k_i = vertices of e_{i-1} with deg >= 4,
    // e_i = edges of e_{i-1} with BOTH endpoints in k_i
    val rounds = (1 to 4).map { i =>
      s"""k$i AS (SELECT src FROM e${i - 1} GROUP BY src HAVING COUNT(*) >= 4),
         |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
         |        JOIN k$i a ON a.src = e.src
         |        JOIN k$i b ON b.src = e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH fwd AS (
       |  SELECT DISTINCT l_orderkey AS u, l_partkey + $OrderPartOffset AS v
       |  FROM lineitem),
       |e0 AS (SELECT u AS src, v AS dst FROM fwd
       |       UNION ALL SELECT v, u FROM fwd),
       |$rounds
       |SELECT src AS node, COUNT(*) AS deg FROM e4 GROUP BY src
       |ORDER BY node""".stripMargin.replaceAll("\n", " ")
  }

  /** Q39: minimum spanning forest of the supplier↔part co-occurrence
    * graph (lineitem-count weights, the q16 l_orderkey bound so the
    * oracle's per-edge reachability CTE stays polynomial at sf0.01) —
    * Borůvka rounds under the total (w, u, v) edge order, which makes
    * the forest unique; the DuckDB oracle checks the cycle property
    * edge-for-edge.
    */
  def q39_mst(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").filter(col("l_orderkey") < 400)
    val pairs = li.groupBy(
        col("l_suppkey").as("u"),
        (col("l_partkey") + PartOffset).as("v"))
      .agg(count(lit(1)).as("w"))
    Mst.run(s, pairs)
  }

  val q39OracleSql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT l_suppkey AS u, l_partkey + 1000000 AS v, COUNT(*) AS w
      |  FROM lineitem WHERE l_orderkey < 400 GROUP BY 1, 2),
      |ranked AS (
      |  SELECT u, v, w, ROW_NUMBER() OVER (ORDER BY w, u, v) AS rk
      |  FROM pairs),
      |sym AS (
      |  SELECT u, v, rk FROM ranked UNION ALL SELECT v, u, rk FROM ranked),
      |walk(erank, node) AS (
      |  SELECT rk, u FROM ranked
      |  UNION
      |  SELECT wk.erank, x.v FROM walk wk
      |  JOIN sym x ON x.rk < wk.erank AND x.u = wk.node)
      |SELECT r.u, r.v, r.w::BIGINT AS w FROM ranked r
      |WHERE NOT EXISTS (SELECT 1 FROM walk wk
      |                  WHERE wk.erank = r.rk AND wk.node = r.v)
      |ORDER BY w, r.u, r.v""".stripMargin.replaceAll("\n", " ")

  /** Q40: degree assortativity of the supplier→part bipartite graph —
    * the Pearson correlation between endpoint degrees across edges (the
    * Newman 2002 mixing coefficient, public): negative = high-degree
    * suppliers attach to low-degree parts (disassortative, the typical
    * bipartite shape), positive = hubs prefer hubs.
    *
    * Engine-exactness: degrees are integers, so the six moment sums
    * accumulate in DECIMAL (the q36 discipline — order-free exact folds);
    * corr/means are ONE fixed-shape double expression each, rounded 6.
    *
    * Scale design: one DISTINCT edge compaction, two node-sized degree
    * aggregates joined back (each a co-partitioned equality join), one
    * partial+final global moment aggregate → a SINGLE output row. Nothing
    * quadratic, no window.
    */
  def q40_assortativity(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem").createOrReplaceTempView("__li40")
    s.sql(
      """WITH e AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
        |           FROM __li40),
        |sd AS (SELECT sk, COUNT(*) AS ds FROM e GROUP BY sk),
        |pd AS (SELECT pk, COUNT(*) AS dp FROM e GROUP BY pk),
        |j AS (
        |  SELECT CAST(sd.ds AS DECIMAL(18,0)) AS x,
        |         CAST(pd.dp AS DECIMAL(18,0)) AS y
        |  FROM e JOIN sd ON sd.sk = e.sk JOIN pd ON pd.pk = e.pk),
        |m AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |         CAST(SUM(x * y) AS DOUBLE) AS sxy,
        |         CAST(SUM(x * x) AS DOUBLE) AS sxx,
        |         CAST(SUM(y * y) AS DOUBLE) AS syy
        |  FROM j)
        |SELECT CAST(n AS BIGINT) AS n_edges,
        |       ROUND(sx / n, 6) AS mean_sdeg, ROUND(sy / n, 6) AS mean_pdeg,
        |       ROUND((n * sxy - sx * sy)
        |             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |         AS assortativity
        |FROM m""".stripMargin)
  }

  val q40OracleSql: String =
    ("""WITH e AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk """ +
      """FROM lineitem), """ +
      """sd AS (SELECT sk, COUNT(*) AS ds FROM e GROUP BY sk), """ +
      """pd AS (SELECT pk, COUNT(*) AS dp FROM e GROUP BY pk), """ +
      """j AS (SELECT sd.ds::DECIMAL(18,0) AS x, pd.dp::DECIMAL(18,0) AS y """ +
      """FROM e JOIN sd ON sd.sk = e.sk JOIN pd ON pd.pk = e.pk), """ +
      """m AS (SELECT COUNT(*)::DOUBLE AS n, """ +
      """SUM(x)::DOUBLE AS sx, SUM(y)::DOUBLE AS sy, """ +
      """SUM(x * y)::DOUBLE AS sxy, SUM(x * x)::DOUBLE AS sxx, """ +
      """SUM(y * y)::DOUBLE AS syy FROM j) """ +
      """SELECT n::BIGINT AS n_edges, """ +
      """ROUND(sx / n, 6) AS mean_sdeg, ROUND(sy / n, 6) AS mean_pdeg, """ +
      """ROUND((n * sxy - sx * sy) """ +
      """/ sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) """ +
      """AS assortativity FROM m""")

  /** The per-part supplier-degree cap for Q41's pair fan-out — the
    * minhash-family candidate-bounding discipline: a part shared by d
    * suppliers spawns C(d,2) pairs, so hub parts above the cap are
    * excluded from evidence (documented, identical in the oracle), and
    * the fan-out is ≤ C(cap,2) per part at ANY scale.
    */
  val LinkPredCap = 50

  /** Q41: common-neighbor link prediction over the supplier projection —
    * for every supplier pair sharing at least one (non-hub) part, the
    * shared-part count and the neighborhood Jaccard
    * common/(deg_a + deg_b − common); top-100 by Jaccard with a total
    * (score, s1, s2) tie-break. The classic "who should be connected"
    * primitive (Liben-Nowell & Kleinberg 2003, public).
    *
    * Engine-exactness: integer counts; Jaccard is one int/int double
    * division rounded 6; the rank key is the ROUNDED score (identical in
    * both engines) with an integer tie-break, so the LIMIT cut is total.
    *
    * Scale design: the pair generation joins the capped edge relation to
    * itself ON the shared part — co-partitioned on pk, fan-out bounded by
    * C(cap,2) per part; degrees join back on node-sized relations; the
    * global top-k is a TakeOrderedAndProject over the pair aggregate (the
    * q8/ev_paths discipline), never a full sort.
    */
  def q41_linkpred(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem").createOrReplaceTempView("__li41")
    // ek (the capped edge relation) is consumed THREE times (sdeg twice +
    // both self-join sides); inlined, each mention re-ran the corpus
    // DISTINCT and the pk degree cap (guide §7.2 duplicated subtrees).
    // Materialize it once, partitioned and sorted on pk, as a persisted
    // (tracked) relation: its cache scan keeps that layout, so the pair
    // self-join consumes it on both sides with no exchange and no sort
    // (§2.4; PlanSpec). A localCheckpoint would not do: under AQE its scan
    // reports neither partitioning nor ordering. Neither statement uses
    // WITH: a CTE inside the cached definition keeps later queries from
    // matching the cache, and one around the cached view fails Spark 4.1's
    // plan canonicalization (key not found on the layout's pk).
    Caches.track(s.sql(
      s"""SELECT sk, pk FROM (
         |  SELECT sk, pk, COUNT(*) OVER (PARTITION BY pk) AS d
         |  FROM (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM __li41))
         |WHERE d <= $LinkPredCap""".stripMargin)
      .repartition(col("pk")).sortWithinPartitions("pk"))
      .createOrReplaceTempView("__ek41")
    val sdeg = "(SELECT sk, COUNT(*) AS deg FROM __ek41 GROUP BY sk)"
    s.sql(
      s"""SELECT c.s1, c.s2, c.common, d1.deg AS deg1, d2.deg AS deg2,
         |       ROUND(CAST(c.common AS DOUBLE)
         |             / (d1.deg + d2.deg - c.common), 6) AS jaccard
         |FROM (SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS common
         |      FROM __ek41 a JOIN __ek41 b ON b.pk = a.pk AND a.sk < b.sk
         |      GROUP BY a.sk, b.sk) c
         |JOIN $sdeg d1 ON d1.sk = c.s1
         |JOIN $sdeg d2 ON d2.sk = c.s2
         |ORDER BY jaccard DESC, c.s1, c.s2 LIMIT 100""".stripMargin)
  }

  val q41OracleSql: String =
    (s"""WITH e AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk """ +
      """FROM lineitem), """ +
      """pdeg AS (SELECT pk, COUNT(*) AS d FROM e GROUP BY pk), """ +
      s"""ek AS (SELECT e.sk, e.pk FROM e JOIN pdeg ON pdeg.pk = e.pk """ +
      s"""WHERE pdeg.d <= $LinkPredCap), """ +
      """sdeg AS (SELECT sk, COUNT(*) AS deg FROM ek GROUP BY sk), """ +
      """cn AS (SELECT a.sk AS s1, b.sk AS s2, COUNT(*) AS common """ +
      """FROM ek a JOIN ek b ON b.pk = a.pk AND a.sk < b.sk """ +
      """GROUP BY a.sk, b.sk) """ +
      """SELECT c.s1, c.s2, c.common, d1.deg AS deg1, d2.deg AS deg2, """ +
      """ROUND(c.common::DOUBLE / (d1.deg + d2.deg - c.common), 6) """ +
      """AS jaccard FROM cn c """ +
      """JOIN sdeg d1 ON d1.sk = c.s1 JOIN sdeg d2 ON d2.sk = c.s2 """ +
      """ORDER BY jaccard DESC, c.s1, c.s2 LIMIT 100""")

  /** Q54: deterministic random-walk corpus over the q13 supplier↔part
    * symmetric graph — one 4-step walk per supplier (walk_id = suppkey),
    * the DeepWalk skip-gram input a graph-embedding pipeline trains on
    * (see [[Walks]] for the digest-tape transition contract that makes
    * every trajectory a pure function of the seed). The oracle replays
    * the identical unrolled per-step joins in DuckDB, so the check is
    * hash-exact on whole trajectories, not just step counts.
    */
  def q54_walks(s: SparkSession, dir: String): DataFrame = {
    val fwd = supplierParts(s, dir)
    val edges = fwd.unionAll(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Tables.load(s, dir, "lineitem")
      .select(col("l_suppkey").cast("long").as("walk_id"))
      .distinct().withColumn("node", col("walk_id"))
    Walks.run(s, edges, seeds, steps = 4, salt = "42")
      .orderBy("walk_id", "step")
  }

  val q54OracleSql: String = {
    def step(t: Int): String =
      s"""s$t AS (
         |  SELECT w.walk_id, n.dst AS node
         |  FROM s${t - 1} w JOIN nbr n ON n.src = w.node
         |   AND n.idx = ('0x' || substr(md5('wk42:' || w.walk_id::VARCHAR
         |                || ':$t'), 1, 15))::BIGINT % n.deg)""".stripMargin
    ("""WITH fwd AS (
      |  SELECT DISTINCT l_suppkey AS src, l_partkey + 1000000 AS dst
      |  FROM lineitem),
      |edges AS (SELECT src, dst FROM fwd
      |          UNION ALL SELECT dst, src FROM fwd),
      |nbr AS (
      |  SELECT src, dst,
      |         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
      |         COUNT(*) OVER (PARTITION BY src) AS deg
      |  FROM edges),
      |s0 AS (SELECT DISTINCT l_suppkey AS walk_id, l_suppkey AS node
      |       FROM lineitem),
      |""".stripMargin + (1 to 4).map(step).mkString(",\n") + """
      |SELECT walk_id, 0 AS step, node FROM s0
      |UNION ALL SELECT walk_id, 1, node FROM s1
      |UNION ALL SELECT walk_id, 2, node FROM s2
      |UNION ALL SELECT walk_id, 3, node FROM s3
      |UNION ALL SELECT walk_id, 4, node FROM s4
      |ORDER BY walk_id, step""".stripMargin).replaceAll("\n", " ")
  }

  /** Q55: label-propagation communities (3 synchronous rounds,
    * plurality/min-tie vote — [[LabelProp]]) on the capped user
    * co-occurrence graph. The partition-quality counterpart of q24's
    * reachability components: on a graph whose giant component hides
    * cluster structure, LPA's vote splits it where CC cannot. Fixed
    * rounds keep the result engine-exact; the oracle unrolls the same
    * three votes verbatim.
    */
  def q55_labelprop(s: SparkSession, dir: String): DataFrame = {
    LabelProp.run(s, cooccurPairs(userBuckets(s, dir)), rounds = 3)
      .withColumnRenamed("node", "user_id")
      .orderBy("user_id")
  }

  /** Q56: Newman modularity decomposition of the q55 LPA partition — per
    * community: size, internal edge count, degree mass, and the
    * modularity contribution e_c/m − (d_c/2m)². The quality score that
    * turns q55's labels into a number: Σ contribution is the partition's
    * modularity Q, and a community whose contribution is ≤ 0 is no denser
    * than chance (the signal a curation pipeline uses to decide whether
    * cluster-level sampling is meaningful at all).
    *
    * Engine-exactness: e_c, d_c, m are integers; the contribution is two
    * IEEE divisions, one multiply and one subtract on those integers —
    * identical expression order both engines, one terminal ROUND.
    *
    * Scale: rides the capped pair relation (cooccurPairs' declared
    * fan-out bound); everything after the LPA rounds is one degree
    * aggregate + two community-sized joins; m broadcasts as a 1-row
    * relation.
    */
  def q56_modularity(s: SparkSession, dir: String): DataFrame = {
    // consumed by LPA, m, deg, intra
    val und = Caches.pin(cooccurPairs(userBuckets(s, dir)))
    modularity(und, LabelProp.run(s, und, rounds = 3))
  }

  /** The production entry: score ANY partition (`labels`: node,
    * community) of ANY undirected edge relation (`und`: u, v, one row
    * per edge) — the q56 oracle form fixes both to the LPA-3 labelling
    * of the capped co-occurrence graph.
    */
  def modularity(und: DataFrame, labels: DataFrame): DataFrame = {
    val m = und.agg(count(lit(1)).as("m"))
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val dc = labels.join(deg, "node")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("degree_sum"))
    val la = labels.select(col("node").as("u"), col("community").as("cu"))
    val lb = labels.select(col("node").as("v"), col("community").as("cv"))
    val ic = und.join(la, "u").join(lb, "v")
      .where(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("intra"))
    dc.join(ic, Seq("community"), "left").crossJoin(m)
      .select(col("community"), col("n_nodes"),
        coalesce(col("intra"), lit(0L)).as("intra_edges"),
        col("degree_sum"),
        round(coalesce(col("intra"), lit(0L)).cast("double") / col("m")
          - (col("degree_sum").cast("double") / (lit(2) * col("m")))
            * (col("degree_sum").cast("double") / (lit(2) * col("m"))),
          6).as("contribution"))
      .orderBy("community")
  }

  val q56OracleSql: String =
    (s"WITH $lpaOracleCtes" + """,
      |mm AS (SELECT COUNT(*) AS m FROM und),
      |deg AS (SELECT a AS node, COUNT(*) AS d FROM e GROUP BY a),
      |dc AS (
      |  SELECT l.lbl AS community, COUNT(*) AS n_nodes,
      |         CAST(SUM(deg.d) AS BIGINT) AS degree_sum
      |  FROM l3 l JOIN deg ON deg.node = l.node GROUP BY l.lbl),
      |ic AS (
      |  SELECT la.lbl AS community, COUNT(*) AS intra
      |  FROM und JOIN l3 la ON la.node = und.u
      |           JOIN l3 lb ON lb.node = und.v
      |  WHERE la.lbl = lb.lbl GROUP BY la.lbl)
      |SELECT dc.community, dc.n_nodes,
      |       COALESCE(ic.intra, 0) AS intra_edges, dc.degree_sum,
      |       ROUND(COALESCE(ic.intra, 0)::DOUBLE / mm.m
      |             - (dc.degree_sum::DOUBLE / (2 * mm.m))
      |               * (dc.degree_sum::DOUBLE / (2 * mm.m)), 6)
      |         AS contribution
      |FROM dc CROSS JOIN mm
      |LEFT JOIN ic ON ic.community = dc.community
      |ORDER BY dc.community""".stripMargin).replaceAll("\n", " ")

  /** Q57: rich-club coefficient ladder on the capped co-occurrence
    * graph — for each degree threshold k: the subgraph induced by nodes
    * of degree > k, its size, edge count, and density
    * φ(k) = 2·E_k / (N_k·(N_k−1)). A rising φ(k) means high-degree
    * users preferentially interconnect (a hub oligarchy — the
    * assortativity read, localized to the top of the degree
    * distribution); flat-or-falling φ(k) means hubs spread across the
    * graph. Thresholds are a fixed dyadic ladder (declared semantics).
    *
    * Engine-exactness: N, E are integers; φ one fixed-order IEEE
    * division rounded terminally; NULL when N_k < 2.
    *
    * Scale: rides the capped pair relation; degree is one aggregate;
    * the ladder fan-out is 6× the pair relation into two combinable
    * counts. Nothing beyond the pairing shuffles wider than degrees.
    */
  def q57_richclub(s: SparkSession, dir: String): DataFrame =
    richClub(Caches.pin(cooccurPairs(userBuckets(s, dir)))) // deg + k scans

  /** The production entry: the φ(k) ladder of ANY undirected edge
    * relation (u, v, one row per edge).
    */
  def richClub(und: DataFrame): DataFrame = {
    val s = und.sparkSession
    und.createOrReplaceTempView("__rc_und")
    s.sql(
      """WITH deg AS (
        |  SELECT node, COUNT(*) AS d FROM (
        |    SELECT u AS node FROM __rc_und
        |    UNION ALL SELECT v FROM __rc_und)
        |  GROUP BY node),
        |ks AS (SELECT explode(array(1, 2, 4, 8, 16, 32)) AS k),
        |nk AS (
        |  SELECT k, COUNT(*) AS n FROM deg CROSS JOIN ks
        |  WHERE d > k GROUP BY k),
        |e2 AS (
        |  SELECT du.d AS du, dv.d AS dv FROM __rc_und p
        |  JOIN deg du ON du.node = p.u JOIN deg dv ON dv.node = p.v),
        |ek AS (
        |  SELECT k, COUNT(*) AS e FROM e2 CROSS JOIN ks
        |  WHERE du > k AND dv > k GROUP BY k)
        |SELECT ks.k, COALESCE(nk.n, 0) AS n_nodes,
        |       COALESCE(ek.e, 0) AS n_edges,
        |       CASE WHEN COALESCE(nk.n, 0) < 2 THEN CAST(NULL AS DOUBLE)
        |            ELSE ROUND(2 * CAST(COALESCE(ek.e, 0) AS DOUBLE)
        |                       / (CAST(nk.n AS DOUBLE) * (nk.n - 1)), 6)
        |            END AS phi
        |FROM ks LEFT JOIN nk ON nk.k = ks.k
        |LEFT JOIN ek ON ek.k = ks.k
        |ORDER BY ks.k""".stripMargin)
  }

  val q57OracleSql: String =
    (s"WITH $cooccurOracleCtes" + """,
      |deg AS (SELECT a AS node, COUNT(*) AS d FROM e GROUP BY a),
      |ks AS (SELECT unnest([1, 2, 4, 8, 16, 32]) AS k),
      |nk AS (
      |  SELECT k, COUNT(*) AS n FROM deg CROSS JOIN ks
      |  WHERE d > k GROUP BY k),
      |e2 AS (
      |  SELECT du.d AS du, dv.d AS dv FROM und p
      |  JOIN deg du ON du.node = p.u JOIN deg dv ON dv.node = p.v),
      |ek AS (
      |  SELECT k, COUNT(*) AS e FROM e2 CROSS JOIN ks
      |  WHERE du > k AND dv > k GROUP BY k)
      |SELECT ks.k, COALESCE(nk.n, 0) AS n_nodes,
      |       COALESCE(ek.e, 0) AS n_edges,
      |       CASE WHEN COALESCE(nk.n, 0) < 2 THEN CAST(NULL AS DOUBLE)
      |            ELSE ROUND(2 * CAST(COALESCE(ek.e, 0) AS DOUBLE)
      |                       / (CAST(nk.n AS DOUBLE) * (nk.n - 1)), 6)
      |            END AS phi
      |FROM ks LEFT JOIN nk ON nk.k = ks.k
      |LEFT JOIN ek ON ek.k = ks.k
      |ORDER BY ks.k""".stripMargin).replaceAll("\n", " ")

  /** Q58: pivot-sampled, horizon-bounded betweenness centrality on the
    * capped co-occurrence graph — see [[Betweenness]]. 8 pivots
    * (smallest node ids), horizon 4: both DECLARED query semantics,
    * unrolled level-for-level by the oracle (the q55 LPA discipline),
    * so the iterative engine hash-matches a closed-form SQL program.
    * Completes the centrality suite next to q45 (closeness) / q46
    * (eccentricity) with the flow-through measure both miss: a node on
    * many shortest paths scores high even when it sits far from the
    * graph's center.
    */
  def q58_betweenness(s: SparkSession, dir: String): DataFrame =
    Betweenness.run(s, cooccurPairs(userBuckets(s, dir)))
      .withColumnRenamed("node", "user_id")

  val q58OracleSql: String = {
    def fwd(d: Int): String =
      s"""f$d AS (
         |  SELECT l.s, e.b AS v, SUM(l.sigma)::BIGINT AS sigma
         |  FROM f${d - 1} l JOIN e ON e.a = l.v
         |  WHERE NOT EXISTS (SELECT 1 FROM v${d - 1} x
         |                    WHERE x.s = l.s AND x.v = e.b)
         |  GROUP BY l.s, e.b),
         |v$d AS (SELECT * FROM v${d - 1}
         |        UNION ALL SELECT s, v FROM f$d)""".stripMargin
    def bwd(d: Int): String =
      s"""t$d AS (
         |  SELECT f.s, f.v,
         |         SUM(CAST(f.sigma AS HUGEINT)
         |             * (1000000000 + CAST(n.delta AS HUGEINT))
         |             // CAST(n.sigma AS HUGEINT)) AS delta
         |  FROM f$d f JOIN e ON e.a = f.v
         |  JOIN d${d + 1} n ON n.s = f.s AND n.v = e.b
         |  GROUP BY f.s, f.v),
         |d$d AS (
         |  SELECT f.s, f.v, f.sigma,
         |         COALESCE(t.delta, CAST(0 AS HUGEINT)) AS delta
         |  FROM f$d f LEFT JOIN t$d t ON t.s = f.s AND t.v = f.v)"""
        .stripMargin
    (s"WITH $cooccurOracleCtes" + s""",
      |nodes AS (SELECT DISTINCT a AS node FROM e),
      |piv AS (SELECT node AS s FROM nodes ORDER BY node LIMIT 8),
      |f0 AS (SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM piv),
      |v0 AS (SELECT s, v FROM f0),
      |${fwd(1)},
      |${fwd(2)},
      |${fwd(3)},
      |${fwd(4)},
      |d4 AS (SELECT s, v, sigma, CAST(0 AS HUGEINT) AS delta
      |       FROM f4),
      |${bwd(3)},
      |${bwd(2)},
      |${bwd(1)},
      |alld AS (SELECT s, v, delta FROM d1
      |         UNION ALL SELECT s, v, delta FROM d2
      |         UNION ALL SELECT s, v, delta FROM d3
      |         UNION ALL SELECT s, v, delta FROM d4)
      |SELECT v AS user_id,
      |       ROUND(CAST(SUM(delta) AS DOUBLE) / 1000000000, 6) AS bc
      |FROM alld WHERE v <> s GROUP BY v
      |ORDER BY user_id""".stripMargin).replaceAll("\n", " ")
  }

  /** Q59: truncated Katz centrality on the capped co-occurrence graph —
    * see [[Katz]]. α = 1/4, horizon 4: declared semantics, the oracle
    * unrolls the same four walk-count levels. The reachability-mass
    * complement of q58's shortest-path betweenness.
    */
  def q59_katz(s: SparkSession, dir: String): DataFrame =
    Katz.run(s, cooccurPairs(userBuckets(s, dir)))
      .withColumnRenamed("node", "user_id")

  val q59OracleSql: String = {
    def lvl(k: Int): String =
      s"""w$k AS (
         |  SELECT e.b AS node, SUM(w.w)::BIGINT AS w
         |  FROM w${k - 1} w JOIN e ON e.a = w.node
         |  GROUP BY e.b)""".stripMargin
    (s"WITH $cooccurOracleCtes" + s""",
      |nodes AS (SELECT DISTINCT a AS node FROM e),
      |w0 AS (SELECT node, CAST(1 AS BIGINT) AS w FROM nodes),
      |${lvl(1)},
      |${lvl(2)},
      |${lvl(3)},
      |${lvl(4)},
      |sc AS (SELECT node, CAST(w AS DECIMAL(38,0)) * 64 AS sc FROM w1
      |       UNION ALL
      |       SELECT node, CAST(w AS DECIMAL(38,0)) * 16 FROM w2
      |       UNION ALL
      |       SELECT node, CAST(w AS DECIMAL(38,0)) * 4 FROM w3
      |       UNION ALL
      |       SELECT node, CAST(w AS DECIMAL(38,0)) * 1 FROM w4)
      |SELECT node AS user_id,
      |       ROUND(CAST(SUM(sc) AS DOUBLE) / 256.0, 6) AS katz
      |FROM sc GROUP BY node
      |ORDER BY user_id""".stripMargin).replaceAll("\n", " ")
  }

  /** Q60: approximate neighborhood function (ANF — Palmer, Gibbons &
    * Faloutsos, KDD 2002) on the capped co-occurrence graph:
    * Flajolet-Martin bitmask sketches (8 masks, BIGINT bit-OR merge),
    * horizon 4 — per node, the estimated count of users within 4 hops,
    * the sketch that computes "how connected is this account really"
    * at any graph size without per-node BFS. Bit-OR is the whole merge
    * (mergeable-summary family: q20 HLL, ev_cms, ev_kmv), so each
    * round is one combinable aggregate over the edge relation.
    *
    * Engine-exactness: the FM bit is pure integer — md5-derived 60-bit
    * x, capped via | 2³⁰, lowest set bit x & −x; the round merge is
    * bit_or; the lowest-ZERO-bit read-out is ((x ⊕ (x+1)) + 1) div 2
    * (no bitwise NOT — DuckDB's ~ overloads regex); log2 of an exact
    * power of two is exact in both engines, so bits_sum is integer.
    * Only the terminal 2^(bits_sum/8)/0.77351 estimate is float, one
    * ROUND-6 (the ev_psi ln precedent).
    *
    * Scale design: sketches are 8 Longs per node; each of the 4 rounds
    * is one (edge ⋈ sketch) shuffle + a bit_or partial agg — the ANF
    * paper's O(h·E) with constant-size messages, no frontier state, no
    * driver loop.
    */
  def q60_anf(s: SparkSession, dir: String): DataFrame =
    anfOn(cooccurPairs(userBuckets(s, dir)))

  /** ANF over an arbitrary undirected (u, v) pair relation — the
    * spec-facing core of [[q60_anf]].
    *
    * ITERATIVE form (r13 optimization round): the previous single-SQL
    * version unrolled the 4 rounds as CTEs where r_i references
    * r_{i-1} TWICE (the propagation join side and the self-union
    * side). Spark inlines deterministic CTEs per reference, so the
    * executed plan duplicated each round's subtree 2× per level —
    * 2^4 copies of r0 and up to 31 re-derivations of the co-occurrence
    * base (measured: 63 exchanges / 32 aggregates at sf0.001,
    * plans/r13/q60_anf_before.txt) — exactly the duplicated-subtree
    * shape guide §7.2 says to hunt. The loop below computes each round
    * ONCE as a [[Superstep]] frame and merges sketches with a node-keyed
    * LEFT JOIN instead of the self-union + re-aggregate, so the round's
    * exchange carries only the propagated sketches (edge-fan-in rows), never
    * the full label relation again (guide §2.3 "aggregate before you
    * shuffle", §2.4 "share one exchange").
    *
    * Bit-for-bit identical to the unrolled form: same md5 draws, same
    * lowest-set-bit sketches, and bit_or over {r_{i-1}(v)} ∪ prop(v)
    * equals r_{i-1}(v) | bit_or(prop(v)) (bit_or is associative and
    * commutative, identity 0) — GraphQueriesSpec's in-memory FM replay
    * locks the equality.
    */
  def anfOn(und: DataFrame): DataFrame = {
    val rounds = 4
    val masks = 8
    // masks ride as COLUMNS, not exploded rows: each round's shuffle
    // carries |nodes| rows of 8 Longs instead of 8·|nodes| rows — same
    // joins, an 8th of the exchange (measured 3.7 → see PERF r10)
    val skCols = (0 until masks).map(m => s"sk$m")
    val xCols = (0 until masks).map { m =>
      s"CAST(conv(substring(md5(concat('anf', '$m', ':', " +
        s"CAST(node AS STRING))), 1, 15), 16, 10) AS BIGINT) " +
        s"| ${1L << 30}L AS x$m"
    }
    val r0Cols = (0 until masks).map(m => s"(x$m & -x$m) AS sk$m")
    // both directions, laid out on the propagation key ONCE and reused by
    // all rounds (the ConnectedComponents adjacency discipline)
    val sketches = Superstep.layout(bidirectional(und), "a") { e =>
      val init = e.select(col("a").as("node")).distinct()
        .selectExpr("node" +: xCols: _*)
        .selectExpr("node" +: r0Cols: _*)
      Superstep.iterate(init, rounds) { (r, _) =>
        val prop = e.join(r, e("a") === r("node"))
          .select(col("b").as("node") +: skCols.map(c => col(c)): _*)
          .groupBy("node")
          .agg(expr(s"bit_or(sk0)").as("p0"),
            (1 until masks).map(m => expr(s"bit_or(sk$m)").as(s"p$m")): _*)
        r.as("r").join(prop.as("p"), Seq("node"), "left_outer")
          .selectExpr("node" +: skCols.map(c =>
            s"$c | coalesce(p${c.stripPrefix("sk")}, 0L) AS $c"): _*)
      }(Superstep.never)._1
    }
    val bitsExpr = (0 until masks).map { m =>
      s"CAST(log2(CAST(((sk$m ^ (sk$m + 1)) + 1) div 2 AS DOUBLE)) " +
        "AS BIGINT)"
    }.mkString(" + ")
    sketches
      .selectExpr("node AS user_id", s"CAST($bitsExpr AS BIGINT) AS bits_sum")
      .selectExpr("user_id", "bits_sum",
        s"ROUND(pow(2.0D, CAST(bits_sum AS DOUBLE) / $masks) " +
          "/ 0.77351D, 6) AS reach_est")
      .orderBy("user_id")
  }

  val q60OracleSql: String = {
    val masks = 8
    val skCols = (0 until masks).map(m => s"sk$m").mkString(", ")
    val r0Cols = (0 until masks).map(m => s"(x$m & -x$m) AS sk$m")
      .mkString(", ")
    val xCols = (0 until masks).map { m =>
      s"('0x' || substr(md5('anf$m:' || node::VARCHAR), 1, 15))::BIGINT" +
        s" | ${1L << 30} AS x$m"
    }.mkString(", ")
    val orCols = (0 until masks).map(m => s"bit_or(t.sk$m) AS sk$m")
      .mkString(", ")
    def iter(i: Int): String =
      s"""r$i AS (
         |  SELECT t.node, $orCols FROM (
         |    SELECT e.b AS node, $skCols
         |    FROM r${i - 1} r JOIN e ON e.a = r.node
         |    UNION ALL SELECT node, $skCols FROM r${i - 1}) t
         |  GROUP BY t.node)""".stripMargin
    val bitsExpr = (0 until masks).map { m =>
      s"CAST(log2(((xor(sk$m, sk$m + 1) + 1) // 2)::DOUBLE) AS BIGINT)"
    }.mkString(" + ")
    (s"WITH $cooccurOracleCtes" + s""",
      |nodes AS (SELECT DISTINCT a AS node FROM e),
      |r0 AS (SELECT node, $r0Cols FROM (
      |  SELECT node, $xCols FROM nodes)),
      |${iter(1)},
      |${iter(2)},
      |${iter(3)},
      |${iter(4)},
      |fin AS (SELECT node, CAST($bitsExpr AS BIGINT) AS bits_sum
      |        FROM r4)
      |SELECT node AS user_id, bits_sum,
      |       ROUND(pow(2.0, bits_sum::DOUBLE / 8) / 0.77351, 6)
      |         AS reach_est
      |FROM fin ORDER BY user_id""".stripMargin).replaceAll("\n", " ")
  }

  /** The capped co-occurrence pairing as DuckDB CTEs (`und` = u<v
    * distinct pairs, `e` = both directions) — the oracle twin of
    * `cooccurPairs`, shared by q55/q56/q57/q58.
    */
  private lazy val cooccurOracleCtes: String =
    s"""ub AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 10000000 AS b
      |  FROM events),
      |capped AS (
      |  SELECT user_id, b FROM ub
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY b ORDER BY user_id)
      |    <= $CooccurCap),
      |und AS (
      |  SELECT DISTINCT a.user_id AS u, b.user_id AS v
      |  FROM capped a JOIN capped b USING (b)
      |  WHERE a.user_id < b.user_id),
      |e AS (SELECT u AS a, v AS b FROM und
      |      UNION ALL SELECT v, u FROM und)""".stripMargin

  /** The shared DuckDB CTE chain for q55/q56: capped co-occurrence
    * pairing (`und`, `e`) + three unrolled synchronous LPA votes
    * (`l1`..`l3`) — the oracle twin of `cooccurPairs` + [[LabelProp]].
    */
  // lazy: referenced by q56OracleSql, which is declared above it
  private lazy val lpaOracleCtes: String = {
    def round(t: Int): String =
      s"""l$t AS (
         |  SELECT a AS node, lbl FROM (
         |    SELECT a, lbl, COUNT(*) AS c,
         |           ROW_NUMBER() OVER (PARTITION BY a
         |             ORDER BY COUNT(*) DESC, lbl) AS rn
         |    FROM (SELECT e.a, l.lbl
         |          FROM e JOIN l${t - 1} l ON l.node = e.b
         |          UNION ALL SELECT node AS a, lbl FROM l${t - 1})
         |    GROUP BY a, lbl)
         |  WHERE rn = 1)""".stripMargin
    cooccurOracleCtes + """,
      |l0 AS (SELECT DISTINCT a AS node, a AS lbl FROM e),
      |""".stripMargin + (1 to 3).map(round).mkString(",\n")
  }

  val q55OracleSql: String =
    (s"WITH $lpaOracleCtes" + """
      |SELECT node AS user_id, lbl AS community FROM l3
      |ORDER BY user_id""".stripMargin).replaceAll("\n", " ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q57_richclub" -> (q57_richclub _),
    "q58_betweenness" -> (q58_betweenness _),
    "q59_katz" -> (q59_katz _),
    "q60_anf" -> (q60_anf _),
    "q56_modularity" -> (q56_modularity _),
    "q55_labelprop" -> (q55_labelprop _),
    "q54_walks" -> (q54_walks _),
    "q40_assortativity" -> (q40_assortativity _),
    "q41_linkpred" -> (q41_linkpred _),
    "q39_mst" -> (q39_mst _),
    "q34_kcore" -> (q34_kcore _),
    "q33_pagerank" -> (q33_pagerank _),
    "q42_hits" -> (q42_hits _),
    "q49_degdist" -> (q49_degdist _),
    "q50_lcc" -> (q50_lcc _),
    "q51_transitivity" -> (q51_transitivity _),
    "q52_compdist" -> (q52_compdist _),
    "q53_coreness" -> (q53_coreness _),
    "q48_ppr" -> (q48_ppr _),
    "q47_ktruss" -> (q47_ktruss _),
    "q46_ecc" -> (q46_ecc _),
    "q45_closeness" -> (q45_closeness _),
    "q44_layers" -> (q44_layers _),
    "q43_scc" -> (q43_scc _),
    "q13_bfs" -> (q13_bfs _),
    "q16_maxflow" -> (q16_maxflow _),
    "q24_cc" -> (q24_cc _),
    "q25_triangles" -> (q25_triangles _),
    "q26_sssp" -> (q26_sssp _))

  /** q16's hash-checkable oracle (r11 verdict item #4): max-flow is not
    * DuckDB-expressible, but the query's answer on each driver fixture
    * IS known — the EK-equivalence spec computes it independently, and
    * MaxFlowSpec RE-DERIVES each (rowcount → flow) literal below from
    * the in-memory Edmonds-Karp oracle over q16Edges at every shipped
    * SF, so the constants are provably independent of MaxFlow.run (r12
    * advice item — not circular). The literal is keyed on the
    * subgraph's own row count (the
    * `l_orderkey < 2000` prefix differs per fixture: 6000 / 7846 / 8079
    * rows), so the oracle self-identifies the fixture; on an UNKNOWN
    * corpus the CASE yields NULL and the row mismatches LOUDLY instead
    * of silently blessing a wrong flow (the q53 poison-row discipline).
    * The EK spec tier stays as defense in depth at arbitrary scale.
    */
  val q16OracleSql: String =
    """SELECT CAST(CASE (SELECT COUNT(*) FROM lineitem
      |                  WHERE l_orderkey < 2000)
      |            WHEN 6000 THEN 284
      |            WHEN 7846 THEN 27
      |            WHEN 8079 THEN 6 END AS BIGINT) AS maxflow"""
      .stripMargin.replaceAll("\n", " ")

  val oracleSql: Map[String, String] = Map(
    "q16_maxflow" -> q16OracleSql,
    "q57_richclub" -> q57OracleSql,
    "q58_betweenness" -> q58OracleSql,
    "q59_katz" -> q59OracleSql,
    "q60_anf" -> q60OracleSql,
    "q56_modularity" -> q56OracleSql,
    "q55_labelprop" -> q55OracleSql,
    "q54_walks" -> q54OracleSql,
    "q40_assortativity" -> q40OracleSql,
    "q41_linkpred" -> q41OracleSql,
    "q39_mst" -> q39OracleSql,
    "q34_kcore" -> q34OracleSql,
    "q33_pagerank" -> q33OracleSql,
    "q42_hits" -> q42OracleSql,
    "q49_degdist" -> q49OracleSql,
    "q50_lcc" -> q50OracleSql,
    "q51_transitivity" -> q51OracleSql,
    "q52_compdist" -> q52OracleSql,
    "q48_ppr" -> q48OracleSql,
    "q47_ktruss" -> q47OracleSql,
    "q46_ecc" -> q46OracleSql,
    "q45_closeness" -> q45OracleSql,
    "q44_layers" -> q44OracleSql,
    "q43_scc" -> q43OracleSql,
    "q13_bfs" -> q13OracleSql,
    "q24_cc" -> q24OracleSql,
    "q53_coreness" -> q53OracleSql,
    "q25_triangles" -> q25OracleSql,
    "q26_sssp" -> q26OracleSql)
}
