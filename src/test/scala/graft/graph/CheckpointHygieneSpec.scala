package graft.graph

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.rdd.RDD
import org.scalatest.funsuite.AnyFunSuite

/** Locks the release discipline of [[Superstep]] (and of the hand-rolled
  * loops on `Caches.pin` / `Caches.release`): an iterative operator must
  * not leave one pinned BlockManager frame per ITERATION behind — only
  * its result lineage (O(1) frames, or O(peels) for Scc's parts). The
  * round-7 driver session measured the failure mode this prevents:
  * q43_scc at 6 s in isolation degraded to 17.8 → 37.8 → 38.7 s late in
  * a 228-query session because superseded localCheckpoint blocks are
  * otherwise freed only when a driver GC (which a 128 GiB heap may never
  * run) lets the async ContextCleaner find them.
  *
  * The assertions count `sc.getPersistentRDDs` entries — localCheckpoint
  * registers its RDD there, and `Caches.release` removes it
  * synchronously. That map holds its RDDs weakly, so a driver GC could
  * drop an unreleased pin from a plain count; every budget is therefore
  * counted by [[pinsLeftBy]], which holds a strong reference to each RDD
  * persisted while the operator runs.
  */
class CheckpointHygieneSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def pinned: Int = spark.sparkContext.getPersistentRDDs.size
  private def clearAll(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    spark.catalog.clearCache()
  }

  /** Runs `body` while a poller holds a strong reference to every RDD
    * that appears in `getPersistentRDDs`, and returns those still
    * persisted afterwards, still held. Spark keeps that map's values
    * weakly, so without the held references a driver GC can drop an
    * unreleased pin from the count (its blocks wait for the async
    * ContextCleaner).
    */
  private def pinsLeftBy(body: => Unit): Seq[RDD[_]] = {
    val seen = new java.util.concurrent.ConcurrentHashMap[Int, RDD[_]]()
    @volatile var polling = true
    val poller = new Thread(() =>
      while (polling) {
        spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
          seen.putIfAbsent(id, r) }
        Thread.sleep(2)
      })
    val before = spark.sparkContext.getPersistentRDDs.keySet
    poller.start()
    try body finally { polling = false; poller.join() }
    seen.values().asScala.toSeq.filterNot(r => before.contains(r.id))
      .filter(r => spark.sparkContext.getPersistentRDDs.contains(r.id))
      .sortBy(_.id)
  }

  test("ConnectedComponents pins O(1) frames, not O(iterations)") {
    clearAll()
    // 30-node path both directions → ~29 min-propagation rounds
    val edges = (0L until 29L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    val left = pinsLeftBy {
      val (labels, iters) = ConnectedComponents.runCounted(spark, edges)
      assert(iters > 10, s"want a deep loop to make the test meaningful: $iters")
      val rows = labels.collect()
      assert(rows.length == 30 && rows.forall(_.getLong(1) == 0L))
    }.size
    // only the final labels checkpoint may remain
    assert(left <= 1, s"pinned $left frames (want <=1)")
  }

  test("Scc pins O(peels) parts, not O(peels x CC iterations)") {
    clearAll()
    // directed 8-path: every node its own SCC, one settles per peel →
    // 8 peels, each running two full CC propagations internally.
    // driverFinishMaxEdges=0 forces the distributed loop — the driver
    // tier would otherwise settle this residual in one collect and the
    // test would not exercise the per-peel release discipline.
    val edges = (0L until 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val left = pinsLeftBy {
      val rows = Scc.run(spark, edges, driverFinishMaxEdges = 0L).collect()
      assert(rows.length == 8 && rows.forall(r => r.getLong(0) == r.getLong(1)))
    }.size
    // parts = one settled frame per peel (8) + slack; the peel-internal
    // CC frames (~8 peels x 2 runs x up to 8 rounds) must all be gone
    assert(left <= 12, s"pinned $left frames (want <=12, parts only)")
  }

  test("PageRank pins O(1) frames across iterations") {
    clearAll()
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 2L), (2L, 1L))
      .toDF("src", "dst")
    val left = pinsLeftBy {
      val pr = PageRank.run(spark, fwd, iters = 12).collect()
      assert(pr.length == 3 && pr.map(_.getLong(1)).sum > 0)
    }.size
    assert(left <= 1, s"pinned $left frames (want <=1)")
  }

  test("personalized PageRank dedups seeds and pins O(1) frames") {
    clearAll()
    val fwd = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    // duplicated seed must not shrink the teleport mass: pr0 = SCALE/1
    val dup = PageRank.runPersonalized(spark, fwd, Seq(1L, 1L), iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dup(1L) == PageRank.Scale,
      s"duplicate seeds shrank init mass: ${dup(1L)}")
    clearAll() // the iters=0 call legitimately keeps its deg frame
    val left = pinsLeftBy {
      val r = PageRank.runPersonalized(spark, fwd, Seq(1L, 2L), iters = 8)
      assert(r.collect().length == 3)
    }.size
    assert(left <= 1, s"pinned $left frames (want <=1)")
  }

  test("personalized PageRank rejects a seed with no out-edges") {
    val fwd = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      PageRank.runPersonalized(spark, fwd, Seq(1L, 99L), iters = 2)
    }
    assert(e.getMessage.contains("no outgoing"))
  }

  test("Hits pins only the final pair across iterations") {
    clearAll()
    val fwd = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 11L), (3L, 12L))
      .toDF("src", "dst")
    val left = pinsLeftBy {
      assert(Hits.run(spark, fwd, iters = 6).collect().nonEmpty)
    }.size
    assert(left <= 2, s"pinned $left frames (want <=2)")
  }

  test("Layers pins only the final merged round") {
    clearAll()
    // depth-20 chain DAG → 20 relaxation rounds (cap 0 forces the
    // distributed loop — the driver tier would absorb a graph this small)
    val edges = (0L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val left = pinsLeftBy {
      val out = Layers.run(spark, edges, driverFinishMaxEdges = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((0L to 20L).forall(i => out(i) == i))
    }.size
    assert(left <= 1, s"pinned $left frames (want <=1)")
  }

  test("Coreness pins only the final round") {
    clearAll()
    // K4 plus a pendant chain: coreness 3 core, chain coreness 1
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a != b } yield (a, b)
    val chain = Seq((3L, 4L), (4L, 3L), (4L, 5L), (5L, 4L))
    val edges = (k4 ++ chain).toDF("src", "dst")
    val left = pinsLeftBy {
      val out = Coreness.run(spark, edges, driverFinishMaxEdges = 0L).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Seq(0L, 1L, 2L).forall(i => out(i) == 3L) && out(5L) == 1L)
    }.size
    assert(left <= 1, s"pinned $left frames (want <=1)")
  }

  test("MaxFlow pins O(1) state frames, not O(rounds)") {
    // long path network: the excess walk needs ~length/2 rounds to meet,
    // so an unreleased per-round state checkpoint would pin ~6+ frames
    val edges = (10L until 34L).flatMap(i =>
      Seq((i, i + 1, 3L), (i + 1, i, 3L))).toDF("src", "dst", "cap")
    clearAll()
    var res: MaxFlow.Result = null
    val left = pinsLeftBy {
      res = MaxFlow.run(spark, edges, Seq(10L), Seq(34L))
    }.size
    assert(res.flow == 3L && res.rounds >= 3, s"flow ${res.flow} rounds ${res.rounds}")
    assert(left <= 4, s"pinned $left frames (want <=4, not one per round)")
  }


  test("MaxFlow's distributed cleanup pins no more than the driver tier") {
    // a 24-hop path network (ids from 10: 1 and 2 are the reserved
    // super-terminals), solved by the distributed cleanup alone (no
    // engine rounds, no driver tier): its residual BFS pins adj plus one
    // frame per level (27 levels to reach the sink), and must release
    // them all before returning
    val edges = (10L until 34L).flatMap(i =>
      Seq((i, i + 1, 3L), (i + 1, i, 3L))).toDF("src", "dst", "cap")
    clearAll()
    var res: MaxFlow.Result = null
    val left = pinsLeftBy {
      res = MaxFlow.run(spark, edges, Seq(10L), Seq(34L),
        MaxFlow.Config(maxRounds = 0, driverCleanupMaxEdges = 0L))
    }
    assert(res.flow == 3L && res.cleanupTier == MaxFlow.CleanupTier.Distributed,
      s"flow ${res.flow} tier ${res.cleanupTier}")
    assert(left.size <= 4,
      s"pinned ${left.size} frames (want <=4, as the driver tier): " +
        left.map(_.id))
  }

  test("KCore pins only the surviving edge set") {
    clearAll()
    // long pendant chain peels one vertex per round into a K4 core
    val k4 = for { a <- 0L to 3L; b <- 0L to 3L if a != b } yield (a, b)
    val chain = (3L until 13L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val edges = (k4 ++ chain).toDF("src", "dst")
    val left = pinsLeftBy {
      val out = KCore.run(spark, edges, k = 2).collect()
      assert(out.length == 4) // the K4 survives k=2; the chain peels off
    }.size
    assert(left <= 1, s"pinned $left frames (want <=1)")
  }

  /** Runs `body` from a clean baseline; at most `budget` frames may stay
    * pinned after it, and every one of them must be registered with
    * Caches, so `Caches.releaseAll` returns to the baseline.
    */
  private def assertReleased(what: String, budget: Int)(body: => Unit): Unit = {
    clearAll()
    val base = pinned
    val left = pinsLeftBy(body)
    assert(left.size <= budget,
      s"$what pinned ${left.size} frames (want <=$budget)")
    graft.Caches.releaseAll(spark)
    val survivors = left.filter(r =>
      spark.sparkContext.getPersistentRDDs.contains(r.id))
    assert(survivors.isEmpty && pinned == base,
      s"$what: ${survivors.size} held frames (${pinned - base} in all) " +
        "survive Caches.releaseAll")
  }

  // a 20-node path: 19 rounds, far deeper than any budget
  private val path20 = (0L until 19L).map(i => (i, i + 1))
  private val path20Both = (path20 ++ path20.map(_.swap)).toDF("src", "dst")
  private val path12Und = (0L until 11L).map(i => (i, i + 1)).toDF("u", "v")

  test("Bfs.run pins only its result") {
    assertReleased("Bfs.run", 1) {
      val out = Bfs.run(spark, path20.toDF("src", "dst"), Seq(0L)).collect()
      assert(out.length == 20 && out.forall(r => r.getLong(0) == r.getInt(1)))
    }
  }

  test("Bfs.runMulti pins only its result") {
    assertReleased("Bfs.runMulti", 1) {
      val out = Bfs.runMulti(spark, path20Both, Seq(0L, 19L)).collect()
      assert(out.length == 40 && out.map(_.getInt(2)).max == 19)
    }
  }

  test("LabelProp pins only its result") {
    assertReleased("LabelProp", 1) {
      val out = LabelProp.run(spark, path12Und, rounds = 8).collect()
      assert(out.length == 12)
    }
  }

  test("Truss pins only its result") {
    assertReleased("Truss", 1) {
      // K4 plus a pendant chain: 4-truss refinement keeps the K4's edges
      val k4 = for { a <- 0L to 3L; b <- (a + 1) to 3L } yield (a, b)
      val chain = (3L until 9L).map(i => (i, i + 1))
      val out = Truss.run(spark, (k4 ++ chain).toDF("u", "v"), k = 4,
        rounds = 6).collect()
      assert(out.length == 6 && out.forall(_.getLong(2) == 2L))
    }
  }

  test("Katz pins only its result") {
    assertReleased("Katz", 1) {
      val out = Katz.run(spark, path12Und, horizon = 6, invAlpha = 4)
        .collect()
      assert(out.length == 12)
    }
  }

  test("Betweenness pins only its result") {
    assertReleased("Betweenness", 1) {
      val out = Betweenness.run(spark, path12Und, nPivots = 2, horizon = 6)
        .collect()
      assert(out.nonEmpty)
    }
  }

  test("anfOn pins only its result") {
    assertReleased("anfOn", 1) {
      assert(GraphQueries.anfOn(path12Und).collect().length == 12)
    }
  }

  test("Walks pins only its result") {
    assertReleased("Walks", 1) {
      val seeds = Seq((1L, 0L), (2L, 10L)).toDF("walk_id", "node")
      val out = Walks.run(spark, path20Both, seeds, steps = 8, salt = "h")
        .collect()
      assert(out.length == 18)
    }
  }
}
