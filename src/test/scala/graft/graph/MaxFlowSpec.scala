package graft.graph

import graft.TestSpark
import graft.sources.GraphSources
import org.scalatest.funsuite.AnyFunSuite

class MaxFlowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  private def toDf(edges: Seq[(Long, Long, Long)]) = edges.toDF("src", "dst", "cap")

  test("CLRS network: max-flow 23 (known answer, run:49-style)") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val r = MaxFlow.run(spark, edges, sources, sinks)
    assert(r.flow == 23L, s"got $r")
    assert(r.cleanupTier == MaxFlow.CleanupTier.Driver, s"got $r")
  }

  test("disconnected sink: max-flow 0") {
    val edges = Seq((10L, 11L, 5L), (12L, 13L, 5L))
    val r = MaxFlow.run(spark, toDf(edges), Seq(10L), Seq(13L))
    assert(r.flow == 0L)
  }

  test("max-flow equals Edmonds-Karp oracle on random graphs (SURVEY §5)") {
    for (seed <- 1 to 4) {
      val edges = EdmondsKarp.randomGraph(n = 10, edgeProb = 0.3, maxCap = 10, seed = seed)
      val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      if (ids.size >= 4) {
        val sources = Seq(ids.head)
        val sinks = Seq(ids.last)
        val want = EdmondsKarp.maxFlow(edges, sources, sinks)
        val got = MaxFlow.run(spark, toDf(edges), sources, sinks)
        assert(got.flow == want, s"seed=$seed want=$want got=$got")
      }
    }
  }

  test("q16 oracle literals derive from the in-memory EK oracle, not the " +
      "engine (r12 advice: the constant must be provably independent of " +
      "MaxFlow.run)") {
    // the q16OracleSql CASE maps the fixture's l_orderkey<2000 row count
    // to a pinned flow; re-derive every (rowcount → flow) pair by running
    // Edmonds-Karp — a driver-side BFS augmenting-path fold that shares
    // no code with the distributed engine — over the same q16Edges graph
    val want = Map(6000L -> 284L, 7846L -> 27L, 8079L -> 6L)
    val sources = (10L to 17L)
    val sinks = (GraphQueries.PartOffset + 10L to
      GraphQueries.PartOffset + 17L)
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      val rows = graft.Tables.load(spark, dir, "lineitem")
        .filter(org.apache.spark.sql.functions.col("l_orderkey") < 2000)
        .count()
      val edges = GraphQueries.q16Edges(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val ek = EdmondsKarp.maxFlow(edges, sources, sinks)
      assert(want.get(rows).contains(ek),
        s"$sf: rowcount=$rows EK=$ek — oracle literal table disagrees")
    }
  }

  test("multi-source/multi-sink equals oracle") {
    val edges = EdmondsKarp.randomGraph(n = 12, edgeProb = 0.25, maxCap = 5, seed = 99)
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val sources = ids.take(2)
    val sinks = ids.takeRight(2)
    val want = EdmondsKarp.maxFlow(edges, sources, sinks)
    val got = MaxFlow.run(spark, toDf(edges), sources, sinks)
    assert(got.flow == want)
  }

  test("flow conservation + capacity invariants on the assignment (ff1/Vertex.java:156-163)") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val r = MaxFlow.run(spark, edges, sources, sinks)
    // net outflow per vertex from the accumulated directed assignment
    val net = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    r.assignment.foreach { case ((u, v), f) => net(u) += f; net(v) -= f }
    assert(net(1L) == r.flow, s"supersource outflow ${net(1L)} != ${r.flow}")
    assert(net(2L) == -r.flow)
    net.keys.filterNot(k => k == 1L || k == 2L).foreach { k =>
      assert(net(k) == 0L, s"conservation violated at $k: ${net(k)}")
    }
    // |net flow| per undirected pair must be within capacity
    val caps = edges.as[(Long, Long, Long)].collect()
      .map(e => (e._1, e._2) -> e._3).toMap
    val pairs = r.assignment.keySet.map { case (u, v) => (math.min(u, v), math.max(u, v)) }
    pairs.filterNot(p => p._1 <= 2L).foreach { case (a, b) =>
      val f = r.assignment.getOrElse((a, b), 0L) - r.assignment.getOrElse((b, a), 0L)
      if (f > 0) assert(f <= caps.getOrElse((a, b), 0L), s"cap exceeded on $a→$b")
      else assert(-f <= caps.getOrElse((b, a), 0L), s"cap exceeded on $b→$a")
    }
  }

  test("approx mode (mf.approx ≙ exactCleanup=false): engine-only flow ≤ exact") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val approx = MaxFlow.run(spark, edges, sources, sinks,
      MaxFlow.Config(exactCleanup = false))
    assert(approx.cleanupFlow == 0L)
    assert(approx.cleanupTier == MaxFlow.CleanupTier.Off)
    assert(approx.flow <= 23L && approx.flow >= 0L)
  }

  test("ff5 'unlimited K' mode stays exact (no excess-list cap)") {
    val edges = EdmondsKarp.randomGraph(n = 10, edgeProb = 0.3, maxCap = 7, seed = 21)
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val want = EdmondsKarp.maxFlow(edges, Seq(ids.head), Seq(ids.last))
    val got = MaxFlow.run(spark, toDf(edges), Seq(ids.head), Seq(ids.last),
      MaxFlow.Config(excessListMax = Int.MaxValue))
    assert(got.flow == want)
  }

  test("invariant layer holds through a full run (Config.validate)") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val r = MaxFlow.run(spark, edges, sources, sinks, MaxFlow.Config(validate = true))
    assert(r.flow == 23L, s"got $r")
  }

  test("round report carries the MFCounter set (A8; mf/MFCounter.java:3-49)") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val r = MaxFlow.run(spark, edges, sources, sinks)
    val rep = r.rounds_report
    assert(rep.nonEmpty && rep.map(_.round) == (1 to r.rounds))
    // per-round accepted flow must reconcile with the engine total
    assert(rep.map(_.acceptedFlow).sum == r.engineFlow)
    assert(rep.last.totalFlow == r.engineFlow)
    // the engine must actually have worked: extensions on both sides,
    // candidates generated, paths accepted, frontiers alive
    assert(rep.map(_.extendS).sum > 0 && rep.map(_.extendT).sum > 0)
    assert(rep.map(_.candidates).sum >= rep.map(_.acceptedPaths).sum)
    assert(rep.map(_.acceptedPaths).sum > 0)
    assert(rep.exists(c => c.aliveS > 0 && c.aliveT > 0))
    // round 1: source/sink neighbors newly become alive (SOURCE/SINK_MOVE)
    assert(rep.head.moveS > 0 && rep.head.moveT > 0)
    // counters are non-negative throughout
    rep.foreach { c =>
      assert(Seq(c.acceptedFlow, c.acceptedPaths, c.candidates, c.loseExcess,
        c.moveS, c.moveT, c.extendS, c.extendT, c.satS, c.satT,
        c.dropS, c.dropT, c.aliveS, c.aliveT).forall(_ >= 0), c.toString)
    }
    // the echo line renders in the reference's report shape
    assert(rep.head.echo.matches(
      """i=1; Flows=\d+/\d+; LE=\d+; So=\d+/\d+; Si=\d+/\d+"""))
  }

  test("distributed cleanup fallback (driverCleanupMaxEdges=0) stays exact") {
    // maxRounds=0 disables the excess-path engine entirely and
    // driverCleanupMaxEdges=0 forbids the one-shot driver EK, so the whole
    // flow must come from the batched distributed-BFS fallback
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val redges = EdmondsKarp.randomGraph(n = 10, edgeProb = 0.3, maxCap = 10, seed = 5)
    val ids = redges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val want = EdmondsKarp.maxFlow(redges, Seq(ids.head), Seq(ids.last))
    val conf = MaxFlow.Config(maxRounds = 0, driverCleanupMaxEdges = 0L)
    val r = MaxFlow.run(spark, edges, sources, sinks, conf)
    assert(r.flow == 23L && r.engineFlow == 0L && r.cleanupFlow == 23L, s"got $r")
    // the driver tier also finds 23: only the reported tier tells them apart
    assert(r.cleanupTier == MaxFlow.CleanupTier.Distributed, s"got $r")
    // and on a random graph vs the in-memory oracle
    val got = MaxFlow.run(spark, toDf(redges), Seq(ids.head), Seq(ids.last), conf)
    assert(got.flow == want, s"want=$want got=$got")
    assert(got.cleanupTier == MaxFlow.CleanupTier.Distributed, s"got $got")
    // fallback paths are recorded like engine paths (flowpaths parity)
    assert(r.paths.nonEmpty && r.paths.map(_._2).sum == 23L)
    r.paths.foreach { case (p, q) =>
      assert(p.head == 1L && p.last == 2L && q > 0)
    }
  }

  test("driver cleanup on a raw residual graph equals Edmonds-Karp, " +
      "with a feasible net assignment") {
    for (seed <- 31 to 36) {
      val edges = EdmondsKarp.randomGraph(n = 14, edgeProb = 0.25, maxCap = 9, seed = seed)
      val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val (sources, sinks) = (ids.take(2), ids.takeRight(2))
      val terminals = sources.map(s => (1L, s, GraphModel.InfCap)) ++
        sinks.map(t => (t, 2L, GraphModel.InfCap))
      // a repeated arc's residuals add up, as EdmondsKarp sums duplicates
      val resid = (edges ++ edges.take(3) ++ terminals).toArray
      val want = EdmondsKarp.maxFlow(edges ++ edges.take(3), sources, sinks)
      val (total, delta, paths) = MaxFlow.residualMaxFlowDriver(resid)
      assert(total == want, s"seed=$seed want=$want got=$total")
      val cap = resid.groupMapReduce(r => (r._1, r._2))(_._3)(_ + _)
      delta.foreach { case ((u, v), f) =>
        assert(f > 0 && !delta.contains((v, u)), s"seed=$seed: ($u,$v) not net positive")
        assert(f <= cap.getOrElse((u, v), 0L), s"seed=$seed: cap exceeded on $u→$v")
      }
      val net = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      delta.foreach { case ((u, v), f) => net(u) += f; net(v) -= f }
      assert(net(1L) == total && net(2L) == -total, s"seed=$seed")
      assert(net.forall { case (k, f) => k <= 2L || f == 0L }, s"seed=$seed: not conserved")
      assert(paths.map(_._2).sum == total)
      paths.foreach { case (p, q) => assert(p.head == 1L && p.last == 2L && q > 0) }
    }
    assert(MaxFlow.residualMaxFlowDriver(Array((3L, 4L, 5L))) ==
      ((0L, Map.empty, Seq.empty)))
  }

  test("source-only search (mf.sink.excess=false, ff1/FordFulkerson.java:29) stays exact") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val r = MaxFlow.run(spark, edges, sources, sinks,
      MaxFlow.Config(useSinkExcess = false))
    assert(r.flow == 23L, s"got $r")
    // unidirectional: the sink side never extends, so SINK_MOVE stays 0
    // after round 1 fans out from the supersink's initial empty excess
    assert(r.rounds_report.forall(_.extendT == 0))
    // the engine still finds flow (S paths completing at the supersink)
    assert(r.rounds_report.map(_.acceptedFlow).sum == r.engineFlow)
  }

  test("path concat splices cycles (ff1/Excess.java:48-68)") {
    // S: 1→3→4, T: 4→3→5→2 — shared node 3 must splice to 1→3→5→2
    val sp = PathState(Array(1L, 3L, 4L), Array(0L, 0L), Array(5L, 5L))
    val tp = PathState(Array(4L, 3L, 5L, 2L), Array(0L, 0L, 0L), Array(5L, 7L, 9L))
    val c = MaxFlow.concat(sp, tp)
    assert(c.isDefined)
    assert(c.get.nodes.toSeq == Seq(1L, 3L, 5L, 2L))
    assert(c.get.caps.toSeq == Seq(5L, 7L, 9L))
  }
}
