package graft.graph

import graft.TestSpark
import graft.sources.{GraphSources, StateIO}
import org.scalatest.funsuite.AnyFunSuite

class MaxFlowSchimmySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath

  test("schimmy engine: CLRS network = 23") {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    val r = MaxFlowSchimmy.run(spark, edges, sources, sinks)
    assert(r.flow == 23L, s"got $r")
    assert(StateIO.conservationHolds(r.assignment, r.flow))
    // the schimmy engine fills the same round report as v1 (A8 parity;
    // `Main --engine schimmy` prints it via RoundCounters.echo)
    val rep = r.rounds_report
    assert(rep.nonEmpty && rep.map(_.round) == (1 to r.rounds))
    assert(rep.map(_.acceptedFlow).sum == r.engineFlow)
    assert(rep.map(_.extendS).sum > 0 && rep.map(_.extendT).sum > 0)
    assert(rep.exists(c => c.aliveS > 0 && c.aliveT > 0))
    assert(rep.head.moveS > 0 && rep.head.moveT > 0)
  }

  test("schimmy engine equals Edmonds-Karp oracle on random graphs") {
    for (seed <- 11 to 13) {
      val edges = EdmondsKarp.randomGraph(n = 10, edgeProb = 0.3, maxCap = 9, seed = seed)
      val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      if (ids.size >= 4) {
        val want = EdmondsKarp.maxFlow(edges, Seq(ids.head), Seq(ids.last))
        val got = MaxFlowSchimmy.run(spark, edges.toDF("src", "dst", "cap"),
          Seq(ids.head), Seq(ids.last))
        assert(got.flow == want, s"seed=$seed want=$want got=$got")
      }
    }
  }

  test("schimmy shuffles a fraction of v1's bytes (S5/J1 — the no-state-shuffle contract)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    class Meter extends SparkListener {
      @volatile var bytes = 0L
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        bytes += sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
    }
    import spark.implicits._
    val edges = graft.Probe.smallWorld(n = 4000, k = 4, rewireP = 0.1,
      maxC = 10, seed = 3L).toDF("src", "dst", "cap").persist()
    edges.count()
    val ids = (10L until 4010L)
    val sources = Seq(ids.head, ids(1))
    val sinks = Seq(ids.last, ids(ids.length - 2))
    def metered(run: => MaxFlow.Result): (MaxFlow.Result, Long) = {
      val m = new Meter
      spark.sparkContext.addSparkListener(m)
      val r = run
      org.apache.spark.graftshim.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(m)
      (r, m.bytes)
    }
    // cleanup off so the meter sees ONLY the superstep loop (the BFS
    // cleanup is shared machinery and would dilute the contrast)
    val conf = MaxFlow.Config(exactCleanup = false)
    val (r1, b1) = metered(MaxFlow.run(spark, edges, sources, sinks, conf))
    val (r2, b2) = metered(MaxFlowSchimmy.run(spark, edges, sources, sinks, conf))
    edges.unpersist()
    assert(r1.engineFlow > 0 && r2.engineFlow > 0)
    // v1 shuffles masters+deltas every round; schimmy shuffles deltas only.
    // The master state (1M+ bytes/round here) must show up as a large gap —
    // not a rounding error. Guards the regression this spec was born from:
    // an optimizer-inferred partitioning silently degrading to a full
    // state re-exchange per round.
    assert(b2 < b1 / 2,
      s"schimmy shuffled $b2 bytes vs v1 $b1 — the no-state-shuffle contract is broken")
  }

  test("schimmy and v1 agree (multi-source/multi-sink)") {
    val edges = EdmondsKarp.randomGraph(n = 12, edgeProb = 0.25, maxCap = 5, seed = 99)
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val df = edges.toDF("src", "dst", "cap")
    val v1 = MaxFlow.run(spark, df, ids.take(2), ids.takeRight(2))
    val v2 = MaxFlowSchimmy.run(spark, df, ids.take(2), ids.takeRight(2))
    assert(v1.flow == v2.flow)
  }
}
