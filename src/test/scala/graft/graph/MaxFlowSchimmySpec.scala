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
    // the schimmy engine fills the round report (A8; `Main mf` prints it
    // via RoundCounters.echo)
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

  test("schimmy and v1 agree (multi-source/multi-sink)") {
    // "v1" is the `MaxFlow.run` entry point, which ran the shuffle-all
    // layout before it was deleted and now runs the schimmy superstep:
    // both entry points must still agree, and equal Edmonds-Karp, on a
    // graph with two sources and two sinks
    val edges = EdmondsKarp.randomGraph(n = 12, edgeProb = 0.25, maxCap = 5, seed = 99)
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val df = edges.toDF("src", "dst", "cap")
    val v1 = MaxFlow.run(spark, df, ids.take(2), ids.takeRight(2))
    val v2 = MaxFlowSchimmy.run(spark, df, ids.take(2), ids.takeRight(2))
    assert(v1.flow == v2.flow)
    assert(v2.flow == EdmondsKarp.maxFlow(edges, ids.take(2), ids.takeRight(2)))
  }

  // the no-state-shuffle contract
  test("loop shuffle records = vertices + extension messages (S5/J1)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    class Meter extends SparkListener {
      @volatile var records = 0L
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        records += sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten
    }
    val edges = graft.Probe.smallWorld(n = 4000, k = 4, rewireP = 0.1,
      maxC = 10, seed = 3L).toDF("src", "dst", "cap").persist()
    edges.count()
    val ids = (10L until 4010L)
    val sources = Seq(ids.head, ids(1))
    val sinks = Seq(ids.last, ids(ids.length - 2))
    def metered[T](body: => T): (T, Long) = {
      val m = new Meter
      spark.sparkContext.addSparkListener(m)
      val r = body
      org.apache.spark.graftshim.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(m)
      (r, m.records)
    }
    // the graph build's own exchanges, run alone: the run repeats them
    val (vertices, buildRecords) =
      metered(GraphBuilder.buildState(spark, edges, sources, sinks).rdd.count())
    // cleanup off so the meter sees only the build and the superstep loop
    val (r, records) = metered(MaxFlow.run(spark, edges, sources, sinks,
      MaxFlow.Config(exactCleanup = false)))
    edges.unpersist()
    val moves = r.rounds_report.map(_.moves).sum
    assert(r.engineFlow > 0 && moves > 0 && r.rounds > 1)
    // one initial partitionBy moves each master once; after that a round
    // shuffles exactly its extension messages. Any state re-exchange (a
    // shuffle of the masters per round, or an optimizer-inferred
    // partitioning that silently degrades to one) adds >= vertices per
    // round and breaks the equality.
    assert(records - buildRecords == vertices + moves,
      s"loop shuffled ${records - buildRecords} records over ${r.rounds} rounds; " +
        s"want $vertices masters + $moves messages")
  }

  test("a driver-tier run starts no SQL execution after its build") {
    // the rounds and the driver cleanup are RDD jobs: a Dataset action
    // pays its own query planning, more than a small state's work
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    class Executions extends SparkListener {
      val n = new java.util.concurrent.atomic.AtomicInteger()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ =>
      }
    }
    def executions[T](body: => T): (T, Int) = {
      val l = new Executions
      spark.sparkContext.addSparkListener(l)
      val r = try body finally {
        org.apache.spark.graftshim.ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
      (r, l.n.get)
    }
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
    // the build alone, as the run starts it: its partition count is final
    val (_, build) = executions(GraphBuilder.buildState(spark, edges, sources, sinks).rdd)
    val (r, run) = executions(MaxFlow.run(spark, edges, sources, sinks))
    assert(r.flow == 23L && r.cleanupTier == MaxFlow.CleanupTier.Driver, s"got $r")
    assert(run - build == 0, s"the solve started ${run - build} SQL executions after its build")
  }

  test("round state is cached serialized (no SizeEstimator walk per block)") {
    // a deserialized cached block is sized by walking its object graph as
    // it grows; every round's merged state must be stored serialized, and
    // localCheckpoint must still have made it disk-backed
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
      SparkListenerStageCompleted}
    import org.apache.spark.storage.{RDDBlockId, RDDInfo, StorageLevel}
    class Levels extends SparkListener {
      val rdds = new java.util.concurrent.ConcurrentHashMap[Int, RDDInfo]()
      val blocks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, StorageLevel)]()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        sc.stageInfo.rddInfos.filter(_.name == MaxFlow.RoundRddName)
          .foreach(i => rdds.put(i.id, i))
      override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit =
        b.blockUpdatedInfo.blockId match {
          case RDDBlockId(id, _) => blocks.add((id, b.blockUpdatedInfo.storageLevel))
          case _ =>
        }
    }
    val edges = graft.Probe.smallWorld(n = 1000, k = 4, rewireP = 0.1,
      maxC = 10, seed = 7L).toDF("src", "dst", "cap")
    val (sources, sinks) = graft.Probe.terminals(1000)
    val l = new Levels
    spark.sparkContext.addSparkListener(l)
    val r = try MaxFlow.run(spark, edges, sources, sinks) finally {
      org.apache.spark.graftshim.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    import scala.jdk.CollectionConverters._
    val rounds = l.rdds.values.asScala.toSeq
    assert(r.rounds > 1 && rounds.size == r.rounds,
      s"${rounds.size} round RDDs seen over ${r.rounds} rounds")
    rounds.foreach { i =>
      assert(!i.storageLevel.deserialized && i.storageLevel.useDisk,
        s"round RDD ${i.id} cached at ${i.storageLevel}")
    }
    val stored = l.blocks.asScala.filter(b => l.rdds.containsKey(b._1) && b._2.isValid)
    assert(stored.nonEmpty, "no round block was stored")
    stored.foreach { case (id, lvl) =>
      assert(!lvl.deserialized, s"a block of round RDD $id is stored at $lvl")
    }
  }

  test("master partitions come from the input, not shuffle.partitions") {
    // a tiny graph on a session at the 200-partition default: both the
    // build's coalesced exchange and a resumed round dir size the masters
    // to at most one partition per core
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val cores = spark.sparkContext.defaultParallelism
    spark.conf.set(key, "200")
    try {
      val (edges, sources, sinks) = GraphSources.readDimacs(spark, fixture("clrs.dimacs"))
      val built = GraphBuilder.buildState(spark, edges, sources, sinks).rdd
      assert(MaxFlow.masterPartitions(spark, built) <= cores,
        s"build: ${built.getNumPartitions} input partitions")
      val dir = java.nio.file.Files.createTempDirectory("parts").toString + "/rounds"
      val first = MaxFlow.run(spark, edges, sources, sinks, MaxFlow.Config(
        maxRounds = 2, exactCleanup = false, stateDir = Some(dir), checkpointEvery = 1))
      val resumed = StateIO.readLatestForResume(spark, dir)._1.rdd
      assert(MaxFlow.masterPartitions(spark, resumed) <= cores,
        s"resume: ${resumed.getNumPartitions} input partitions")
      assert(first.flow + MaxFlow.resume(spark, dir).flow == 23L)
    } finally spark.conf.set(key, prev)
  }
}
