package graftbench

import graft.{SparkEntry, SparkHygiene, Tables}
import graft.graph.{EdmondsKarp, GraphBuilder, MaxFlow, MaxFlowSchimmy}
import graft.sources.StateIO
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** One benchmark run: `Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --data <sfDir> --work <dir> --out <result.json>`.
  *
  * A closed loop with one operation in flight runs for about `seconds`, in
  * whole units of operations (see `Bench.loop`). Every metric is taken
  * outside the program, around calls to its public functions; correctness
  * checks run outside the timed operations. With `--trace 1`, operations
  * come in pairs on the same instance, one without tracing and one inside
  * spans with the benchmark's own listeners, so the run also yields the
  * tracing overhead. The result
  * file holds every metric of the run; `perfbench/run.py` selects and
  * prints them.
  */
object Main {

  /** The max-flow instances: one graph and `Picks` terminal picks, the same
    * in every run. The engine's round count differs by up to ±15 % between
    * instances, so per-seed instances would spread `wall_s` more than its
    * bound; the seed sets the order of the picks instead, as it sets the
    * query order. See perfbench/README.md for the sizing. */
  val Graph: SmallWorld.Spec = SmallWorld.Spec(n = 1000, terminals = 32)
  val GraphSeed = 7L
  val Picks = 4
  /** The materialized query slice; the seed permutes its order. */
  val Slice: Seq[String] =
    Seq("q10_multi_join", "q16_maxflow", "dd_ngram_jaccard", "ev_cms")
  val Workloads: Seq[String] = Seq("mf_sw", "queries_sf01")

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String): String = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(arg("work")).toAbsolutePath.toString
    val spark = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // bounded job/stage/SQL history, so the live heap measures the program
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkHygiene.quietRddLogs()
    ErrorCounter.install()
    GcWatch.install()
    val bench = new Bench(spark, workload, arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", Paths.get(arg("data")).toAbsolutePath.toString, work)
    val result = bench.run()
    Files.writeString(Paths.get(arg("out")), Bench.json.writeValueAsString(result))
    spark.stop()
  }
}

final class Bench(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                  trace: Boolean, data: String, work: String) {
  import Bench._

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val uptime = ManagementFactory.getRuntimeMXBean
  private val cores = spark.sparkContext.defaultParallelism
  private val load1Start = os.getSystemLoadAverage

  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  PerLayer.foreach(metrics(_) = 0.0)
  private val spans = mutable.ArrayBuffer.empty[Span.Record]
  private val stamp = mutable.LinkedHashMap.empty[String, Any]
  private var attempted, failed = 0L
  // per untraced operation: wall, CPU, JIT compile time
  private val walls, cpus, jits = mutable.ArrayBuffer.empty[Double]
  // traced runs: the walls recorded so far of pair j, (traced, untraced)
  private val pairWalls = mutable.Map.empty[Int, (Option[Double], Option[Double])]
  // (traced wall, untraced twin's wall) of each pair
  private val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
  private var heapFloorMb = 0.0
  // live heap after each full collection of the heap probe
  private val heapSamples = mutable.ArrayBuffer.empty[Double]

  def run(): Map[String, Any] = {
    val setupS = workload match {
      case "mf_sw" => maxflow()
      case "queries_sf01" => queries()
    }
    metrics ++= Seq("setup_s" -> setupS, "wall_s" -> median(walls),
      "cpu_s" -> median(cpus), "heap_peak_mb" -> math.max(heapFloorMb, percentile(heapSamples, 0.9)),
      "ok_frac" -> (1.0 - failed.toDouble / math.max(attempted, 1L)),
      "trace.wall_s" -> median(pairs.map(_._1)),
      "trace.untraced_wall_s" -> median(pairs.map(_._2)),
      "trace.overhead_s" -> median(pairs.map { case (t, u) => t - u }),
      "load1_start" -> load1Start, "load1_end" -> os.getSystemLoadAverage,
      "log_errors" -> ErrorCounter.value.toDouble, "nproc" -> cores.toDouble,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / SparkMeter.MiB)
    stamp ++= Seq("workload" -> workload, "seed" -> seed, "nproc" -> cores,
      "heap_max_mb" -> metrics("heap_max_mb"), "load1_start" -> load1Start,
      "load1_end" -> metrics("load1_end"), "log_errors" -> ErrorCounter.value,
      "op_walls" -> walls.toSeq, "op_cpus" -> cpus.toSeq, "op_jit_s" -> jits.toSeq,
      "heap_floor_mb" -> heapFloorMb, "heap_probe_mb" -> heapSamples.toSeq,
      "trace_pairs" -> pairs.toSeq.map { case (t, u) => Seq(t, u) })
    Map("attempted" -> attempted, "failed" -> failed, "metrics" -> metrics.toMap,
      "stamp" -> stamp.toMap, "spans" -> spans.toSeq.map(s => Map(
        "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "counters" -> s.counters)))
  }

  /** Seconds from JVM start until now: JVM, session and class loading. */
  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Closed loop of `op(k, traced)` in whole units of `unit` operations: one
    * unit, then another while more than half a unit's time of `seconds`
    * remains. Traced runs go in pairs, operations 2j and 2j+1, one of them
    * traced: the second in even pairs, the first in odd ones, so that neither
    * always runs warmer; they run at least two pairs. */
  private def loop(unit: Int)(op: (Int, Boolean) => Unit): Unit = {
    val t0 = System.nanoTime()
    var k = 0
    var more = true
    while (more) {
      val u0 = System.nanoTime()
      (1 to unit).foreach { _ => op(k, trace && k % 2 != (k / 2) % 2); k += 1 }
      val now = System.nanoTime()
      more = (trace && k < 4) || (now - t0) + (now - u0) / 2 < seconds * 1e9
    }
  }

  /** Wall, CPU and JIT seconds of one measured call; its span when traced. */
  private case class Sample(wall: Double, cpu: Double, jit: Double, span: Option[Span.Record])

  /** Times `body`, inside a span when traced. CPU is that of the whole
    * process, GC included, less the JIT compiler threads (`Cpu`). */
  private def measure[T](name: String, parent: String, traced: Boolean)(body: => T): (T, Sample) = {
    val c0 = Cpu.snapshot()
    val j0 = jit.getTotalCompilationTime
    val (out, wall, span) =
      if (traced) { val (o, rec) = Span(spark, name, parent)(body); spans += rec; (o, rec.wallS, Some(rec)) }
      else { val (o, w) = clock(body); (o, w, None) }
    val cpu = Cpu.since(c0)
    (out, Sample(wall, cpu, (jit.getTotalCompilationTime - j0) / 1e3, span))
  }

  /** Records timed operation `k`: untraced ones feed the end-to-end metrics,
    * and in traced runs each pair gives the tracing overhead. */
  private def record(k: Int, op: Sample, traced: Boolean): Unit = {
    if (!traced) { walls += op.wall; cpus += op.cpu; jits += op.jit }
    if (trace) {
      val (t, u) = pairWalls.getOrElse(k / 2, (None, None))
      val now = if (traced) (Some(op.wall), u) else (t, Some(op.wall))
      pairWalls(k / 2) = now
      for (tw <- now._1; uw <- now._2) pairs += ((tw, uw))
    }
  }

  /** The live heap between operations: the floor of `heap_peak_mb`. */
  private def sampleHeap(): Unit = heapFloorMb = math.max(heapFloorMb, liveHeapMb())

  /** Runs `body` while a sampler forces a full collection, then sleeps
    * `pauseMs`, over and over, and keeps the live heap each of them found.
    * Timed operations see too few collections of their own to sample the
    * working set, and these slow `body` down, so the probe is the last,
    * untimed warm-up operation. */
  private def heapProbe[T](pauseMs: Long)(body: => T): T = {
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sampler = new Thread(() => while (!stop.get) {
      System.gc(); Thread.sleep(pauseMs)
    }, "graftbench-heap-probe")
    val u0 = uptime.getUptime
    sampler.start()
    try body
    finally {
      stop.set(true)
      sampler.join()
      Thread.sleep(200) // GC notifications arrive asynchronously
      heapSamples ++= GcWatch.within(u0, uptime.getUptime)
    }
  }

  /** Heap in use after a full collection. Spark drops the blocks of
    * unreachable broadcasts and shuffles only after a collection has found
    * them, so collect, give its cleaner a moment, and collect again. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / SparkMeter.MiB
  }

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    System.err.println(s"[graftbench] FAILED $what: ${Option(e).map(_.toString).getOrElse("")}")
    if (e != null) e.printStackTrace()
  }

  private def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  private def edgesOf(spec: SmallWorld.Spec, graphSeed: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, spec.n.toLong)
      .flatMap(i => SmallWorld.arcsFor(i, spec, graphSeed))
      .toDF("src", "dst", "cap")
  }

  /** None when `r` is a certified maximum flow that conserves flow. */
  private def refute(arcs: Seq[(Long, Long, Long)], sources: Seq[Long], sinks: Seq[Long],
                     r: MaxFlow.Result): Option[String] =
    Certificate.check(arcs, sources, sinks, r.assignment, r.flow)
      .orElse(Option.when(!StateIO.conservationHolds(r.assignment, r.flow))(
        "flow conservation violated"))

  /** `mf_sw`: in-memory MaxFlow solves; the traced run adds the GraphBuilder
    * span, the durable MaxFlowSchimmy leg and the EdmondsKarp baseline.
    * Returns the set-up time. */
  private def maxflow(): Double = {
    // input set-up, repeated; the median is reported
    var edges: DataFrame = null
    val gens = (1 to SetupRepeats).map { _ =>
      if (edges != null) edges.unpersist(blocking = true)
      val (df, dt) = clock {
        val df = edgesOf(Main.Graph, Main.GraphSeed).persist(); df.count(); df
      }
      edges = df
      dt
    }
    val arcs = SmallWorld.arcs(Main.Graph, Main.GraphSeed)
    val picks = (0 until Main.Picks)
      .map(p => SmallWorld.terminals(Main.Graph, Main.GraphSeed * Main.Picks + p))
    // untraced runs solve every pick once per unit, in the seed's order;
    // traced runs solve pick j in pair j, so their counts come from the same
    // instance (pick 0) in every run
    val order = new scala.util.Random(seed * 0x9E3779B97F4A7C15L).shuffle(picks.indices.toVector)
    metrics("gen_s") = median(gens)
    metrics("input.arcs") = arcs.size.toDouble
    stamp ++= Seq("arcs" -> arcs.size, "vertices" -> Main.Graph.n, "order" -> order)

    val (_, warmS) = clock {
      // solves of the same graph from other terminal picks, so the timed
      // solves start warm
      (1 to WarmupSolves).foreach { w =>
        val (ws, wt) = SmallWorld.terminals(Main.Graph, Main.GraphSeed + w)
        MaxFlow.run(spark, edges, ws, wt)
      }
      // the last warm-up solve is the heap probe, in untraced runs, which
      // report heap_peak_mb
      if (!trace) {
        val (sources, sinks) = picks(0)
        attempted += 1
        try {
          // a collection every 150 ms: 16-32 samples over the solve
          val r = heapProbe(pauseMs = 150)(MaxFlow.run(spark, edges, sources, sinks))
          refute(arcs, sources, sinks, r).foreach(w => fail(s"MaxFlow heap probe: $w", null))
        } catch { case e: Throwable => fail("MaxFlow heap probe", e) }
      }
    }
    metrics("warmup_s") = warmS
    val setupS = sinceJvmStart() - gens.sum + median(gens)

    val certTimes = mutable.ArrayBuffer.empty[Double]
    val flows, rounds = mutable.ArrayBuffer.empty[Long]
    var tracedPick0: Option[MaxFlow.Result] = None
    loop(if (trace) 2 else Main.Picks) { (k, traced) =>
      val pick = if (trace) (k / 2) % Main.Picks else order(k % Main.Picks)
      val (sources, sinks) = picks(pick)
      attempted += 1
      try {
        val (r, op) = measure("MaxFlow.run", "run", traced)(MaxFlow.run(spark, edges, sources, sinks))
        sampleHeap()
        record(k, op, traced)
        val (why, certS) = clock(refute(arcs, sources, sinks, r))
        certTimes += certS
        why.foreach(w => fail(s"MaxFlow op $k: $w", null))
        flows += r.flow; rounds += r.rounds
        if (traced && pick == 0) {
          tracedPick0 = Some(r)
          recordMaxFlow(r)
          SparkCounters.foreach(c => metrics(s"spark.$c") = op.span.get.counters(c))
        }
      } catch { case e: Throwable => fail(s"MaxFlow op $k", e) }
    }
    metrics("cert_s") = median(certTimes)
    stamp ++= Seq("flows" -> flows.toSeq, "rounds" -> rounds.toSeq)

    if (trace) {
      val (sources, sinks) = picks(0)
      val (_, build) = Span(spark, "GraphBuilder.buildState", "run") {
        GraphBuilder.buildState(spark, edges, sources, sinks).count()
      }
      spans += build
      metrics("build.s") = build.wallS
      metrics("build.shuffle_write_mb") = build.counters("shuffle_write_mb")
      durableLeg(edges, arcs, sources, sinks)
      // the sequential baseline, on the traced instance
      tracedPick0.foreach { r =>
        attempted += 1
        val (ek, ekS) = clock(EdmondsKarp.maxFlow(arcs, sources, sinks))
        metrics("baseline.ek_s") = ekS
        if (ek != r.flow) fail(s"EdmondsKarp flow $ek != engine flow ${r.flow}", null)
      }
    }
    edges.unpersist()
    setupS
  }

  /** The schimmy engine writing durable round state, then resuming from it:
    * two traced operations, each checked. */
  private def durableLeg(edges: DataFrame, arcs: Seq[(Long, Long, Long)],
                         sources: Seq[Long], sinks: Seq[Long]): Unit = {
    val dir = s"$work/state/durable"
    attempted += 2
    try {
      val (r, run) = Span(spark, "MaxFlowSchimmy.run", "run") {
        MaxFlowSchimmy.run(spark, edges, sources, sinks,
          MaxFlow.Config(stateDir = Some(dir), checkpointEvery = 5))
      }
      val kept = new java.io.File(dir).listFiles().count(_.getName.startsWith("round-"))
      metrics ++= Seq("durable.s" -> run.wallS, "durable.rounds" -> r.rounds.toDouble,
        "durable.shuffle_write_mb" -> run.counters("shuffle_write_mb"),
        "state.write_mb" -> run.counters("output_mb"), "state.rounds_kept" -> kept.toDouble,
        "state.dir_mb" -> dirBytes(new java.io.File(dir)) / SparkMeter.MiB)
      refute(arcs, sources, sinks, r).foreach(w => fail(s"MaxFlowSchimmy: $w", null))
      val (resumed, resume) = Span(spark, "MaxFlowSchimmy.resume", "run") {
        MaxFlowSchimmy.resume(spark, dir)
      }
      spans ++= Seq(run, resume)
      metrics ++= Seq("state.resume_s" -> resume.wallS,
        "state.resume_extra_flow" -> resumed.flow.toDouble)
      if (resumed.flow != 0L) fail(s"resume added flow ${resumed.flow}", null)
    } catch { case e: Throwable => fail("durable leg", e) }
    deleteTree(new java.io.File(dir))
  }

  private def recordMaxFlow(r: MaxFlow.Result): Unit = {
    val rep = r.rounds_report
    val cands = rep.map(_.candidates).sum
    val accepted = rep.map(_.acceptedPaths).sum
    metrics ++= Seq("mf.flow" -> r.flow.toDouble, "mf.rounds" -> r.rounds.toDouble, "mf.candidates" -> cands.toDouble,
      "mf.accepted_paths" -> accepted.toDouble,
      "mf.accept_ratio" -> (if (cands > 0) accepted.toDouble / cands else 0.0),
      "mf.engine_flow_share" -> (if (r.flow > 0) r.engineFlow.toDouble / r.flow else 0.0),
      "mf.cleanup_flow" -> r.cleanupFlow.toDouble,
      "mf.extend_moves" -> rep.map(_.moves).sum.toDouble,
      "mf.dropped_paths" -> rep.map(c => c.dropS + c.dropT).sum.toDouble)
  }

  /** `queries_sf01`; returns the set-up time. */
  private def queries(): Double = {
    val order = new scala.util.Random(seed * 0x9E3779B97F4A7C15L).shuffle(Main.Slice)
    stamp ++= Seq("order" -> order, "data" -> Paths.get(data).getFileName.toString)
    // input set-up, repeated: open and count every table
    val loads = (1 to SetupRepeats).map { _ =>
      clock(Tables.names.filter(t => new java.io.File(s"$data/$t.parquet").exists)
        .foreach(t => Tables.load(spark, data, t).count()))._2
    }
    metrics("gen_s") = median(loads)
    // warm-up: the cold pass, which also writes each result for the oracle
    val failedQueries = mutable.LinkedHashSet.empty[String]
    val runs = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    val (_, warmS) = clock(order.foreach { q =>
      attempted += 1; runs(q) += 1
      try {
        val (_, dt) = clock(SparkEntry.queries(q)(spark, data)
          .coalesce(1).write.mode("overwrite").parquet(s"$work/verify/$q"))
        metrics(s"q.$q.cold_s") = dt
      } catch { case e: Throwable => failedQueries += q; fail(s"$q (cold)", e) }
      SparkHygiene.clearSessionCaches(spark)
    })
    // and one warm pass, since the JIT still compiles for seconds per query;
    // in untraced runs, which report heap_peak_mb, it is the heap probe
    val (_, warmPassS) = clock(order.foreach { q =>
      def body(): Unit = SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
      attempted += 1; runs(q) += 1
      try if (trace) body() else heapProbe(pauseMs = 150)(body())
      catch { case e: Throwable => failedQueries += q; fail(s"$q (warm)", e) }
      SparkHygiene.clearSessionCaches(spark)
    })
    metrics("warmup_s") = warmS + warmPassS
    Files.writeString(Paths.get(s"$work/verify/oracle_sql.json"),
      json.writeValueAsString(order.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    val setupS = sinceJvmStart() - loads.sum + median(loads)

    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    // an operation is one pass; its time is the sum of its queries' times, so
    // the cache release and heap sample after each query stay outside it
    loop(if (trace) 2 else 1) { (k, traced) =>
      val samples = order.flatMap { q =>
        attempted += 1; runs(q) += 1
        val sample = try {
          val (_, m) = measure(q, s"pass-$k", traced) {
            SparkEntry.queries(q)(spark, data).write.format("noop").mode("overwrite").save()
          }
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += m.wall
          m.span.foreach(rec => Seq("stages", "shuffle_write_mb", "driver_only_s", "exchanges",
            "broadcast_exchanges").foreach(c => metrics(s"q.$q.$c") = rec.counters(c)))
          Some(m)
        } catch { case e: Throwable => failedQueries += q; fail(s"$q (pass $k)", e); None }
        SparkHygiene.clearSessionCaches(spark)
        sampleHeap()
        sample
      }
      val wall = samples.map(_.wall).sum
      record(k, Sample(wall, samples.map(_.cpu).sum, samples.map(_.jit).sum, None), traced)
      if (traced) {
        val sum = SparkCounters.map(c => c -> samples.flatMap(_.span).map(_.counters(c)).sum).toMap
        SparkCounters.foreach(c => metrics(s"spark.$c") = sum(c))
        metrics("spark.core_util") = sum("task_s") / (wall * cores)
      }
    }
    perQuery.foreach { case (q, ts) => metrics(s"q.$q.s") = median(ts) }
    stamp ++= Seq("query_runs" -> runs.toMap, "failed_queries" -> failedQueries.toSeq)
    setupS
  }
}

object Bench {
  val json: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  val SetupRepeats = 3
  val WarmupSolves = 3

  /** Runtime counters reported per layer as `spark.<name>`. */
  val SparkCounters: Seq[String] = Seq("jobs", "stages", "tasks", "task_s", "task_cpu_s",
    "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "stage_busy_s",
    "driver_only_s", "core_util")

  /** Every per-layer metric; a layer a workload does not call reports 0. */
  val PerLayer: Seq[String] =
    Seq("mf.rounds", "mf.candidates", "mf.accepted_paths", "mf.accept_ratio",
      "mf.engine_flow_share", "mf.cleanup_flow", "mf.extend_moves", "mf.dropped_paths",
      "mf.flow") ++ SparkCounters.map("spark." + _) ++
    Seq("build.s", "build.shuffle_write_mb", "durable.s", "durable.rounds",
      "durable.shuffle_write_mb", "state.write_mb", "state.dir_mb",
      "state.rounds_kept", "state.resume_s", "state.resume_extra_flow", "baseline.ek_s") ++
    Main.Slice.flatMap(q => Seq("s", "cold_s", "stages", "shuffle_write_mb",
      "driver_only_s", "exchanges", "broadcast_exchanges").map(c => s"q.$q.$c")) ++
    Seq("gen_s", "warmup_s", "cert_s", "input.arcs", "load1_start", "load1_end",
      "log_errors", "nproc", "heap_max_mb", "trace.wall_s", "trace.untraced_wall_s",
      "trace.overhead_s")

  /** Nearest-rank percentile, 0 < p <= 1; 0 for no values. */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0 else s(math.ceil(p * s.size).toInt - 1)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum else f.length()

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
