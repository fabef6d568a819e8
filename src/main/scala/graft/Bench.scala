package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * one JSON line on stdout.
  *
  * Each query is timed over SPARK_GRAFT_BENCH_RUNS runs (default 3) and
  * reported as the MEDIAN — the single-run protocol twice produced 4–16×
  * phantom swings from host contention (VERDICT r2 "headline
  * adjudication"). The JSON keeps the driver contract
  * (`queries` = name → seconds) and adds `detail` = name →
  * {median, runs[], err} so a failing query is visible instead of
  * silently distorting the total with a -1.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // ContextCleaner frees shuffle files / RDD / broadcast metadata only
      // when a GC collects the reference objects; the default periodic-GC
      // interval (30 min) never fires inside a bench session, and a large
      // heap never full-GCs organically — so MapOutputTracker/BlockManager
      // bookkeeping grew monotonically across the round-7 driver session
      // (q43_scc 17.8 → 38.7 s). One driver GC a minute is noise next to
      // any query; it keeps the cleaner's backlog drained.
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkHygiene.quietRddLogs()
    // JVM/codegen warm-up (no test data touched) so the first measured
    // query doesn't absorb JIT + Spark bootstrap cost
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    spark.range(10000).selectExpr("id % 10 AS k", "id AS v")
      .groupBy("k").sum("v").collect()
    // …including the TYPED path the iterative engines run on (Dataset
    // encoders + groupByKey/mapGroups + lazy localCheckpoint): its codegen
    // is disjoint from the relational warm-up above, and the first loop
    // query otherwise absorbs ~3 s of it
    locally {
      import spark.implicits._
      spark.range(10000).map(i => (i % 100, i)).groupByKey(_._1)
        .mapGroups((_, it) => it.foldLeft(0L)(_ + _._2)).collect()
      val pinned = Caches.pin(spark.range(1000).toDF("id"))
      pinned.count()
      Caches.release(pinned)
      // …and the max-flow ENGINE itself (VERDICT r6 "wrong" #4): the
      // extendVertex/mergeVertex/acceptor/EK-cleanup classes JIT on first
      // use, and with only the generic typed warm-up above that first use
      // was q16's run 1 — a 16-vertex bipartite graph (q16's shape, meets
      // in 3 hops, exercises engine + acceptor + driver cleanup) absorbs
      // it untimed
      val pairs = for { s <- 0L to 3L; t <- 10L to 13L } yield (s, t, 2L)
      val wedges = (pairs ++ pairs.map(p => (p._2, p._1, p._3)))
        .toDF("src", "dst", "cap")
      graft.graph.MaxFlow.run(spark, wedges, Seq(0L, 1L), Seq(10L, 11L),
        graft.graph.MaxFlow.Config(acceptPatience = 1))
    }

    // cleanup untimed between runs (SparkHygiene: caches + checkpoints)
    def cleanup(): Unit = SparkHygiene.clearSessionCaches(spark)

    case class Res(median: Double, runs: Seq[Double], err: Option[String],
      load1: Double)

    // contention evidence IN the artifact (VERDICT r9 item #5): the r9
    // drift adjudication needed PERF.md prose + git archaeology to show
    // the 196 s driver run was a contended host; loadavg start/end plus a
    // per-query-leg 1-min loadavg make it reconstructable from the JSON
    def loadavg(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadStart = loadavg()
    val wallStart = System.currentTimeMillis() / 1000L

    // dev-only: SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to named queries
    // (the driver never sets it, so the full-protocol contract is intact)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    // session-order hygiene detector: SPARK_GRAFT_BENCH_ORDER=reversed runs
    // the protocol in reverse name order. Any state-accumulation regression
    // (the q43_scc class: a query slow ONLY because it ran late) shows up
    // as a per-query median that moves with its session position; the two
    // orders' medians must agree within noise.
    val ordered = selected.toSeq.sortBy(_._1)
    val sequenced = sys.env.get("SPARK_GRAFT_BENCH_ORDER") match {
      case Some("reversed")       => ordered.reverse
      case None | Some("normal")  => ordered
      case Some(other)            =>
        // fail fast: a typo'd hygiene run would silently bench forward
        // order twice and the order-comparison could never detect anything
        sys.error(s"SPARK_GRAFT_BENCH_ORDER='$other' — use normal|reversed")
    }
    val results = sequenced.map { case (name, fn) =>
      var err: Option[String] = None
      val runs = (1 to nRuns).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        cleanup()
        if (ok) Some(dt) else None
      }
      val median =
        if (runs.isEmpty) -1.0
        else runs.sorted.apply((runs.size - 1) / 2)
      name -> Res(median, runs, err, loadavg())
    }

    def jq(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""
    def jn(d: Double) = if (d.isNaN || d.isInfinite) "-1" else f"$d%.3f"
    val qs = results.map { case (k, r) => s"${jq(k)}:${jn(r.median)}" }
      .mkString("{", ",", "}")
    val detail = results.map { case (k, r) =>
      val runsJson = r.runs.map(jn).mkString("[", ",", "]")
      val errJson = r.err.map(jq).getOrElse("null")
      s"""${jq(k)}:{"median":${jn(r.median)},"runs":$runsJson,"err":$errJson,"load1":${jn(r.load1)}}"""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, r) if r.median >= 0 => r.median }.sum
    val nErr = results.count(_._2.err.isDefined)
    val loadEnd = loadavg()
    val wallEnd = System.currentTimeMillis() / 1000L
    val json = s"""{"metric":"total","value":${jn(total)},"unit":"sec","queries":$qs,"detail":$detail,"n_err":$nErr,"runs_per_query":$nRuns,"loadavg_start":${jn(loadStart)},"loadavg_end":${jn(loadEnd)},"wall_start_epoch_s":$wallStart,"wall_end_epoch_s":$wallEnd,"wall_total_s":${wallEnd - wallStart},"sf":${jq(sfDir)}}"""
    println(json)
    // stdout goes through sbt's logger, which prefixes "[info] " and has
    // truncated/garbled every driver-side BENCH artifact to date — the file
    // is the canonical machine-readable result
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
