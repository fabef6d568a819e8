package graft

import graft.graph.{EdmondsKarp, GraphModel, MaxFlow, Mst}
import graft.sources.StateIO
import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev probe: scale and plan measurements outside the benchmark (ProbeSpec
  * runs `graph`, `corpus` and `queries` at small N). Run with
  * `sbt "runMain graft.Probe <mode> ..."` (SPARK_GRAFT_CPUS sets the local
  * cores; the heap comes from SPARK_DRIVER_MEM via build.sbt's -Xmx).
  * Modes: `graph <n>`, `mf-resume full|run|resume ...`,
  * `corpus <nDocs> <outBase>` and `queries <sfDir> <q1,q2,...> [plan]`,
  * each run by the session-taking function of the same name.
  */
object Probe {

  /** Largest graph checked against Edmonds-Karp (above it the oracle dominates). */
  private val OracleCap = 200000

  /** Edges contributed by ring position i — a pure function of (i, seed),
    * so the driver (oracle) and the executors (DataFrame) generate the
    * exact same graph without ever shipping it.
    */
  def edgesFor(i: Long, n: Int, k: Int, rewireP: Double, maxC: Int,
               seed: Long): Seq[(Long, Long, Long)] = {
    val rng = new scala.util.Random(seed ^ (i * 0x9E3779B97F4A7C15L))
    (1 to k).flatMap { j =>
      val a = 10L + i
      val b = if (rng.nextDouble() < rewireP) 10L + rng.nextInt(n)
              else 10L + (i + j) % n
      if (a == b) Nil
      else {
        val c = 1L + rng.nextInt(maxC)
        Seq((a, b, c), (b, a, c))
      }
    }
  }

  /** Watts-Strogatz-ish: ring + k-nearest + random rewires, caps 1..maxC. */
  def smallWorld(n: Int, k: Int, rewireP: Double, maxC: Int,
                 seed: Long): Seq[(Long, Long, Long)] =
    (0L until n.toLong).flatMap(edgesFor(_, n, k, rewireP, maxC, seed))

  /** The fixed terminal pick — 8 source / 8 sink samples from a seeded
    * rng, so every graph mode and run solves the exact same instance.
    */
  def terminals(n: Int): (Seq[Long], Seq[Long]) = {
    val rng = new scala.util.Random(13L)
    val ids = (10L until 10L + n)
    val sources = Seq.fill(8)(ids(rng.nextInt(n))).distinct
    val sinks = Seq.fill(8)(ids(rng.nextInt(n))).distinct.filterNot(sources.contains)
    (sources, sinks)
  }

  /** Deterministic per-doc text — a pure function of (id, seed), so
    * executors generate their slice without anything being shipped.
    * Token ranks are log-uniform over a 10k-word vocabulary: rank-1 words
    * land in nearly every doc (the stopword tier ta_df must keep) while
    * the tail is near-unique.
    */
  def docFor(id: Long, seed: Long): (Long, String, String, String, Long) = {
    val rng = new scala.util.Random(seed ^ (id * 0x9E3779B97F4A7C15L))
    val len = 20 + rng.nextInt(71) // 20..90 tokens, like the sf tables
    val lnV = math.log(10000.0)
    val sb = new StringBuilder
    var i = 0
    while (i < len) {
      if (i > 0) sb.append(' ')
      sb.append('w').append((math.exp(rng.nextDouble() * lnV)).toLong.max(1L))
      i += 1
    }
    val text = sb.toString
    val lang = Seq("en", "zh", "de", "fr", "es")(rng.nextInt(5))
    (id, text, lang, s"src${rng.nextInt(10)}", text.length.toLong)
  }

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkHygiene.quietRddLogs()
    spark
  }

  private def wall[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The small-world instance every graph mode solves. */
  private def smallWorldDf(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    // executors regenerate their slice of the ring — nothing is shipped
    val df = Caches.track(spark.range(0L, n.toLong)
      .flatMap(edgesFor(_, n, 4, 0.1, 10, 7L))
      .toDF("src", "dst", "cap"))
    df.count()
    df
  }

  /** Sums shuffle write traffic across all stages while registered, and
    * spans the max-flow round jobs: those whose result stage computes a
    * `MaxFlow.round` RDD (`firstRound` is the earliest start, `lastRound`
    * the latest end, in epoch ms; -1 before any).
    */
  private class ShuffleMeter extends SparkListener {
    @volatile var bytes, records, stages = 0L
    @volatile var firstRound, lastRound = -1L
    private val rounds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics
      bytes += w.bytesWritten
      records += w.recordsWritten
      stages += 1
    }
    override def onJobStart(js: SparkListenerJobStart): Unit =
      // a stage's own RDD heads its rddInfos; the result stage is the last made
      if (js.stageInfos.maxBy(_.stageId).rddInfos.headOption
            .exists(_.name == MaxFlow.RoundRddName)) {
        rounds.add(js.jobId)
        if (firstRound < 0) firstRound = js.time
      }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      if (rounds.contains(je.jobId)) lastRound = math.max(lastRound, je.time)
  }

  /** Max-flow on `smallWorld(n)` with its shuffle bytes, records and
    * stages and its wall time split into build (the call to the first
    * round job's start), rounds (to the last round job's end) and cleanup
    * (to the return), checked against Edmonds-Karp up to `OracleCap`
    * vertices (above it: conservation only), then Borůvka against Kruskal.
    */
  def graph(spark: SparkSession, n: Int): Unit = {
    val (sources, sinks) = terminals(n)
    val df = smallWorldDf(spark, n)
    println(s"SCALE n=$n edges=${df.count()} sources=${sources.size} sinks=${sinks.size}")
    val world = smallWorld(n, 4, 0.1, 10, 7L)

    val want: Option[Long] =
      if (n <= OracleCap) {
        val (w, dt) = wall(EdmondsKarp.maxFlow(world, sources, sinks))
        println(f"SCALE oracle flow=$w t=$dt%.1f s")
        Some(w)
      } else {
        println(s"SCALE oracle skipped (n=$n > cap=$OracleCap); " +
          "certificate = conservation")
        None
      }

    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    val t0 = System.currentTimeMillis()
    val (r, dtMf) = wall(MaxFlow.run(spark, df, sources, sinks))
    val t1 = System.currentTimeMillis()
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(meter)
    val conserved = StateIO.conservationHolds(r.assignment, r.flow)
    println(f"SCALE maxflow flow=${r.flow} engine=${r.engineFlow} " +
      f"cleanup=${r.cleanupFlow} rounds=${r.rounds} t=$dtMf%.1f s " +
      f"shuffleMB=${meter.bytes / 1e6}%.1f shuffleRecords=${meter.records} " +
      f"stages=${meter.stages} MBperRound=${meter.bytes / 1e6 / r.rounds}%.2f " +
      f"conserved=$conserved ok=${want.forall(_ == r.flow)}")
    val (first, last) = (meter.firstRound, meter.lastRound)
    println(f"SCALE maxflow phases build=${(first - t0) / 1e3}%.3f s " +
      f"rounds=${(last - first) / 1e3}%.3f s cleanup=${(t1 - last) / 1e3}%.3f s")
    require(r.rounds > 0 && t0 <= first && first <= last && last <= t1,
      s"round jobs not seen inside the solve: $t0 <= $first <= $last <= $t1")
    require(conserved, "max-flow conservation violated")
    require(want.forall(_ == r.flow), s"max-flow mismatch: got=${r.flow} oracle=$want")

    // MST leg: Borůvka vs in-memory Kruskal under the same
    // canonicalization and (w, u, v) total order — edge-for-edge
    val (got, dt) = wall(Mst.run(spark, df.toDF("u", "v", "w")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    val ((canon, mst), dtK) = wall {
      val canon = world.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2), e._3))
        .groupBy(e => (e._1, e._2))
        .map { case ((u, v), es) => (u, v, es.map(_._3).min) }.toSeq
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      (canon, canon.sortBy(e => (e._3, e._1, e._2)).filter { case (u, v, _) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(ru) = rv
        ru != rv
      }.toSet)
    }
    println(f"SCALE mst n=$n edges=${canon.size} msf=${got.size} " +
      f"weight=${got.toSeq.map(_._3).sum} boruvka=$dt%.1f s kruskal=$dtK%.1f s " +
      f"exact=${got == mst}")
    require(got == mst, "Borůvka MSF differs from Kruskal")
    SparkHygiene.clearSessionCaches(spark)
  }

  /** The durable-resume drill on the `graph` instance: `full <n>` is the
    * uninterrupted run (the oracle); `run <n> <stateDir>` writes
    * round checkpoints every 3 rounds for a harness to kill -9 mid-flight;
    * `resume <stateDir> <wantTotal>` resumes from the newest complete
    * checkpoint and requires routed + resumed == wantTotal, conservation,
    * and round-index continuity.
    */
  def mfResume(spark: SparkSession, args: List[String]): Unit = args match {
    case "full" :: ns :: Nil =>
      val (sources, sinks) = terminals(ns.toInt)
      val (r, dt) = wall(MaxFlow.run(spark, smallWorldDf(spark, ns.toInt), sources, sinks))
      require(StateIO.conservationHolds(r.assignment, r.flow),
        "full-run conservation violated")
      println(f"RESUMEPROBE full flow=${r.flow} rounds=${r.rounds} t=$dt%.1f s")

    case "run" :: ns :: dir :: Nil =>
      val n = ns.toInt
      val (sources, sinks) = terminals(n)
      // sbt forks this JVM via an @argfile, so the class name is invisible
      // to pkill/proc-scans — publish our own pid for the kill harness
      java.nio.file.Files.write(java.nio.file.Paths.get("/tmp/mfresume.pid"),
        ProcessHandle.current().pid().toString.getBytes("UTF-8"))
      println(s"RESUMEPROBE run started n=$n stateDir=$dir (kill me mid-flight)")
      val r = MaxFlow.run(spark, smallWorldDf(spark, n), sources, sinks,
        MaxFlow.Config(stateDir = Some(dir), checkpointEvery = 3))
      // only reached if the harness failed to kill in time
      println(s"RESUMEPROBE run finished uninterrupted flow=${r.flow}")

    case "resume" :: dir :: want :: Nil =>
      val ckRound = StateIO.latestRound(spark, dir)
        .getOrElse(sys.error(s"no complete round checkpoint under $dir"))
      // flow already routed at the checkpoint = net supersource outflow
      // recorded in the durable state itself
      val routed = StateIO.readState(spark, StateIO.roundDir(dir, ckRound))
        .filter(_.id == GraphModel.SuperSource)
        .head().adj.map(_.flow).sum
      val (r, dt) = wall(MaxFlow.resume(spark, dir))
      val conserved = StateIO.conservationHolds(r.assignment, r.flow)
      val firstRound = r.rounds_report.headOption.map(_.round).getOrElse(-1)
      println(f"RESUMEPROBE resume ckRound=$ckRound routed=$routed " +
        f"resumed=${r.flow} total=${routed + r.flow} want=$want " +
        f"firstResumedRound=$firstRound rounds=${r.rounds} t=$dt%.1f s " +
        f"conserved=$conserved")
      require(conserved, "resumed-run conservation violated")
      require(firstRound == ckRound + 1,
        s"round-index continuity broken: $firstRound after $ckRound")
      require(routed + r.flow == want.toLong,
        s"flow mismatch: $routed + ${r.flow} != $want")
      println("RESUMEPROBE resume OK")

    case other =>
      sys.error(s"usage: mf-resume full <n> | run <n> <stateDir> | " +
        s"resume <stateDir> <wantTotal>; got $other")
  }

  /** Generates the corpus (the dedup queries double it with planted
    * twins) and runs the real query paths to parquet, requiring the
    * invariants the small-N specs lock: MinHash LSH and SimHash band
    * buckets stay far from the corpus size, dd_resolve's label
    * propagation converges in few rounds, dd_decontam's gram fan-in stays
    * bounded, ds_pack's md5 shards stay balanced and ta_df's output stays
    * vocabulary-sized.
    */
  def corpus(spark: SparkSession, nDocs: Int, outBase: String): Unit = {
    import spark.implicits._
    val dir = s"$outBase/sf${nDocs}"
    spark.range(0L, nDocs.toLong).map(docFor(_, 2026L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val nTok = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS t")
    println(s"PSCALE gen nDocs=$nDocs totalTokens=${nTok.count()} " +
      s"distinctTokens=${nTok.distinct().count()}")

    def timed(tag: String)(df: => DataFrame): DataFrame = {
      val (_, dt) = wall(df.write.mode("overwrite").parquet(s"$dir/results/$tag.parquet"))
      SparkHygiene.clearSessionCaches(spark)
      val out = spark.read.parquet(s"$dir/results/$tag.parquet")
      println(f"PSCALE q=$tag t=$dt%.1f s rows=${out.count()}")
      out
    }

    // --- dd_minhash_lsh: run + band-bucket distribution on the real index
    timed("dd_minhash_lsh")(ops.Dedup.ddMinhashLsh(spark, dir))
    val (_, band) = ops.Dedup.minhashShinglesAndBands(spark, dir)
    // Bucket fan-in: docs sharing the globally-commonest shingles co-bucket
    // (that IS the LSH design), so the scale invariants are (a) no bucket
    // approaches the corpus size and (b) the total candidate-pair fan-in
    // Σ C(bucket, 2) — the real join cost — stays O(n), not O(n²).
    val buckets = band.groupBy("band", "bh").count()
      .agg(max("count").as("mx"), expr("percentile(count, 0.99)").as("p99"),
        avg("count").as("mean"), count(lit(1)).as("nBuckets"),
        sum(expr("count * (count - 1) div 2")).as("candPairs"))
      .head()
    val corpusN = 2L * nDocs
    println(f"PSCALE mh_buckets max=${buckets.getLong(0)} " +
      f"p99=${buckets.getDouble(1)}%.1f mean=${buckets.getDouble(2)}%.2f " +
      f"n=${buckets.getLong(3)} candPairs=${buckets.getLong(4)} " +
      f"corpus=$corpusN")
    require(buckets.getLong(0) <= math.max(64L, corpusN / 100),
      s"minhash bucket blow-up: ${buckets.getLong(0)}")
    require(buckets.getLong(4) <= 10L * corpusN,
      s"candidate fan-in superlinear: ${buckets.getLong(4)}")
    SparkHygiene.clearSessionCaches(spark)

    // --- dd_resolve: run (counted) + simhash band buckets + component sizes
    var ccRounds = -1
    val comp = timed("dd_resolve") {
      val (resolved, rounds) = ops.Pipeline.ddResolveCounted(spark, dir)
      ccRounds = rounds
      resolved
    }.groupBy("canon_id").count()
      .agg(max("count").as("mx"), count(lit(1)).as("nComps")).head()
    println(s"PSCALE resolve ccRounds=$ccRounds maxComponent=${comp.getLong(0)} " +
      s"nComponents=${comp.getLong(1)}")
    // the invariant is that rounds do NOT grow with corpus size (near-dup
    // chains are shallow; measured 2 at every scale) — a bound well under
    // ddResolve's maxIter also avoids the converged-at-cap ambiguity
    require(ccRounds <= 10, s"label propagation rounds grew to $ccRounds")
    ops.Dedup.simhash64(spark, dir).createOrReplaceTempView("__sig_probe")
    val sb = spark.sql(
      """SELECT MAX(c) AS mx, percentile(c, 0.99) AS p99, AVG(c) AS mean FROM (
        |  SELECT COUNT(*) AS c
        |  FROM (SELECT doc_id, shiftright(simhash, 16 * bno) & 65535 AS bk, bno
        |        FROM __sig_probe LATERAL VIEW explode(sequence(0, 3)) AS bno)
        |  GROUP BY bno, bk)""".stripMargin).head()
    println(f"PSCALE sh_buckets max=${sb.getLong(0)} p99=${sb.getDouble(1)}%.1f " +
      f"mean=${sb.getDouble(2)}%.2f corpus=$corpusN")
    require(sb.getLong(0) <= math.max(16L, corpusN / 10),
      s"simhash bucket blow-up: ${sb.getLong(0)}")

    // --- dd_decontam: run + gram-frequency fan-in on the same carve
    timed("dd_decontam")(ops.Pipeline.ddDecontam(spark, dir))
    val docsDf = Tables.load(spark, dir, "documents").select("doc_id", "text")
    def grams(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol), explode(expr(
        """CASE WHEN size(split(text, ' ')) >= 13
          |THEN transform(sequence(1, size(split(text, ' ')) - 12),
          |       i -> xxhash64(array_join(slice(split(text, ' '), i, 13), ' ')))
          |ELSE array() END""".stripMargin)).as("g")).distinct()
    val twins = docsDf.select((col("doc_id") + ops.Pipeline.TwinIdOffset).as("doc_id"),
      expr("array_join(slice(split(text, ' '), 1, " +
        "(size(split(text, ' ')) * 4) div 5), ' ')").as("text"))
    val gf = grams(docsDf.unionAll(twins), "doc_id").groupBy("g").count()
      .agg(max("count").as("mx"), avg("count").as("mean")).head()
    println(f"PSCALE decontam_gram_freq max=${gf.getLong(0)} " +
      f"mean=${gf.getDouble(1)}%.3f")
    require(gf.getLong(0) <= 64, s"gram fan-in blow-up: ${gf.getLong(0)}")

    // --- ds_pack: run + shard balance
    val shards = timed("ds_pack")(ops.Pipeline.dsPack(spark, dir))
      .groupBy("bucket").count()
      .agg(min("count").as("mn"), max("count").as("mx"), count(lit(1)).as("k"))
      .head()
    println(s"PSCALE pack_shards min=${shards.getLong(0)} " +
      s"max=${shards.getLong(1)} k=${shards.getLong(2)}")
    require(shards.getLong(2) == 16 &&
      shards.getLong(1) <= (shards.getLong(0) * 1.2).toLong,
      "md5 shard imbalance > 20%")

    // --- ta_df: run; output must stay vocabulary-sized
    val dfRows = timed("ta_df")(ops.TextAnalysis.taDf(spark, dir)).count()
    require(dfRows > 0 && dfRows < 10000, s"ta_df not vocabulary-sized: $dfRows")
    println("PSCALE done")
  }

  /** Times each named query from construction (q16_maxflow solves
    * eagerly) through full materialization (noop sink, so Catalyst cannot
    * prune columns as under `count()`); with `plan`, prints the plan the
    * sink executed (adaptive stages final).
    */
  def queries(spark: SparkSession, sfDir: String, names: Seq[String],
              plan: Boolean): Unit = {
    val executed = new java.util.concurrent.atomic.AtomicReference("")
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.set(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    if (plan) spark.listenerManager.register(planListener)
    try for (name <- names) {
      val (_, dt) = wall(SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
      println(f"PROBE q=$name t=$dt%.2f s")
      if (plan) {
        ListenerBusDrain(spark.sparkContext)
        println(executed.get.take(400000))
      }
      SparkHygiene.clearSessionCaches(spark)
    } finally spark.listenerManager.unregister(planListener)
  }

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args.toList match {
      case "graph" :: n :: Nil => graph(_, n.toInt)
      case "mf-resume" :: rest => mfResume(_, rest)
      case "corpus" :: n :: out :: Nil => corpus(_, n.toInt, out)
      case "queries" :: dir :: names :: opt if opt.isEmpty || opt == List("plan") =>
        queries(_, dir, names.split(",").toSeq, plan = opt.nonEmpty)
      case _ => sys.error("usage: graph <n> | mf-resume full|run|resume ... | " +
        s"corpus <nDocs> <outBase> | queries <sfDir> <q1,q2,...> [plan]; got ${args.mkString(" ")}")
    }
    val spark = session()
    try run(spark) finally spark.stop()
  }
}
