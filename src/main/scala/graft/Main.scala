package graft

import graft.graph.{Bfs, GraphModel, MaxFlow}
import graft.sources.{GraphSources, StateIO}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI dispatcher — the engine's equivalent of the reference's `main.java`
  * program table (main.java:10-55) and `run` script parameter surface
  * (`mf.sources`, `mf.sinks`, `mf.excess.list.max`, `mf.max.epath.length`,
  * `mf.approx`, … — run:123-139).
  *
  * Usage:
  *   graft.Main mf  --format dimacs|facebook --input PATH
  *                  [--sources 1,2] [--sinks 3] [--cap 1] [--max-cap N]
  *                  [--k 32] [--max-path-length 30]
  *                  [--approx] [--no-sink-excess] [--lenient]
  *                  [--random-terminals N [--min-degree 3000]]
  *                  [--flowpaths DIR] [--state DIR]
  *   graft.Main bfs --format dimacs|facebook --input PATH --sources 4
  *                  [--max-depth N] [--out DIR]
  *
  * DIMACS `n` lines supply sources/sinks when the flags are omitted.
  */
object Main {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.HashMap.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"expected --flag, got $a")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) {
        m.update(a.drop(2), args(i + 1)); i += 2
      } else { m.update(a.drop(2), "true"); i += 1 }
    }
    m.toMap
  }

  private def ids(s: String): Seq[Long] = s.split(",").map(_.trim.toLong).toSeq

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Load the edge relation + default terminals for the chosen format. */
  private def load(spark: SparkSession, opts: Map[String, String])
      : (DataFrame, Seq[Long], Seq[Long]) = {
    val path = opts.getOrElse("input", sys.error("--input required"))
    opts.getOrElse("format", "dimacs") match {
      case "dimacs" =>
        GraphSources.readDimacs(spark, path)
      case "facebook" =>
        val cap = opts.get("cap").map(_.toLong).getOrElse(1L)
        // ff5 ingest guards by default; --lenient restores ff1's
        // silent-drop of reserved ids
        var edges = GraphSources.readFacebook(spark, path, cap,
          strict = !opts.contains("lenient"))
        opts.get("max-cap").foreach { mc =>
          edges = GraphSources.withRandomCaps(edges, mc.toLong)
        }
        (edges, Seq.empty, Seq.empty)
      case other => sys.error(s"unknown --format $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    try run(spark, args)
    finally spark.stop()
  }

  /** Full CLI dispatch on a caller-owned session (main() adds the process
    * lifecycle; tests drive this directly so the shared session survives).
    */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Main <mf|bfs> --input PATH …")
    val prog = args.head
    val opts = parseArgs(args.tail)
    prog match {
      case "mf" =>
        val (edges, dSources, dSinks) = load(spark, opts)
        // mf.random.source.sink (ff5): seeded high-degree terminal draw
        val (sources, sinks) = opts.get("random-terminals") match {
          case Some(n) =>
            val pool = graph.TerminalSelection.candidatePool(spark, edges,
              minDegree = opts.get("min-degree").map(_.toLong).getOrElse(3000L))
            graph.TerminalSelection.pickSourcesAndSinks(pool, n.toInt)
          case None =>
            (opts.get("sources").map(ids).getOrElse(dSources),
              opts.get("sinks").map(ids).getOrElse(dSinks))
        }
        val conf = MaxFlow.Config(
          excessListMax = opts.get("k").map(_.toInt).getOrElse(32),
          maxPathLength = opts.get("max-path-length").map(_.toInt).getOrElse(30),
          exactCleanup = !opts.contains("approx"), // mf.approx
          useSinkExcess = !opts.contains("no-sink-excess")) // mf.sink.excess
        val r = MaxFlow.run(spark, edges, sources, sinks, conf)
        // the reference's per-round echo line (ff2/FordFulkerson.java:438-445)
        r.rounds_report.foreach(rc => println(rc.echo))
        println(s"maxflow=${r.flow} (engine=${r.engineFlow}, cleanup=${r.cleanupFlow}, " +
          s"rounds=${r.rounds})")
        opts.get("flowpaths").foreach(StateIO.writeFlowPaths(spark, r.paths, _))
        opts.get("state").foreach { dir =>
          StateIO.flowsToDf(spark, r.assignment)
            .write.mode("overwrite").parquet(dir)
        }
      case "bfs" =>
        val (edges, dSources, _) = load(spark, opts)
        val sources = opts.get("sources").map(ids).getOrElse(dSources)
        require(sources.nonEmpty, "--sources required for bfs")
        val dist = Bfs.run(spark, edges.select("src", "dst"), sources,
          opts.get("max-depth").map(_.toInt).getOrElse(Int.MaxValue))
        val n = dist.count()
        println(s"bfs: reached $n vertices from ${sources.mkString(",")}")
        opts.get("out").foreach(dist.write.mode("overwrite").parquet(_))
      case "cc" =>
        val (edges, _, _) = load(spark, opts)
        val comps = graph.ConnectedComponents.run(spark,
          edges.select("src", "dst"))
        val n = comps.select("comp").distinct().count()
        println(s"cc: ${comps.count()} vertices in $n components")
        opts.get("out").foreach(comps.write.mode("overwrite").parquet(_))
      case "mst" =>
        val (edges, _, _) = load(spark, opts)
        val msf = graph.Mst.run(spark, edges.select(
          edges("src").as("u"), edges("dst").as("v"), edges("cap").as("w")))
        val (ne, w) = (msf.count(),
          msf.agg(org.apache.spark.sql.functions.sum("w")).head().getLong(0))
        println(s"mst: $ne forest edges, total weight $w")
        opts.get("out").foreach(msf.write.mode("overwrite").parquet(_))
      case "pagerank" =>
        val (edges, _, _) = load(spark, opts)
        val pr = graph.PageRank.run(spark, edges.select("src", "dst"),
          iters = opts.get("iters").map(_.toInt).getOrElse(10))
        println(s"pagerank: ${pr.count()} vertices ranked")
        opts.get("out").foreach(pr.write.mode("overwrite").parquet(_))
      case "scc" =>
        val (edges, _, _) = load(spark, opts)
        val scc = graph.Scc.run(spark, edges.select("src", "dst"))
        val n = scc.select("scc").distinct().count()
        println(s"scc: ${scc.count()} vertices in $n strongly connected components")
        opts.get("out").foreach(scc.write.mode("overwrite").parquet(_))
      case "kcore" =>
        import org.apache.spark.sql.functions.col
        val (edges, _, _) = load(spark, opts)
        val k = opts.get("k").map(_.toInt).getOrElse(2)
        // KCore's contract is a SYMMETRIC deduplicated relation (src
        // degree = vertex degree); directed input is symmetrized here
        val fwd = edges.select("src", "dst")
        val sym = fwd.unionAll(
          fwd.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        val core = graph.KCore.run(spark, sym, k)
        println(s"kcore: ${core.count()} vertices survive the $k-core peel")
        opts.get("out").foreach(core.write.mode("overwrite").parquet(_))
      case "triangles" =>
        import org.apache.spark.sql.functions.{col, least, greatest}
        val (edges, _, _) = load(spark, opts)
        val und = edges.select(least(col("src"), col("dst")).as("u"),
            greatest(col("src"), col("dst")).as("v"))
          .filter(col("u") < col("v")).distinct()
          .localCheckpoint(eager = false)
        val n = und.as("e1")
          .join(und.as("e2"), col("e1.v") === col("e2.u"))
          .join(und.as("e3"),
            col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
          .count()
        println(s"triangles: $n")
      case other =>
        sys.error(s"unknown program $other " +
          "(mf|bfs|cc|mst|pagerank|scc|kcore|triangles)")
    }
  }
}
