package graftbench

import graft.graph.{EdmondsKarp, MaxFlow}
import graft.sources.GraphSources
import org.apache.spark.sql.SparkSession

/** Checks of the benchmark's own pieces:
  * `SelfTest <path to src/test/resources/fixtures/clrs.dimacs>`.
  * Prints one line per check and exits non-zero if any fails. */
object SelfTest {

  def main(args: Array[String]): Unit = {
    val failures = Seq(
      "generator gives the same arcs for the same seed" -> (() => generatorIsSeeded()),
      "span union clips and merges stage intervals" -> (() => unionOfIntervals()),
      "certificate accepts the EdmondsKarp answer on clrs.dimacs" ->
        (() => withSpark(acceptsEdmondsKarp(_, args(0)))),
      "certificate rejects a flow with one accepted path removed" ->
        (() => withSpark(rejectsRemovedPath))
    ).flatMap { case (name, check) =>
      val err = try { check(); None } catch { case e: Throwable => Some(e) }
      println(s"${if (err.isEmpty) "PASS" else "FAIL"} $name${err.fold("")(e => s": $e")}")
      err
    }
    if (failures.nonEmpty) sys.exit(1)
  }

  private def withSpark(body: SparkSession => Unit): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    body(spark)
  }

  private def generatorIsSeeded(): Unit = {
    val spec = SmallWorld.Spec(n = 500)
    val a = SmallWorld.arcs(spec, 5L)
    require(a == SmallWorld.arcs(spec, 5L), "same seed, different arcs")
    require(a != SmallWorld.arcs(spec, 6L), "different seeds, same arcs")
    require(a.nonEmpty && a.size <= 2 * spec.k * spec.n, s"${a.size} arcs")
    require(a.forall { case (u, v, c) =>
      u != v && Seq(u, v).forall(x => x >= 10L && x < 10L + spec.n) &&
        c >= 1L && c <= spec.maxCap
    }, "arc outside the vertex range or capacity bounds")
    val (s, t) = SmallWorld.terminals(spec, 5L)
    require((s, t) == SmallWorld.terminals(spec, 5L), "terminal pick not seeded")
    require(s.nonEmpty && t.nonEmpty && s.intersect(t).isEmpty, "bad terminal pick")
  }

  private def unionOfIntervals(): Unit = {
    require(SparkMeter.unionMs(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 100L) == 30L)
    require(SparkMeter.unionMs(Seq((0L, 10L), (30L, 40L)), 5L, 35L) == 10L)
    require(SparkMeter.unionMs(Nil, 0L, 10L) == 0L)
  }

  private def acceptsEdmondsKarp(spark: SparkSession, dimacs: String): Unit = {
    val (edges, sources, sinks) = GraphSources.readDimacs(spark, dimacs)
    val arcs = edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ek = EdmondsKarp.maxFlow(arcs, sources, sinks)
    require(ek == 23L, s"EdmondsKarp gives $ek on CLRS 26.1")
    val r = MaxFlow.run(spark, edges, sources, sinks)
    require(r.flow == ek, s"engine flow ${r.flow} != EdmondsKarp $ek")
    Certificate.check(arcs, sources, sinks, r.assignment, ek)
      .foreach(why => sys.error(s"rejected the EdmondsKarp answer: $why"))
    require(Certificate.check(arcs, sources, sinks, r.assignment, ek + 1).nonEmpty,
      "accepted a flow value one above the maximum")
  }

  private def rejectsRemovedPath(spark: SparkSession): Unit = {
    import spark.implicits._
    val spec = SmallWorld.Spec(n = 60, terminals = 4)
    val arcs = SmallWorld.arcs(spec, 3L)
    val (sources, sinks) = SmallWorld.terminals(spec, 3L)
    val r = MaxFlow.run(spark, arcs.toDF("src", "dst", "cap"), sources, sinks)
    Certificate.check(arcs, sources, sinks, r.assignment, r.flow)
      .foreach(why => sys.error(s"rejected the engine's own flow: $why"))
    val (path, f) = r.paths.headOption.getOrElse(sys.error("no accepted path"))
    val reduced = path.sliding(2).foldLeft(r.assignment) { case (a, Seq(u, v)) =>
      a.updated((u, v), a.getOrElse((u, v), 0L) - f)
    }
    require(Certificate.check(arcs, sources, sinks, reduced, r.flow - f).nonEmpty,
      "accepted a flow with one accepted path removed")
  }
}
