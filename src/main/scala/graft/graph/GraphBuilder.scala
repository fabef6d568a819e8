package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Round-0 graph state construction (SURVEY §2.2 T3/T5, §2.3 A3;
  * ff3/FordFulkerson.java:19-128 Map0FF/Reduce0FF).
  *
  * Input: the directed edge relation `edges(src, dst, cap)` from
  * graft.sources.GraphSources. Output: one `VertexState` per vertex, built
  * like the reference's round 0 in one map/reduce pass: the map emits each
  * arc from both of its ends and the reduce groups them by vertex id, so
  * the build is one hash exchange on the id and no join. Its partitioning
  * is not the masters' layout: `MaxFlow` lays the masters out with its own
  * `partitionBy` (the reference aligns partitions manually via
  * unsplittable master files, ff3/FordFulkerson.java:131-136).
  */
object GraphBuilder {

  /** Inject supersource (id 1) / supersink (id 2) terminal edges with
    * "infinite" capacity (T5; ff1/Vertex.java:69-82,
    * ff3/FordFulkerson.java:19-40) and build per-vertex adjacency: arc
    * u→v (cap c) is seen by u as (nbr v, capOut c) and by v as (nbr u,
    * capIn c), and parallel arcs sum per neighbour (A3). A null cap counts
    * as 0. The input is read once.
    *
    * Ids 1 and 2 belong to the super-terminals, so a source, sink or edge
    * endpoint on either is rejected: the terminals on the driver, an edge
    * when the build's one job reads it ("Reserved ID : <id>", the
    * `GraphSources` message).
    */
  def buildState(spark: SparkSession, edges: DataFrame,
                 sources: Seq[Long], sinks: Seq[Long]): Dataset[VertexState] = {
    import spark.implicits._
    require(sources.nonEmpty && sinks.nonEmpty, "need at least one source and sink")
    val reserved = Seq(GraphModel.SuperSource, GraphModel.SuperSink)
    require(!(sources ++ sinks).exists(reserved.contains),
      s"vertex ids ${reserved.mkString(" and ")} are reserved for the " +
        s"super-terminals; sources $sources, sinks $sinks")
    // the guard rides the value path: a separate assert column would be
    // pruned away by Catalyst
    def endpoint(c: String) = {
      val id = col(c).cast("long")
      when(id.isin(reserved: _*),
        raise_error(concat(lit("Reserved ID : "), id.cast("string"))))
        .otherwise(id)
    }

    val inf = GraphModel.InfCap
    val terminal =
      sources.distinct.flatMap(sId => Seq((1L, sId, inf), (sId, 1L, inf))) ++
      sinks.distinct.flatMap(tId => Seq((tId, 2L, inf), (2L, tId, inf)))
    edges
      .select(endpoint("src"), endpoint("dst"),
        coalesce(col("cap").cast("long"), lit(0L)))
      .as[(Long, Long, Long)]
      .union(terminal.toDS())
      // (id, nbr, capOut, capIn): the arc seen from its tail and its head
      .flatMap { case (u, v, c) => Iterator((u, v, c, 0L), (v, u, 0L, c)) }
      .groupByKey(_._1)
      .mapGroups { (id, rows) =>
        val adj = rows.toSeq
          .groupMapReduce(_._2)(r => (r._3, r._4))((a, b) => (a._1 + b._1, a._2 + b._2))
          .map { case (nbr, (capOut, capIn)) => Adj(nbr, 0L, capOut, capIn) }
          .toArray.sortBy(_.nbr) // sorted adjacency, ff4/Vertex.java:31
        val seed = Array(PathState(Array(id), Array.empty, Array.empty))
        VertexState(id, adj,
          s = if (id == GraphModel.SuperSource) seed else Array.empty,
          t = if (id == GraphModel.SuperSink) seed else Array.empty,
          fsetS = Array.empty, fsetT = Array.empty)
      }
  }

  /** Residual edge relation of the current state: rows (src, dst) where
    * residual(src→dst) > 0. Used by the exactness-cleanup BFS.
    */
  def residualEdges(spark: SparkSession, state: Dataset[VertexState]): DataFrame = {
    import spark.implicits._
    state.flatMap(v => v.adj.filter(_.residualOut > 0).map(a => (v.id, a.nbr)))
      .toDF("src", "dst")
  }
}
