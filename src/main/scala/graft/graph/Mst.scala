package graft.graph

import graft.Caches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimum spanning forest by Borůvka rounds on the same superstep
  * substrate as Bfs/ConnectedComponents (SURVEY §7 stage 2's loop shape):
  * every round each current component picks its minimum outgoing edge
  * (one join + one struct-min aggregate, hash-partitioned on the
  * component label), the picked edges merge components (label propagation
  * over the COMPONENT graph — geometrically smaller than the input every
  * round), repeat until no component has an outgoing edge. Component
  * count at least halves per round, so rounds ≤ log2(V).
  *
  * Edges are totally ordered by the lexicographic (w, u, v) struct —
  * ties in w are broken by endpoint ids — which makes the forest UNIQUE
  * (the classic distinct-weights argument applied to the totalized
  * order), so any correct MST algorithm over the same order produces the
  * same edge set: the ScalaTest oracle is in-memory Kruskal under the
  * identical comparator, and the DuckDB oracle is the cycle property
  * (an edge is in the MSF iff its endpoints are NOT connected by
  * strictly smaller edges).
  *
  * Scale: the expensive relation (input edges joined to labels) shuffles
  * on the component label; the merge runs on the picked-edge graph
  * (≤ one edge per component). Parallel undirected multi-edges collapse
  * to their minimum weight up front — only a min edge can enter the MSF.
  */
object Mst {

  /** @param edges undirected edge relation (u, v, w) — one row per edge,
    *              either orientation; parallel edges collapse to min w
    * @param driverMergeMaxEdges picked-edge count up to which the
    *              component merge folds on the DRIVER (union-find over
    *              the round's picks — the q16_maxflow bounded-collect
    *              discipline: the merge relation is ≤ one edge per
    *              component and shrinks geometrically, so at bench scales
    *              every round folds in microseconds instead of an inner
    *              label-propagation fixpoint of small jobs); above the
    *              cap the merge runs as distributed min-label propagation
    * @return DataFrame(u: Long, v: Long, w: Long) — the MSF edges,
    *         canonicalized u < v, ordered by (w, u, v)
    */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 30,
          driverMergeMaxEdges: Long = 5000000L): DataFrame = {
    import spark.implicits._
    val canon = Caches.track(edges
      .select(least(col("u"), col("v")).cast("long").as("u"),
        greatest(col("u"), col("v")).cast("long").as("v"),
        col("w").cast("long").as("w"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(min("w").as("w")))
    val sym = canon.unionAll(
      canon.select(col("v").as("u"), col("u").as("v"), col("w")))

    var labels = Caches.pin(canon.select(col("u").as("node"))
      .union(canon.select(col("v").as("node")))
      .distinct()
      .withColumn("comp", col("node")))
    // per-round pick frames accumulate here and union ONCE at the end
    // (the Scc parts discipline): each is checkpoint-materialized by its
    // round's count, so re-checkpointing a growing accumulator would be
    // a full extra pass per round for nothing
    val pickedParts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // frames superseded LAST round — their successor materializes at THIS
    // round's count, which is when they become releasable
    // (the Superstep contract; the q43_scc in-session degradation)
    var prevLabels: DataFrame = null
    var prevMerged: DataFrame = null
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      iter += 1
      // each edge orientation under its tail's component label; an edge
      // is OUTGOING iff its endpoints' components differ
      val lab = labels
      val out = sym
        .join(lab, sym("u") === lab("node"))
        .select(col("comp").as("cu"), col("u"), col("v"), col("w"))
        .join(lab.select(col("node").as("vn"), col("comp").as("cv")),
          col("v") === col("vn"))
        .filter(col("cu") =!= col("cv"))
      // per-component minimum outgoing edge under the total (w, u, v)
      // order; least/greatest re-canonicalize the orientation row
      val pick = Caches.pin(out
        .select(col("cu"),
          struct(col("w"), least(col("u"), col("v")).as("u"),
            greatest(col("u"), col("v")).as("v"), col("cv")).as("e"))
        .groupBy("cu").agg(min("e").as("e"))
        .select(col("cu"), col("e.u").as("u"), col("e.v").as("v"),
          col("e.w").as("w"), col("e.cv").as("cv")))
      val nPicked = pick.count()
      // the count just materialized the current labels frame, so the
      // frames last round superseded are finally dead
      Caches.release(prevLabels, prevMerged)
      prevLabels = null; prevMerged = null
      if (nPicked == 0) done = true
      else {
        pickedParts += pick.select("u", "v", "w").distinct()
        // merge: components linked by picked edges collapse to one label
        val merged: DataFrame =
          if (nPicked <= driverMergeMaxEdges) {
            // bounded driver fold: union-find over the round's (cu, cv)
            // pairs, re-broadcast as a (old comp → merged min label) map
            val pairs = pick.select("cu", "cv").collect()
              .map(r => (r.getLong(0), r.getLong(1)))
            val parent = scala.collection.mutable.Map.empty[Long, Long]
            def find(x: Long): Long = {
              val p = parent.getOrElseUpdate(x, x)
              if (p == x) x else { val r = find(p); parent(x) = r; r }
            }
            pairs.foreach { case (a, b) =>
              val (ra, rb) = (find(a), find(b))
              if (ra != rb) parent(ra) = rb
            }
            val minOf = parent.keys
              .groupBy(find).map { case (r, ks) => r -> ks.min }
            parent.keys.toSeq.map(k => (k, minOf(find(k))))
              .toDF("mn", "mc")
          } else {
            // distributed fallback: min-label propagation over the
            // component graph (≤ 1 edge per component, shrinking)
            val compEdges = pick
              .select(col("cu").as("src"), col("cv").as("dst"))
              .unionAll(pick.select(col("cv").as("src"), col("cu").as("dst")))
            ConnectedComponents.run(spark, compEdges)
              .withColumnRenamed("node", "mn")
              .withColumnRenamed("comp", "mc")
          }
        prevLabels = labels
        prevMerged = merged
        labels = Caches.pin(labels
          .join(broadcastIfSmall(merged, nPicked <= driverMergeMaxEdges),
            labels("comp") === col("mn"), "left")
          .select(col("node"), coalesce(col("mc"), col("comp")).as("comp")))
      }
    }
    // the result reads only the pick frames; the label chain is done
    Caches.release(canon, prevLabels, prevMerged, labels)
    if (pickedParts.isEmpty)
      Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")
    else pickedParts.reduce(_ unionAll _).orderBy("w", "u", "v")
  }

  private def broadcastIfSmall(df: DataFrame, small: Boolean): DataFrame =
    if (small) broadcast(df) else df
}
