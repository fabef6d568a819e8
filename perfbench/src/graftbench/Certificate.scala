package graftbench

import graft.graph.GraphModel
import scala.collection.mutable

/** Min-cut certificate for a claimed maximum flow.
  *
  * The flow model is the engines': directed arc capacities summed over
  * parallel arcs, a supersource linked both ways to every source and every
  * sink linked both ways to the supersink with `InfCap`, and an assignment
  * whose net flow on (u, v) is a(u, v) − a(v, u). A flow is certified when
  * every net flow is within its arc's capacity, the supersink is not
  * reachable from the supersource in the residual graph, and the capacity
  * of the source-side residual cut equals the claimed flow — by weak
  * duality that flow is then maximum.
  */
object Certificate {

  /** None when the flow is certified, otherwise why it is not. */
  def check(arcs: Iterable[(Long, Long, Long)], sources: Seq[Long],
            sinks: Seq[Long], assignment: Map[(Long, Long), Long],
            flow: Long): Option[String] = {
    val (src, snk, inf) =
      (GraphModel.SuperSource, GraphModel.SuperSink, GraphModel.InfCap)
    val cap = mutable.HashMap.empty[(Long, Long), Long].withDefaultValue(0L)
    arcs.foreach { case (u, v, c) => cap((u, v)) += c }
    sources.distinct.foreach { s => cap((src, s)) += inf; cap((s, src)) += inf }
    sinks.distinct.foreach { t => cap((t, snk)) += inf; cap((snk, t)) += inf }
    def net(u: Long, v: Long): Long =
      assignment.getOrElse((u, v), 0L) - assignment.getOrElse((v, u), 0L)
    def residual(u: Long, v: Long): Long = cap((u, v)) - net(u, v)

    val overCap = assignment.keysIterator.flatMap { case (u, v) => Seq((u, v), (v, u)) }
      .find { case (u, v) => residual(u, v) < 0L }
    if (overCap.nonEmpty) return Some(s"net flow exceeds capacity on ${overCap.get}")

    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    cap.keysIterator.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty) += v
      adj.getOrElseUpdate(v, mutable.ArrayBuffer.empty) += u
    }
    val sourceSide = mutable.HashSet(src)
    val queue = mutable.Queue(src)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      adj.getOrElse(u, Nil).foreach { v =>
        if (!sourceSide.contains(v) && residual(u, v) > 0L) {
          sourceSide += v
          queue.enqueue(v)
        }
      }
    }
    if (sourceSide.contains(snk)) return Some("an augmenting path remains")
    val cut = cap.iterator.collect {
      case ((u, v), c) if sourceSide.contains(u) && !sourceSide.contains(v) => c
    }.sum
    if (cut != flow) Some(s"residual cut capacity $cut != flow $flow") else None
  }
}
