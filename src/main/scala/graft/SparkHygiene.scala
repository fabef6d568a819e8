package graft

import org.apache.spark.sql.SparkSession

/** Shared session-hygiene helpers for the driver mains and the test
  * harness — one definition each for the two blocks that would otherwise
  * drift between Bench, Verify, and TestSpark.
  */
object SparkHygiene {

  /** [[Caches.release]] legitimately unpersists pinned (locally
    * checkpointed) RDDs once their successors are materialized, and so
    * do MaxFlow's own round releases; Spark WARNs on
    * every such unpersist ("RDD N was locally checkpointed, its lineage
    * has been truncated…", RDD.unpersist), which would flood a protocol
    * run thousands of times. Suppress exactly that MESSAGE with a
    * context-wide log4j2 filter — not a level drop on the whole
    * `org.apache.spark.rdd` package, which would also mask unrelated
    * legitimate RDD warnings (block eviction, recompute) in long
    * bench/verify/test sessions.
    */
  def quietRddLogs(): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    // on the ROOT LoggerConfig: every additive spark logger's events
    // pass through it with the full formatted message, so the filter
    // sees (and can match) exactly the one message to drop
    ctx.getConfiguration.getRootLogger.addFilter(
      LocalCheckpointUnpersistFilter)
    ctx.updateLoggers()
  }

  private[graft] object LocalCheckpointUnpersistFilter
      extends org.apache.logging.log4j.core.filter.AbstractFilter {
    override def filter(event: org.apache.logging.log4j.core.LogEvent)
        : org.apache.logging.log4j.core.Filter.Result = {
      val m = event.getMessage
      if (m != null && m.getFormattedMessage
            .contains("was locally checkpointed, its lineage has been"))
        org.apache.logging.log4j.core.Filter.Result.DENY
      else org.apache.logging.log4j.core.Filter.Result.NEUTRAL
    }
  }

  /** Drop caches/checkpoints a query left behind so later queries in a
    * long session aren't taxed by accumulated block-manager pressure.
    */
  def clearSessionCaches(spark: SparkSession): Unit = {
    Caches.releaseAll(spark) // also drops the registry's plan references
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
