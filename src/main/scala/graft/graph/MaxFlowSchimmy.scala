package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The schimmy entry points (SURVEY §2.4 J1, §2.1 S5; ff3). The schimmy
  * superstep — masters on a fixed `HashPartitioner`, only the extension
  * messages shuffled, a `zipPartitions` merge — is [[MaxFlow]]'s only
  * layout, so these forward to [[MaxFlow.run]] and [[MaxFlow.resume]].
  */
object MaxFlowSchimmy {

  def run(spark: SparkSession, edges: DataFrame, sources: Seq[Long],
          sinks: Seq[Long],
          conf: MaxFlow.Config = MaxFlow.Config()): MaxFlow.Result =
    MaxFlow.run(spark, edges, sources, sinks, conf)

  def resume(spark: SparkSession, stateDir: String,
             conf: MaxFlow.Config = MaxFlow.Config()): MaxFlow.Result =
    MaxFlow.resume(spark, stateDir, conf)
}
