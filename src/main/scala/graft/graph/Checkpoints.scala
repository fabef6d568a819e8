package graft.graph

import org.apache.spark.sql.Dataset

/** Checkpoint release for the loops that do not run on [[Superstep]]:
  * Scc's peel loop, Mst's Borůvka rounds and the Similarity candidate
  * passes. The contract is [[Superstep]]'s:
  * release a frame only once the successor that replaced it is
  * materialized — a released local checkpoint cannot be recomputed.
  */
object Checkpoints {

  /** Free the BlockManager storage behind frames `localCheckpoint`
    * returned; any other frame, or null (an unset `var`), is a no-op.
    */
  def release(frames: Dataset[_]*): Unit = Superstep.unpin(frames: _*)
}
