package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Release of eager `localCheckpoint`s.
  *
  * Iterative dataflows (label propagation, pointer doubling) checkpoint each
  * round's state — otherwise round k's plan embeds two copies of round
  * k−1's and the base work re-executes ~2^rounds times — and one-shot
  * pipelines checkpoint an input several consumers read. Call sites call
  * `df.localCheckpoint()` themselves; this object only releases.
  *
  * The release is the subtle part: `Dataset.unpersist()` on a checkpointed
  * frame is a NO-OP — it routes through `CacheManager.uncacheQuery`, which
  * never registered the checkpoint's RDD, so a long iteration silently pins
  * rounds × |state| blocks for the rest of the session. The working lever
  * is the checkpoint's RDD, and the checkpointed frame names it: its
  * logical plan is a `LogicalRDD` over exactly the RDD the checkpoint
  * persisted (`IterCheckpointSpec` pins this against the installed Spark).
  * So the frame `localCheckpoint()` returned is its own release handle.
  * Any other frame — one derived from a checkpoint, or never checkpointed —
  * is refused with an `IllegalArgumentException`, so a caller cannot
  * release blocks that belong to another pipeline.
  *
  * Lifetimes. A round-based dataflow frees each round's checkpoint with
  * [[free]] once its successor is materialized. A one-shot checkpoint — an
  * input a pipeline's lazy result still reads — lives until the face
  * boundary calls [[releaseAll]]; a library caller that never calls it
  * leaves it to the ContextCleaner, which unpersists the checkpoint's RDD
  * once its frames are unreachable (`spark.cleaner.periodicGC.interval`,
  * set in `Tables.sessionBuilder`). Re-invoking a pipeline never
  * invalidates a frame an earlier call returned (`DedupLeakSpec`).
  */
private[graft] object IterCheckpoint {

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.id
    case p => throw new IllegalArgumentException(
      s"not a localCheckpoint()ed frame (plan root ${p.nodeName}): " +
        "pass the frame localCheckpoint() returned, not one derived from it")
  }

  private def release(s: SparkSession, id: Int): Unit =
    s.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false))

  /** Release checkpointed frames' blocks (non-blocking). Every frame is
    * checked before any is released, so a refused call releases nothing.
    */
  def free(frames: DataFrame*): Unit =
    frames.map(f => (f.sparkSession, rddId(f))).foreach { case (s, id) => release(s, id) }

  /** Release everything the session holds persistent: the cache manager's
    * entries and every persisted RDD, checkpoints included (non-blocking).
    * This is the face boundary Bench, Verify and DeterminismSweep run
    * between faces.
    */
  def releaseAll(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
