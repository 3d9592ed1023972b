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

  /** Library-caller leak guard for one-shot (non-round-based) checkpoints.
    * A pipeline's returned frame is lazy, so its checkpointed inputs must
    * stay alive until the caller's terminal action; no point inside the
    * pipeline can free them. Instead the pipeline registers them under its
    * (session, key), and the NEXT registration under the same key frees
    * the previous one, so at most one generation stays pinned per pipeline.
    * Contract: re-invoking a pipeline invalidates the frame a previous call
    * returned. `supersede(s, key)` with no frames just frees the previous
    * generation (a pipeline that refuses its input after checkpointing).
    * Bench/Verify additionally sweep `getPersistentRDDs` between faces.
    *
    * The registry keeps RDD ids, not frames: the ContextCleaner may still
    * release a generation whose frames became unreachable.
    */
  private val live =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Seq[Int]]
  def supersede(s: SparkSession, key: String, frames: DataFrame*): Unit = {
    val ids = frames.map(rddId)
    // drop entries whose session is gone — otherwise the map retains every
    // stopped SparkSession for the JVM lifetime (r6 ADVICE); their blocks
    // died with the session, only the map entries linger
    live.keys.filter(_._1.sparkContext.isStopped).foreach(live.remove)
    live.put((s, key), ids).foreach(_.foreach(release(s, _)))
  }
}
