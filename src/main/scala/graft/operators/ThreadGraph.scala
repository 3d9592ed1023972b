package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Comment-thread traversal — the adjacency the reference stores but never
  * walks (`comments.parent` / `comments.children`,
  * `init_db_tables.sh:52,57`; SURVEY.md §1.1 "implicit parent/child graph").
  *
  * Resolution uses POINTER DOUBLING: each round joins every node's current
  * ancestor pointer to that ancestor's own pointer, doubling the resolved
  * distance — ⌈log₂ maxDepth⌉ self-joins instead of maxDepth sequential
  * ones. For deep threads at store scale that is 5 shuffles for depth-32,
  * versus 32 for the naive chase; each shuffle carries only
  * (id, pointer, dist) triples, never the comment payload.
  */
object ThreadGraph {

  /** Resolve each comment to its thread root and depth.
    *
    * Input needs columns `id` (non-null, unique) and `parent` (null for
    * roots). Output: (id, root_id, depth, resolved); roots have
    * root_id = id, depth 0. A root's pointer is itself, so the iteration is
    * a pure fixpoint — no terminal special case. Chains deeper than
    * `maxDepth` (or pointing at missing parents) come back
    * `resolved = false` with the furthest ancestor reached.
    */
  def threadIndex(comments: DataFrame, maxDepth: Int = 32): DataFrame = {
    // state: ptr = furthest known ancestor (self for roots), dist = hops to it
    var state = comments.select(
      col("id"),
      coalesce(col("parent"), col("id")).as("ptr"),
      when(col("parent").isNull, lit(0L)).otherwise(lit(1L)).as("dist"))
    val rounds = math.max(1, 32 - Integer.numberOfLeadingZeros(math.max(1, maxDepth - 1)))
    (1 to rounds).foreach { round =>
      val hop = state.select(col("id").as("h_id"), col("ptr").as("h_ptr"),
        col("dist").as("h_dist"))
      // dangling parent (h_id missing) → pointer stays put, flagged below
      // Iterative self-joins REQUIRE lineage truncation: without it round
      // k's plan embeds two copies of round k−1's, so the base scan+join
      // work re-executes ~2^rounds times (measured 120s at sf0.1; seconds
      // with the checkpoint). localCheckpoint materializes the (id, ptr,
      // dist) triples — on a resilient cluster prefer
      // `spark.sparkContext.setCheckpointDir` + `.checkpoint()`, same shape.
      val next = state.join(hop, state("ptr") === hop("h_id"), "left_outer")
        .select(
          col("id"),
          coalesce(col("h_ptr"), col("ptr")).as("ptr"),
          (col("dist") + coalesce(col("h_dist"), lit(0L))).as("dist"))
        .localCheckpoint()
      // the superseded round's blocks are dead the moment the new checkpoint
      // exists — release them (Dataset.unpersist is a no-op on checkpoints,
      // see [[IterCheckpoint]]); round 1's input is the uncheckpointed seed
      if (round > 1) IterCheckpoint.free(state)
      state = next
    }
    val roots = comments.filter(col("parent").isNull)
      .select(col("id").as("r_id"))
    state.join(roots, state("ptr") === roots("r_id"), "left_outer")
      .select(col("id"), col("ptr").as("root_id"), col("dist").as("depth"),
        col("r_id").isNotNull.as("resolved"))
  }
}
