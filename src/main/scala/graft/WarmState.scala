package graft

/** One switch that drops every in-JVM warm memo before a bench rerun, so a
  * `steady` (min-of-2) entry is the min of two COLD-equivalent runs for
  * EVERY face class — the r14 artifact had two steady semantics (staged
  * stream/JDBC faces rerun warm: settled checkpoints replay zero batches,
  * Derby stays loaded, trained models stay memoized), so a reader had to
  * know which class a face belonged to (r14 verdict task 5; the re-stage
  * option was named as the preferred fix).
  *
  * What gets dropped, and what re-paying it means:
  *  - streaming landings + checkpoints + settled targets
  *    ([[SparkEntry.resetStagedLandings]]) — the rerun re-stages slices and
  *    replays every micro-batch;
  *  - generic staged dirs — quarantine landings, partitioned/z-ordered/
  *    compacted layouts ([[graft.sources.StagedDirs.reset]]);
  *  - bucketed catalog tables ([[graft.operators.Layouts.resetStaged]]) —
  *    the rerun re-pays the bucketing write shuffle;
  *  - embedded-Derby federation dbs
  *    ([[graft.sources.Federation.resetStaged]]) — the rerun re-loads;
  *  - trained IVF/PQ models + corpus-size counts
  *    ([[graft.operators.Similarity.resetModelMemos]]) and the PageRank
  *    scale memo ([[graft.operators.Graphs.resetScaleCache]]) — training is
  *    order-deterministic, so the re-trained model is bit-identical and
  *    only the cost is re-paid.
  *
  * Every reset is re-derivable state by construction (the memos exist to
  * amortize, never to change answers), so the rerun's RESULT is identical
  * — only its cost accounting becomes honest. Verify never calls this (its
  * per-query runs legitimately share staging; correctness does not time
  * anything), and unit tests keep their session-scoped reuse.
  */
object WarmState {
  def resetForColdRerun(): Unit = {
    SparkEntry.resetStagedLandings()
    graft.sources.StagedDirs.reset()
    graft.operators.Layouts.resetStaged()
    graft.sources.Federation.resetStaged()
    graft.operators.Similarity.resetModelMemos()
    graft.operators.Graphs.resetScaleCache()
    // per-dataset triangle sizing memo (r17 verdict task 5) — a cold rerun
    // of the exact face must re-measure, not read another face's probe
    graft.operators.Graphs.resetWedgeStats()
  }
}
