package graft

import graft.operators.{Dedup, IterCheckpoint}
import org.apache.spark.sql.DataFrame

/** Checkpoint lifetimes of the one-shot pipelines ([[IterCheckpoint]]):
  * invoking a pipeline twice and holding both frames, the FIRST frame
  * still evaluates to its result after the second invocation (a repeat
  * call never frees blocks an earlier frame reads), and the face-boundary
  * sweep [[IterCheckpoint.releaseAll]] takes the session's pinned-RDD
  * count back to its pre-test baseline.
  *
  * Sampling discipline (round-8 lesson): `getPersistentRDDs` has WEAK
  * values, and the GC-driven ContextCleaner unpersists localCheckpointed
  * RDDs whose frames became unreachable — so a raw sample races the
  * cleaner. Both samples are therefore taken SETTLED (force GC, let the
  * cleaner drain).
  */
class DedupLeakSpec extends SparkSpecBase {

  /** The ContextCleaner drains its reference queue asynchronously and a
    * fixed sleep races it on a loaded machine (r8 ADVICE) — poll until the
    * count is stable across two consecutive samples, with a deadline.
    */
  private def pinnedSettled: Int = {
    System.gc()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var prev = spark.sparkContext.getPersistentRDDs.size
    while (System.nanoTime() < deadline) {
      Thread.sleep(200)
      val cur = spark.sparkContext.getPersistentRDDs.size
      if (cur == prev) return cur
      prev = cur
    }
    prev
  }

  private def assertFlat(name: String, eval: DataFrame => Long = _.count())(
      run: => DataFrame): Unit = {
    val baseline = pinnedSettled
    val f1 = run
    val r1 = eval(f1)
    val f2 = run
    assert(eval(f2) == r1, s"$name: repeat invocation changed the result")
    assert(eval(f1) == r1, s"$name: the repeat invocation changed the first frame")
    IterCheckpoint.releaseAll(spark)
    // strictly fewer is fine: pre-test garbage may still have been pinned
    val after = pinnedSettled
    assert(after <= baseline,
      s"$name: pinned RDDs $baseline -> $after after the face-boundary sweep")
  }

  test("minhashLshPairs double invocation keeps pinned-RDD count flat") {
    assertFlat("minhashLshPairs")(Dedup.minhashLshPairs(spark, Sf))
  }

  test("ngramJaccardPairs double invocation keeps pinned-RDD count flat") {
    assertFlat("ngramJaccardPairs")(Dedup.ngramJaccardPairs(spark, Sf))
  }

  test("simhashPairs double invocation keeps pinned-RDD count flat") {
    assertFlat("simhashPairs")(Dedup.simhashPairs(spark, Sf))
  }

  test("clusterLabels double invocation keeps pinned-RDD count flat") {
    assertFlat("dedupClusters")(
      Dedup.dedupClusters(spark, Sf, Dedup.minhashLshPairs(spark, Sf)))
  }

  test("lshRecall double invocation keeps pinned-RDD count flat") {
    assertFlat("lshRecall")(Dedup.lshRecall(spark, Sf))
  }

  test("lshBandingSweep double invocation keeps pinned-RDD count flat") {
    assertFlat("lshBandingSweep")(Dedup.lshBandingSweep(spark, Sf))
  }

  test("annRecallSweep double invocation keeps pinned-RDD count flat") {
    assertFlat("annRecallSweep")(graft.operators.Similarity.annRecallSweep(spark, Sf))
  }

  test("pageRank double invocation keeps pinned-RDD count flat") {
    assertFlat("pageRank")(graft.operators.Graphs.pageRank(spark, Sf))
  }

  test("triangleCount double invocation keeps pinned-RDD count flat") {
    assertFlat("triangleCount", _.head().getLong(0))(
      graft.operators.Graphs.triangleCount(spark, Sf))
  }
}
