package graft

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame

/** Round-4 VERDICT item 6: the pair pipelines used to discard their
  * checkpoint RDD ids, so every invocation pinned a fresh generation of
  * blocks for the life of the session (Bench/Verify sweep between queries,
  * but a plain library caller does not). A repeat invocation now supersedes
  * the previous call's blocks — double invocation must leave the session's
  * persistent-RDD count flat.
  *
  * Sampling discipline (round-8 lesson): `getPersistentRDDs` has WEAK
  * values, and the GC-driven ContextCleaner unpersists localCheckpointed
  * RDDs whose frames became unreachable — so a raw sample races the
  * cleaner (a post-cleanup trough at the first sample + a pre-cleanup peak
  * at the second reads as spurious "growth"; flaked exactly once in a full
  * suite run). Both samples are therefore taken SETTLED (force GC, let the
  * cleaner drain), and the returned frames are held strongly across the
  * test: a generation the operator failed to supersede stays pinned through
  * any GC (its RDD is strongly reachable via the held frame), so the real
  * leak class is still detected deterministically.
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

  private def assertFlat(name: String)(run: => (DataFrame, Long)): Unit = {
    val (f1, r1) = run
    val afterFirst = pinnedSettled
    val (f2, r2) = run
    assert(r2 == r1, s"$name: repeat invocation changed the result count")
    // the leak contract is NO GROWTH; strictly fewer is fine (pre-test
    // garbage may still be draining)
    val afterSecond = pinnedSettled
    assert(afterSecond <= afterFirst,
      s"$name: second invocation grew pinned RDDs $afterFirst -> $afterSecond")
    // keep both frames strongly reachable until after the final sample —
    // this reference is what makes an unsuperseded generation visible
    assert(f1 ne f2)
  }

  test("minhashLshPairs double invocation keeps pinned-RDD count flat") {
    assertFlat("minhashLshPairs") {
      val f = Dedup.minhashLshPairs(spark, Sf); (f, f.count())
    }
  }

  test("ngramJaccardPairs double invocation keeps pinned-RDD count flat") {
    assertFlat("ngramJaccardPairs") {
      val f = Dedup.ngramJaccardPairs(spark, Sf); (f, f.count())
    }
  }

  test("simhashPairs double invocation keeps pinned-RDD count flat") {
    assertFlat("simhashPairs") {
      val f = Dedup.simhashPairs(spark, Sf); (f, f.count())
    }
  }

  test("clusterLabels double invocation keeps pinned-RDD count flat") {
    assertFlat("dedupClusters") {
      val f = Dedup.dedupClusters(spark, Sf, Dedup.minhashLshPairs(spark, Sf))
      (f, f.count())
    }
  }

  test("lshRecall double invocation keeps pinned-RDD count flat") {
    assertFlat("lshRecall") {
      val f = Dedup.lshRecall(spark, Sf); (f, f.count())
    }
  }

  test("lshBandingSweep double invocation keeps pinned-RDD count flat") {
    assertFlat("lshBandingSweep") {
      val f = Dedup.lshBandingSweep(spark, Sf); (f, f.count())
    }
  }

  test("annRecallSweep double invocation keeps pinned-RDD count flat") {
    assertFlat("annRecallSweep") {
      val f = graft.operators.Similarity.annRecallSweep(spark, Sf); (f, f.count())
    }
  }

  test("pageRank double invocation keeps pinned-RDD count flat") {
    assertFlat("pageRank") {
      val f = graft.operators.Graphs.pageRank(spark, Sf); (f, f.count())
    }
  }

  test("triangleCount double invocation keeps pinned-RDD count flat") {
    assertFlat("triangleCount") {
      val f = graft.operators.Graphs.triangleCount(spark, Sf)
      (f, f.head().getLong(0))
    }
  }
}
