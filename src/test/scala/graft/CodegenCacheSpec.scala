package graft

import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType

/** A face run again after a cold reset compiles no generated class again:
  * Spark's codegen cache ([[Tables.CodegenCacheEntries]]) holds the whole
  * working set, and a stream's cloned session shares the class loader the
  * cache is keyed on. perfbench and Bench's retries rerun faces exactly
  * like this.
  */
class CodegenCacheSpec extends SparkSpecBase {

  private def compiles: Long = METRIC_COMPILATION_TIME.getCount

  private def run(face: String): Unit = {
    SparkEntry.queries(face)(spark, Sf).write.format("noop").mode("overwrite").save()
    operators.IterCheckpoint.releaseAll(spark)
  }

  test("the session's codegen cache holds more than Spark's default 100 classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Tables.CodegenCacheEntries.toString)
    // a CodeGenerator first used before the session was built keeps the
    // default capacity whatever the conf says: fill past 100, then the
    // oldest classes must still hit
    val base = System.nanoTime()
    def project(i: Int) = GenerateUnsafeProjection.generate(
      Seq(Add(BoundReference(0, LongType, nullable = false), Literal(base + i))))
    val n0 = compiles
    (0 until 150).foreach(project)
    assert(compiles - n0 === 150)
    (0 until 10).foreach(project)
    assert(compiles - n0 === 150, "the first classes were evicted")
  }

  test("q_stream_dedup and q_ann_ivf_trained run again after a cold reset compile no class") {
    val faces = Seq("q_stream_dedup", "q_ann_ivf_trained")
    faces.foreach(run)
    WarmState.resetForColdRerun()
    val recompiles = faces.map { f =>
      val n0 = compiles
      run(f)
      f -> (compiles - n0)
    }.toMap
    WarmState.resetForColdRerun()
    assert(recompiles === faces.map(_ -> 0L).toMap)
  }
}
