package graft

import graft.operators.{Dedup, IterCheckpoint}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** [[IterCheckpoint]] releases a checkpoint through the frame
  * `localCheckpoint()` returned: it reads the RDD id off the frame's root
  * `LogicalRDD`. These checks pin that Spark assumption and the
  * release contract built on it.
  */
class IterCheckpointSpec extends SparkSpecBase {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A fresh eager checkpoint and the one RDD id it added to the session's
    * persistent RDDs. */
  private def checkpointed(n: Long = 100): (DataFrame, Int) = {
    val before = persisted
    val ck = spark.range(n).toDF().repartition(4).localCheckpoint()
    val added = persisted -- before
    assert(added.size == 1, s"localCheckpoint() persisted $added")
    (ck, added.head)
  }

  test("free releases the one RDD localCheckpoint() persisted") {
    val (ck, id) = checkpointed()
    assert(ck.count() == 100)
    IterCheckpoint.free(ck)
    assert(!persisted.contains(id))
    // a second free of the same frame is a no-op
    IterCheckpoint.free(ck)
  }

  test("free and supersede refuse derived and uncheckpointed frames, releasing nothing") {
    val (ck, id) = checkpointed()
    val rddBacked = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L))),
      StructType(Seq(StructField("id", LongType))))
    val refused = Seq(
      "derived" -> ck.filter(col("id") > 5),
      "table" -> Tables.documents(spark, Sf),
      "uncheckpointed RDD" -> rddBacked)
    try refused.foreach { case (what, bad) =>
      intercept[IllegalArgumentException](IterCheckpoint.free(ck, bad))
      intercept[IllegalArgumentException](
        IterCheckpoint.supersede(spark, "iterCheckpointSpec.refuse", ck, bad))
      assert(persisted.contains(id), s"$what: the valid frame's blocks were released")
    } finally IterCheckpoint.free(ck)
    assert(!persisted.contains(id))
  }

  test("superseding one key leaves another key's blocks live") {
    val (a1, a1Id) = checkpointed()
    val (b, bId) = checkpointed(50)
    val (a2, a2Id) = checkpointed()
    try {
      IterCheckpoint.supersede(spark, "iterCheckpointSpec.A", a1)
      IterCheckpoint.supersede(spark, "iterCheckpointSpec.B", b)
      IterCheckpoint.supersede(spark, "iterCheckpointSpec.A", a2)
      assert(!persisted.contains(a1Id), "superseded generation still pinned")
      assert(persisted.contains(a2Id) && persisted.contains(bId))
      assert(b.count() == 50)
    } finally {
      IterCheckpoint.supersede(spark, "iterCheckpointSpec.A")
      IterCheckpoint.supersede(spark, "iterCheckpointSpec.B")
    }
    assert(!persisted.contains(a2Id) && !persisted.contains(bId))
  }

  test("supersede with no frames frees the previous generation") {
    val (ck, id) = checkpointed()
    IterCheckpoint.supersede(spark, "iterCheckpointSpec.refusal", ck)
    IterCheckpoint.supersede(spark, "iterCheckpointSpec.refusal")
    assert(!persisted.contains(id))
    // the operator refusal paths built on it leave nothing pinned
    Seq[(String, () => DataFrame)](
      "minhashLshPairs" -> (() => Dedup.minhashLshPairs(spark, Sf)),
      "simhashPairs" -> (() => Dedup.simhashPairs(spark, Sf))).foreach { case (name, run) =>
      val before = persisted
      spark.conf.set(Dedup.PairRowsConfKey, "0")
      try intercept[Dedup.PairVolumeBudgetExceeded](run())
      finally spark.conf.unset(Dedup.PairRowsConfKey)
      assert((persisted -- before).isEmpty, s"$name refusal left checkpoints pinned")
    }
  }
}
