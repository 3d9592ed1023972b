package graft

import graft.operators.{Dedup, IterCheckpoint}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

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

  test("free refuses derived and uncheckpointed frames, releasing nothing") {
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
      assert(persisted.contains(id), s"$what: the valid frame's blocks were released")
    } finally IterCheckpoint.free(ck)
    assert(!persisted.contains(id))
  }

  test("pair-volume refusals free the checkpoints they made") {
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

  test("releaseAll drops checkpoints and cached frames") {
    val (ck, id) = checkpointed()
    val cached = spark.range(10).toDF().cache()
    assert(cached.count() == 10 && cached.storageLevel != StorageLevel.NONE)
    IterCheckpoint.releaseAll(spark)
    assert(!persisted.contains(id), "the checkpoint is still pinned")
    assert(cached.storageLevel == StorageLevel.NONE, "the cached frame is still cached")
    assert(persisted.isEmpty, s"still persisted: $persisted")
  }
}
