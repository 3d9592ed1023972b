package graft.tools

import graft.Tables
import graft.sources.Sinks
import org.apache.spark.sql.functions._

/** Dev-only growth-curve probe for the maintained-sketch insert-ignore
  * ([[graft.sources.Sinks.appendInsertIgnoreSketched]] vs the plain
  * [[graft.sources.Sinks.appendInsertIgnore]]): stages `nBatches` disjoint
  * key batches, streams them through a foreachBatch sink in each mode, and
  * prints PER-BATCH wall times. The claim under test is asymptotic, not a
  * single total: the plain sink re-reads the target's full key history
  * every batch, so its per-batch time grows with batch index; the sketched
  * sink's per-batch work is batch-sized + one MB-scale sketch file, so its
  * curve stays flat. (At the 100× quarantine probe the history tops out at
  * 500k keys, where the removed term is small next to fixed micro-batch
  * machinery — this probe scales the history until the term is visible.)
  *
  * Usage: runMain graft.tools.SketchProbe [nBatches] [rowsPerBatch]
  */
object SketchProbe {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(48)
    val rows = args.lift(1).map(_.toLong).getOrElse(100000L)
    val spark = Tables.sessionBuilder("local[32]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def run(mode: String): Seq[Double] = {
      val root = graft.WarmState.deleteAtExit(
        java.nio.file.Files.createTempDirectory(s"graft_skprobe_$mode"))
      val landing = root.resolve("landing").toString
      for (i <- 0 until nBatches)
        spark.range(i * rows, (i + 1) * rows)
          .select(col("id"), concat(lit("payload_"), col("id")).as("v"))
          .coalesce(1)
          .write.mode("append").parquet(landing)
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      val body: (org.apache.spark.sql.DataFrame, scala.Long) => Unit =
        (batch, _) => {
          val t0 = System.nanoTime()
          if (mode == "sketched")
            Sinks.appendInsertIgnoreSketched(batch, root.resolve("t").toString,
              "id", capacityHint = nBatches * rows * 2)
          else
            Sinks.appendInsertIgnore(batch, root.resolve("t").toString, "id")
          times += (System.nanoTime() - t0) / 1e9
          ()
        }
      val q = spark.readStream.schema("id LONG, v STRING")
        .option("maxFilesPerTrigger", "1").parquet(landing)
        .writeStream
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .foreachBatch(body)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      times.toSeq
    }

    val plain = run("plain")
    val sketched = run("sketched")
    def fmt(xs: Seq[Double]) = xs.map(t => f"$t%.2f").mkString(",")
    println(s"""{"n_batches":$nBatches,"rows_per_batch":$rows,""" +
      s""""plain_total":${plain.sum.round},"sketched_total":${sketched.sum.round},""" +
      s""""plain_per_batch":[${fmt(plain)}],"sketched_per_batch":[${fmt(sketched)}]}""")
    spark.stop()
  }
}
