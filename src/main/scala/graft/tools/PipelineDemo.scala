package graft.tools

import graft.Tables
import graft.jobs.PipelineJobs

/** Usage example + smoke drive of the reference-DAG jobs over the
  * API-shaped fixture batches.
  * Run: `sbt "runMain graft.tools.PipelineDemo"`.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val s = Tables.sessionBuilder("local[4]", "4").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val fixtures = "src/test/resources/fixtures"
    val out = graft.WarmState.deleteAtExit(
      java.nio.file.Files.createTempDirectory("graft_pipeline")).toString

    val n1 = PipelineJobs.runPostsJob(s,
      Seq(s"$fixtures/posts/posts_batch.json"), s"$out/posts")
    val n2 = PipelineJobs.runPostsJob(s,
      Seq(s"$fixtures/posts/posts_batch.json"), s"$out/posts") // re-run
    println(s"posts job: loaded=$n1 rerun=$n2 target=${s.read.parquet(s"$out/posts").count()}")

    val nc = PipelineJobs.runCommentsJob(s,
      Seq(s"$fixtures/comments/2022-01-02_1.json", s"$fixtures/comments/2022-01-02_5.json"),
      s"$out/posts", s"$out/comments",
      "2022-01-01 00:00:00", "2022-01-02 00:00:00")
    println(s"comments job: loaded=$nc target=${s.read.parquet(s"$out/comments").count()}")
    s.stop()
  }
}
