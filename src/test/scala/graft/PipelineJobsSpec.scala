package graft

import graft.jobs.PipelineJobs

/** End-to-end runs of the reference's two DAG shapes over the API-shaped
  * fixtures: load counts, target contents, re-run idempotency, and the
  * comments day-window join.
  */
class PipelineJobsSpec extends SparkSpecBase {
  import spark.implicits._

  test("posts job: land -> transform -> insert-ignore, idempotent re-run") {
    val target = tempDir("posts_t").toString + "/posts"
    val landing = Seq(fixture("/fixtures/posts/posts_batch.json"))
    assert(PipelineJobs.runPostsJob(spark, landing, target) == 3)
    val loaded = spark.read.parquet(target)
    assert(loaded.count() == 3)
    // transform chain applied: derived word_count present and correct
    assert(loaded.select("id", "word_count").as[(Long, Int)].collect().toMap
      == Map(1L -> 4, 2L -> 0, 3L -> 2))
    // hourly re-run with the same batch: ON CONFLICT DO NOTHING semantics
    assert(PipelineJobs.runPostsJob(spark, landing, target) == 0)
    assert(spark.read.parquet(target).count() == 3)
  }

  test("comments job: day-window posts scan drives the fan-out join") {
    val base = tempDir("comments_t").toString
    val postsTarget = base + "/posts"
    val commentsTarget = base + "/comments"
    PipelineJobs.runPostsJob(spark,
      Seq(fixture("/fixtures/posts/posts_batch.json")), postsTarget)
    val landing = Seq(
      fixture("/fixtures/comments/2022-01-02_1.json"),
      fixture("/fixtures/comments/2022-01-02_5.json"))
    // window = 2022-01-01: posts 1 and 2 in window; comment 201 (post 5) drops
    val n = PipelineJobs.runCommentsJob(spark, landing, postsTarget,
      commentsTarget, "2022-01-01 00:00:00", "2022-01-02 00:00:00")
    assert(n == 2)
    assert(spark.read.parquet(commentsTarget).select("id").as[Long]
      .collect().sorted.toSeq == Seq(101L, 102L))
    // daily re-run: nothing new
    assert(PipelineJobs.runCommentsJob(spark, landing, postsTarget,
      commentsTarget, "2022-01-01 00:00:00", "2022-01-02 00:00:00") == 0)
  }

  test("backfill: a late comment lands by re-running a historical window") {
    // The reference computes its day window from datetime.now()
    // (`comments_pipeline.py:27-33`), so a comment arriving after its post's
    // day has passed is MISSED FOREVER (SURVEY.md §2.8). Because this
    // engine's window is a query parameter, backfill = run the same job over
    // the historical window — and insert-ignore makes doing so idempotent.
    val base = tempDir("backfill_t").toString
    val postsTarget = base + "/posts"
    val commentsTarget = base + "/comments"
    PipelineJobs.runPostsJob(spark,
      Seq(fixture("/fixtures/posts/posts_batch.json")), postsTarget)
    val landing = Seq(fixture("/fixtures/comments/2022-01-02_1.json"))
    // "today's" run looks at the 2022-01-03 window: post 1 is older, so its
    // late-arriving comments load nothing — the reference's failure mode
    assert(PipelineJobs.runCommentsJob(spark, landing, postsTarget,
      commentsTarget, "2022-01-03 00:00:00", "2022-01-04 00:00:00") == 0)
    // backfill the historical window the post actually lives in
    assert(PipelineJobs.runCommentsJob(spark, landing, postsTarget,
      commentsTarget, "2022-01-01 00:00:00", "2022-01-02 00:00:00") == 2)
    // backfill re-run: no duplicates
    assert(PipelineJobs.runCommentsJob(spark, landing, postsTarget,
      commentsTarget, "2022-01-01 00:00:00", "2022-01-02 00:00:00") == 0)
    assert(spark.read.parquet(commentsTarget).count() == 2)
  }

  test("posts job refuses a missing landing batch (sensor precondition)") {
    val target = tempDir("posts_m").toString + "/posts"
    intercept[IllegalArgumentException] {
      PipelineJobs.runPostsJob(spark, Seq("/nonexistent/batch.json"), target)
    }
  }
}
