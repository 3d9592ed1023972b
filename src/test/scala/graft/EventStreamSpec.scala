package graft

import graft.operators.EventWindows
import graft.streaming.EventStreamJob
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

/** Executes the Structured Streaming surface (SURVEY.md §2.8) with
  * `Trigger.AvailableNow` (the reference's cron-batch model) and a memory
  * sink: the streaming tumbling aggregation must equal its batch face, and
  * `dropDuplicatesWithinWatermark` must behave as streaming insert-ignore.
  */
class EventStreamSpec extends SparkSpecBase {
  import spark.implicits._

  /** File-stream sources need a directory; stage the events parquet into one. */
  private lazy val eventsDir: String = {
    val dir = tempDir("events_stream")
    Files.copy(Paths.get(s"$Sf/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("streaming tumblingAgg (AvailableNow) equals batch tumblingDaily") {
    val stream = EventStreamJob.tumblingAgg(
      EventStreamJob.readEventStream(spark, eventsDir))
    EventStreamJob.runAvailableNow(stream, "tum_stream", "complete").stop()

    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Double)] =
      df.select(
        date_format(col("day_start"), "yyyy-MM-dd HH:mm:ss"),
        col("event_type"), col("n").cast("long"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSet

    val streamed = canon(spark.table("tum_stream"))
    val batch = canon(EventWindows.tumblingDaily(spark, Sf))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("flatMapGroupsWithState sessionization matches the batch session_window face") {
    val base = "2024-03-01 "
    // user 1: session A (3 events), session B (1 event), open sentinel session
    // user 2: two single-event sessions 45min apart, open sentinel session
    val rows = Seq(
      (1L, base + "10:00:00", 1L, 1.25),
      (2L, base + "10:10:00", 1L, 2.50),
      (3L, base + "10:20:00", 1L, 0.125),
      (4L, base + "12:00:00", 1L, 4.0),
      (5L, base + "09:00:00", 2L, 1.0),
      (6L, base + "09:45:00", 2L, 2.0),
      // sentinel events: far ahead, close every earlier session in-batch
      (7L, "2024-03-20 00:00:00", 1L, 9.0),
      (8L, "2024-03-20 00:00:00", 2L, 9.0))
      .map { case (id, t, u, v) =>
        (id, java.sql.Timestamp.valueOf(t), u, "click", v, "{}") }
    val dir = tempDir("sess_stream")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("unix_micros(ts) * 1000")) // raw nanos like the table
      .coalesce(1).write.mode("overwrite")
      .parquet(dir.toString + "/events.parquet")

    val stream = EventStreamJob.sessionizeStream(
      EventStreamJob.readEventStream(spark, dir.toString + "/events.parquet"))
    EventStreamJob.runAvailableNow(stream.toDF(), "sess_stream", "append").stop()

    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String, Long, Double)] =
      df.select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss"),
        col("n_events").cast("long"), col("sum_value"))
        .as[(Long, String, String, Long, Double)].collect().toSet

    val streamed = canon(spark.table("sess_stream"))
    // batch face over the same data, minus each user's final (open) session
    val batch = graft.operators.EventWindows.sessionize(spark, dir.toString)
    val openStarts = Set("2024-03-20 00:00:00")
    val expected = canon(batch.filter(
      !date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").isin(openStarts.toSeq: _*)))
    assert(streamed == expected)
    assert(streamed.size == 4)
  }

  test("stream-stream interval join equals the batch join on static frames") {
    val stream = EventStreamJob.purchaseViewJoinStream(
      EventStreamJob.readEventStream(spark, eventsDir))
    EventStreamJob.runAvailableNow(stream, "ssj_stream", "append").stop()

    val batchEvents = Tables.events(spark, Sf)
      .withColumn("ts", col("ts").cast("timestamp")) // match the stream's LTZ face
    val batch = EventStreamJob.purchaseViewJoinStream(batchEvents)

    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("purchase_id"), col("view_id"), col("user_id"))
        .as[(Long, Long, Long)].collect().toSet

    val streamed = canon(spark.table("ssj_stream"))
    val expected = canon(batch)
    assert(streamed.nonEmpty)
    assert(streamed == expected)
  }

  test("q_stream_join settles to the batch interval join") {
    // run under a BenchPhases scope so the face's machine-readable sizing
    // (r17 verdict task 3) can be asserted end-to-end: the volume_bound
    // marker plus p_stateRows, the peak state volume settle() extracts
    // from the stream's own progress telemetry
    graft.BenchPhases.begin("q_stream_join_spec")
    val streamed =
      try SparkEntry.queries("q_stream_join")(spark, Sf)
      finally graft.BenchPhases.end()
    val batch = EventStreamJob.purchaseViewJoinStream(
      Tables.events(spark, Sf).withColumn("ts", col("ts").cast("timestamp")))
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("purchase_id"), col("view_id"), col("user_id"))
        .as[(Long, Long, Long)].collect().toSet
    val got = canon(streamed)
    assert(got == canon(batch))
    assert(got.nonEmpty)
    val ph = graft.BenchPhases.snapshot("q_stream_join_spec").getOrElse(Map.empty)
    assert(ph.get("volume_bound").contains(1.0),
      s"volume_bound marker missing from the stamped phases: ${ph.keys}")
    assert(ph.getOrElse("p_stateRows", 0.0) > 0.0,
      s"peak state rows must be stamped for the stream-stream join: $ph")
  }

  test("view-watermark slack is a pure state knob: wider slack, same settled rows") {
    // the 100 TB stream-join sizing lever (r18 verdict task 5): state ∝
    // watermark slack, settled output invariant for any slack ≥ default.
    // Pinned here so the 100× A/B (BENCH_BUDGET) rests on a proven
    // equivalence, not on two runs happening to agree.
    def run(tag: String): (Set[(Long, Long, Long)], Double) = {
      graft.BenchPhases.begin(s"q_slack_spec_$tag")
      val rows =
        try SparkEntry.queries("q_stream_join")(spark, Sf)
          .select(col("purchase_id"), col("view_id"), col("user_id"))
          .as[(Long, Long, Long)].collect().toSet
        finally graft.BenchPhases.end()
      val peak = graft.BenchPhases.snapshot(s"q_slack_spec_$tag")
        .flatMap(_.get("p_stateRows")).getOrElse(0.0)
      (rows, peak)
    }
    val (baseRows, basePeak) = run("base")
    spark.conf.set(EventStreamJob.ViewWatermarkConfKey, "6 hours")
    try {
      val (wideRows, widePeak) = run("wide")
      assert(wideRows == baseRows,
        "settled output must be slack-invariant for slack >= default")
      assert(basePeak > 0.0 && widePeak > 0.0, s"peaks: $basePeak / $widePeak")
      assert(widePeak >= basePeak,
        s"wider slack must hold at least as much state: $widePeak < $basePeak")
    } finally spark.conf.unset(EventStreamJob.ViewWatermarkConfKey)
  }

  test("left-outer join settles 1:1 at a non-default slack (horizon scales with slack)") {
    // r19 verdict task 5: before r20 the trailing sentinels were sized for
    // the DEFAULT slack, so a 240 h override left unmatched purchases
    // un-finalized at stream end (1475/1981 at sf0.01). The horizon now
    // scales (max ts + slack + margin), so the settled output must equal
    // the batch left join — null rows included — at ANY slack ≥ default.
    def run(tag: String): Set[(Long, Long, Long)] = {
      graft.BenchPhases.begin(s"q_lslack_spec_$tag")
      // null view_id canonicalized to -1 (the tuple encoder wants longs)
      try SparkEntry.queries("q_stream_left_join")(spark, Sf)
        .select(col("purchase_id"),
          coalesce(col("view_id"), lit(-1L)).as("view_id"), col("user_id"))
        .as[(Long, Long, Long)].collect().toSet
      finally graft.BenchPhases.end()
    }
    val base = run("base")
    assert(base.exists(_._2 == -1L),
      "fixture must contain never-matched purchases (null view rows)")
    spark.conf.set(EventStreamJob.ViewWatermarkConfKey, "240 hours")
    try {
      val wide = run("wide240h")
      assert(wide == base,
        "left-outer settled output must be slack-invariant once the flush horizon scales")
    } finally spark.conf.unset(EventStreamJob.ViewWatermarkConfKey)
  }

  test("dropDuplicatesWithinWatermark is the streaming insert-ignore (A1)") {
    // duplicated event_ids across a small batch, raw nanos like the real table
    val base = 1700000000000000000L // nanos
    val rows = Seq(
      (1L, base, 10L, "click", 1.0, """{"k":1}"""),
      (1L, base + 60L * 1000000000L, 10L, "click", 1.0, """{"k":1}"""), // dup id
      (2L, base + 2L * 1000000000L, 11L, "view", 2.0, """{"k":2}"""),
      (3L, base + 3L * 1000000000L, 10L, "click", 3.0, """{"k":3}"""),
      (2L, base + 4L * 1000000000L, 11L, "view", 2.5, """{"k":4}""")) // dup id
    val dir = tempDir("dedup_stream")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)

    val deduped = EventStreamJob.dedupStream(
      EventStreamJob.readEventStream(spark, dir.toString))
    EventStreamJob.runAvailableNow(deduped, "dedup_stream", "append").stop()

    val ids = spark.table("dedup_stream").select("event_id").as[Long].collect()
    assert(ids.sorted.toSeq == Seq(1L, 2L, 3L), "exactly one row per event_id")
  }

  test("doubled landing dir settles to exact distinct (single-batch baseline)") {
    // single-batch baseline: the same file staged twice, planned as ONE
    // AvailableNow batch, must dedup exhaustively regardless of watermark
    // age. The production q_stream_dedup staging is the adversarial
    // multi-batch form — see MultiBatchStreamSpec.
    val dir = tempDir("dedup_doubled")
    for (name <- Seq("a.parquet", "b.parquet"))
      Files.createSymbolicLink(dir.resolve(name), Paths.get(s"$Sf/events.parquet"))
    val deduped = EventStreamJob.dedupStream(
      EventStreamJob.readEventStream(spark, dir.toString))
      .select(col("event_id"))
    EventStreamJob.runAvailableNow(deduped, "dedup_doubled", "append").stop()
    val got = spark.table("dedup_doubled").count()
    val distinctIds = Tables.events(spark, Sf).select("event_id").distinct().count()
    assert(got == distinctIds, s"expected $distinctIds distinct events, got $got")
  }

  test("q_stream_sessions settles to the batch session set (sentinel flush)") {
    val streamed = SparkEntry.queries("q_stream_sessions")(spark, Sf)
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String, Long, Double)] =
      df.select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        col("n_events").cast("long"), col("sum_value"))
        .as[(Long, String, String, Long, Double)].collect().toSet
    val batch = canon(EventWindows.sessionize(spark, Sf))
    val got = canon(streamed)
    assert(got == batch, "settled fMGWS output must equal the batch sessions")
    assert(got.nonEmpty)
  }

  test("q_stream_enrich settles to the batch cohort join (stream-static broadcast)") {
    val streamed = SparkEntry.queries("q_stream_enrich")(spark, Sf)
    val cohort = Tables.events(spark, Sf).groupBy(col("user_id"))
      .agg(date_trunc("DAY", min(col("ts"))).as("cohort_day"))
    val batch = Tables.events(spark, Sf)
      .join(cohort, Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("cohort_day"),
        col("event_type"), col("value"))
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String, String, Double)] =
      df.select(col("event_id"), col("user_id"),
        date_format(col("cohort_day"), "yyyy-MM-dd"), col("event_type"), col("value"))
        .as[(Long, Long, String, String, Double)].collect().toSet
    val got = canon(streamed)
    assert(got == canon(batch))
    // exactly one enriched row per source event — the join is 1:1 on the dim
    assert(got.size == Tables.events(spark, Sf).count())
  }

  test("streaming harness hygiene: repeated runs leave no new temp dirs or tables") {
    // round-4 ADVICE: the harness entries used to leak one graft_stream_*
    // temp dir per invocation and silently replace a fixed-name memory-sink
    // table. Landing dirs are now cached per (query, dataset) and sink names
    // are unique with their catalog entries dropped after the settled read.
    import scala.jdk.CollectionConverters._
    val q = SparkEntry.queries("q_stream_tumbling")
    val first = q(spark, Sf).count()
    def streamDirs: Long = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
      .iterator().asScala.count(_.getFileName.toString.startsWith("graft_stream_")).toLong
    val dirs = streamDirs
    val tables = spark.catalog.listTables().count()
    val second = q(spark, Sf).count()
    assert(second == first)
    assert(streamDirs == dirs, "no new landing dirs on rerun")
    assert(spark.catalog.listTables().count() == tables, "no new catalog tables on rerun")
  }
}
