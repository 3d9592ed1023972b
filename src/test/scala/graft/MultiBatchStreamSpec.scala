package graft

import graft.streaming.EventStreamJob
import org.apache.spark.sql.functions._

/** The adversarial face of the streaming suite (r6 verdict task 2): every
  * landing is staged as [[SparkEntry.StreamSlices]] time-ordered files and
  * consumed with `maxFilesPerTrigger=1`, so the equivalences hold under REAL
  * multi-batch execution — per-batch watermark advance, state eviction, and
  * cross-batch state handoff — not the single-batch easy case.
  */
class MultiBatchStreamSpec extends SparkSpecBase {
  import spark.implicits._

  private def raw = Tables.eventsRawNanos(spark, Sf)

  test("tumbling agg settles to the batch face across K slice batches + sentinel flush") {
    val dir = tempDir("mb_tum")
    val maxTs = raw.agg(max(col("ts"))).head().getLong(0)
    def sentinel(days: Long) = spark.range(1).select(lit(-1L).as("event_id"),
      lit(maxTs + days * 86400L * 1000000000L).as("ts"), lit(0L).as("user_id"),
      lit("sentinel").as("event_type"), lit(0.0).as("value"),
      lit(null).cast("string").as("props"))
    SparkEntry.stageEventSlices(spark, Sf, dir, SparkEntry.StreamSlices,
      extraLast = Seq(sentinel(2), sentinel(3)))
    val q = EventStreamJob.runAvailableNow(
      EventStreamJob.tumblingAgg(EventStreamJob.readEventStream(
        spark, dir.toString, maxFilesPerTrigger = Some(1))),
      "mb_tum", "append")
    // the staging must actually have produced one batch per staged file —
    // this is the assertion that kills any single-batch regression
    assert(q.recentProgress.length >= SparkEntry.StreamSlices + 2,
      s"expected >= ${SparkEntry.StreamSlices + 2} batches, " +
        s"got ${q.recentProgress.length}")
    // watermark must have marched batch over batch, not jumped once
    val wms = q.recentProgress.map(_.eventTime.get("watermark")).filter(_ != null).distinct
    assert(wms.length >= 3, s"watermark never advanced per-batch: ${wms.toSeq}")
    q.stop()

    def canon(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Double)] =
      df.select(date_format(col("day_start"), "yyyy-MM-dd HH:mm:ss"),
        col("event_type"), col("n").cast("long"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSet
    val streamed = canon(
      spark.table("mb_tum").filter(col("event_type") =!= "sentinel"))
    val batch = canon(graft.operators.EventWindows.tumblingDaily(spark, Sf))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    spark.catalog.dropTempView("mb_tum")
  }

  test("cross-batch duplicates (within the watermark delay) are absorbed by state") {
    // dupWithinFile doubles every event in its own batch; overlapDupHours
    // REPLAYS the previous slice's last hour one batch later — those rows
    // can only be deduped by the operator's cross-batch key state
    val dir = tempDir("mb_dedup")
    SparkEntry.stageEventSlices(spark, Sf, dir, SparkEntry.StreamSlices,
      dupWithinFile = true, overlapDupHours = 1.0)
    val q = EventStreamJob.runAvailableNow(
      EventStreamJob.dedupStream(EventStreamJob.readEventStream(
        spark, dir.toString, maxFilesPerTrigger = Some(1)))
        .select(col("event_id")),
      "mb_dedup", "append")
    assert(q.recentProgress.length >= SparkEntry.StreamSlices)
    q.stop()
    val got = spark.table("mb_dedup").count()
    val distinctIds = raw.select("event_id").distinct().count()
    assert(got == distinctIds, s"expected $distinctIds distinct events, got $got")
    spark.catalog.dropTempView("mb_dedup")
  }

  test("AvailableNow runs one trailing no-data batch after the dedup slices") {
    // the last slice's batch advances the watermark, so Spark runs one more
    // batch, with no input, to evict state under it; without no-data
    // batches the run is exactly one batch per slice
    val dir = tempDir("mb_nodata")
    SparkEntry.stageEventSlices(spark, Sf, dir, SparkEntry.StreamSlices,
      dupWithinFile = true, overlapDupHours = 1.0)
    def batches(s: org.apache.spark.sql.SparkSession, sink: String) = {
      val q = EventStreamJob.runAvailableNow(
        EventStreamJob.dedupStream(EventStreamJob.readEventStream(
          s, dir.toString, maxFilesPerTrigger = Some(1))).select(col("event_id")),
        sink, "append")
      q.stop()
      s.catalog.dropTempView(sink)
      q.recentProgress.toSeq
    }
    val on = batches(spark, "mb_nodata_on")
    assert(on.length == SparkEntry.StreamSlices + 1, on.map(_.numInputRows))
    assert(on.last.numInputRows == 0)
    assert(on.init.forall(_.numInputRows > 0), on.map(_.numInputRows))
    val noNoData = spark.newSession()
    noNoData.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val off = batches(noNoData, "mb_nodata_off")
    assert(off.length == SparkEntry.StreamSlices, off.map(_.numInputRows))
  }

  test("sessions spanning slice boundaries continue from state; timeouts close the rest") {
    val streamed = SparkEntry.queries("q_stream_sessions")(spark, Sf)
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, String, Long, Double)] =
      df.select(col("user_id"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
        col("n_events").cast("long"), col("sum_value"))
        .as[(Long, String, String, Long, Double)].collect().toSet
    val got = canon(streamed)
    val batch = canon(graft.operators.EventWindows.sessionize(spark, Sf))
    assert(got == batch,
      "multi-batch fMGWS sessions must equal the batch session set")
    assert(got.nonEmpty)
  }

  test("late data vs the watermark, measured: agg re-opens expired windows; join admits while match state lives") {
    // pins what the watermark ACTUALLY guarantees in this Spark version —
    // measured, not assumed (each of these started as a stronger claim
    // this test refuted):
    //  - windowed AGGREGATION: the watermark bounds STATE (closed windows
    //    are evicted + emitted); input dropping is best-effort and did NOT
    //    occur here — a row for an already-evicted window re-creates it
    //    and emits a SECOND append row for that window (the documented
    //    at-least-once caveat; downstream sinks must key on the window).
    //    What it must NEVER do is rewrite the already-emitted row.
    //  - stream-stream INTERVAL JOIN: a sub-watermark row is still
    //    admitted and matches state the end-of-batch eviction has not yet
    //    collected; numRowsDroppedByWatermark stayed 0. Bounded lateness
    //    bounds STATE SIZE, not result admission.
    // The practical consequence is baked into the q_stream_* harness
    // design: equivalence to the batch faces is achieved by time-ordered
    // slices + delay-bounded replay, never by assuming late rows vanish.
    def nanos(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
    def ev(rows: Seq[(Long, String)]) =
      rows.map { case (id, s) => (id, nanos(s)) }.toDF("event_id", "ts")
        .select(col("event_id"), col("ts"),
          lit(7L).as("user_id"), lit("view").as("event_type"),
          lit(1.0).as("value"), lit(null).cast("string").as("props"))
    val dir = tempDir("mb_late")
    val base = System.currentTimeMillis()
    // batch 0: events on June 2 up to 11:30 → watermark after it = 10:30,
    // which is PAST the end of June 1's day window (00:00) — that window
    // is expired for the aggregation, whose lateness cutoff is window END
    // (an open window legitimately accepts event-time-late rows)
    SparkEntry.writeSliceFile(ev(Seq(
      (1L, "2024-06-02 10:00:00"), (2L, "2024-06-02 11:30:00"))),
      dir, "s0.parquet", base)
    // batch 1: June 1 09:00 falls in the EXPIRED window (agg re-open
    // path; dedup refuse path); June 2 12:00 is fresh and must land
    SparkEntry.writeSliceFile(ev(Seq(
      (3L, "2024-06-01 09:00:00"), (4L, "2024-06-02 12:00:00"))),
      dir, "s1.parquet", base + 2000L)
    // two trailing sentinels: the first advances the watermark past the
    // day window, the second runs the batch that emits it (APPEND flush)
    SparkEntry.writeSliceFile(
      ev(Seq((5L, "2024-06-04 00:00:00"))).withColumn("event_type", lit("sentinel")),
      dir, "s2.parquet", base + 4000L)
    SparkEntry.writeSliceFile(
      ev(Seq((6L, "2024-06-05 00:00:00"))).withColumn("event_type", lit("sentinel")),
      dir, "s3.parquet", base + 6000L)
    val q = EventStreamJob.runAvailableNow(
      EventStreamJob.tumblingAgg(EventStreamJob.readEventStream(
        spark, dir.toString, maxFilesPerTrigger = Some(1))),
      "mb_late", "append")
    // the watermark must have bound for batch 1 (this is what makes the
    // late row genuinely late, not a staging accident)
    val wmAtBatch1 = q.recentProgress.find(_.batchId == 1)
      .map(_.eventTime.get("watermark")).orNull
    assert(wmAtBatch1 == "2024-06-02T10:30:00.000Z", s"watermark: $wmAtBatch1")
    q.stop()
    val out = spark.table("mb_late").filter(col("event_type") === "view")
      .select(date_format(col("day_start"), "yyyy-MM-dd"), col("n").cast("long"))
      .as[(String, Long)].collect().toSet
    // June 2's window holds exactly its three on-time rows — the late June 1
    // row re-opened ITS OWN window as a separate append row, it never
    // rewrote or polluted the live window
    assert(out == Set(("2024-06-02", 3L), ("2024-06-01", 1L)),
      s"unexpected window set: $out")
    spark.catalog.dropTempView("mb_late")
    // join half: the late purchase (June 1 09:00, below the June-2 08:00
    // watermark bound for batch 1) still joins view 1 — admission is real,
    // and so is the state bound: after the run the join keeps only rows
    // the watermark hasn't passed.
    def pev(rows: Seq[(Long, String, String)]) =
      rows.map { case (id, s, t) => (id, nanos(s), t) }
        .toDF("event_id", "ts", "event_type")
        .select(col("event_id"), col("ts"), lit(7L).as("user_id"),
          col("event_type"), lit(1.0).as("value"),
          lit(null).cast("string").as("props"))
    val jdir = tempDir("mb_late_j")
    SparkEntry.writeSliceFile(pev(Seq(
      (1L, "2024-06-01 08:30:00", "view"),       // would match the late purchase
      (10L, "2024-06-02 10:00:00", "view"),
      (11L, "2024-06-02 10:30:00", "purchase"))), // → wm after b0 = 09:30 June 2
      jdir, "s0.parquet", base)
    SparkEntry.writeSliceFile(pev(Seq(
      (3L, "2024-06-01 09:00:00", "purchase"),   // BELOW the June-2 09:30 wm
      (12L, "2024-06-02 11:00:00", "purchase"))), // fresh, matches view 10
      jdir, "s1.parquet", base + 2000L)
    val qj = EventStreamJob.runAvailableNow(
      EventStreamJob.purchaseViewJoinStream(EventStreamJob.readEventStream(
        spark, jdir.toString, maxFilesPerTrigger = Some(1))),
      "mb_late_j", "append")
    // watermark must have bound for the join's batch 1 too
    val jwm = qj.recentProgress.find(_.batchId == 1)
      .map(_.eventTime.get("watermark")).orNull
    assert(jwm == "2024-06-02T08:00:00.000Z", s"join watermark: $jwm")
    // state is BOUNDED: end-of-run state holds only watermark-live rows,
    // not everything that ever arrived (5 distinct events, 2× source fan-out)
    val finalStateRows = qj.recentProgress.last.stateOperators.map(_.numRowsTotal).sum
    assert(finalStateRows <= 4, s"join state not evicted: $finalStateRows rows")
    qj.stop()
    val pairs = spark.table("mb_late_j")
      .select(col("purchase_id"), col("view_id"))
      .as[(Long, Long)].collect().toSet
    assert(pairs == Set((11L, 10L), (3L, 1L), (12L, 10L)),
      s"admission semantics changed: $pairs")
    spark.catalog.dropTempView("mb_late_j")
  }

  test("anomaly stream equals the batch window face; baselines span batch boundaries") {
    val dir = tempDir("mb_anom")
    SparkEntry.stageEventSlices(spark, Sf, dir, SparkEntry.StreamSlices)
    val q = EventStreamJob.runAvailableNow(
      EventStreamJob.anomalyStream(EventStreamJob.readEventStream(
        spark, dir.toString, maxFilesPerTrigger = Some(1))).toDF(),
      "mb_anom", "append")
    assert(q.recentProgress.length >= SparkEntry.StreamSlices,
      s"expected >= ${SparkEntry.StreamSlices} batches, got ${q.recentProgress.length}")
    q.stop()
    def canon(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.select(col("event_id"), col("zscore"))
        .as[(Long, Double)].collect().toMap
    val streamed = canon(spark.table("mb_anom"))
    val batch = canon(graft.operators.EventWindows.rollingAnomalies(spark, Sf))
    assert(streamed == batch,
      s"stream/batch diverged: ${streamed.size} vs ${batch.size} anomalies")
    assert(streamed.nonEmpty, "fixture produced no anomalies — test is vacuous")
    // state handoff is live: at least one flagged event's 20-event trailing
    // baseline must START in an earlier slice than the event's own
    val ev = graft.Tables.events(spark, Sf)
      .select(col("event_id"), col("user_id"), col("ts").cast("timestamp"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val byUser = ev.groupBy(_._2).map { case (u, rows) =>
      u -> rows.sortBy(r => (r._3.getTime, r._1)).map(_._1)
    }
    val sliceOf = ev.map { case (id, _, ts) => id -> ts }.toMap
    val (lo, hi) = (ev.map(_._3.getTime).min, ev.map(_._3.getTime).max)
    def slice(id: Long) = math.min(SparkEntry.StreamSlices - 1,
      ((sliceOf(id).getTime - lo) * SparkEntry.StreamSlices / (hi - lo + 1)).toInt)
    val spanning = streamed.keys.exists { id =>
      val (_, u, _) = ev.find(_._1 == id).get
      val hist = byUser(u)
      val i = hist.indexOf(id)
      i > 0 && slice(hist(math.max(0, i - 1))) < slice(id)
    }
    assert(spanning, "no anomaly's baseline crossed a batch boundary — weak fixture")
  }

  test("stream-stream join matches purchases to views held in earlier-batch state") {
    val streamed = SparkEntry.queries("q_stream_join")(spark, Sf)
    val batch = EventStreamJob.purchaseViewJoinStream(
      Tables.events(spark, Sf).withColumn("ts", col("ts").cast("timestamp")))
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("purchase_id"), col("view_id"), col("user_id"))
        .as[(Long, Long, Long)].collect().toSet
    val got = canon(streamed)
    assert(got == canon(batch))
    assert(got.nonEmpty)
  }

  test("left-outer stream join finalizes never-matched purchases as null rows") {
    val streamed = SparkEntry.queries("q_stream_left_join")(spark, Sf)
    val batch = EventStreamJob.purchaseViewLeftJoinStream(
      Tables.events(spark, Sf).withColumn("ts", col("ts").cast("timestamp")))
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, Option[Long], Long)] =
      df.select(col("purchase_id"), col("view_id"), col("user_id"))
        .as[(Long, Option[Long], Long)].collect().toSet
    val got = canon(streamed)
    assert(got == canon(batch))
    // the OUTER semantics must actually fire: the watermark-finalized
    // null-view rows are the face's whole point (and would silently vanish
    // if the sentinel staging stopped advancing the watermark far enough)
    assert(got.exists(_._2.isEmpty), "no watermark-finalized outer rows")
    assert(got.exists(_._2.nonEmpty), "no matched rows")
    // inner rows of the outer join == the inner face (consistency)
    val inner = canon(SparkEntry.queries("q_stream_join")(spark, Sf)
      .select(col("purchase_id"), col("view_id"), col("user_id")))
    assert(got.filter(_._2.nonEmpty) == inner)
  }
}
