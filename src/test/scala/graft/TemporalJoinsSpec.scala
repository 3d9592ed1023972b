package graft

import graft.operators.TemporalJoins
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Hand-computed expectations for the as-of join construction (union-merge)
  * and the bucketed range join.
  */
class TemporalJoinsSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asOfJoin picks the latest right row at-or-before each left ts, per key") {
    val trades = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), 5.0),  // after q2 → q2
      (2L, 10L, ts("2024-01-01 09:00:00"), 6.0),  // equal ts to q2 → q2 (<=)
      (3L, 10L, ts("2024-01-01 07:59:59"), 7.0),  // before any quote → drops
      (4L, 20L, ts("2024-01-01 12:00:00"), 8.0))  // other key → q3
      .toDF("event_id", "user_id", "ts", "purchase_value")
    val quotes = Seq(
      (100L, 10L, ts("2024-01-01 08:00:00"), 1.0),
      (101L, 10L, ts("2024-01-01 09:00:00"), 2.0),
      (102L, 20L, ts("2024-01-01 11:30:00"), 3.0),
      (103L, 10L, ts("2024-01-01 09:00:00"), 2.5)) // same (key, ts) as 101 → max id wins
      .toDF("view_event_id", "user_id", "view_ts", "view_value")

    val out = TemporalJoins.asOfJoin(trades, quotes, Seq("user_id"),
      leftTs = "ts", rightTs = "view_ts", tieBreak = "view_event_id",
      rightPayload = Seq("view_event_id", "view_value"))
      .select("event_id", "view_event_id", "view_value")
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq

    assert(out == Seq((1L, 103L, 2.5), (2L, 103L, 2.5), (4L, 102L, 3.0)))
  }

  test("range join counts events inside [ts, ts+1h) across bucket boundaries") {
    val base = "2024-01-01 "
    val events = Seq(
      // error at 10:30 for user 1; clicks at 10:45, 11:15 (in), 11:30 (out)
      (1L, ts(base + "10:30:00"), 1L, "error", 0.0, "{}"),
      (2L, ts(base + "10:45:00"), 1L, "click", 0.0, "{}"),
      (3L, ts(base + "11:15:00"), 1L, "click", 0.0, "{}"),
      (4L, ts(base + "11:30:00"), 1L, "click", 0.0, "{}"),
      // error at 23:30 for user 2, no clicks → 0
      (5L, ts(base + "23:30:00"), 2L, "error", 0.0, "{}"),
      // click by ANOTHER user inside the window → must not count
      (6L, ts(base + "10:50:00"), 3L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    // route through a parquet dir so the query's Tables.events nanos path runs
    val dir = tempDir("range_join")
    events.withColumn("ts", expr("unix_micros(ts) * 1000")) // fake nanos column
      .coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    val out = TemporalJoins.errorsFollowedByClicks(spark, dir.toString)
      .select("event_id", "n_clicks").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 5L -> 0L))
  }
}
