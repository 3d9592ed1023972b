package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming faces of the batch event queries (SURVEY.md §2.8).
  *
  * The reference approximates streaming with cron micro-batches (hourly posts
  * DAG, daily comments DAG) and handles late/duplicate data only through PK
  * insert-ignore. The Spark-native equivalents:
  *  - `Trigger.AvailableNow` ≡ the cron batch model (process everything
  *    that has landed, then stop);
  *  - `withWatermark` + windowed agg ≡ the daily tumbling window with a
  *    bounded-lateness contract (the reference silently drops late comments —
  *    SURVEY.md §2.8 documents that as a gap, not a behavior to copy);
  *  - `dropDuplicatesWithinWatermark` ≡ the streaming analogue of A1
  *    insert-ignore dedup.
  *
  * At scale these run identically over a file/Kafka source; tests drive them
  * with the parquet `events` table and a memory sink.
  */
object EventStreamJob extends Serializable {

  /** Columns of the events table; `ts`'s physical type is resolved per
    * landing at read time (see [[readEventStream]]).
    */
  def eventsSchema(tsType: org.apache.spark.sql.types.DataType): StructType =
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))

  /** File-source stream over an events parquet directory or file.
    *
    * A file stream REQUIRES an explicit schema, but the physical encoding of
    * `ts` is not ours to pin: landings are staged from driver-owned testdata
    * whose encoding has changed between rounds (INT64 TIMESTAMP(NANOS) →
    * `timestamp[us]`; see [[graft.Tables.events]]). So peek the ACTUAL type
    * from one footer ([[graft.Tables.parquetSchema]], read on the driver, no
    * Spark job), declare the stream schema around it, and normalize to a
    * canonical TIMESTAMP `ts` — the same three-way dispatch as the batch
    * reader, in lockstep by construction. The peek costs one parquet footer;
    * the stream itself never re-reads it.
    *
    * `maxFilesPerTrigger = Some(1)` forces one landed file per micro-batch
    * (files are taken oldest-mtime-first), which is how the harness drives
    * REAL multi-batch execution — watermark advance, state eviction, and
    * cross-batch state handoff — instead of one batch over everything.
    */
  def readEventStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val tsType = graft.Tables.parquetSchema(spark, dir)("ts").dataType
    val reader = spark.readStream.schema(eventsSchema(tsType))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val df = reader.parquet(dir)
    tsType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other — extend readEventStream")
    }
  }

  /** Tumbling 1-day windowed aggregation with a 1-hour watermark — the
    * streaming face of EventWindows.tumblingDaily.
    */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("day_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming insert-ignore: at-most-once per event_id within the watermark
    * — the exact streaming analogue of `ON CONFLICT DO NOTHING`.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** One event for the stateful sessionizer. */
  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

  /** Open-session state: bounds in epoch micros + running aggregates. The sum
    * is kept as a scale-2 BigDecimal string to match the batch face's
    * `cast(value as decimal(18,2))` exact accumulation.
    */
  case class SessionAgg(startUs: Long, lastUs: Long, n: Long, sumCents: Long)

  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  val SessionGapUs: Long = 30L * 60 * 1000000

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * arbitrary-state face of the built-in `session_window` aggregation
    * ([[graft.operators.EventWindows.sessionize]]).
    *
    * Semantics match the batch face exactly: a session is a maximal run of
    * per-user events with gaps < 30 min, emitted as
    * [min(ts), max(ts) + gap) with count and exact decimal(18,2) sum. A
    * session is emitted when a later in-batch event proves it closed, or on
    * event-time timeout once the watermark passes its gap horizon; the final
    * still-open session per user stays in state (exactly-once, no partial
    * emissions).
    *
    * Scale shape: state is one small record per user key, partitioned by the
    * groupByKey hash shuffle; timeouts bound state size.
    */
  def sessionizeStream(events: DataFrame): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000 + (t.getNanos / 1000) % 1000
    def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    // valueOf (shortest-string repr), not the exact-binary constructor:
    // that is what Spark's Cast(double -> decimal) rounds from
    def cents(v: Double): Long =
      java.math.BigDecimal.valueOf(v).setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact()
    def close(user: Long, s: SessionAgg): SessionOut =
      SessionOut(user, toTs(s.startUs), toTs(s.lastUs + SessionGapUs), s.n,
        java.math.BigDecimal.valueOf(s.sumCents).movePointLeft(2).doubleValue())

    events
      .withWatermark("ts", "1 hour")
      .selectExpr("user_id", "ts", "value").as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAgg, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[SessionAgg]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(close(user, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val emitted = Seq.newBuilder[SessionOut]
            var cur = state.getOption
            it.toSeq.sortBy(e => (micros(e.ts), e.value)).foreach { e =>
              val us = micros(e.ts)
              cur match {
                case Some(s) if us < s.lastUs + SessionGapUs =>
                  cur = Some(SessionAgg(s.startUs, math.max(s.lastUs, us),
                    s.n + 1, s.sumCents + cents(e.value)))
                case Some(s) =>
                  emitted += close(user, s)
                  cur = Some(SessionAgg(us, us, 1, cents(e.value)))
                case None =>
                  cur = Some(SessionAgg(us, us, 1, cents(e.value)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp((s.lastUs + SessionGapUs) / 1000)
            }
            emitted.result().iterator
          }
      }
  }

  case class AnomEvent(event_id: Long, user_id: Long,
      ts: java.sql.Timestamp, value: Double)
  /** Last ≤[[graft.operators.EventWindows.AnomalyFrame]] cents per user,
    * oldest first — the trailing baseline the batch face's window frame
    * reads, carried across micro-batches as custom state. */
  case class AnomState(ring: Seq[Long])
  case class AnomOut(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      value: Double, zscore: Double)

  /** Streaming rolling z-score anomaly detection — ORDERED ring-buffer
    * state via `flatMapGroupsWithState`, the custom-state pattern
    * [[sessionizeStream]]'s gap logic doesn't need: the baseline is the
    * exact sequence of the user's previous [[graft.operators.EventWindows.AnomalyFrame]]
    * values, so state is a bounded ring per user, consumed in event order.
    *
    * Bit-parity with the batch face
    * ([[graft.operators.EventWindows.rollingAnomalies]]) by construction:
    * same cents quantization (the [[sessionizeStream]] `valueOf` contract ≡
    * `cast(value as decimal(18,2)) * 100`), same BIGINT flag algebra, same
    * fixed double chain for the score — and the same event order, because
    * the landing's slices are time-ranged (cross-batch order) and each
    * batch's group iterator is sorted on (ts, event_id) (in-batch order).
    * One oracle, two execution modes.
    *
    * Scale shape: state = ≤ frame longs per ACTIVE user; production adds
    * an event-time timeout to evict idle users (the corpus replays a fixed
    * window, so none here — NoTimeout keeps every baseline live to the
    * end, which the parity contract requires).
    */
  def anomalyStream(events: DataFrame, zThresh: Int = 3): Dataset[AnomOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val frame = graft.operators.EventWindows.AnomalyFrame
    val minN = graft.operators.EventWindows.AnomalyMinN
    def micros(t: java.sql.Timestamp): Long = t.getTime * 1000 + (t.getNanos / 1000) % 1000
    def cents(v: Double): Long =
      java.math.BigDecimal.valueOf(v).setScale(2, java.math.RoundingMode.HALF_UP)
        .movePointRight(2).longValueExact()
    events.selectExpr("event_id", "user_id", "ts", "value").as[AnomEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomState, AnomOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, state) =>
          var ring = state.getOption.map(_.ring).getOrElse(Seq.empty)
          val out = Seq.newBuilder[AnomOut]
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val c = cents(e.value)
            val n = ring.length.toLong
            if (n >= minN) {
              val s = ring.sum
              val q = ring.map(x => x * x).sum
              val dev = c * n - s
              val varn = n * q - s * s
              if (varn > 0 &&
                  (n - 1) * dev * dev > zThresh.toLong * zThresh * n * varn)
                out += AnomOut(e.event_id, e.user_id, e.ts, e.value,
                  dev.toDouble /
                    math.sqrt(varn.toDouble * n.toDouble / (n - 1).toDouble))
            }
            ring = (ring :+ c).takeRight(frame)
          }
          state.update(AnomState(ring))
          out.result().iterator
      }
  }

  /** View-side watermark slack of the stream-stream joins, overridable per
    * session (`spark.graft.stream.viewWatermark`). State ∝ slack is THE
    * stream-join sizing lever at 100 TB: the join holds every view row
    * until the view watermark passes the join bound, so a wider slack
    * (tolerating later-arriving views) buys robustness with state rows,
    * linearly.
    *
    * Output-invariance scope — measured, not assumed: for BOTH join
    * flavors, any slack ≥ the default leaves the settled output unchanged.
    * The INNER join needs nothing extra (the watermark governs eviction
    * only; every match is within the 1-hour interval bound — the A/B
    * ladder is therefore a pure state-volume measurement, `p_stateRows`
    * per slack, same settled rows). The LEFT-OUTER join additionally
    * needs its flush horizon to SCALE with the slack: a null row
    * finalizes only once the view watermark passes the purchase's join
    * window, so the harness sizes its trailing sentinels at
    * `max ts + slack + 1/2 days` ([[viewWatermarkNanos]] — r19 verdict
    * task 5; before r20 the sentinels were fixed at +1/2 days and a 240 h
    * slack settled only 1475 of 1981 rows at stream end). EventStreamSpec
    * pins both equivalences; a deployment gets the same rule: widen the
    * slack, widen the flush horizon with it. Tightening BELOW the
    * interval bound would drop late matches — a correctness knob, not a
    * sizing one, out of scope.
    */
  val ViewWatermarkConfKey = "spark.graft.stream.viewWatermark"
  val DefaultViewWatermark = "2 hours"
  private def viewWatermark(events: DataFrame): String =
    events.sparkSession.conf.getOption(ViewWatermarkConfKey)
      .getOrElse(DefaultViewWatermark)

  /** The configured view-side slack in NANOSECONDS — the harness reads it
    * to size event-time flush horizons (sentinel timestamps) WITH the
    * slack, so settled-output equivalence holds at any tested slack.
    * Accepts the `"<n> <unit>"` shapes `withWatermark` takes for the
    * units used here (seconds/minutes/hours/days); anything else fails
    * loudly rather than silently under-flushing.
    */
  def viewWatermarkNanos(s: SparkSession): Long = {
    val spec = s.conf.getOption(ViewWatermarkConfKey)
      .getOrElse(DefaultViewWatermark)
    spec.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+") match {
      case Array(n, u) if scala.util.Try(n.toLong).isSuccess =>
        val base = u.stripSuffix("s") match {
          case "second" => 1000000000L
          case "minute" => 60L * 1000000000L
          case "hour"   => 3600L * 1000000000L
          case "day"    => 86400L * 1000000000L
          case other => throw new IllegalArgumentException(
            s"unsupported $ViewWatermarkConfKey unit '$other' in '$spec'")
        }
        n.toLong * base
      case _ => throw new IllegalArgumentException(
        s"unsupported $ViewWatermarkConfKey shape '$spec' (expected '<n> <unit>')")
    }
  }

  /** Stream-stream interval join: purchases joined to the same user's views
    * from the preceding hour. Both sides carry watermarks and the join
    * condition bounds event time on both ends, so state is provably
    * evictable — the requirements Spark imposes for stream-stream inner
    * joins. The batch face is the identical join predicate on static frames
    * (asserted equal in `EventStreamSpec`).
    */
  def purchaseViewJoinStream(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
      .withWatermark("p_ts", "1 hour")
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", viewWatermark(events))
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("view_id"), col("v_ts"), col("purchase_value"))
  }

  /** Stream-stream LEFT OUTER interval join — same predicate as
    * [[purchaseViewJoinStream]], but a purchase with NO qualifying view must
    * still emit (with a null view), and only once the watermark PROVES no
    * matching view can arrive anymore: Spark holds the unmatched purchase in
    * state until the view-side watermark passes the join condition's upper
    * bound, then finalizes the null row. That makes the settled output
    * deterministic — but ONLY if the final watermark advances past every
    * real purchase, which is why the harness stages trailing sentinel
    * batches (watermark updates take effect one batch late, so TWO are
    * needed; `SparkEntry.q_stream_left_join`). The batch face is the plain
    * left join the DuckDB oracle runs.
    */
  def purchaseViewLeftJoinStream(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("value").as("purchase_value"))
      .withWatermark("p_ts", "1 hour")
    val views = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", viewWatermark(events))
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("purchase_id"), col("user_id"), col("p_ts"),
        col("view_id"), col("v_ts"), col("purchase_value"))
  }

  /** Run a streaming DataFrame to completion over the available input
    * (cron-batch semantics) into a named memory sink; returns the query.
    */
  def runAvailableNow(df: DataFrame, name: String, outputMode: String): StreamingQuery = {
    val q = startAvailableNow(df, name, outputMode)
    q.awaitTermination()
    q
  }

  /** [[runAvailableNow]] without the await — for callers that settle through
    * [[graft.BenchPhases.settle]], which must observe the query WHILE it
    * runs (incremental progress folding past the bounded buffer, r18
    * ADVICE) instead of receiving it terminated.
    */
  def startAvailableNow(df: DataFrame, name: String, outputMode: String): StreamingQuery =
    df.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
}
