package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-window analytics over `events` — the batch faces of the streaming
  * surface (SURVEY.md §2.8). The same `window`/`session_window` expressions run
  * under Structured Streaming in [[graft.streaming.EventStreamJob]]; batch
  * versions here are what the DuckDB oracle can check.
  *
  * Spark's `window()` aligns tumbling windows to the epoch in the session
  * time zone (UTC here), so a 1-day window ≡ `date_trunc('day', ts)` — the
  * oracle SQL uses exactly that equivalence.
  */
object EventWindows {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Tumbling 1-day windows: count + exact decimal sum per (day, event_type). */
  def tumblingDaily(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("day_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding windows: 1-day length, 12-hour slide. Each event lands in two
    * windows; the oracle reproduces this as a UNION ALL of two bucketings.
    */
  def slidingHalfDay(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 day", "12 hours"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("n"), col("sum_value"))

  /** Session windows with a 30-minute gap, per user. Batch `session_window`
    * emits [min(ts), max(ts)+gap); the oracle recomputes sessions with the
    * classic gaps-and-islands (lag + cumulative flag sum) construction.
    */
  /** Session inactivity gap (micros): sessions close 30 minutes after their
    * last event, so every session_end ≤ max event ts + this. The
    * `session_window` gap string below DERIVES from this constant — one
    * definition, so the bucket-bounds invariant in `maxConcurrency` can't
    * silently drift from the sessionization gap. */
  val SessionGapMicros: Long = 30L * 60 * 1000000
  private val SessionGapStr: String = s"${SessionGapMicros / 60000000L} minutes"

  def sessionize(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), SessionGapStr), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Time-series gap-fill (resample-to-hourly): per-user hourly event
    * counts INCLUDING the empty hours between that user's first and last
    * event — the densification step before any rolling/forecast consumer,
    * which silently mis-computes over sparse series (a trailing mean over
    * present-rows-only is not a trailing mean over time).
    *
    * Shape: aggregate to present hours; derive each user's [first, last]
    * span (one tiny row per user); `sequence(...)` + explode materializes
    * the dense hour spine; left join re-attaches counts, absent hours
    * coalesce to 0. Scale: the spine explode is per-user and bounded by
    * span/granularity, not by event count — a pathological single-user span
    * would chunk exactly like [[Dedup.simhashExpand]]; the final join keys
    * on (user, hour), unskewed by construction.
    */
  def gapFillHourly(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
    val counts = ev.groupBy(col("user_id"), col("h")).agg(count(lit(1)).as("n_events"))
    val spine = ev.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("h"))
    spine.join(counts, Seq("user_id", "h"), "left")
      .select(col("user_id"), col("h"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
  }

  /** Trailing 1-hour rolling aggregate per event — a RANGE frame over event
    * TIME (epoch seconds), not a row count: `n_1h`/`sum_1h` cover every
    * event of the same user in (t−3599s, t], however many rows that is.
    * The sum goes through decimal(18,2) (order-free, exact) and the frame
    * key is an integer epoch — both engines agree bit-for-bit even though
    * DuckDB evaluates frames via segment trees (association order differs;
    * decimal addition doesn't care).
    *
    * Scale: partitions by user — per-partition sort is the cost; a
    * pathologically hot user is the documented salted-window case
    * ([[Analytics.saltedAgg]] pattern with frame stitching) rather than a
    * different plan here.
    */
  def rollingHour(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_sec"))
      .rangeBetween(-3599L, 0L)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        // NTZ has no direct long cast; via TIMESTAMP under the session's
        // fixed UTC zone → floor epoch seconds, matching the oracle's
        // floor(epoch(ts))
        col("ts").cast("timestamp").cast("long").as("ts_sec"),
        dec(col("value")).as("v"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", sum(col("v")).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("ts"), col("n_1h"), col("sum_1h"))
  }

  /** Peak session concurrency — the capacity-planning number: the maximum
    * count of simultaneously-open user sessions ([[sessionize]] intervals,
    * end-exclusive) at any instant. Classic sweep-line: each session emits
    * (+1 at start, −1 at end), the answer is max over the prefix sums of
    * the time-ordered deltas — with ends sorted before starts at equal
    * timestamps, so a session ending exactly when another starts never
    * counts as overlap.
    *
    * The global prefix sum does NOT use a single-partition window (the
    * [[Analytics.globalRank]] recipe): deltas group into DETERMINISTIC
    * sampled-quantile time buckets ([[RangeBuckets]] — cut points are driver-side
    * literals, so the assignment is a pure function of the row, immune to
    * exchange-reuse failures); the within-bucket running sum is a window
    * PARTITIONED BY the bucket (bucket-parallel); per-bucket delta sums
    * prefix-sum into a bucket-count-sized broadcast of offsets. local +
    * offset equals the full-order prefix sum for any monotone bucket
    * placement (addition is associative), and `max` of a row-granular
    * prefix equals the oracle's peer-grouped RANGE-frame max (maxima occur
    * only after +1 rows, where the last peer's row value equals the group
    * value). Bucket cuts come from the RAW events table — one sampled
    * pruned column scan, never a second sessionize run; session ends past
    * the last cut land in the top bucket, which monotonicity absorbs.
    */
  def maxConcurrency(s: SparkSession, d: String): DataFrame = {
    val evCuts = RangeBuckets.cuts(
      Tables.events(s, d), unix_micros(col("ts").cast("timestamp")),
      RangeBuckets.DefaultBuckets)
    maxConcurrencyOver(
      sessionize(s, d).select(col("session_start"), col("session_end")),
      Some(evCuts))
  }

  /** Core of [[maxConcurrency]] over explicit (session_start, session_end)
    * intervals (EventWindowsSpec drives it on handcrafted geometry). When
    * `cuts` (epoch-micros cut points) is not supplied, one sampled-quantile
    * pass over the interval ends derives it. Cut points need not cover the
    * endpoint domain — session ends past the last cut (the gap-widened
    * tail) simply land in the top bucket, which monotonicity absorbs. */
  private[graft] def maxConcurrencyOver(
      ses: DataFrame, cuts: Option[Array[Double]] = None): DataFrame = {
    val cs = cuts.getOrElse(RangeBuckets.cuts(ses,
      unix_micros(col("session_end").cast("timestamp")),
      RangeBuckets.DefaultBuckets))
    // both deltas explode from ONE pass over the intervals — a two-leg
    // union would re-run the whole upstream aggregation per leg.
    // r20: the delta table is also MATERIALIZED once — it feeds both the
    // running-sum window and the per-bucket offset aggregate, and the
    // upstream of the production face is the full sessionize pass
    // (scan + session-merge aggregation), which ran twice, one per
    // consumer. The checkpoint is 2 (long, long, long) rows per session.
    val pts = ses.select(explode(array(
        struct(unix_micros(col("session_start").cast("timestamp")).as("t"),
          lit(1L).as("d")),
        struct(unix_micros(col("session_end").cast("timestamp")).as("t"),
          lit(-1L).as("d")))).as("p"))
      .select(col("p.t").as("t"), col("p.d").as("d"))
      .withColumn("_bkt", RangeBuckets.bucketByCuts(col("t"), cs))
      .localCheckpoint()
    IterCheckpoint.supersede(ses.sparkSession, "maxConcurrency", pts)
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_bkt")).orderBy(col("t"), col("d"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("_bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val local = pts.withColumn("_run", sum(col("d")).over(wIn))
    val offsets = pts.groupBy(col("_bkt"))
      .agg(sum(col("d")).as("_s"))
      .withColumn("_off", coalesce(sum(col("_s")).over(wOff), lit(0L)))
      .select(col("_bkt"), col("_off"))
    // count(when), not sum(when): an empty interval set must answer
    // n_sessions = 0, and sum over zero rows is NULL (EdgeCaseSpec)
    local.join(broadcast(offsets), Seq("_bkt"))
      .agg(count(when(col("d") === 1L, 1)).as("n_sessions"),
        max(col("_run") + col("_off")).as("max_concurrent"))
  }

  /** Trailing-window frame length (events) for [[rollingAnomalies]]. */
  val AnomalyFrame = 20
  /** Minimum trailing events before an anomaly verdict is meaningful. */
  val AnomalyMinN = 10

  /** Rolling z-score anomaly detection per user — the monitoring face every
    * event pipeline grows: flag events whose value deviates > zThresh
    * sample-standard-deviations from that user's TRAILING
    * [[AnomalyFrame]]-event baseline (frame excludes the current event so a
    * spike can't mask itself; frames under [[AnomalyMinN]] events abstain).
    *
    * Cross-engine exactness is the whole design: the flag comparison runs in
    * INTEGER arithmetic only. With c = cents(value), n/S/Q = count/Σc/Σc²
    * over the frame, "|c − S/n| > z·σ" with σ² = (nQ−S²)/(n(n−1)) is
    * algebraically ⇔ (n−1)·(cn−S)² > z²·n·(nQ−S²) — exact longs in both
    * engines (max magnitude ~10¹⁵ at 20-event frames, far under 2⁶³); the
    * emitted zscore is then one fixed double chain off those same exact
    * sums, the [[timeWeightedValue]] discipline. Zero-variance frames
    * (nQ = S²) abstain: a constant baseline gives no scale to judge
    * against. Frame order is total — (ts, event_id) — so row-frame
    * contents are engine-independent.
    *
    * Scale shape: one window pass partitioned by user (the same
    * sort-per-user every per-user face pays, amortized by AQE across the
    * event family); output ∝ anomalies. Hot users are the documented
    * salted-window case ([[Analytics]] salting pattern).
    */
  def rollingAnomalies(s: SparkSession, d: String, zThresh: Int = 3): DataFrame =
    rollingAnomaliesFrame(Tables.events(s, d), zThresh)

  /** Core of [[rollingAnomalies]] over an explicit events frame
    * (EventWindowsSpec drives it on handcrafted series). */
  private[graft] def rollingAnomaliesFrame(events: DataFrame, zThresh: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(-AnomalyFrame, -1)
    events
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        (dec(col("value")) * 100).cast("long").as("c"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sc", sum(col("c")).over(w))
      .withColumn("qc", sum(col("c") * col("c")).over(w))
      .filter(col("n") >= AnomalyMinN)
      .withColumn("dev", col("c") * col("n") - col("sc"))
      .withColumn("varn", col("n") * col("qc") - col("sc") * col("sc"))
      .filter(col("varn") > 0 &&
        (col("n") - 1) * col("dev") * col("dev") >
          lit(zThresh.toLong * zThresh) * col("n") * col("varn"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        (col("dev").cast("double") /
          sqrt(col("varn").cast("double") * col("n").cast("double") /
            (col("n") - 1).cast("double"))).as("zscore"))
  }

  /** Per-user time-weighted value average: each event's value holds until
    * the user's next event; twa = Σ value·duration / Σ duration (the last
    * event per user has no holding period and drops — standard TWAP
    * convention). All accumulation is exact integers: value goes through
    * the decimal(18,2) cents contract, durations are BIGINT micros, the
    * weighted sum is BIGINT cents·micros (headroom to ~10⁵ cents × 10¹²
    * micros; past that the sum moves to decimal(38,0)), and the average is
    * one fixed double division chain — bit-equal across engines.
    */
  def timeWeightedValue(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        (dec(col("value")) * 100).cast("long").as("cents"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      .withColumn("dur_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dur_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(sum(col("cents") * col("dur_us")).as("sum_cents_us"),
        sum(col("dur_us")).as("sum_us"))
      .select(col("user_id"), col("sum_cents_us"), col("sum_us"),
        (col("sum_cents_us").cast("double") / col("sum_us").cast("double") / 100.0)
          .as("twa_value"))
  }

  /** Ordered conversion funnel signup → view → click → purchase: stage k
    * counts the users whose earliest qualifying stage-k event occurs at or
    * after their stage-(k−1) time, plus the total conversion lag (micros,
    * exact integers — BIGINT sums are associative, so the result is
    * bit-stable under any partitioning, unlike a double lag sum).
    *
    * Chained min-aggregations rather than per-user sorted event arrays: each
    * stage is a user-keyed shuffle whose input shrinks monotonically (a
    * funnel, by definition), and every join key is the same `user_id`, so at
    * scale the exchanges reuse one hash partitioning and the late stages are
    * AQE-broadcastable. A `collect_list`-per-user variant would instead
    * buffer a celebrity user's whole history in one task.
    */
  def funnel(s: SparkSession, d: String): DataFrame =
    funnelEvents(Tables.events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts").cast("timestamp")).as("us")))

  /** Core over any (user_id, event_type, us) frame — factored out so
    * `EventWindowsSpec` can pin the ordering semantics on handcrafted data.
    */
  def funnelEvents(ev: DataFrame): DataFrame = funnelChain(ev, None)

  /** Time-CONSTRAINED funnel: stage k+1 counts only users whose earliest
    * stage-(k+1) event lands within `boundUs` of their stage-k time — the
    * "converted within the hour" product question the unconstrained chain
    * cannot answer (a purchase three weeks after the click still counts
    * there). Filtering the window BEFORE the min is equivalent to
    * windowing the min (the earliest in-window event IS the earliest
    * ≥-pt event whenever one exists), so the chain shape — and its
    * scale story — is [[funnelEvents]]' unchanged.
    */
  def funnelWindowed(s: SparkSession, d: String,
      boundUs: Long = 3600000000L): DataFrame =
    funnelChain(Tables.events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts").cast("timestamp")).as("us")), Some(boundUs))

  private[graft] def funnelWindowedEvents(ev: DataFrame, boundUs: Long): DataFrame =
    funnelChain(ev, Some(boundUs))

  private def funnelChain(ev: DataFrame, boundUs: Option[Long]): DataFrame = {
    // r20: every stage frame is MATERIALIZED once — each feeds BOTH the
    // next stage's join and its own per-stage aggregate, so the lazy chain
    // re-ran stages 1..k−1 under stage k's aggregate (the events table was
    // scanned 10× for 4 stages; now 4×, one pushed-type-filter scan per
    // stage, and the stage computation is linear instead of quadratic).
    // The checkpoints are user-keyed — one row per surviving user, the
    // funnel's own shrinking decision table, safe to pin at any scale.
    val first = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("us")).as("t"))
      .withColumn("lag_us", lit(0L))
      .localCheckpoint()
    val rest = Seq("view", "click", "purchase")
    val chain = rest.scanLeft(first) { (prev, name) =>
      ev.filter(col("event_type") === name)
        .join(prev.select(col("user_id"), col("t").as("pt")), Seq("user_id"))
        .filter(col("us") >= col("pt") &&
          boundUs.map(b => col("us") <= col("pt") + lit(b)).getOrElse(lit(true)))
        .groupBy(col("user_id"))
        // pt is constant per user; min() re-attaches it through the agg
        .agg(min(col("us")).as("t"), min(col("pt")).as("pt"))
        .select(col("user_id"), col("t"), (col("t") - col("pt")).as("lag_us"))
        .localCheckpoint()
    }
    IterCheckpoint.supersede(ev.sparkSession, s"funnelChain-${boundUs.isDefined}", chain: _*)
    chain.zip("signup" +: rest).zipWithIndex.map { case ((df, name), i) =>
      df.agg(count(lit(1)).as("n_users"), sum(col("lag_us")).as("sum_lag_us"))
        .select(lit((i + 1).toLong).as("stage"), lit(name).as("event_type"),
          col("n_users"), coalesce(col("sum_lag_us"), lit(0L)).as("sum_lag_us"))
    }.reduce(_.unionAll(_))
  }

  /** Semi-structured JSON column access (`events.props` mirrors the
    * reference's stringified-JSON columns, `init_db_tables.sh:15-32`):
    * extract `$.k`, then aggregate it relationally.
    */
  def jsonExtractAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
}
