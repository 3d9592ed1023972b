package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The relational analytics surface (north-star extension of SURVEY.md §2.4–2.7):
  * star-schema joins, grouped aggregations, window functions, rollup/cube, set
  * operations over the driver's TPC-H-ish tables.
  *
  * Determinism-for-oracle notes (the driver hash-compares against DuckDB):
  *  - money sums go through `decimal(18,2)` so addition is exact and
  *    associative — double sums would drift between engines;
  *  - every top-k has a unique-key tiebreak in its ORDER BY;
  *  - averages are emitted as `decimal-sum / count` in double — a single IEEE
  *    division of identical inputs is bit-identical across engines.
  *
  * Scale notes: dimension sides of joins (region/nation/supplier/customer
  * vs lineitem) ride SIZE-GATED broadcast hints ([[DimBroadcast]] — hint
  * below a 128 MiB stats estimate, shuffle join above it), so the plans
  * that are broadcast at every tested replica degrade gracefully instead
  * of OOMing at SF 10k+; the big fact-fact join (lineitem⋈orders) is left
  * to shuffle hash/sort-merge + AQE. Explicit `broadcast()` remains only on
  * frames whose row bound is STRUCTURAL, not statistical: grouped
  * aggregates keyed by a bounded domain (event_type ~8 values, the 32-row
  * bucket-offset/prefix frames of the global-rank faces, the ≤60-day WAU
  * spine) — sizes no estimator sees but the group key proves.
  */
object Analytics {

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** TPC-H Q1-style pricing summary: scan-heavy grouped aggregation with
    * map-side partial aggregation (HashAggregate partial→final).
    */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style shipping priority: fact⋈fact⋈dim join + top-k. */
  def shippingPriority(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(DimBroadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5-style local supplier volume: 6-way star join, dims broadcast. */
  def localSupplierVolume(s: SparkSession, d: String): DataFrame = {
    val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, d)
    val cust = Tables.customer(s, d)
    val supp = Tables.supplier(s, d)
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, d)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(DimBroadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(DimBroadcast(supp),
        li("l_suppkey") === supp("s_suppkey") &&
          cust("c_nationkey") === supp("s_nationkey"))
      .join(DimBroadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
      .join(DimBroadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).cast("double").as("revenue"))
  }

  /** Top-k customers by total order value (orderBy+limit → TakeOrderedAndProject). */
  def topCustomers(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).cast("double").as("total_spend"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("total_spend").desc, col("o_custkey").asc)
      .limit(20)

  // ---- window functions over events ----

  private def byUserTime = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))

  /** Ranking windows: row_number per user by time; rank per event_type by value. */
  def windowRank(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("rn", row_number().over(byUserTime))
      .withColumn("value_rank",
        rank().over(Window.partitionBy("event_type").orderBy(col("value").desc)))
      .select("event_id", "user_id", "event_type", "rn", "value_rank")

  /** Analytic windows: lag/lead + inter-event gap per user. The gap goes
    * through epoch micros as a LONG (TIMESTAMP_NTZ has no direct double cast
    * in Spark 4) — integer subtraction then one double division, matching the
    * oracle's `epoch_us(ts) - lag(epoch_us(ts))` bit-for-bit. Under the UTC
    * session the NTZ→timestamp cast is a pure wall-clock reinterpretation.
    */
  def windowLag(s: SparkSession, d: String): DataFrame = {
    val micros = unix_micros(col("ts").cast("timestamp"))
    Tables.events(s, d)
      .withColumn("prev_value", lag(col("value"), 1).over(byUserTime))
      .withColumn("next_type", lead(col("event_type"), 1).over(byUserTime))
      .withColumn("gap_seconds",
        (micros - lag(micros, 1).over(byUserTime)).cast("double") / 1e6)
      .select("event_id", "user_id", "value", "prev_value", "next_type", "gap_seconds")
  }

  /** Frame-spec window: running decimal sum + trailing 5-row average per user. */
  def windowFrame(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("running_value",
        sum(dec(col("value"))).over(byUserTime.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
      .withColumn("trailing5_n",
        count(lit(1)).over(byUserTime.rowsBetween(-4, 0)))
      .select("event_id", "user_id", "running_value", "trailing5_n")

  /** Exact distinct users per event type (expand-based distinct agg). */
  def distinctUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  /** Approximate distinct (HLL++ sketch) — the 100 TB path where exact
    * distinct would shuffle every key. Sketch internals are engine-specific,
    * so the raw estimate can never hash-match a DuckDB oracle; the PRODUCT
    * path is this sketch-only aggregate.
    */
  def approxDistinctUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))

  /** The VERIFIABLE face of [[approxDistinctUsers]]: compute the sketch AND
    * the exact distinct in one aggregation, gate the sketch in-plan —
    * `assert_true` fails the whole query if the estimate strays beyond
    * 3·rsd of truth — and emit the exact count (plus the literally-true
    * bound flag) for the driver's hash check. The sketch is thereby
    * error-bound-checked on every run even though its value is
    * engine-private (round-5 verdict task 3; flips the one `no_oracle` row
    * a user could run unchecked).
    */
  def approxDistinctUsersChecked(s: SparkSession, d: String,
      rsd: Double = 0.01, boundFactor: Double = 3.0): DataFrame = {
    val bound = boundFactor * rsd
    val relErr = abs(col("approx_users") - col("n_users")).cast("double") /
      col("n_users").cast("double")
    // all-NULL groups have n_users = 0 → relErr = 0/0 = NaN, and NaN <= b is
    // false — without the guard a legitimate empty group would hard-fail the
    // assert instead of passing like the oracle's literal TRUE (r6 ADVICE)
    val inBound = when(col("n_users") === 0, col("approx_users") === 0)
      .otherwise(relErr <= lit(bound))
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("approx_users"),
        countDistinct(col("user_id")).as("n_users"))
      .filter(assert_true(inBound,
        concat(lit(s"HLL++ estimate beyond $boundFactor*rsd=$bound for event_type "),
          col("event_type"))).isNull)
      .select(col("event_type"), col("n_users"), inBound.as("within_bound"))
  }

  /** The VERIFIABLE face of `approx_percentile` — the [[approxDistinctUsersChecked]]
    * pattern applied to quantile sketches: compute the sketch p50/p95 per
    * event type AND gate each estimate's RANK error in-plan. The sketch
    * (QuantileSummaries, relative rank error ≤ 1/accuracy) returns some
    * element v; the gate verifies `#(< v)/n ≤ q + ε` and `#(≤ v)/n ≥ q − ε`
    * — the tie-safe two-sided form of "v's rank is within ε·n of q·n".
    * The driver hashes the EXACT interpolated percentiles (≡ DuckDB
    * `quantile_cont`, the q_percentiles parity) plus the literally-true
    * bound flag; the sketch itself stays engine-private but can never pass
    * unchecked. Scale shape: the sketch agg is the 100 TB product path
    * (mergeable partials, no sort); the exact percentile and the rank-count
    * pass exist to verify it, via one broadcast of the groups-sized agg.
    */
  def approxPercentilesChecked(s: SparkSession, d: String,
      accuracy: Int = 1000): DataFrame = {
    val eps = 1.0 / accuracy
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val agg = ev.groupBy(col("event_type")).agg(
      expr(s"approx_percentile(value, array(0.5D, 0.95D), $accuracy)").as("ap"),
      expr("percentile(value, array(0.5D, 0.95D))").as("ex"),
      count(lit(1)).as("n"))
    val ranks = ev.join(broadcast(agg), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("value") < col("ap")(0), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("value") <= col("ap")(0), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") < col("ap")(1), 1L).otherwise(0L)).as("lt95"),
        sum(when(col("value") <= col("ap")(1), 1L).otherwise(0L)).as("le95"),
        first(col("ex")).as("ex"), first(col("n")).as("n"))
    // the sketch guarantee is on INTEGER ranks (|rank(v) − ⌈q·n⌉| ≤ ε·n);
    // the fraction form adds a ±1/n discretization term — without it the
    // gate fails on exact-boundary groups (measured: le95/n = 0.94899 vs
    // a 0.94900 cutoff at n = 1982)
    def ok(lt: String, le: String, q: Double) = {
      val slack = lit(eps) + lit(1.0) / col("n").cast("double")
      (col(lt).cast("double") / col("n").cast("double") <= lit(q) + slack) &&
        (col(le).cast("double") / col("n").cast("double") >= lit(q) - slack)
    }
    val inBound = ok("lt50", "le50", 0.5) && ok("lt95", "le95", 0.95)
    ranks.filter(assert_true(inBound,
      concat(lit(s"approx_percentile rank error beyond 1/$accuracy for "),
        col("event_type"))).isNull)
      .select(col("event_type"), col("ex")(0).as("p50"), col("ex")(1).as("p95"),
        inBound.as("within_bound"))
  }

  /** Skew-safe salted JOIN — the join-side counterpart of [[saltedSum]]:
    * when one join key is hot (a celebrity user, a default value), the
    * plain shuffle join funnels that key's every row through ONE reducer.
    * Salting splits the hot key across `nSalt` reducers: each fact row gets
    * a DETERMINISTIC salt (hash of `factSaltCols` — not `rand()`, which
    * would break retries and hash-stable oracles), the dim side replicates
    * `nSalt`-fold, and the join runs on (key, salt). Each (fact, dim) row
    * pair meets EXACTLY once — at the fact row's single salt — so the
    * result is row-identical to the plain join at any salt count.
    *
    * Cost model: dim side pays nSalt× replication through the shuffle —
    * worth it when the fact's hot-key volume dwarfs nSalt·|dim|; AQE's
    * skew-join handles moderate skew automatically, explicit salting is for
    * the pathological key AQE cannot split (single-key partitions).
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, nSalt: Int,
      factSaltCols: Seq[String]): DataFrame = {
    val salted = fact.withColumn("_salt",
      pmod(xxhash64(factSaltCols.map(col): _*), lit(nSalt)).cast("int"))
    // sequence(int, int) yields array<int>, matching the fact side's cast;
    // a generator cannot nest inside a cast expression
    val replicated = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(nSalt - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Driver face of [[saltedJoin]]: lineitem ⋈ orders salted 8 ways, then a
    * revenue rollup per order status. The decimal sums are associative, so
    * any row duplication or loss a salting bug introduced would shift the
    * hash — the aggregate IS the row-identity check.
    */
  def saltedJoinRevenue(s: SparkSession, d: String, nSalt: Int = 8): DataFrame = {
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o_orderkey"), col("l_extendedprice"),
        col("l_linenumber"))
    val dim = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
    saltedJoin(fact, dim, "o_orderkey", nSalt,
      Seq("o_orderkey", "l_linenumber"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
  }

  /** ROLLUP over lineitem flags (partial aggregates reused across levels). */
  def rollupLineitem(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"), count(lit(1)).as("n"))

  /** CUBE over lineitem flags. */
  def cubeLineitem(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"), count(lit(1)).as("n"))

  /** Explicit GROUPING SETS — the general form rollup/cube specialize;
    * here: by flag, by status, and the grand total (one shared scan,
    * Expand-based like rollup/cube).
    */
  def groupingSetsLineitem(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"), count(lit(1)).as("n"))

  /** Distribution windows: percent_rank / cume_dist / ntile over event
    * values per type — the remaining window-function family next to
    * ranking (windowRank), analytic (windowLag) and frames (windowFrame).
    */
  def windowDistribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    Tables.events(s, d).select(
      col("event_id"), col("event_type"), col("value"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"),
      ntile(10).over(w).as("decile"))
  }

  /** PIVOT: returnflag rows × linestatus columns of exact quantity sums.
    * The pivot values are declared, so Catalyst plans ONE aggregation pass
    * (no per-column scans).
    */
  def pivotLineitem(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(dec(col("l_quantity"))).cast("double"))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")

  /** The inverse of [[pivotLineitem]]: melt the wide (qty_f, qty_o) columns
    * back to (status, qty) rows via `unpivot` — the wide→long reshape every
    * feature table eventually needs. Spark's `Dataset.unpivot` RETAINS null
    * value cells (verified empirically on 4.1.2), while SQL UNPIVOT — and
    * the DuckDB oracle — excludes them by default, so the explicit
    * null-drop filter is load-bearing: without it any dataset with an
    * absent flag×status combination (real TPC-H has several) silently
    * diverges from the oracle (round-5 ADVICE). Pure per-row reshape: no
    * shuffle beyond the pivot's own aggregation at any scale.
    */
  def unpivotLineitem(s: SparkSession, d: String): DataFrame =
    pivotLineitem(s, d).unpivot(
      Array(col("l_returnflag")),
      Array(col("qty_f"), col("qty_o")),
      "status", "qty")
      .filter(col("qty").isNotNull)

  /** Exact interpolated percentiles per event type (median + p95). Exact
    * (sort-based) so an independent engine reproduces the same doubles;
    * the approximate sketch path for 100 TB is `approx_percentile`, which
    * is engine-private like HLL++ (see [[approxDistinctUsers]]).
    */
  def valuePercentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        count(lit(1)).as("n"))

  /** Equi-width value histogram per event type: `bins` buckets spanning
    * [min, max], bin = floor((v − min)/(max − min)·bins) clamped to the last
    * bucket (v = max lands in bin bins−1, the usual right-closed top edge).
    *
    * Two passes: a per-group extent aggregate (groups-sized, broadcast back)
    * then one partial-agg'd count keyed (group, bin) — the distributed
    * histogram shape at any scale; no sort, no window. The bin expression is
    * the same IEEE op chain in the oracle, so bin edges agree bit-for-bit
    * even where a value sits exactly on one. Degenerate groups (min = max)
    * pin to bin 0 explicitly — NaN propagation through floor differs
    * between engines, so the guard is load-bearing for parity.
    */
  def valueHistogram(s: SparkSession, d: String, bins: Int = 10): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val ext = ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    ev.join(broadcast(ext), Seq("event_type"))
      .select(col("event_type"),
        when(col("vmax") === col("vmin"), lit(0L))
          .otherwise(least(
            floor((col("value") - col("vmin")) / (col("vmax") - col("vmin")) * bins)
              .cast("long"),
            lit(bins - 1L))).as("bin"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Daily active users + trailing-7-day actives (DAU/WAU) per day — the
    * sliding-window DISTINCT aggregate, which no SQL window frame expresses
    * (frames aggregate values, not distinct sets).
    *
    * Shape: events collapse to distinct (day, user) rows first (the only
    * corpus-sized shuffle, well-spread key); the day spine is tiny and
    * broadcast into a 7-day range join, so each user-day row fans out ≤7×;
    * the WAU distinct then re-keys on (day, user) — never "all users of a
    * day through one reducer". That two-stage distinct IS the scale story:
    * a direct `countDistinct` over the joined frame would hash every user
    * of a day into one group.
    */
  def activeUsers(s: SparkSession, d: String): DataFrame = {
    // r20: the distinct (day, user) table is MATERIALIZED once — it fed
    // the DAU aggregate, the day spine and the WAU range join, so the
    // events scan + distinct shuffle ran three times. The checkpoint IS
    // the canonical daily-active table a deployment stores.
    val ud = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
      .localCheckpoint()
    IterCheckpoint.supersede(s, "activeUsers", ud)
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("n_dau"))
    val spine = ud.select(col("day")).distinct()
    val wau = broadcast(spine.select(col("day").as("d0")))
      .join(ud, col("day") <= col("d0") &&
        col("day") >= col("d0") - expr("INTERVAL 6 DAYS"))
      .select(col("d0"), col("user_id")).distinct()
      .groupBy(col("d0")).agg(count(lit(1)).as("n_wau"))
      .withColumnRenamed("d0", "day")
    dau.join(wau, Seq("day"))
  }

  /** First-order Markov transition table of event types: per user, each
    * consecutive (event, next-event) pair counts one transition; `p` is the
    * row-normalized transition probability. The per-user `lead` window is
    * the only corpus shuffle (user-partitioned); the transition key space is
    * |types|² — tiny at any scale. `p` is one BIGINT-over-BIGINT division,
    * bit-equal across engines.
    */
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = byUserTime
    val trans = Tables.events(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .select(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    trans.withColumn("p", col("n").cast("double") /
      sum(col("n")).over(Window.partitionBy(col("from_type"))).cast("double"))
  }

  /** Retention cohort triangle: users bucketed by first-activity day, then
    * for each (cohort day, day offset) the number of cohort members active
    * that many days later — the table every retention curve is read from.
    *
    * The distinct (day, user) collapse makes each user count once per
    * (cohort, offset) with no DISTINCT in the final aggregate; the cohort
    * join is user-keyed (co-partitioned with the collapse shuffle), and the
    * final aggregate's key space is days² at worst — tiny at any corpus
    * size. All-integer outputs.
    */
  def retentionCohorts(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    val cohort = ud.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ud.join(cohort, Seq("user_id"))
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Skew-safe two-stage aggregation: partial sums over (key, salt) — spread
    * across `salts` reducers per key — then a final reduce per key. Same
    * result as a direct groupBy for any associative aggregate; the shape to
    * reach for when one hot key would otherwise pin a single reducer at
    * 100 TB. (Spark's map-side partial aggregation already handles moderate
    * skew; explicit salting is the escape hatch when a key's post-combine
    * volume still exceeds one task.)
    */
  def saltedSum(df: DataFrame, keyCol: String, valueCol: String,
      salts: Int = 32): DataFrame = {
    // The salt must be DETERMINISTIC per row: spark_partition_id /
    // monotonically_increasing_id change across task retries, so a
    // shuffle-fetch failure would re-salt recomputed rows into different
    // reducers and double-count or drop partial sums — precisely at the
    // cluster scale this helper exists for. Hashing the whole row is stable
    // under retries. Limitation: byte-identical duplicate rows share a salt;
    // if the hot key is millions of IDENTICAL rows, include a stable row key
    // (e.g. a source line number) in the hash instead.
    val rowHash = hash(df.columns.map(col).toIndexedSeq: _*)
    val partial = df
      .withColumn("__salt", pmod(rowHash, lit(salts)))
      .groupBy(col(keyCol), col("__salt"))
      .agg(sum(col(valueCol)).as("__psum"), count(lit(1)).as("__pn"))
    partial.groupBy(col(keyCol))
      .agg(sum(col("__psum")).as(s"sum_$valueCol"), sum(col("__pn")).as("n"))
  }

  /** Incremental aggregate maintenance: the merged state of a BASE aggregate
    * and a DELTA batch's aggregate must equal the full recompute — the
    * materialized-view-refresh pattern that turns an O(history) nightly job
    * into an O(delta) one at 100 TB. Works for any commutative-monoid
    * aggregate; here sum(decimal)+count merge by addition. The oracle IS the
    * full recompute over the union, which is exactly the claim.
    */
  def incrementalAgg(s: SparkSession, d: String): DataFrame = {
    def agg(df: DataFrame) = df.groupBy(col("l_returnflag"))
      .agg(sum(dec(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("n"))
    val li = Tables.lineitem(s, d)
    val base = agg(li.filter(col("l_orderkey") % 2 === 1))
    val delta = agg(li.filter(col("l_orderkey") % 2 === 0))
    base.unionAll(delta)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("sum_qty")).cast("double").as("sum_qty"), sum(col("n")).as("n"))
  }

  /** Incremental maintenance of a JOIN view — the bilinear delta rule
    * `(R+ΔR) ⋈ (S+ΔS) = R⋈S + ΔR⋈(S+ΔS) + R⋈ΔS` applied to the per-nation
    * orders⋈customer rollup: the standing aggregate is merged with two
    * DELTA-SIZED join terms instead of re-joining history. This is the law
    * every materialized-view engine (dbt incremental, Materialize,
    * Spark's own streaming stateful join) rests on; [[incrementalAgg]]
    * shows the single-table monoid half, this face adds the join half.
    * Each delta term keys one side to the delta, so at 100 TB the nightly
    * refresh touches ΔR⋈S + R⋈ΔS — delta-proportional work — and the
    * delta joins still broadcast their dimension side. The oracle IS the
    * full recompute over the complete tables: exactly the equivalence the
    * rule claims.
    */
  def incrementalJoinAgg(s: SparkSession, d: String): DataFrame = {
    // r21: the three bilinear terms used to be three separate joins —
    // orders scanned 3x (oBase twice), customer 3x (cBase, c, cDelta),
    // three broadcasts of the dimension. The base/delta membership of a
    // JOINED row is a pure function of that row's two keys, and the three
    // terms partition the joined space (standing: base⋈base, ΔR: delta
    // orders × any customer, ΔS: base orders × delta customers), so ONE
    // join pass computes each term as a conditional aggregate — the
    // q_ref_integrity discipline (guide §2.4: operations keyed the same
    // way share one pass). Each table is scanned once, the dimension
    // broadcast once. Exact-decimal term sums, identical final rollup:
    // the old unionAll-of-aggs summed the same exact decimals.
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("_ob", col("o_orderkey") % 10 =!= 0)
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      .withColumn("_cb", col("c_custkey") % 10 =!= 0)
    def term(cond: org.apache.spark.sql.Column) = (
      sum(when(cond, dec(col("o_totalprice")))),
      sum(when(cond, 1L)))
    val (spStanding, nStanding) = term(col("_ob") && col("_cb"))
    val (spDOrders, nDOrders) = term(!col("_ob"))
    val (spDCusts, nDCusts) = term(col("_ob") && !col("_cb"))
    o.join(DimBroadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(spStanding.as("sp_standing"), spDOrders.as("sp_dorders"),
        spDCusts.as("sp_dcusts"), nStanding.as("n_standing"),
        nDOrders.as("n_dorders"), nDCusts.as("n_dcusts"))
      .select(col("c_nationkey"),
        (coalesce(col("sp_standing"), dec(lit(0))) +
          coalesce(col("sp_dorders"), dec(lit(0))) +
          coalesce(col("sp_dcusts"), dec(lit(0))))
          .cast("double").as("sum_totalprice"),
        (coalesce(col("n_standing"), lit(0L)) +
          coalesce(col("n_dorders"), lit(0L)) +
          coalesce(col("n_dcusts"), lit(0L))).as("n_orders"))
  }

  /** Sampling-based approximate query processing (AQP) — the third
    * bounded-error tier next to the sketches (HLL distinct, KLL quantiles,
    * CMS frequency): grouped aggregates estimated from a deterministic
    * 1/`sampleDenom` hash sample, Horvitz-Thompson scaled by the integer
    * denominator (decimal × int — no float arithmetic until the single
    * error-ratio division), and GATED in-plan against the exact recompute
    * (`assert_true`, the [[approxDistinctUsersChecked]] pattern). The
    * sample membership is an md5 draw on the row key (seed 13 — disjoint
    * from the split/sample/temperature streams), so it is identical in the
    * DuckDB oracle and stable under corpus growth.
    *
    * At 100 TB the exact leg disappears and the estimate stands alone
    * (that is the point of AQP — a 1% scan answers the dashboard); the
    * checked face exists to MEASURE that the estimator is wired right,
    * exactly as the sketch stores do.
    */
  def approxAggChecked(s: SparkSession, d: String, sampleDenom: Int = 20,
      bound: Double = 0.5): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_orderkey"), col("l_linenumber"))
    val u = Dedup.md5Hash60(
      concat(col("l_orderkey").cast("string"), lit("~"),
        col("l_linenumber").cast("string")), lit(13)).cast("double") /
      lit(1152921504606846976.0) // 2^60
    val est = li.filter(u < lit(1.0) / sampleDenom)
      .groupBy(col("l_returnflag"))
      .agg((sum(dec(col("l_quantity"))) * sampleDenom).cast("double")
          .as("est_sum_qty"),
        (count(lit(1)) * sampleDenom).as("est_n"))
    val exact = li.groupBy(col("l_returnflag"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
    val relErr = abs(col("est_sum_qty") - col("sum_qty")) / col("sum_qty")
    exact.join(est, Seq("l_returnflag"))
      .filter(assert_true(relErr <= bound,
        concat(lit(s"AQP estimate beyond $bound for "), col("l_returnflag"))).isNull)
      .select(col("l_returnflag"), col("sum_qty"), col("n"),
        col("est_sum_qty"), col("est_n"), (relErr <= bound).as("within_bound"))
  }

  /** Key-skew diagnostic over a fact table's join key: per-key counts
    * summarized to the numbers an engineer sizes shuffles with — key count,
    * heaviest key, exact count quantiles, and the share of rows owned by the
    * heaviest key (one BIGINT division, bit-exact). The per-key count is one
    * partial-agg'd shuffle; the summary aggregates a keys-sized table. This
    * is the probe you run BEFORE choosing salting/AQE-skew settings.
    */
  def skewReport(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
    counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_n"),
        expr("percentile(n, 0.5)").as("p50_n"),
        expr("percentile(n, 0.99)").as("p99_n"))
      .select(col("n_keys"), col("n_rows"), col("max_n"), col("p50_n"), col("p99_n"),
        (col("max_n").cast("double") / col("n_rows").cast("double"))
          .as("max_key_share"))
  }

  /** Deterministic mode / arg-max-per-group: the most active user per event
    * type with an explicit (count DESC, user_id) tie-break — built-in
    * `mode()` breaks ties arbitrarily and could never sit under a hash
    * oracle. Counts partial-aggregate on (type, user); the ranking window
    * partitions on the tiny type key over an already-aggregated table.
    */
  def modeUserPerType(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n").desc, col("user_id"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("user_id").as("mode_user"), col("n"))
  }

  /** Deterministic grouped string aggregation (LISTAGG/string_agg face):
    * the distinct statuses per return flag joined in sorted order — the
    * set-collapse is what makes a string aggregate order-stable under any
    * partitioning (a raw collect_list concatenation would be
    * shuffle-order-dependent and could never hash-match an oracle).
    */
  def groupConcat(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        array_join(array_sort(collect_set(col("l_linestatus"))), ",")
          .as("statuses"),
        countDistinct(col("l_linestatus")).as("n_statuses"))

  /** Full-outer join face (completing the §2.4 join-type coverage next to
    * inner / left / anti / semi elsewhere): per-nation customer and supplier
    * counts with absent sides coalesced to 0 — nations present on either
    * side appear exactly once. Both inputs pre-aggregate to nation-sized
    * tables before the join, so the full-outer itself never touches
    * corpus-sized rows.
    */
  def nationPresence(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val p = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(p, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
  }

  // ---- set operations (SURVEY.md §2.7, north-star) ----

  def nationsUnion(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey")).distinct()
      .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")).distinct())
      .distinct()

  def nationsIntersect(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))

  def nationsExcept(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      .except(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))

  // ---- correlated subqueries (the E3 ad-hoc-SQL surface; SURVEY §3 E3) ----

  /** Register this dataset's tables as session temp views so ad-hoc SQL —
    * the reference's Adminer path (README.MD:50-59) — runs against the same
    * dispatch-corrected readers every DataFrame face uses. Names are
    * prefixed to keep the session catalog collision-free.
    */
  private def sqlViews(s: SparkSession, d: String): Unit = {
    Tables.orders(s, d).createOrReplaceTempView("g_orders")
    Tables.lineitem(s, d).createOrReplaceTempView("g_lineitem")
    Tables.part(s, d).createOrReplaceTempView("g_part")
    Tables.customer(s, d).createOrReplaceTempView("g_customer")
    Tables.supplier(s, d).createOrReplaceTempView("g_supplier")
  }

  /** TPC-H Q4-class EXISTS semi-join, as a user would type it at the ad-hoc
    * SQL surface: orders in a date window having at least one returned line
    * item. Catalyst's RewritePredicateSubquery decorrelates the EXISTS into
    * a LEFT SEMI join (PlanQualitySpec asserts no per-row subquery node
    * survives in the physical plan) — the shape that scales: one shuffle on
    * the join key instead of a subquery execution per outer row.
    */
  def existsReturnedOrders(s: SparkSession, d: String): DataFrame = {
    sqlViews(s, d)
    s.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM g_orders
        |WHERE o_orderdate >= TIMESTAMP_NTZ '1995-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP_NTZ '1995-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM g_lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin)
  }

  /** TPC-H Q17-class correlated SCALAR subquery: line items priced below
    * 20% of their part's average quantity, rolled up per brand. Catalyst's
    * RewriteCorrelatedScalarSubquery pulls the per-part aggregate out into
    * one grouped aggregation joined back on the correlation key — O(parts)
    * aggregate + one join, not an aggregate per outer row.
    *
    * Oracle parity: l_quantity is integral (1..50), so the double avg is an
    * exact-integer sum / count — bit-identical across engines with no
    * decimal detour; the revenue output goes through decimal as everywhere.
    */
  def correlatedAvgQuantity(s: SparkSession, d: String): DataFrame = {
    sqlViews(s, d)
    s.sql(
      """SELECT p_brand,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly,
        |  count(*) AS n_items
        |FROM g_lineitem JOIN g_part ON p_partkey = l_partkey
        |WHERE p_partkey % 7 = 0
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM g_lineitem
        |                    WHERE l_partkey = p_partkey)
        |GROUP BY p_brand""".stripMargin)
  }

  /** NOT EXISTS anti-join at the ad-hoc SQL surface (TPC-H q22 class):
    * customers with NO order in a one-year window, rolled up per market
    * segment. Catalyst's RewritePredicateSubquery turns the correlated NOT
    * EXISTS into a LEFT ANTI hash join on o_custkey (PlanQualitySpec asserts
    * no subquery node survives) — one shuffle on the key, never a probe per
    * customer row. At 100 TB this is the shape to recommend over NOT IN
    * (see [[notInNullSemantics]] for why).
    */
  def notExistsQuietCustomers(s: SparkSession, d: String): DataFrame = {
    sqlViews(s, d)
    s.sql(
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM g_customer
        |WHERE NOT EXISTS (SELECT 1 FROM g_orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP_NTZ '1995-01-01 00:00:00'
        |                    AND o_orderdate <  TIMESTAMP_NTZ '1996-01-01 00:00:00')
        |GROUP BY c_mktsegment""".stripMargin)
  }

  /** IN over an aggregated subquery (the fourth face of the subquery
    * family, next to EXISTS / NOT EXISTS / NOT IN): customers with ≥ 3
    * orders, per market segment. Catalyst rewrites the IN to a LEFT SEMI
    * join against the grouped subquery — the HAVING aggregate runs ONCE
    * over orders, then one key shuffle; never a membership probe per row.
    */
  /** TPC-H Q2-class correlated MIN lookup: for each (filtered) part, its
    * minimum unit price over all line items and the lowest supplier key
    * achieving that minimum — the "cheapest supplier per part" shape Q2
    * asks of partsupp, phrased over lineitem since the driver's schema has
    * no partsupp table. Catalyst's RewriteCorrelatedScalarSubquery pulls
    * the per-part `min(unit)` into ONE grouped aggregate joined back on
    * the correlation key — O(parts) aggregate + a key join, never a probe
    * per row. Determinism: `unit` is one decimal→double division per row
    * (IEEE-identical in both engines), the min over doubles is order-free,
    * and the achiever tie-break is `min(l_suppkey)` — total.
    */
  def minCostSupplier(s: SparkSession, d: String): DataFrame = {
    sqlViews(s, d)
    s.sql(
      """WITH li AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) / l_quantity AS DOUBLE)
        |      AS unit
        |  FROM g_lineitem)
        |SELECT p_partkey, p_brand,
        |  min(unit) AS min_unit,
        |  CAST(min(CASE WHEN unit = m THEN l_suppkey END) AS BIGINT)
        |    AS best_suppkey
        |FROM (
        |  SELECT p.p_partkey, p.p_brand, li.l_suppkey, li.unit,
        |    (SELECT min(unit) FROM li l2 WHERE l2.l_partkey = p.p_partkey) AS m
        |  FROM g_part p JOIN li ON li.l_partkey = p.p_partkey
        |  WHERE p.p_partkey % 13 = 0)
        |GROUP BY p_partkey, p_brand""".stripMargin)
  }

  /** TPC-H Q21-class DOUBLE correlated subquery — EXISTS + NOT EXISTS over
    * the SAME fact table, the hardest standard decorrelation stressor and
    * the last member of the subquery family (Q4/Q17/Q18/Q22 classes are
    * [[existsReturnedOrders]] / [[correlatedAvgQuantity]] /
    * `largeOrders` / [[notExistsQuietCustomers]]): suppliers blamed for a
    * finished order — their line was returned, ANOTHER supplier was on the
    * order (EXISTS), and NO other supplier's line was returned (NOT
    * EXISTS). Catalyst's RewritePredicateSubquery must decorrelate BOTH
    * predicates in one pass: one LEFT SEMI plus one LEFT ANTI join against
    * the fact, each a single shuffle on l_orderkey with the `<>` residual
    * as a join condition — never a per-row probe (PlanQualitySpec asserts
    * the rewrite is total). The reference's TPC-H-ish lineitem carries no
    * receiptdate/commitdate, so "late" is marked by `l_returnflag = 'R'`;
    * the decorrelation shape is identical to the canonical Q21.
    */
  def waitingSuppliers(s: SparkSession, d: String): DataFrame = {
    sqlViews(s, d)
    s.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM g_supplier
        |JOIN g_lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN g_orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM g_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM g_lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin)
  }

  def inSubqueryFrequentBuyers(s: SparkSession, d: String): DataFrame = {
    sqlViews(s, d)
    s.sql(
      """SELECT c_mktsegment, count(*) AS n_frequent
        |FROM g_customer
        |WHERE c_custkey IN (SELECT o_custkey FROM g_orders
        |                    GROUP BY o_custkey HAVING count(*) >= 3)
        |GROUP BY c_mktsegment""".stripMargin)
  }

  /** The NOT IN null trap, measured in one row — the single most common
    * correctness surprise at the ad-hoc SQL surface. Three counts over the
    * same intent ("customers with no 1-URGENT order"):
    *
    *  - `n_not_in_clean`: NOT IN over a null-free subquery — plans as a
    *    regular anti join, agrees with NOT EXISTS;
    *  - `n_not_in_nullable`: the subquery emits one NULL (the min urgent
    *    custkey is nullif'd out) — three-valued logic makes `x NOT IN
    *    (..., NULL)` never TRUE, so the count collapses to 0. Spark must
    *    plan a null-aware anti join (a broadcast nested loop in the worst
    *    case) to honor this — which is WHY NOT IN over a nullable column is
    *    both a semantic and a performance hazard at 100 TB;
    *  - `n_not_exists`: the NOT EXISTS phrasing of the same nullable
    *    predicate — NULL keys simply never match, so the one nullif'd
    *    customer is counted as order-less (= clean + 1), and the plan stays
    *    a hash anti join.
    */
  def notInNullSemantics(s: SparkSession, d: String): DataFrame = {
    sqlViews(s, d)
    // The nullif'd probe key (min urgent custkey) is resolved eagerly and
    // inlined: in Spark 4 a scalar subquery nested inside the BROADCAST
    // BUILD side of the null-aware anti join is not awaited before the
    // relation is built ("Subquery ... has not finished"), so the nested
    // form fails at execution. A single bounded scalar collect (same class
    // as the sensor probes) sidesteps the limitation without changing the
    // anti-join plan under test; the DuckDB oracle keeps the nested form.
    val k0 = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .agg(min(col("o_custkey"))).head.getLong(0)
    s.sql(
      s"""SELECT
         |  (SELECT count(*) FROM g_customer
         |   WHERE c_custkey NOT IN (SELECT o_custkey FROM g_orders
         |                           WHERE o_orderpriority = '1-URGENT'))
         |    AS n_not_in_clean,
         |  (SELECT count(*) FROM g_customer
         |   WHERE c_custkey NOT IN (
         |     SELECT nullif(o_custkey, $k0)
         |     FROM g_orders WHERE o_orderpriority = '1-URGENT'))
         |    AS n_not_in_nullable,
         |  (SELECT count(*) FROM g_customer c
         |   WHERE NOT EXISTS (
         |     SELECT 1 FROM g_orders
         |     WHERE nullif(o_custkey, $k0) = c.c_custkey
         |       AND o_orderpriority = '1-URGENT'))
         |    AS n_not_exists""".stripMargin)
  }

  /** Global row-number over a total order WITHOUT the single-partition
    * window a naive `row_number() OVER (ORDER BY …)` plans (Spark warns and
    * funnels 100 TB through one task). The scalable recipe:
    *
    *  1. assign each row a DETERMINISTIC sampled-quantile bucket on the
    *     leading sort key ([[RangeBuckets]] — cut points are driver-side
    *     literals from one pruned value-hash-sampled scan, so the
    *     assignment is a pure function of the row, monotone in the total
    *     order, and population-balanced even on skewed keys);
    *  2. `row_number()` PARTITIONED BY the bucket — bucket-parallel, never
    *     a global window;
    *  3. per-bucket row counts cumsum'd into offsets over a
    *     bucket-count-sized frame, broadcast back;
    *  4. `rank = offset + local row_number`.
    *
    * Through round 9 the bucket was the physical partition id after
    * `repartitionByRange`, which made correctness silently depend on both
    * consumers reusing ONE sampled exchange (`ReusedExchange`) — the r9
    * verdict's latent hazard. Value-derived buckets remove the dependency:
    * each subplan may re-execute or re-partition freely and still assigns
    * identical buckets, so local + offset is exact for any plan shape.
    */
  def globalRank(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
    val cs = RangeBuckets.cuts(li, unix_micros(col("l_shipdate").cast("timestamp")),
      RangeBuckets.DefaultBuckets)
    val withB = li.withColumn("_bkt", RangeBuckets.bucketByCuts(
      unix_micros(col("l_shipdate").cast("timestamp")), cs))
    val wRn = Window.partitionBy(col("_bkt"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val counts = withB.groupBy(col("_bkt")).agg(count(lit(1)).as("_n"))
    val offsets = counts.withColumn("_off",
        coalesce(sum(col("_n")).over(Window.orderBy(col("_bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_bkt"), col("_off"))
    withB.withColumn("_rn", row_number().over(wRn))
      .join(broadcast(offsets), Seq("_bkt"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
        (col("_off") + col("_rn")).as("global_rank"))
  }

  /** Skyline (Pareto frontier) over (minimize l_extendedprice, maximize
    * l_quantity): every line item no other item strictly dominates — the
    * classic "best trade-offs" query (Börzsönyi et al. 2001). The naive
    * relational form is a NOT-EXISTS self-join (quadratic, and Catalyst
    * would plan the dominance predicate as a cross join); the scalable form
    * exploits that 2-D dominance reduces to a RUNNING MAX along one sorted
    * dimension: a point is dominated iff some strictly-cheaper price
    * achieves ≥ its quantity, or its own price level achieves > it.
    *
    * The running max over all prices is the same global-order scan
    * [[globalRank]] solves without a single-partition window: per-price
    * maxima (one narrow shuffle) get DETERMINISTIC sampled-quantile price
    * buckets ([[RangeBuckets]] — driver-literal cut points, monotone in
    * price, a pure function of the row so no exchange-reuse dependency); the
    * within-bucket prefix max is a window PARTITIONED BY the bucket
    * (bucket-parallel); the cross-bucket term is a bucket-count-sized
    * prefix-max broadcast. `greatest` of the two equals the full-order
    * running max for ANY monotone bucket placement (max is associative), so
    * the result is boundary-invariant — the oracle's single-window
    * formulation agrees exactly (float comparisons only, no float
    * arithmetic anywhere).
    */
  def skyline(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("price"), col("l_quantity").as("qty"))
    // bounds off the BASE column (pruned scan) — never a second run of the
    // per-price aggregation
    val cs = RangeBuckets.cuts(Tables.lineitem(s, d), col("l_extendedprice"),
      RangeBuckets.DefaultBuckets)
    // r20: the per-price table is materialized once — it fed both the
    // within-bucket running-max window and the per-bucket maxima aggregate,
    // so the full-fact scan + per-price aggregation ran twice. The
    // checkpoint is distinct-price-sized (one (double, double, long) row
    // per price level), the "decide with small rows" table.
    val perPrice = skylinePerPrice(s, d, cs).localCheckpoint()
    IterCheckpoint.supersede(s, "skyline", perPrice)
    val wIn = Window.partitionBy(col("_bkt")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = perPrice.withColumn("_runmax", max(col("pq")).over(wIn))
    // per-bucket maxima; prefix max over the bucket-count-sized frame,
    // broadcast back
    val pmax = perPrice.groupBy(col("_bkt")).agg(max(col("pq")).as("_pmax"))
    val prefix = pmax.withColumn("_prefmax",
        max(col("_pmax")).over(Window.orderBy(col("_bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("_bkt"), col("_prefmax"))
    val run = local.join(broadcast(prefix), Seq("_bkt"))
      .select(col("price"), col("pq"),
        greatest(coalesce(col("_runmax"), lit(-1.0)),
          coalesce(col("_prefmax"), lit(-1.0))).as("cheaper_max"))
    pts.join(run, Seq("price"))
      .filter(!(col("cheaper_max") >= col("qty") || col("pq") > col("qty")))
      .select(col("l_orderkey"), col("l_linenumber"), col("price"), col("qty"))
  }

  /** The per-price maxima table [[skyline]] materializes — factored so
    * PlanQualitySpec can pin the two-column pruned scan on the subtree that
    * actually reads parquet (the face checkpoints this frame, which
    * truncates its own plan to an ExistingRDD scan).
    */
  private[graft] def skylinePerPrice(s: SparkSession, d: String,
      cs: Array[Double]): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_extendedprice").as("price"), col("l_quantity").as("qty"))
      .groupBy(col("price")).agg(max(col("qty")).as("pq"))
      .withColumn("_bkt", RangeBuckets.bucketByCuts(col("price"), cs))

  /** Bag-semantics set operations (`EXCEPT ALL` / `INTERSECT ALL`):
    * multiplicity-preserving difference and intersection of the 1995 vs 1996
    * order-priority multisets, rolled up per priority so the result is the
    * multiplicity table rather than thousands of duplicate rows. Spark plans
    * both as a single grouped count-compare per key (no join explosion);
    * both engines implement ANSI bag semantics: except_all = max(n95-n96,0),
    * intersect_all = min(n95,n96) per distinct value.
    */
  def bagSetOps(s: SparkSession, d: String): DataFrame = {
    // r21 (r20 ADVICE): the r20 shape pinned two fact-scale year slices in
    // the block manager and still paid the exceptAll/intersectAll count-
    // compare shuffles twice. Bag semantics per distinct value v are pure
    // arithmetic on the two multiplicities — except_all(v) = max(n95−n96,0)
    // copies, intersect_all(v) = min(n95,n96) — and the r20 rollup counted
    // exactly those copies per priority. So ONE year-filtered scan with a
    // conditional count per year computes both columns directly: no
    // checkpoint pins, no set-op shuffles, one exchange on the priority key
    // (guide §2.3 aggregate-before-shuffle; the scan pushes the year
    // envelope). Row-set equivalence with the old full_outer of the two
    // rollups: a priority appeared there iff the except side was non-empty
    // (n95 > n96) or the intersect side was (min > 0) — the filter below.
    val o = Tables.orders(s, d)
    val y = year(col("o_orderdate"))
    o.filter(y === 1995 || y === 1996)
      .groupBy(col("o_orderpriority"))
      .agg(sum(when(y === 1995, 1L).otherwise(0L)).as("n95"),
        sum(when(y === 1996, 1L).otherwise(0L)).as("n96"))
      .select(col("o_orderpriority"),
        greatest(col("n95") - col("n96"), lit(0L)).as("n_except_all"),
        least(col("n95"), col("n96")).as("n_intersect_all"))
      .filter(col("n_except_all") > 0 || col("n_intersect_all") > 0)
  }

  /** TPC-H Q18-class "large volume customer": orders whose line quantities
    * sum past a threshold, re-joined to customer and lineitem for the full
    * report row. The HAVING-subquery formulation
    * (`o_orderkey IN (SELECT … HAVING sum > t)`) is what an analyst writes;
    * the plan Spark should (and does — PlanQualitySpec) produce is a
    * self-join of lineitem against its own aggregate, never a per-row
    * subquery.
    *
    * Scale shape: the qualifying-order set is the 99th-percentile tail
    * (threshold 250 ≈ p99 of per-order quantity sums), so the big
    * lineitem⋈orders work happens AFTER the semi-join cuts both sides to
    * ~1% — the aggregate-then-filter side is one partial-agg shuffle over
    * (orderkey, qty), the narrowest possible projection.
    */
  def largeVolumeCustomers(s: SparkSession, d: String,
      qtyThreshold: Double = 250.0): DataFrame = {
    val bigOrders = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("total_qty"))
      .filter(col("total_qty") > qtyThreshold)
    val ord = Tables.orders(s, d)
      .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
    ord.join(DimBroadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
  }

  /** Selective-dimension fact join — the shape Spark's RUNTIME BLOOM FILTER
    * exists for: the orders side keeps ~0.8% of rows (one priority × one
    * quarter), so a bloom built from the filtered dim keys and pushed into
    * the lineitem scan drops ~99% of fact rows BEFORE the join's shuffle.
    * The result is bloom-independent (the filter is a pure may-contain
    * pre-prune) — the oracle checks the answer, PlanQualitySpec checks that
    * `bloom_filter_might_contain` actually lands in the fact scan's filters
    * when the injection thresholds admit this scale. At 100 TB the same
    * injection is the difference between shuffling the full fact table and
    * shuffling the ~1% that can possibly match.
    *
    * (At the bench scale the dim side also broadcasts, which elides the
    * shuffle anyway — the face is written against the config-default plan;
    * the spec scopes the injection thresholds to prove the runtime-filter
    * machinery engages when the fact side is too big to benefit from
    * broadcast alone.)
    */
  def selectiveFactJoin(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderdate") >= lit("1996-06-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-09-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderstatus"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"),
        col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"), col("l_returnflag"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }
}
