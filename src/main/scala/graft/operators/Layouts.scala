package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-LAYOUT-aware query faces: the three physical-design levers that
  * decide whether a 100 TB deployment reads terabytes or gigabytes —
  * co-bucketed joins (no exchange), hive-partitioned scans (prune whole
  * directories), and a materialized sketch store (aggregate once, query
  * many). The write side lives in [[graft.sources.Sinks]]; these faces stage
  * the layout once per (session, dataset) and run the driver-checked query
  * against it, so the ORACLE proves the layout changes the plan, never the
  * answer.
  *
  * The reference has no layout tier at all — its one table is a Postgres
  * heap loaded row-at-a-time (`posts_pipeline.py:53-59`); these are the
  * structures its queries would need the moment the data outgrows one node.
  */
object Layouts {

  private val tableSeq = new java.util.concurrent.atomic.AtomicLong()

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  // ------------------------------------------------------------- bucketing

  /** lineitem + orders co-bucketed on the order key (16 buckets, sorted).
    * The write pays ONE shuffle; every subsequent join/agg on the key reads
    * co-located buckets and skips the exchange — the amortization contract
    * bucketing exists for. At 100 TB the bucket count scales with data
    * volume (buckets ≈ table bytes / target partition bytes); 16 matches
    * the test scale. Staged once per (session, dataset) in
    * [[graft.WarmState]], keyed by session because catalog entries die with
    * their session; a release drops both tables.
    */
  private def bucketedTables(s: SparkSession, d: String): (String, String) =
    graft.WarmState.once(("bucketed", s, d)) {
      val id = tableSeq.incrementAndGet()
      val (li, ord) = (s"graft_li_bkt_$id", s"graft_ord_bkt_$id")
      graft.sources.Sinks.writeBucketed(Tables.lineitem(s, d), li, "l_orderkey", 16)
      graft.sources.Sinks.writeBucketed(Tables.orders(s, d), ord, "o_orderkey", 16)
      (li, ord)
    } { case (li, ord) =>
      // catalog entries die with their session: nothing to drop after it
      if (!s.sparkContext.isStopped) Seq(li, ord).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
    }

  /** Driver face: the [[Analytics.saltedJoinRevenue]] aggregate computed
    * over the co-bucketed layout — same oracle semantics, zero-shuffle join
    * physical plan (no `ShuffleExchange` below the sort-merge join;
    * plan-asserted in LayoutsSpec). The `merge` hint pins SMJ so the
    * bucket-partitioning reuse is what's demonstrated, not a broadcast that
    * would also elide the exchange (and could not at 100 TB, where both
    * sides are fact-sized).
    */
  def bucketedJoinRevenue(s: SparkSession, d: String): DataFrame = {
    val (liT, ordT) = bucketedTables(s, d)
    val li = s.table(liT).select(col("l_orderkey"), col("l_extendedprice"))
    val ord = s.table(ordT).select(col("o_orderkey"), col("o_orderstatus"))
    li.join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
  }

  /** Driver face: [[RelFaces.shipLagPriority]] (TPC-H q12-class) computed
    * over the co-bucketed layout — the r11 verdict task-4 cut. The plain
    * face is a full fact⋈fact shuffle on the order key (26.6 s at the 100×
    * replica, 89% of ceiling — the slowest relational face); on the
    * bucketed layout the SAME join reads co-located buckets with NO
    * exchange below the sort-merge join, and the only shuffle left is the
    * 3-group lag rollup. The bucketed tables are the ones
    * [[bucketedJoinRevenue]] already stages — one write shuffle amortized
    * across every orderkey join in the session, which is bucketing's whole
    * contract. Oracle: identical SQL to `q12_ship_lag` over the PLAIN
    * parquet — the layout changes the plan, never the answer.
    */
  def bucketedShipLag(s: SparkSession, d: String): DataFrame = {
    val (liT, ordT) = bucketedTables(s, d)
    val li = s.table(liT).select(col("l_orderkey"), col("l_shipdate"))
    val ord = s.table(ordT).select(
      col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    li.join(ord.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag_days",
        datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date")))
      .withColumn("lag_class",
        when(col("lag_days") <= lit(30), "FAST")
          .when(col("lag_days") <= lit(90), "NORMAL")
          .otherwise("SLOW"))
      .groupBy(col("lag_class"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("low_line_count"))
  }

  // ---------------------------------------------------------- partitioning

  /** events re-laid hive-partitioned by `event_date` (directory per day) —
    * the layout under which a date predicate prunes whole directories
    * BEFORE any file IO (PartitionFilters in the scan, not PushedFilters:
    * pruning happens at planning, against the file index). Day granularity
    * keeps directory counts sane at 100 TB (365/yr × sources, not 8760
    * hourly dirs); finer slicing belongs to the in-file row-group stats
    * ([[graft.sources.Sinks.writeCompacted]]'s min/max clustering).
    */
  private def partitionedEventsPath(s: SparkSession, d: String): String =
    graft.WarmState.stagedDir(("events_bydate", s, d)) { dir =>
      graft.sources.Sinks.writePartitioned(
        Tables.events(s, d).withColumn("event_date", to_date(col("ts"))),
        dir.toString, Seq("event_date"))
    }

  /** Driver face: one week of a 30-day table — 23 of 30 day-directories are
    * never opened (plan-asserted: the scan's partition count equals the
    * selected days). The oracle recomputes from the UNPARTITIONED events
    * parquet, proving layout-independence of the answer.
    */
  def partitionPrunedDaily(s: SparkSession, d: String,
      lo: String = "2024-01-10", hi: String = "2024-01-16"): DataFrame =
    s.read.parquet(partitionedEventsPath(s, d))
      .filter(col("event_date").between(lit(lo).cast("date"), lit(hi).cast("date")))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      // pruning runs on the DATE-typed partition column above; the output
      // projection matches the repo-wide day convention (timestamp_ntz —
      // DuckDB's naive TIMESTAMP)
      .select(col("event_date").cast("timestamp_ntz").as("event_date"),
        col("event_type"), col("n_events"), col("sum_value"))

  // ------------------------------------------------------------- backfill

  /** The day whose initial load is staged corrupted and then repaired. */
  val BackfillDay = "2024-01-10"

  /** Stage the backfill lifecycle once per (session, dataset): an initial
    * partitioned load where [[BackfillDay]]'s batch landed corrupted (every
    * value zeroed — a decoder bug), then the repair — recompute ONLY that
    * day from the source and dynamic-partition-overwrite it
    * ([[graft.sources.Sinks.overwritePartitionsDynamic]]). 29 sibling day
    * partitions are never rewritten.
    */
  private[graft] def backfilledEventsPath(s: SparkSession, d: String): String =
    graft.WarmState.stagedDir(("backfill", s, d)) { dir =>
      val ev = Tables.events(s, d).withColumn("event_date", to_date(col("ts")))
      val badDay = lit(BackfillDay).cast("date")
      graft.sources.Sinks.writePartitioned(
        ev.withColumn("value",
          when(col("event_date") === badDay, lit(0.0)).otherwise(col("value"))),
        dir.toString, Seq("event_date"))
      graft.sources.Sinks.overwritePartitionsDynamic(
        ev.filter(col("event_date") === badDay), dir.toString, Seq("event_date"))
    }

  /** Driver face of the backfill: per-day rollup over the repaired table,
    * oracle-recomputed from the SOURCE events. The hash check proves both
    * halves of the dynamic-overwrite contract at once — the repaired day
    * matches the source again (the zeroed values are gone), and every
    * sibling day survived the overwrite (static mode would have truncated
    * them, failing the row compare). At 100 TB this is the nightly
    * reprocess: work ∝ the repaired partition, not the table.
    */
  def backfilledDailyReport(s: SparkSession, d: String): DataFrame =
    s.read.parquet(backfilledEventsPath(s, d))
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("event_date").cast("timestamp_ntz").as("event_date"),
        col("n_events"), col("sum_value"))

  // ---------------------------------------------------------------- purge

  /** The user whose rows the purge face erases (every corpus has user 7 —
    * ScaleUp keeps user ids, so the purge target exists at any replica). */
  val PurgeUser = 7L

  /** Stage the right-to-be-forgotten lifecycle once per (session, dataset):
    * a date-partitioned events table, then erasure of [[PurgeUser]] by
    * TARGETED rewrite — only the partitions that actually contain the
    * user's rows (discovered with one aggregate over the user's slice,
    * pruned at the scan) are re-written without them, via
    * [[graft.sources.Sinks.overwritePartitionsDynamic]]. Partitions the
    * user never touched keep their original files (LayoutsSpec asserts
    * mtimes). At 100 TB this is the GDPR deletion job: work ∝ partitions
    * containing the key — with a user-bucketed or key-indexed layout that
    * is a small fraction of the table, never a full rewrite.
    */
  private[graft] def purgedEventsPath(s: SparkSession, d: String): String =
    graft.WarmState.stagedDir(("purge", s, d)) { dir =>
      val ev = Tables.events(s, d).withColumn("event_date", to_date(col("ts")))
      graft.sources.Sinks.writePartitioned(ev, dir.toString, Seq("event_date"))
      purgeUserInPlace(s, dir.toString, PurgeUser)
    }

  /** Erase `user` from the day-partitioned events table at `dir` in place.
    *
    * Two erasure paths, both needed: partitions with SURVIVORS are
    * rewritten without the user's rows (dynamic-partition overwrite), and
    * partitions the user was the ONLY writer of are DELETED explicitly — a
    * dynamic overwrite cannot express an empty partition (a write carrying
    * zero rows for it never touches it), so without the explicit delete
    * the user's rows would silently survive exactly where they are most
    * concentrated (LayoutsSpec pins this on a sole-writer day). The
    * survivor set is localCheckpointed before the write: its lineage reads
    * the same files the overwrite replaces. The emptied-partition list is
    * bounded driver state (≤ affected days); the directory delete is the
    * delete-file action a lake engine records in its transaction log.
    */
  private[graft] def purgeUserInPlace(s: SparkSession, dir: String, user: Long): Unit = {
    val staged = s.read.parquet(dir)
    // the affected-partition set, COLLECTED before any file is replaced:
    // everything after the overwrite must run off driver literals or the
    // checkpointed survivors — any plan still reading `dir` would list the
    // pre-purge files (bounded: ≤ one date per partition directory)
    val affectedDays = staged.filter(col("user_id") === user)
      .select(col("event_date")).distinct()
      .collect().map(_.getDate(0)).toSeq
    val survivors = staged
      .filter(col("event_date").isInCollection(affectedDays) &&
        col("user_id") =!= user)
      .localCheckpoint()
    graft.sources.Sinks.overwritePartitionsDynamic(
      survivors, dir, Seq("event_date"))
    val survivorDays = survivors.select(col("event_date")).distinct()
      .collect().map(_.getDate(0).toString).toSet
    affectedDays.map(_.toString).filterNot(survivorDays).foreach { day =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$dir/event_date=$day"))
    }
  }

  /** Driver face of the purge: per-day rollup over the post-erasure table.
    * The oracle recomputes from the source MINUS the purged user, so the
    * hash proves erasure is complete (no surviving row anywhere), exact
    * (nobody else's rows lost), and sibling-safe (untouched days intact —
    * a static overwrite would have dropped them).
    */
  def purgedDailyReport(s: SparkSession, d: String): DataFrame =
    s.read.parquet(purgedEventsPath(s, d))
      .groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
      .select(col("event_date").cast("timestamp_ntz").as("event_date"),
        col("n_events"), col("n_users"), col("sum_value"))

  // ----------------------------------------------------------- compaction

  /** Target output file size for [[compactedEventsReport]] — the standard
    * lake-table compaction goal (row-group-friendly, listing-cheap). */
  val CompactTargetBytes: Long = 128L * 1024 * 1024

  private[graft] def parquetBytes(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum

  private[graft] def parquetFileCount(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Stage the small-files problem and its fix, once per (session, dataset):
    * `small` = events sprayed across 64 tiny files (what a micro-batch
    * ingest produces after a week), `compacted` = the same rows rewritten
    * into ceil(actual-bytes / [[CompactTargetBytes]]) files. The file count
    * comes from MEASURED layout bytes, not a guess — the same arithmetic a
    * production compactor runs per partition directory.
    */
  private[graft] def compactionDirs(s: SparkSession, d: String): (String, String) = {
    val root = graft.WarmState.stagedDir(("compaction", s, d)) { dir =>
      val small = s"$dir/small"
      Tables.events(s, d).repartition(64)
        .write.mode("overwrite").parquet(small)
      val nOut = math.max(1L,
        (parquetBytes(small) + CompactTargetBytes - 1) / CompactTargetBytes).toInt
      s.read.parquet(small).repartition(nOut)
        .write.mode("overwrite").parquet(s"$dir/compacted")
    }
    (s"$root/small", s"$root/compacted")
  }

  /** Small-file compaction — the maintenance job every streaming/micro-batch
    * lake table needs: N tiny files → size-targeted few files, losslessly.
    * The driver face aggregates from the COMPACTED layout and the oracle
    * recomputes from the source parquet, so the hash check IS the
    * losslessness proof; LayoutsSpec asserts the structural half (64 files
    * in, byte-targeted count out). At 100 TB compaction runs per partition
    * directory (bounded work units, independently schedulable) with exactly
    * this bytes/target arithmetic; the read itself needs no shuffle — the
    * rewrite's `repartition` is the only exchange and exists to control
    * output file count.
    */
  def compactedEventsReport(s: SparkSession, d: String): DataFrame = {
    val (_, compacted) = compactionDirs(s, d)
    s.read.parquet(compacted)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(dec(col("value"))).cast("double").as("sum_value"))
  }

  // ---------------------------------------------------------- sketch store

  /** Per-(day, event_type) HLL sketches of the user set, materialized once
    * (Apache DataSketches via `hll_sketch_agg`, lgK = 14 → rsd ≈ 0.81%).
    * This is the "aggregate once, query many" pattern for 100 TB distinct
    * counting: the raw events are scanned ONE time ever; any day-range's
    * distinct-user count is then a merge over ≤ days × types kilobyte
    * sketches — no re-scan, and sketch union is lossless w.r.t. the HLL
    * guarantee (unlike pre-counted distincts, which cannot merge).
    */
  private[graft] def sketchStorePath(s: SparkSession, d: String): String =
    graft.WarmState.stagedDir(("sketch_store", s, d)) { dir =>
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), 14).as("user_sketch"),
          count(lit(1)).as("n_events"))
        .write.mode("overwrite").parquet(dir.toString)
    }

  /** The VERIFIABLE face of the sketch store (the
    * [[Analytics.approxDistinctUsersChecked]] pattern): merge two weeks of
    * per-day sketches, gate the merged estimate against the exact distinct
    * in-plan (`assert_true`, bound = `boundFactor`·rsd), and emit the exact
    * count + the literally-true flag for the driver's hash. The exact
    * recount exists only to verify; the PRODUCT path at 100 TB is the
    * sketch merge alone (kilobytes in, one number out).
    */
  def sketchStoreChecked(s: SparkSession, d: String,
      lo: String = "2024-01-08", hi: String = "2024-01-21",
      boundFactor: Double = 3.0): DataFrame =
    sketchStoreCheckedAt(s, d, sketchStorePath(s, d), lo, hi, boundFactor)

  /** Same checked face over an EXPLICIT store path — shared by the batch
    * store above and the streaming-maintained one
    * ([[graft.sources.Sinks.streamSketchStore]]): one oracle, two
    * maintenance paths.
    */
  def sketchStoreCheckedAt(s: SparkSession, d: String, storePath: String,
      lo: String = "2024-01-08", hi: String = "2024-01-21",
      boundFactor: Double = 3.0): DataFrame = {
    val rsd = 1.04 / math.sqrt((1 << 14).toDouble)
    val bound = boundFactor * rsd
    val approx = s.read.parquet(storePath)
      .filter(col("day").between(lit(lo).cast("date"), lit(hi).cast("date")))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(
        hll_union_agg(col("user_sketch"), allowDifferentLgConfigK = false))
        .as("approx_users"))
    val exact = Tables.events(s, d)
      .filter(to_date(col("ts")).between(lit(lo).cast("date"), lit(hi).cast("date")))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val relErr = abs(col("approx_users") - col("n_users")).cast("double") /
      col("n_users").cast("double")
    val inBound = when(col("n_users") === 0, col("approx_users") === 0)
      .otherwise(relErr <= lit(bound))
    exact.join(broadcast(approx), Seq("event_type"))
      .filter(assert_true(inBound,
        concat(lit(s"sketch-store estimate beyond $boundFactor*rsd=$bound for "),
          col("event_type"))).isNull)
      .select(col("event_type"), col("n_users"), inBound.as("within_bound"))
  }

  // --------------------------------------------- z-order + file skipping

  /** 8 bits per dimension — a 256×256 grid. The z-value is 16 bits, so a
    * file covering a contiguous z-range covers a compact ~square tile set
    * of the grid: its per-file min/max bounds are tight in BOTH dimensions
    * at once, which is the whole point of the curve (a single-column sort
    * gives tight bounds in that column and useless ones in every other).
    */
  val ZGridBits = 8

  /** File count scales with DATA VOLUME (rows / target-rows-per-file,
    * floored so the test scales still exercise multi-file skipping) — a
    * fixed file count would mean terabyte files at production scale. The
    * row target stands in for the real byte budget (~128 MB–1 GB parquet
    * files); rows are the right proxy here because the projected lineitem
    * row width is constant.
    */
  val ZRowsPerFileTarget = 16384L
  val ZMinFiles = 64
  def zFilesFor(total: Long): Int =
    math.min(4096L, math.max(ZMinFiles.toLong,
      (total + ZRowsPerFileTarget - 1) / ZRowsPerFileTarget)).toInt

  /** Morton interleave of the low [[ZGridBits]] bits of two grid
    * coordinates: bit i of `x` lands at position 2i, bit i of `y` at 2i+1.
    * Pure shift/mask arithmetic — one codegen'd projection, and the same
    * expression is re-derivable in ANSI SQL (the generated oracle does).
    */
  def zValue(x: Column, y: Column): Column =
    (0 until ZGridBits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Grid coordinates with full 0..255 spread at every driver SF: part
    * bucket × price band. (l_suppkey would be the natural second axis but
    * spans only 0..9 at sf0.001 — a degenerate dimension makes the curve
    * collapse to a single-column sort and the spec meaningless.)
    */
  private def zx = pmod(col("l_partkey"), lit(256L)).as("zx")
  private def zy = pmod(floor(col("l_extendedprice")), lit(256L)).as("zy")

  /** lineitem re-laid along the z-curve of (part, supplier) grid coords:
    * one range-partition-and-sort on the z-value ([[graft.sources.Sinks
    * .writeCompacted]] — the local sort is what makes footer min/max tight
    * per FILE, not just per partition), paid once. This is the multi-
    * dimensional clustering tier under Delta/Iceberg `OPTIMIZE ZORDER BY`:
    * hive partitioning (above) prunes on ONE coarse column; the z-layout
    * makes min/max skipping effective on TWO fine-grained columns that
    * would each defeat a single-column sort.
    */
  private def zOrderedPath(s: SparkSession, d: String): String =
    graft.WarmState.stagedDir(("li_zorder", s, d)) { dir =>
      // p_layout_build, NOT "staging": the range-partition-and-sort IS the
      // face's own work and stays in the contract clock — the stamp makes
      // its share readable in the record (r18 verdict task 6). Fires once
      // per (session, dataset): the WarmState memo; LayoutsSpec pins it.
      graft.BenchPhases.timed("p_layout_build") {
      val df = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_extendedprice"))
        .withColumn("zx", zx).withColumn("zy", zy)
        .withColumn("zv", zValue(col("zx"), col("zy")))
      val total = df.count()
      graft.sources.Sinks.writeCompacted(df, dir.toString, "zv",
        rowsPerFile = math.max(1L, (total + zFilesFor(total) - 1) / zFilesFor(total)),
        total)
      }
    }

  /** Per-file (min, max) of both grid coordinates — the data-skipping
    * stats a Delta/Iceberg transaction log keeps per file. Built by one
    * scan grouped on `input_file_name()`; size = file count (metadata
    * scale: ~1 row per GB of data at production file sizes), which is why
    * collecting it on the driver below is the legitimate metadata
    * exception to the no-collect rule — it is exactly what a table
    * format's planning phase does.
    */
  private[graft] def zFileStats(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("zx")).as("min_zx"), max(col("zx")).as("max_zx"),
        min(col("zy")).as("min_zy"), max(col("zy")).as("max_zy"),
        count(lit(1)).as("n_rows"))

  /** File-skipping scan: prune the file list against the stats index
    * (interval overlap per dimension), then read ONLY surviving files with
    * the residual predicate applied. Returns (result, filesRead,
    * filesTotal) so the spec can assert the skipping actually happened —
    * the result itself is provably layout-independent (residual filter is
    * the full predicate).
    */
  private[graft] def zSkippingScan(s: SparkSession, path: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): (DataFrame, Int, Int) = {
    val stats = zFileStats(s, path)
    val all = stats.select(col("file")).collect().map(_.getString(0))
    val keep = stats
      .filter(col("max_zx") >= xLo && col("min_zx") <= xHi &&
        col("max_zy") >= yLo && col("min_zy") <= yHi)
      .select(col("file")).collect().map(_.getString(0))
    val src = if (keep.isEmpty) s.read.parquet(path).limit(0)
      else s.read.parquet(keep.toIndexedSeq: _*)
    val res = src.filter(col("zx").between(xLo, xHi) &&
        col("zy").between(yLo, yHi))
      .select(col("l_orderkey"), col("l_linenumber"), col("zx"), col("zy"))
    (res, keep.length, all.length)
  }

  /** Driver face: a 16×16 grid box (1/256 of the space) over the z-layout.
    * The oracle recomputes the box from the UNPARTITIONED lineitem parquet
    * — same layout-independence proof as [[partitionPrunedDaily]]; the
    * file-skipping ratio itself is asserted in LayoutsSpec (box query
    * touches a handful of the [[zFilesFor]] files; a y-only band query still
    * skips most files, which a single-column x-sort cannot do).
    */
  def zOrderBoxQuery(s: SparkSession, d: String,
      xLo: Long = 32, xHi: Long = 47, yLo: Long = 96, yHi: Long = 111): DataFrame =
    zSkippingScan(s, zOrderedPath(s, d), xLo, xHi, yLo, yHi)._1
}
