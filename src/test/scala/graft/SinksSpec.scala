package graft

import graft.sources.Sinks
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Write-side layout contracts: partition pruning actually prunes, bucketed
  * joins actually skip the exchange, insert-ignore appends are idempotent.
  */
class SinksSpec extends SparkSpecBase {
  import spark.implicits._

  test("partitioned write prunes partitions on read") {
    val dir = tempDir("part").toString + "/orders"
    val orders = Tables.orders(spark, Sf)
      .withColumn("o_year", year(col("o_orderdate")))
    Sinks.writePartitioned(orders, dir, Seq("o_year"))
    val read = spark.read.parquet(dir).filter(col("o_year") === 1995)
    val plan = read.queryExecution.executedPlan.toString
    // partition filter must reach the scan as a partition filter, not a data filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("o_year"),
      s"o_year not in PartitionFilters:\n$plan")
    val expected = Tables.orders(spark, Sf)
      .filter(year(col("o_orderdate")) === 1995).count()
    assert(read.count() == expected)
  }

  test("join of two tables bucketed on the key has no shuffle") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Sinks.writeBucketed(Tables.orders(spark, Sf), "b_orders", "o_orderkey", 8)
    Sinks.writeBucketed(
      Tables.lineitem(spark, Sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", "o_orderkey", 8)
    // force the sort-merge path (hint on a join input) so the exchange
    // question is real — broadcast would hide it
    val noBcast = spark.table("b_orders").hint("merge")
      .join(spark.table("b_lineitem"), "o_orderkey")
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    val plan = noBcast.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    // the aggregate's exchange (on o_orderstatus) is expected; the JOIN KEY
    // must not be shuffled — bucket layout already co-locates it
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join still shuffles on the join key:\n$plan")
    // result equality vs the unbucketed plan
    val o = Tables.orders(spark, Sf)
    val l = Tables.lineitem(spark, Sf)
    val expected = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(noBcast.as[(String, Long)].collect().toMap == expected)
  }

  test("writeCompacted: sized file count, per-file cap, disjoint key ranges") {
    val dir = tempDir("compact").toString + "/li"
    val li = Tables.lineitem(spark, Sf).select("l_orderkey", "l_quantity")
    val total = li.count()
    val per = 1000L
    Sinks.writeCompacted(li, dir, "l_orderkey", per, total)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath).sorted
    val nTarget = ((total + per - 1) / per).toInt
    // range boundaries come from sampling, so partitions over-cap split into
    // extra files (the per-file cap is the HARD contract, the count is ~2x
    // bounded); never fewer files than the data size demands
    assert(files.length >= nTarget && files.length <= 2 * nTarget,
      s"expected $nTarget..${2 * nTarget} files, got ${files.length}")
    var sum = 0L
    val ranges = files.map { f =>
      val d = spark.read.parquet(f)
      val r = d.agg(count(lit(1)), min(col("l_orderkey")), max(col("l_orderkey"))).head()
      assert(r.getLong(0) <= per, s"file over cap: ${r.getLong(0)}")
      sum += r.getLong(0)
      (r.getLong(1), r.getLong(2))
    }.sortBy(_._1)
    assert(sum == total)
    // key-clustered: consecutive file ranges must not interleave
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlap: $hi > $lo2")
      case _ =>
    }
  }

  test("appendInsertIgnore is idempotent across re-runs") {
    val dir = tempDir("append").toString + "/t"
    val batch = Seq((1L, "a"), (2L, "b"), (2L, "b2")).toDF("id", "v")
    Sinks.appendInsertIgnore(batch, dir, "id")
    assert(spark.read.parquet(dir).count() == 2) // within-batch dedup
    Sinks.appendInsertIgnore(batch, dir, "id")   // re-run: no-op
    assert(spark.read.parquet(dir).count() == 2)
    val next = Seq((2L, "dup"), (3L, "c")).toDF("id", "v")
    Sinks.appendInsertIgnore(next, dir, "id")    // only the new key lands
    assert(spark.read.parquet(dir).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
  }

  test("appendInsertIgnoreSketched matches plain semantics; sketch supersets target") {
    val dir = tempDir("sk_append").toString + "/t"
    val batch = Seq((1L, "a"), (2L, "b"), (2L, "b2")).toDF("id", "v")
    Sinks.appendInsertIgnoreSketched(batch, dir, "id")
    assert(spark.read.parquet(dir).count() == 2) // within-batch dedup
    Sinks.appendInsertIgnoreSketched(batch, dir, "id") // re-run: no-op
    assert(spark.read.parquet(dir).count() == 2)
    val next = Seq((2L, "dup"), (3L, "c")).toDF("id", "v")
    Sinks.appendInsertIgnoreSketched(next, dir, "id") // only the new key lands
    assert(spark.read.parquet(dir).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    // versioned sketches published; the latest knows every target key
    val ref = graft.sources.BloomStore.latest(dir).get
    assert(ref.version >= 2, "each batch must publish a new sketch version")
    val in = Files.newInputStream(ref.file)
    val bf = try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
    val hashes = spark.read.parquet(dir).select(xxhash64(col("id"))).as[Long].collect()
    assert(hashes.forall(bf.mightContainLong), "sketch must be a superset of target keys")
  }

  test("first loads probe the target without a failed query") {
    // a failed read reaches every QueryExecutionListener's onFailure (and
    // Spark's own ObservationManager listener logs it as an ERROR); the
    // marker action drains the in-order listener queue before counting
    val failures = new java.util.concurrent.atomic.AtomicInteger()
    val marker = spark.range(1).toDF()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (qe eq marker.queryExecution) markerSeen.countDown()
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = {
        failures.incrementAndGet(); ()
      }
    }
    val batch = Seq((1L, "a"), (2L, "b"), (2L, "b2")).toDF("id", "v")
    val root = tempDir("probe")
    val missing = root.resolve("missing").toString
    val empty = Files.createDirectory(root.resolve("empty"))
    Files.writeString(empty.resolve("_SUCCESS"), "") // a dir without data files
    val sketched = root.resolve("sketched").toString
    try {
      spark.listenerManager.register(listener)
      try {
        Sinks.appendInsertIgnore(batch, missing, "id")
        Sinks.appendInsertIgnore(batch, empty.toString, "id")
        Sinks.appendInsertIgnoreSketched(batch, sketched, "id")
        marker.collect()
        assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      } finally spark.listenerManager.unregister(listener)
      assert(failures.get === 0, "an existence probe ran a failing query")
      Seq(missing, empty.toString, sketched)
        .foreach(p => assert(spark.read.parquet(p).count() === 2))
    } finally graft.sources.WarmDirs.deleteRecursively(root.toString)
  }

  test("appendInsertIgnoreSketched: both torn-window crash points stay exact") {
    import graft.sources.BloomStore
    // window A — sketch published, append LOST: the replayed batch probes a
    // sketch that already knows its keys, so every row is a candidate and
    // the exact anti-join must re-admit them (rows must not be lost)
    val dirA = tempDir("sk_tornA").toString + "/t"
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.appendInsertIgnoreSketched(b0, dirA, "id")
    val b1 = Seq((3L, "c"), (4L, "d")).toDF("id", "v")
    // simulate the torn run: sketch merged and renamed, crash before append
    val cur = BloomStore.latest(dirA).get
    BloomStore.writeMerged(dirA, Some(cur),
      b1.select(xxhash64(col("id")).as("h")), cur.capacity, cur.nBits,
      cur.nKeys + 2)
    Sinks.appendInsertIgnoreSketched(b1, dirA, "id") // replay
    assert(spark.read.parquet(dirA).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L, 4L), "replay after sketch-only torn batch must land the rows")
    // window B — append landed, commit lost (checkpoint never advanced):
    // plain re-run of the same batch must append nothing
    Sinks.appendInsertIgnoreSketched(b1, dirA, "id")
    assert(spark.read.parquet(dirA).count() == 4,
      "replay after full torn batch must append nothing")
  }

  test("appendInsertIgnoreSketched: large-batch distributed shape matches small-path semantics") {
    // drive the bulk branch (executor-side file probe + graft_bloom_agg
    // update, no driver hash collect) by lowering the size gate: first
    // batch large (distributed bootstrap), replay of it (batch-scale
    // candidates -> exact anti-join), overlapping large batch, then a
    // SMALL batch on the same store — both shapes must interoperate on
    // one sketch lineage
    val saved = Sinks.SmallBatchMaxRows
    Sinks.SmallBatchMaxRows = 8
    try {
      val dir = tempDir("sk_large").toString + "/t"
      val b0 = spark.range(0, 40).select(col("id"), lit("x").as("v"))
      Sinks.appendInsertIgnoreSketched(b0, dir, "id")
      assert(spark.read.parquet(dir).count() == 40)
      Sinks.appendInsertIgnoreSketched(b0, dir, "id") // replay: no-op
      assert(spark.read.parquet(dir).count() == 40)
      // overlap [20, 60): only [40, 60) lands
      val b1 = spark.range(20, 60).select(col("id"), lit("y").as("v"))
      Sinks.appendInsertIgnoreSketched(b1, dir, "id")
      assert(spark.read.parquet(dir).count() == 60)
      // small batch (under the gate) rides the same sketch lineage
      val b2 = Seq((59L, "dup"), (60L, "z")).toDF("id", "v")
      Sinks.appendInsertIgnoreSketched(b2, dir, "id")
      assert(spark.read.parquet(dir).select("id").as[Long].collect().sorted.toSeq
        == (0L to 60L))
      // superset invariant across both shapes
      val ref = graft.sources.BloomStore.latest(dir).get
      val in = Files.newInputStream(ref.file)
      val bf = try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
      val hashes = spark.read.parquet(dir).select(xxhash64(col("id"))).as[Long].collect()
      assert(hashes.forall(bf.mightContainLong), "sketch must be a superset of target keys")
      // within-batch dedup holds on the large shape too
      val dirD = tempDir("sk_large_dup").toString + "/t"
      val dup = spark.range(0, 20).select((col("id") % 10).as("id"), lit("d").as("v"))
      Sinks.appendInsertIgnoreSketched(dup, dirD, "id")
      assert(spark.read.parquet(dirD).count() == 10)
    } finally Sinks.SmallBatchMaxRows = saved
  }

  test("appendInsertIgnoreSketched: legacy bootstrap and capacity rebuild stay exact") {
    // target created by the PLAIN append (no sketch) — first sketched batch
    // must bootstrap from the target's true keys
    val dir = tempDir("sk_legacy").toString + "/t"
    Sinks.appendInsertIgnore(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, "id")
    Sinks.appendInsertIgnoreSketched(
      Seq((2L, "dup"), (3L, "c")).toDF("id", "v"), dir, "id")
    assert(spark.read.parquet(dir).select("id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    // tiny capacityHint forces the outgrown-rebuild branch on batch 2; the
    // rebuilt sketch carries 4x capacity and results stay exact
    val dir2 = tempDir("sk_grow").toString + "/t"
    Sinks.appendInsertIgnoreSketched(
      spark.range(3).select(col("id"), lit("x").as("v")), dir2, "id",
      capacityHint = 4)
    Sinks.appendInsertIgnoreSketched(
      spark.range(2, 8).select(col("id"), lit("y").as("v")), dir2, "id",
      capacityHint = 4)
    assert(spark.read.parquet(dir2).select("id").as[Long].collect().sorted.toSeq
      == (0L until 8L), "rebuild branch must keep insert-ignore exact")
    assert(graft.sources.BloomStore.latest(dir2).get.capacity >= 9,
      "outgrown sketch must be rebuilt with enlarged capacity")
  }

  test("appendInsertIgnoreSketched: Spark jobs per batch shape are pinned") {
    // every shape of the sketched insert-ignore, counted in Spark jobs: the
    // listener bus is asynchronous and in order, so a tagged marker action
    // before and after each batch brackets exactly that batch's jobs
    val sc = spark.sparkContext
    val Marker = "graft.spec.jobMarker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.put(Option(e.properties).flatMap(p => Option(p.getProperty(Marker)))
          .getOrElse("job"))
    }
    def mark(tag: String): Unit = {
      sc.setLocalProperty(Marker, tag)
      try spark.range(1).collect() finally sc.setLocalProperty(Marker, null)
    }
    def jobs(body: => Unit): Int = {
      mark("start")
      body
      mark("end")
      val events = Iterator.continually(
        seen.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(e => e != null && e != "end").toSeq
      assert(events.contains("start"), "marker jobs never reached the listener")
      events.dropWhile(_ != "start").count(_ == "job")
    }
    def rows(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"), lit("x").as("v"))
    val root = tempDir("sk_jobs")
    val saved = Sinks.SmallBatchMaxRows
    sc.addSparkListener(listener)
    val counts = try {
      val small = s"$root/small"
      val legacy = s"$root/legacy"
      val grow = s"$root/grow"
      val bulk = s"$root/bulk"
      val smallShapes = Seq(
        "small first load" -> jobs(Sinks.appendInsertIgnoreSketched(
          Seq((1L, "a"), (2L, "b"), (2L, "b2")).toDF("id", "v"), small, "id")),
        "small steady, all new" -> jobs(Sinks.appendInsertIgnoreSketched(
          Seq((3L, "c"), (4L, "d")).toDF("id", "v"), small, "id")),
        "small steady, point lookups" -> jobs(Sinks.appendInsertIgnoreSketched(
          Seq((2L, "dup"), (5L, "e")).toDF("id", "v"), small, "id")),
        "small legacy bootstrap" -> jobs {
          Sinks.appendInsertIgnore(rows(0, 3), legacy, "id")
          Sinks.appendInsertIgnoreSketched(rows(2, 5), legacy, "id")
        },
        "small outgrown rebuild" -> jobs {
          Sinks.appendInsertIgnoreSketched(rows(0, 3), grow, "id", capacityHint = 4)
          Sinks.appendInsertIgnoreSketched(rows(2, 8), grow, "id", capacityHint = 4)
        })
      Sinks.SmallBatchMaxRows = 8
      smallShapes ++ Seq(
        "bulk first load" -> jobs(Sinks.appendInsertIgnoreSketched(rows(0, 200), bulk, "id")),
        "bulk steady, all new" -> jobs(Sinks.appendInsertIgnoreSketched(rows(200, 240), bulk, "id")),
        "bulk steady, point lookups" -> jobs(Sinks.appendInsertIgnoreSketched(rows(230, 260), bulk, "id")),
        "bulk replay, exact anti-join" -> jobs(Sinks.appendInsertIgnoreSketched(rows(0, 200), bulk, "id")))
    } finally {
      Sinks.SmallBatchMaxRows = saved
      sc.removeSparkListener(listener)
    }
    assert(spark.read.parquet(s"$root/bulk").select("id").as[Long].collect().sorted.toSeq
      == (0L until 260L), "the pinned shapes must stay exact")
    assert(counts.toMap == Map(
      "small first load" -> 2,
      "small steady, all new" -> 2,
      "small steady, point lookups" -> 4,
      "small legacy bootstrap" -> 11,
      "small outgrown rebuild" -> 9,
      "bulk first load" -> 6,
      "bulk steady, all new" -> 5,
      "bulk steady, point lookups" -> 9,
      "bulk replay, exact anti-join" -> 7), counts.mkString("jobs per shape: ", ", ", ""))
  }

  test("streamInsertIgnore: replayed stream appends nothing (exactly-once)") {
    // landing dir with duplicate keys in the arriving data — the
    // at-least-once shape (part files sit directly in the dir: the file
    // stream source does not recurse)
    val landing = tempDir("stream_sink_src")
    Seq((1L, "a"), (2L, "b"), (2L, "b_dup"), (3L, "c")).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(landing.toString)
    val target = tempDir("stream_sink_tgt").toString + "/t"
    def run(): Unit = {
      // fresh checkpoint per run = full replay, the worst-case redelivery
      val ckpt = tempDir("stream_sink_ck").toString
      val stream = spark.readStream
        .schema("id LONG, v STRING").parquet(landing.toString)
      Sinks.streamInsertIgnore(stream, target, "id", ckpt).awaitTermination()
    }
    run()
    val first = spark.read.parquet(target).select("id").as[Long].collect().sorted.toSeq
    assert(first == Seq(1L, 2L, 3L), "within-run dedup across micro-batch files")
    run() // total replay: every row redelivered, nothing may land
    val second = spark.read.parquet(target).select("id").as[Long].collect().sorted.toSeq
    assert(second == Seq(1L, 2L, 3L), "replayed delivery must append nothing")
  }

  test("streamInsertIgnore: torn batch (crash after append, before commit) recovers exactly-once") {
    // the hard case the replay test does NOT cover (r6 verdict task 5): the
    // process dies BETWEEN the foreachBatch append and the checkpoint
    // commit. The restart replays the batch whose rows already landed, and
    // the anti-join must turn the at-least-once redelivery into zero
    // duplicates — the exactly-once claim proven under failure.
    val landing = tempDir("torn_src")
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (2L, "dup")).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(landing.toString)
    val target = tempDir("torn_tgt").toString + "/t"
    // ONE checkpoint dir across both runs — the restart resumes it
    val ckpt = tempDir("torn_ck").toString
    def start() = Sinks.streamInsertIgnore(
      spark.readStream.schema("id LONG, v STRING").parquet(landing.toString),
      target, "id", ckpt)
    def targetIds = spark.read.parquet(target).select("id").as[Long].collect().sorted.toSeq
    try {
      Sinks.postAppendHook =
        _ => throw new RuntimeException("torn batch: crash before commit")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        start().awaitTermination()
      }
    } finally Sinks.postAppendHook = _ => ()
    // the append itself landed — rows are present, batch is UNcommitted
    assert(targetIds == Seq(1L, 2L, 3L), "torn batch left its append behind")
    start().awaitTermination() // restart: the torn batch replays
    assert(targetIds == Seq(1L, 2L, 3L), "replayed torn batch must not duplicate or lose rows")
  }

  test("streamSketchStore: torn batch replays into an identical store (union idempotence)") {
    // the streaming MV's replay-safety claim rests on HLL union being
    // register-wise max (idempotent) — prove it under the torn-batch shape:
    // crash AFTER batch 1's merged store landed but BEFORE its checkpoint
    // commit, restart, and the re-merge must change nothing.
    val landing = tempDir("sksrc")
    Seq(("2024-01-01 10:00:00", 1L, "view"), ("2024-01-01 11:00:00", 2L, "view"),
        ("2024-01-02 10:00:00", 1L, "buy"), ("2024-01-02 11:00:00", 3L, "view"),
        ("2024-01-02 12:00:00", 1L, "view"))
      .toDF("ts_s", "user_id", "event_type")
      .select(col("ts_s").cast("timestamp_ntz").as("ts"), col("user_id"),
        col("event_type"))
      .repartition(2).write.mode("overwrite").parquet(landing.toString)
    val store = tempDir("sktgt").toString + "/store"
    val ckpt = tempDir("skck").toString
    def start() = Sinks.streamSketchStore(
      spark.readStream.schema("ts TIMESTAMP_NTZ, user_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1").parquet(landing.toString),
      store, ckpt)
    def estimates = spark.read.parquet(store)
      .select(col("day").cast("string"), col("event_type"),
        hll_sketch_estimate(col("user_sketch")).as("est"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    try {
      Sinks.postAppendHook = id =>
        if (id == 1) throw new RuntimeException("torn sketch batch")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        start().awaitTermination()
      }
    } finally Sinks.postAppendHook = _ => ()
    val torn = estimates // batch 1's merge landed, batch is UNcommitted
    start().awaitTermination() // restart: batch 1 replays, then finishes
    val settled = estimates
    assert(settled == Map(("2024-01-01", "view") -> 2L,
      ("2024-01-02", "view") -> 2L, ("2024-01-02", "buy") -> 1L),
      s"wrong distincts: $settled")
    // every (day, type) the torn store already held must be unchanged
    torn.foreach { case (k, v) =>
      assert(settled(k) == v, s"replay changed $k: $v -> ${settled(k)}")
    }
  }

  test("streamDailyRollup: torn batch self-heals; duplicate delivery never double-counts") {
    // replay safety = idempotent landing append × recompute-from-landing
    // refresh. Crash AFTER batch 1's refresh landed but BEFORE its commit;
    // the restart must replay into the identical rollup. File B re-offers
    // id 2 (duplicate delivery) — the landing anti-join must drop it.
    val landing = tempDir("mvsrc")
    val base = System.currentTimeMillis()
    def slice(rows: Seq[(Long, String, String, Double)], name: String, mtime: Long): Unit = {
      val p = s"$landing/_stage_$name"
      rows.toDF("event_id", "ts_s", "event_type", "value")
        .select(col("event_id"), col("ts_s").cast("timestamp_ntz").as("ts"),
          col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite").parquet(p)
      val f = new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$landing/$name")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(mtime)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
    }
    slice(Seq((1L, "2024-01-01 10:00:00", "view", 10.0),
      (2L, "2024-01-01 11:00:00", "buy", 20.0)), "a.parquet", base)
    slice(Seq((2L, "2024-01-01 11:00:00", "buy", 20.0), // duplicate delivery
      (3L, "2024-01-02 10:00:00", "view", 5.0)), "b.parquet", base + 2000L)
    val mvLanding = tempDir("mvland").toString + "/l"
    val rollup = tempDir("mvtgt").toString + "/r"
    val ckpt = tempDir("mvck").toString
    def start() = Sinks.streamDailyRollup(
      spark.readStream
        .schema("event_id LONG, ts TIMESTAMP_NTZ, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1").parquet(landing.toString),
      mvLanding, rollup, ckpt)
    def state = spark.read.parquet(rollup)
      .select(col("event_date").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    try {
      Sinks.postAppendHook = id =>
        if (id == 1) throw new RuntimeException("torn rollup batch")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        start().awaitTermination()
      }
    } finally Sinks.postAppendHook = _ => ()
    val torn = state // batch 1's refresh landed, batch is UNcommitted
    start().awaitTermination() // restart: batch 1 replays, stream finishes
    val settled = state
    assert(settled == Map(
      ("2024-01-01", "view") -> ((1L, 10.0)),
      ("2024-01-01", "buy") -> ((1L, 20.0)),
      ("2024-01-02", "view") -> ((1L, 5.0))), s"wrong rollup: $settled")
    assert(torn == settled, s"replay changed the rollup: $torn -> $settled")
  }

  test("streamQuarantine: parsed/DLQ split is replay-safe under a torn batch") {
    val landing = tempDir("dlqsrc")
    def lines(name: String, mtime: Long, ls: String*): Unit = {
      val f = new java.io.File(s"$landing/$name")
      java.nio.file.Files.write(f.toPath, ls.mkString("\n").getBytes)
      f.setLastModified(mtime)
    }
    val base = System.currentTimeMillis()
    lines("a.txt", base,
      """{"doc_id":1,"lang":"en","n_chars":5}""",
      """{"doc_id":2,"lang":"de","n_chars":7""", // truncated — DLQ
      """{"doc_id":3,"lang":"fr","n_chars":9}""")
    lines("b.txt", base + 2000L,
      """{"doc_id":1,"lang":"en","n_chars":5}""", // duplicate id — dropped
      """not json at all""")                      // DLQ
    val root = tempDir("dlqtgt")
    val ckpt = tempDir("dlqck").toString
    def start() = Sinks.streamQuarantine(
      spark.readStream.option("maxFilesPerTrigger", "1").text(landing.toString),
      "doc_id LONG, lang STRING, n_chars LONG", "doc_id",
      s"$root/target", s"$root/dlq", ckpt)
    def state = (
      spark.read.parquet(s"$root/target").select("doc_id").as[Long].collect().sorted.toSeq,
      spark.read.parquet(s"$root/dlq").select("raw").as[String].collect().sorted.toSeq)
    try {
      Sinks.postAppendHook = id =>
        if (id == 1) throw new RuntimeException("torn quarantine batch")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        start().awaitTermination()
      }
    } finally Sinks.postAppendHook = _ => ()
    val torn = state // batch 1's appends landed, batch is UNcommitted
    start().awaitTermination() // restart: batch 1 replays, stream finishes
    val settled = state
    assert(settled._1 == Seq(1L, 3L), s"wrong parsed ids: ${settled._1}")
    assert(settled._2 == Seq("""not json at all""",
      """{"doc_id":2,"lang":"de","n_chars":7"""), s"wrong DLQ: ${settled._2}")
    assert(torn == settled, s"replay changed stores: $torn -> $settled")
  }

  test("streamVectorIndex: torn batch replays to an identical index; assignment frozen-model") {
    val landing = tempDir("vecsrc")
    val base = System.currentTimeMillis()
    def slice(rows: Seq[(Long, Array[Float])], name: String, mtime: Long): Unit = {
      val p = s"$landing/_stage_$name"
      rows.toDF("vec_id", "embedding").coalesce(1).write.mode("overwrite").parquet(p)
      val f = new java.io.File(p).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$landing/$name")
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(mtime)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p))
    }
    // axis-aligned model: cell 0 = +x, cell 1 = +y — assignments obvious
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    slice(Seq((1L, Array(0.9f, 0.1f)), (2L, Array(0.2f, 0.8f))), "a.parquet", base)
    slice(Seq((2L, Array(0.2f, 0.8f)), // duplicate delivery — dropped
      (3L, Array(0.7f, 0.7f))), "b.parquet", base + 2000L) // tie -> cell 0
    val store = tempDir("vectgt").toString + "/store"
    val ckpt = tempDir("vecck").toString
    def start() = Sinks.streamVectorIndex(
      spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").parquet(landing.toString),
      cents, store, ckpt)
    def state = spark.read.parquet(store)
      .select("vec_id", "centroid_id").as[(Long, Int)].collect().sorted.toSeq
    try {
      Sinks.postAppendHook = id =>
        if (id == 1) throw new RuntimeException("torn vector batch")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        start().awaitTermination()
      }
    } finally Sinks.postAppendHook = _ => ()
    val torn = state
    start().awaitTermination()
    val settled = state
    assert(settled == Seq((1L, 0), (2L, 1), (3L, 0)), s"wrong index: $settled")
    assert(torn == settled, s"replay changed the index: $torn -> $settled")
  }

  test("streamSemanticContamination: torn batch replays identically; settled rollup equals the batch screen") {
    import graft.operators.Similarity
    val cents = Similarity.trainedCentroids(spark, Sf)
    val probes = Similarity.contaminationEvalProbes(spark, Sf)
    val corpus = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") >= 50)
    val landing = tempDir("scsrc")
    val base = System.currentTimeMillis()
    // two slices + a duplicate-delivery sliver of slice 0 inside slice 1 —
    // the anti-join must drop the re-offer, not double-count its hits
    SparkEntry.writeSliceFile(corpus.filter(col("vec_id") % 2 === 0),
      landing, "b00.parquet", base)
    SparkEntry.writeSliceFile(
      corpus.filter(col("vec_id") % 2 === 1)
        .unionByName(corpus.filter(col("vec_id") % 16 === 0)),
      landing, "b01.parquet", base + 2000L)
    val store = tempDir("sctgt").toString + "/store"
    val ckpt = tempDir("scck").toString
    def start() = Sinks.streamSemanticContamination(
      spark.readStream.schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").parquet(landing.toString),
      cents, probes, 0.2, store, ckpt)
    def state = spark.read.parquet(store)
      .select("vec_id", "eval_id").as[(Long, Long)].collect().sorted.toSeq
    try {
      Sinks.postAppendHook = id =>
        if (id == 1) throw new RuntimeException("torn screen batch")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        start().awaitTermination()
      }
    } finally Sinks.postAppendHook = _ => ()
    val torn = state
    start().awaitTermination()
    assert(torn == state, s"replay changed the hit store: $torn -> $state")
    // settled-state equality vs the batch face — streaming is a delivery
    // mechanism, not new semantics, so both answer one generated oracle
    val streamed = Similarity.contaminationRollup(spark.read.parquet(store))
      .orderBy("vec_id").collect().toSeq
    val batch = Similarity.semanticContamination(spark, Sf)
      .orderBy("vec_id").collect().toSeq
    assert(streamed == batch,
      s"settled screen diverged from the batch face:\n$streamed\nvs\n$batch")
  }

  test("streamBandIndex: torn batch replays to an identical index; probe equals batch face") {
    import graft.operators.Dedup
    val landing = tempDir("bisrc")
    val corpus = Tables.documents(spark, Sf)
      .filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("text"))
    // two slices, written as separate files with ordered mtimes
    corpus.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(landing.toString + "/s0")
    corpus.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(landing.toString + "/s1")
    val flat = tempDir("biland")
    var t = System.currentTimeMillis()
    for (i <- 0 to 1) {
      val part = Files.list(java.nio.file.Paths.get(s"$landing/s$i"))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = flat.resolve(f"b$i%02d.parquet")
      Files.move(part, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t))
      t += 2000
    }
    val store = tempDir("bitgt").toString + "/store"
    val ckpt = tempDir("bick").toString
    def start() = Sinks.streamBandIndex(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(flat.toString),
      store, ckpt)
    try {
      Sinks.postAppendHook = id =>
        if (id == 1) throw new RuntimeException("torn band-index batch")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        start().awaitTermination()
      }
    } finally Sinks.postAppendHook = _ => ()
    start().awaitTermination() // restart: torn batch replays, must add nothing
    // no doc indexed twice: exactly 8 band rows per indexed doc
    val perDoc = spark.read.parquet(store).groupBy("doc_id").count()
      .select("count").distinct().as[Long].collect().toSet
    assert(perDoc == Set(Dedup.Bands.toLong), s"band rows per doc: $perDoc")
    // the streaming-built index answers exactly like the batch face
    val viaIndex = Dedup.incrementalNearDupProbeIndex(spark, Sf, store)
      .as[(Long, Long, Double)].collect().toSet
    val batchFace = Dedup.incrementalNearDup(spark, Sf)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaIndex == batchFace,
      s"index probe diverged: ${viaIndex.size} vs ${batchFace.size} pairs")
  }

  test("writeJdbcInsertIgnore is idempotent against a real JDBC database") {
    // embedded Derby (ships with Spark for the Hive metastore) — a real
    // df.write.jdbc round-trip, the same call shape the README documents
    // for the reference's Postgres target
    val url = "jdbc:derby:memory:graft_sink_spec;create=true"
    val table = "posts"
    def ids = spark.read.jdbc(url, table, new java.util.Properties())
      .select("id").as[Long].collect().sorted.toSeq
    val batch = Seq((1L, "a"), (2L, "b"), (2L, "b2")).toDF("id", "v")
    Sinks.writeJdbcInsertIgnore(batch, url, table, "id")  // creates the table
    assert(ids == Seq(1L, 2L))                            // within-batch dedup
    Sinks.writeJdbcInsertIgnore(batch, url, table, "id")  // re-run: no-op
    assert(ids == Seq(1L, 2L))
    val next = Seq((2L, "dup"), (3L, "c")).toDF("id", "v")
    Sinks.writeJdbcInsertIgnore(next, url, table, "id")   // only the new key
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("overwritePartitionsDynamic replaces only the touched partition; siblings' files untouched") {
    val dir = tempDir("dynover")
    try {
      val init = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 0.0), (4L, "c", 40.0))
        .toDF("id", "p", "v")
      Sinks.writePartitioned(init, dir.toString, Seq("p"))
      def files(p: String) = new java.io.File(s"$dir/p=$p").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
      val aBefore = files("a")
      val cBefore = files("c")
      // repair partition b only
      Sinks.overwritePartitionsDynamic(
        Seq((3L, "b", 30.0)).toDF("id", "p", "v"), dir.toString, Seq("p"))
      // sibling partitions: same files, same mtimes — never rewritten
      assert(files("a") == aBefore && files("c") == cBefore,
        "dynamic overwrite touched sibling partitions")
      // repaired content + survivors all present
      val got = spark.read.parquet(dir.toString)
        .select("id", "v").as[(Long, Double)].collect().toSet
      assert(got == Set((1L, 10.0), (2L, 20.0), (3L, 30.0), (4L, 40.0)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
