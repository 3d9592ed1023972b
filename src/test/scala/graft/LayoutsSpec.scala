package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import graft.operators.{Analytics, Dedup, Layouts}

/** Contracts for the storage-layout faces (operators/Layouts.scala) and the
  * substring-span dedup: the layout changes the PHYSICAL plan (no exchange
  * under a co-bucketed join; pruned partitions in a dated scan), never the
  * answer (each face is value-identical to its plain-scan oracle form).
  */
class LayoutsSpec extends SparkSpecBase {

  private def rootPlan(df: DataFrame) = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case o                        => o
  }

  test("co-bucketed join runs with NO shuffle below the sort-merge join") {
    val df = Layouts.bucketedJoinRevenue(spark, Sf)
    val smj = rootPlan(df).collectFirst { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"no SMJ in bucketed join plan:\n${rootPlan(df)}")
    val shufflesUnderJoin = smj.get.collect { case e: ShuffleExchangeExec => e }
    assert(shufflesUnderJoin.isEmpty,
      s"bucketed join still shuffles:\n${smj.get}")
    // and the answer is the plain-join answer (same oracle as q_salted_join)
    val expected = Analytics.saltedJoinRevenue(spark, Sf)
      .orderBy("o_orderstatus").collect().toSeq
    assert(df.orderBy("o_orderstatus").collect().toSeq == expected,
      "bucketed layout changed the join result")
  }

  test("bucketed q12 lag face: no shuffle below the join, answer layout-independent") {
    val df = Layouts.bucketedShipLag(spark, Sf)
    val smj = rootPlan(df).collectFirst { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"no SMJ in bucketed ship-lag plan:\n${rootPlan(df)}")
    assert(smj.get.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"bucketed ship-lag join still shuffles:\n${smj.get}")
    val expected = graft.operators.RelFaces.shipLagPriority(spark, Sf)
      .orderBy("lag_class").collect().toSeq
    assert(df.orderBy("lag_class").collect().toSeq == expected,
      "bucketed layout changed the q12 result")
  }

  test("date filter prunes whole day-directories from the partitioned scan") {
    val df = Layouts.partitionPrunedDaily(spark, Sf) // 7 of 30 days
    val scan = rootPlan(df).collectFirst { case s: FileSourceScanExec => s }
    assert(scan.nonEmpty, s"no file scan found:\n${rootPlan(df)}")
    assert(scan.get.partitionFilters.nonEmpty,
      s"no partition filters on the scan:\n${scan.get}")
    // the file index must have selected only the 7 in-range day dirs
    val selectedDays = scan.get.relation.location
      .listFiles(scan.get.partitionFilters, Nil).length
    assert(selectedDays == 7, s"expected 7 pruned day-partitions, read $selectedDays")
    assert(df.select(countDistinct(col("event_date"))).head().getLong(0) == 7L)
  }

  test("sketch store: merged estimate gate is live; exact counts match a direct recount") {
    val got = Layouts.sketchStoreChecked(spark, Sf)
      .orderBy("event_type").collect().toSeq
    val direct = Tables.events(spark, Sf)
      .filter(to_date(col("ts")).between(lit("2024-01-08").cast("date"),
        lit("2024-01-21").cast("date")))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type").collect().toSeq
    assert(got.map(r => (r.getString(0), r.getLong(1))) ==
      direct.map(r => (r.getString(0), r.getLong(1))))
    assert(got.forall(_.getBoolean(2)), "within_bound must be literally true")
    // the gate is live: a negative bound is unsatisfiable (relErr >= 0)
    val ex = intercept[Exception] {
      Layouts.sketchStoreChecked(spark, Sf, boundFactor = -1.0).collect()
    }
    assert(ex.getMessage != null)
  }

  test("span inventory: shared spans found, self-repeats don't count as sharing") {
    import spark.implicits._
    val docs = Seq(
      // doc 1 and 2 share an exact 8-token run; doc 3 repeats ITS OWN span
      // twice (must not count as shared); doc 4 is shorter than k
      (1L, "a b c d e f g h tail one"),
      (2L, "prefix a b c d e f g h"),
      (3L, "x x x x x x x x x x x x x x x x"),
      (4L, "too short for any span")
    ).toDF("doc_id", "text")
    val sp = Dedup.spanHashes(docs, 8)
    // doc 4: 0 spans; doc 3: 16 tokens of 'x' → 9 windows, ONE distinct span
    val byDoc = sp.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!byDoc.contains(4L))
    assert(byDoc(3L) == 1L, s"distinct-collapse failed: $byDoc")
    // the shared span between docs 1 and 2 is the only cross-doc one
    val shared = sp.groupBy("span_h").count().filter(col("count") >= 2)
    assert(shared.count() == 1L)
  }

  test("substringDupStats covers every document; counts are consistent") {
    val r = Dedup.substringDupStats(spark, Sf).collect()
    assert(r.length == 500)
    assert(r.forall(row => row.getLong(2) <= row.getLong(1)),
      "n_shared must never exceed n_spans")
    assert(r.exists(_.getLong(2) > 0),
      "testdata dup clusters must surface shared spans")
  }

  test("zValue interleaves bits (known vectors)") {
    // x=3 (011), y=5 (101): bits land at 1+2+4+32 = 39
    val r = spark.range(1)
      .select(Layouts.zValue(lit(3L), lit(5L)).as("a"),
        Layouts.zValue(lit(0L), lit(0L)).as("b"),
        Layouts.zValue(lit(255L), lit(255L)).as("c"))
      .collect()(0)
    assert(r.getLong(0) == 39L && r.getLong(1) == 0L && r.getLong(2) == 65535L)
  }

  test("z-order layout build stamps p_layout_build exactly once (memoized)") {
    // the stamp stays IN the contract clock (the layout build is the
    // face's own work, r18 verdict task 6) and must not re-fire on the
    // memoized second call — the record's number is one build, not N
    graft.BenchPhases.begin("q_zorder_spec_a")
    try Layouts.zOrderBoxQuery(spark, Sf).collect()
    finally graft.BenchPhases.end()
    val first = graft.BenchPhases.snapshot("q_zorder_spec_a").getOrElse(Map.empty)
    graft.BenchPhases.begin("q_zorder_spec_b")
    try Layouts.zOrderBoxQuery(spark, Sf).collect()
    finally graft.BenchPhases.end()
    val second = graft.BenchPhases.snapshot("q_zorder_spec_b").getOrElse(Map.empty)
    // either this test staged the layout (stamp here) or an earlier test
    // already did (no stamp anywhere) — in both cases the SECOND call must
    // not stamp, which is the fires-once property under the WarmState memo
    assert(!second.contains("p_layout_build"),
      s"memoized second call re-stamped the layout build: $second")
    if (first.contains("p_layout_build"))
      assert(first("p_layout_build") > 0.0)
  }

  test("z-order box query: answer is layout-independent, scan skips most files") {
    val df = Layouts.zOrderBoxQuery(spark, Sf)
    val expected = Tables.lineitem(spark, Sf)
      .select(col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey"), lit(256L)).as("zx"),
        pmod(floor(col("l_extendedprice")), lit(256L)).as("zy"))
      .filter(col("zx").between(32, 47) && col("zy").between(96, 111))
      .collect().map(_.toSeq).toSet
    assert(expected.nonEmpty, "test box must be non-empty at sf0.001")
    assert(df.collect().map(_.toSeq).toSet == expected,
      "skipping scan changed the box answer")
  }

  test("z-layout bounds BOTH dimensions: a y-band query skips files a single-column sort cannot") {
    // stage both layouts over the same projection
    val base = Tables.lineitem(spark, Sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"))
      .withColumn("zx", pmod(col("l_partkey"), lit(256L)))
      .withColumn("zy", pmod(floor(col("l_extendedprice")), lit(256L)))
    val total = base.count()
    val nf = Layouts.zFilesFor(total)
    val rowsPerFile = math.max(1L, (total + nf - 1) / nf)
    val zDir = tempDir("z_test")
    val xDir = tempDir("x_test")
    try {
      graft.sources.Sinks.writeCompacted(
        base.withColumn("zv", Layouts.zValue(col("zx"), col("zy"))),
        zDir.toString, "zv", rowsPerFile, total)
      graft.sources.Sinks.writeCompacted(base, xDir.toString, "zx",
        rowsPerFile, total)
      // 2-D box: the z layout reads a small corner of the file set
      val (_, zBoxRead, zTotal) =
        Layouts.zSkippingScan(spark, zDir.toString, 32, 47, 96, 111)
      assert(zBoxRead <= zTotal / 4,
        s"z layout box read $zBoxRead of $zTotal files — no skipping")
      // y-band only (x unconstrained): z still bounds y per file; the
      // x-sorted layout has useless y stats and reads ~everything
      val (zRes, zBandRead, _) =
        Layouts.zSkippingScan(spark, zDir.toString, 0, 255, 96, 111)
      val (xRes, xBandRead, xTotal) =
        Layouts.zSkippingScan(spark, xDir.toString, 0, 255, 96, 111)
      assert(zBandRead <= zTotal / 2,
        s"z layout y-band read $zBandRead of $zTotal files")
      assert(xBandRead > xTotal * 3 / 4,
        s"x-sorted layout unexpectedly skipped on y: $xBandRead of $xTotal")
      // both layouts agree with each other on the answer
      assert(zRes.collect().map(_.toSeq).toSet == xRes.collect().map(_.toSeq).toSet)
    } finally {
      Seq(zDir, xDir).foreach { p =>
        org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
      }
    }
  }

  test("purge: only partitions containing the user are rewritten; erasure complete") {
    val src = Tables.events(spark, Sf)
    val userDays = src.filter(col("user_id") === Layouts.PurgeUser)
      .select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0).toString).toSet
    val allDays = src.select(to_date(col("ts")).as("d")).distinct()
      .collect().map(_.getDate(0).toString).toSet
    assert(userDays.nonEmpty && (allDays -- userDays).nonEmpty,
      "fixture must have both touched and untouched days")
    val dir = Layouts.purgedEventsPath(spark, Sf)
    def mtimes(day: String) = new java.io.File(s"$dir/event_date=$day")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    // the staged path runs write-then-purge inside one call, so untouched
    // days' files must predate every affected day's rewrite
    val untouchedMax = (allDays -- userDays).flatMap(d => mtimes(d).values).max
    val rewrittenMin = userDays.flatMap(d => mtimes(d).values).min
    assert(untouchedMax <= rewrittenMin,
      "a partition without the purged user was rewritten")
    // complete erasure, nobody else lost
    val purged = spark.read.parquet(dir)
    assert(purged.filter(col("user_id") === Layouts.PurgeUser).isEmpty)
    assert(purged.count() ==
      src.filter(col("user_id") =!= Layouts.PurgeUser).count())
  }

  test("purge: a sole-writer partition is deleted, not silently left behind") {
    import spark.implicits._
    val dir = tempDir("purge_sole")
    try {
      // day1: users 7+8 (rewrite), day2: ONLY user 7 (must be deleted —
      // a dynamic overwrite cannot express an empty partition), day3:
      // user 9 (untouched)
      val ev = Seq(
        (1L, "2024-01-01", 7L, 1.0), (2L, "2024-01-01", 8L, 2.0),
        (3L, "2024-01-02", 7L, 3.0), (4L, "2024-01-02", 7L, 4.0),
        (5L, "2024-01-03", 9L, 5.0))
        .toDF("event_id", "day", "user_id", "value")
        .select(col("event_id"), col("day").cast("date").as("event_date"),
          col("user_id"), col("value"))
      graft.sources.Sinks.writePartitioned(ev, dir.toString, Seq("event_date"))
      val d3Before = new java.io.File(s"$dir/event_date=2024-01-03")
        .listFiles().map(f => f.getName -> f.lastModified).toMap
      Layouts.purgeUserInPlace(spark, dir.toString, 7L)
      assert(!new java.io.File(s"$dir/event_date=2024-01-02").exists(),
        "sole-writer partition survived the purge")
      val got = spark.read.parquet(dir.toString)
        .select("event_id", "user_id").as[(Long, Long)].collect().toSet
      assert(got == Set((2L, 8L), (5L, 9L)), s"wrong survivors: $got")
      assert(new java.io.File(s"$dir/event_date=2024-01-03")
        .listFiles().map(f => f.getName -> f.lastModified).toMap == d3Before,
        "untouched partition was rewritten")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("compaction: 64-file spray collapses to the byte-targeted count, rows intact") {
    val (small, compacted) = Layouts.compactionDirs(spark, Sf)
    assert(Layouts.parquetFileCount(small) == 64,
      s"staged small layout has ${Layouts.parquetFileCount(small)} files")
    val expected = math.max(1L,
      (Layouts.parquetBytes(small) + Layouts.CompactTargetBytes - 1) /
        Layouts.CompactTargetBytes).toInt
    assert(Layouts.parquetFileCount(compacted) == expected,
      s"compacted count ${Layouts.parquetFileCount(compacted)} != target $expected")
    // lossless: row count and key set survive the rewrite
    assert(spark.read.parquet(compacted).count() ==
      Tables.events(spark, Sf).count())
  }
}
