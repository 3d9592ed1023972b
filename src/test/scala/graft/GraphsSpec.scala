package graft

import graft.operators.Graphs
import org.apache.spark.sql.functions._

/** Pins [[Graphs.triangleCountEdges]] on handcrafted graphs and checks the
  * degree-ordered node-iterator against a naive triple join (a different
  * algorithm) on the real co-order graph.
  */
class GraphsSpec extends SparkSpecBase {
  import spark.implicits._

  private def count(edges: Seq[(Long, Long)],
      broadcastMaxEdges: Long = Graphs.BroadcastRowCap,
      sketchWedgeFactor: Long = Graphs.SketchWedgeFactor): Long =
    Graphs.triangleCountEdges(edges.toDF("u", "v"),
      broadcastMaxEdges, sketchWedgeFactor).head().getLong(0)

  test("handcrafted graphs: K4 has 4 triangles, a path none, pendant adds none") {
    // K4 on {1,2,3,4}: C(4,3) = 4 triangles
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(count(k4) == 4L)
    // path 1-2-3-4: wedges but no closures
    assert(count(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == 0L)
    // triangle {1,2,3} + pendant 4: exactly one
    assert(count(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))) == 1L)
  }

  test("triangle edge-iterator cap: cluster-safe default, conf-overridable") {
    assert(Graphs.broadcastMaxEdgesFor(spark) == Graphs.BroadcastRowCap)
    spark.conf.set("spark.graft.triangle.broadcastMaxEdges", "123")
    try assert(Graphs.broadcastMaxEdgesFor(spark) == 123L)
    finally spark.conf.unset("spark.graft.triangle.broadcastMaxEdges")
  }

  test("graft_sorted_intersect_n equals size(array_intersect) on sorted distinct arrays") {
    // the codegen'd two-pointer merge the broadcast triangle path counts
    // with (r12) must agree with Spark's set-based intersect on every
    // sorted-distinct input shape, including empty and disjoint sides
    val df = spark.range(500).select(
      expr("array_sort(array_distinct(transform(sequence(0, CAST(id % 17 AS INT)), " +
        "i -> (id * 7 + i * 13) % 50)))").as("a"),
      expr("array_sort(array_distinct(transform(sequence(0, CAST(id % 23 AS INT)), " +
        "i -> (id * 11 + i * 5) % 50)))").as("b"))
    val bad = df.filter(
      call_function("graft_sorted_intersect_n", col("a"), col("b")) =!=
        size(array_intersect(col("a"), col("b"))).cast("long")).count()
    assert(bad == 0L)
    val edge = spark.sql(
      """SELECT
        |  graft_sorted_intersect_n(CAST(array() AS ARRAY<BIGINT>), array(1L, 2L)) AS e1,
        |  graft_sorted_intersect_n(array(1L, 2L, 3L), array(1L, 2L, 3L)) AS e2,
        |  graft_sorted_intersect_n(array(1L, 3L, 5L), array(2L, 4L, 6L)) AS e3,
        |  graft_sorted_intersect_n(array(1L, 9L), CAST(NULL AS ARRAY<BIGINT>)) AS e4
        |""".stripMargin).head()
    assert(edge.getLong(0) == 0L && edge.getLong(1) == 3L && edge.getLong(2) == 0L)
    assert(edge.isNullAt(3))
  }

  test("graft_sorted_intersect_n keeps set semantics on sorted inputs WITH duplicates") {
    // r12 ADVICE: the function is session-wide SQL surface, so sorted
    // inputs with duplicate runs must match size(array_intersect)'s set
    // semantics (each distinct common value once), not count pair steps —
    // [1,1]∩[1,1] is 1, not 2
    val edge = spark.sql(
      """SELECT
        |  graft_sorted_intersect_n(array(1L, 1L), array(1L, 1L)) AS d1,
        |  graft_sorted_intersect_n(array(1L, 1L, 2L, 2L, 2L, 3L), array(1L, 2L, 2L, 4L)) AS d2,
        |  graft_sorted_intersect_n(array(5L, 5L, 5L), array(5L)) AS d3
        |""".stripMargin).head()
    assert(edge.getLong(0) == 1L && edge.getLong(1) == 2L && edge.getLong(2) == 1L)
    // property form: sorted-but-NOT-distinct generated arrays agree with
    // array_intersect everywhere
    val df = spark.range(500).select(
      expr("array_sort(transform(sequence(0, CAST(id % 17 AS INT)), " +
        "i -> (id * 7 + i * 13) % 20))").as("a"),
      expr("array_sort(transform(sequence(0, CAST(id % 23 AS INT)), " +
        "i -> (id * 11 + i * 5) % 20))").as("b"))
    val bad = df.filter(
      call_function("graft_sorted_intersect_n", col("a"), col("b")) =!=
        size(array_intersect(col("a"), col("b"))).cast("long")).count()
    assert(bad == 0L)
    // null ELEMENTS (r13 review): array_intersect treats null as a value,
    // so array_sort-ed inputs with null tails must agree too
    val nulls = spark.sql(
      """SELECT
        |  graft_sorted_intersect_n(array_sort(array(1L, CAST(NULL AS BIGINT))),
        |                           array_sort(array(CAST(NULL AS BIGINT)))) AS n1,
        |  graft_sorted_intersect_n(array(1L), array(CAST(NULL AS BIGINT))) AS n2,
        |  graft_sorted_intersect_n(array_sort(array(NULL, 1L, 2L)),
        |                           array_sort(array(NULL, NULL, 2L))) AS n3,
        |  graft_sorted_intersect_n(CAST(array(NULL) AS ARRAY<BIGINT>),
        |                           CAST(array(NULL) AS ARRAY<BIGINT>)) AS n4
        |""".stripMargin).head()
    // [1,null]∩[null]={null}, [1]∩[null]={}, [null,1,2]∩[null,null,2]={2,null}
    assert(nulls.getLong(0) == 1L && nulls.getLong(1) == 0L &&
      nulls.getLong(2) == 2L && nulls.getLong(3) == 1L)
    // and the registry usage string carries the sorted-input precondition
    val usage = spark.sessionState.catalog
      .lookupFunctionInfo(org.apache.spark.sql.catalyst.FunctionIdentifier(
        "graft_sorted_intersect_n")).getUsage
    assert(usage != null && usage.contains("sorted"),
      s"precondition missing from usage string: $usage")
  }

  test("all three gate paths agree: broadcast, plain-shuffle, Bloom-pruned") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(count(k4) == 4L)                                   // m ≤ cap: broadcast
    assert(count(k4, broadcastMaxEdges = 0,
      sketchWedgeFactor = Long.MaxValue / 8) == 4L)           // dense-but-sparse: plain
    assert(count(k4, broadcastMaxEdges = 0,
      sketchWedgeFactor = 0) == 4L)                           // forced sketch file
  }

  test("forced sketch path leaves the session's runtime bloom caps as it found them") {
    // the sketch raises Spark's runtime-filter caps to its own size for the
    // build only; a later face must plan under the caps the session set
    val key = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    spark.conf.set(key, "1")
    try {
      assert(count(k4, broadcastMaxEdges = 0, sketchWedgeFactor = 0) == 4L)
      assert(spark.conf.get(key) == "1", "the sketch build leaked its cap")
    } finally spark.conf.unset(key)
  }

  test("approx triangle: p=1 degenerates to exact, estimate deterministic and near exact") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    // invPLog2 = 0 ⇒ keep-bound 2^60 > any md5 prefix ⇒ every edge kept,
    // scale 1 ⇒ the estimator IS the exact count
    val full = Graphs.triangleCountApproxEdges(k4.toDF("u", "v"), 0).head()
    assert(full.getLong(0) == 4L && full.getLong(1) == 4L)
    // the real co-order graph at p=1/4: deterministic across runs, unbiased
    // enough to land within ±20% of exact here (measured −3%; the loose
    // band keeps the assertion about the MECHANISM, not this dataset)
    val exact = Graphs.triangleCount(spark, Sf).head().getLong(0)
    val a1 = Graphs.triangleCountApprox(spark, Sf).head()
    val a2 = Graphs.triangleCountApprox(spark, Sf).head()
    assert(a1.getLong(0) == a2.getLong(0), "sampling not deterministic")
    assert(a1.getBoolean(2), s"sample_ok false: n_sampled=${a1.getLong(1)}")
    val est = a1.getLong(0).toDouble
    assert(math.abs(est - exact) / exact <= 0.2,
      s"estimate $est vs exact $exact out of band")
    // the estimator arithmetic: est = n_sampled * 64 at p = 1/4
    assert(a1.getLong(0) == a1.getLong(1) * 64)
  }

  test("fixed-point pageRank: hand-computed ranks on the path graph 1-2-3") {
    val S = Graphs.RankScale
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("u", "v")
    def ranks(iters: Int): Map[Long, Long] =
      Graphs.pageRankEdges(edges, iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter 1: node 2 receives S/1 from each end; nodes 1,3 receive S/2
    val base = S * 15L / 100L
    val r1 = Map(
      1L -> (base + 17L * (S / 2) / 20L),
      2L -> (base + 17L * (S + S) / 20L),
      3L -> (base + 17L * (S / 2) / 20L))
    assert(ranks(1) == r1)
    // iter 2: recompute from r1 with the same integer formula
    val r2mid = base + 17L * (r1(1L) + r1(3L)) / 20L
    val r2end = base + 17L * (r1(2L) / 2) / 20L
    assert(ranks(2) == Map(1L -> r2end, 2L -> r2mid, 3L -> r2end))
  }

  test("pageRankScale: derived from node count, overflow-safe, fail-fast floor") {
    // small graphs keep the full 10^12 precision
    assert(Graphs.pageRankScale(3L) == Graphs.RankScale)
    // 600k nodes with the old fixed 10^12 scale would put 17·n·S at
    // 1.02e19 > 2^63 — the derivation drops one decade instead
    assert(Graphs.pageRankScale(600001L) == 100000000000L)
    assert(BigInt(17) * 600001L * Graphs.pageRankScale(600001L) < (BigInt(1) << 62))
    // beyond ~2.7e13 nodes integer ranks are meaningless: actionable error
    assertThrows[IllegalArgumentException](Graphs.pageRankScale(30000000000000L))
  }

  test("pageRank at a node count that overflowed the old fixed scale") {
    // star K(1,n): every leaf contributes its whole rank to hub 0, the
    // worst-case single-node fan-in the 17·n·S bound is about. n is chosen
    // so the round-5 code (S pinned at 10^12) would wrap 17·Σcontrib
    // negative; the derived S = 10^11 must keep every rank positive and
    // exactly equal to the hand-computed integer formula.
    val n = 600000L
    val edges = spark.range(1, n + 1).select(lit(0L).as("u"), col("id").as("v"))
    val ranks = Graphs.pageRankEdges(edges, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val S = Graphs.pageRankScale(n + 1)
    val base = S * 15L / 100L
    val hub = base + 17L * (n * S) / 20L         // n leaves send S div 1 each
    val leaf = base + 17L * (S / n) / 20L        // hub splits S over n edges
    assert(ranks(0L) == hub && hub > 0L)
    assert(ranks(1L) == leaf && ranks(n) == leaf)
    assert(ranks.size == n.toInt + 1 && ranks.values.forall(_ > 0L))
  }

  test("forced sketch path: bytes stay in storage, out of plan AND driver") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val edges = Graphs.coOrderEdges(spark, Sf)
    // force the dense path so the sketch actually builds at spec scale
    val df = Graphs.triangleCountEdges(edges,
      broadcastMaxEdges = 0, sketchWedgeFactor = 0)
    val bigBinaryLits = df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.flatMap(_.collect {
        case l: Literal if l.dataType == BinaryType &&
          l.value != null && l.value.asInstanceOf[Array[Byte]].length > 1024 => l
      })
    }.flatten
    assert(bigBinaryLits.isEmpty,
      s"sketch bytes leaked into plan literals: ${bigBinaryLits.size}")
    // the plan carries only the sketch's storage PATH (executors read the
    // bytes themselves via BloomFileCache); no ScalarSubquery collects them
    val planStr = df.queryExecution.optimizedPlan.toString
    assert(planStr.contains("graft_bloom_might_file"),
      s"expected the file-backed probe in the plan:\n$planStr")
    assert(!planStr.contains("scalar-subquery"),
      s"sketch must not ride a driver-collected scalar subquery:\n$planStr")
    // and the file-backed prune still yields the exact count (vs broadcast
    // path)
    val got = df.head().getLong(0)
    val expected = Graphs.triangleCountEdges(edges).head().getLong(0)
    assert(got == expected && expected > 0L)
  }

  test("degree-ordered count equals the naive triple join on the co-order graph") {
    val edges = Graphs.coOrderEdges(spark, Sf).cache()
    try {
      val fast = Graphs.triangleCountEdges(edges).head().getLong(0)
      val e1 = edges.select(col("u").as("a"), col("v").as("b"))
      val e2 = edges.select(col("u").as("b"), col("v").as("c"))
      val e3 = edges.select(col("u").as("a"), col("v").as("c"))
      val naive = e1.join(e2, "b").join(e3, Seq("a", "c")).count()
      assert(fast == naive && fast > 0L)
    } finally edges.unpersist()
  }

  test("heavy-pair face: output counts are EXACT and the re-count scan is IN-pruned") {
    // the approximate face may MISS heavy pairs (the recall face owns that
    // number); what it must never do is report a wrong count for a pair it
    // returns — exactness of survivors is what makes it oracle-checkable
    val approx = Graphs.coOrderHeavyTopK(spark, Sf)
    val exact = Graphs.coOrderTopK(spark, Sf, k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val rows = approx.collect()
    assert(rows.nonEmpty, "sampled candidate stage found nothing at spec scale")
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(exact.get(key).contains(r.getLong(2)),
        s"pair $key: approx count ${r.getLong(2)} != exact ${exact.get(key)}")
    }
    // the re-count must read a part-restricted scan, not the full fact:
    // the candidate part keys arrive at the parquet scan as a pushed In.
    // r20: the face CHECKPOINTS the incidence table (it feeds both self-
    // join sides, so materializing once halves the corpus passes), which
    // truncates the face's own executed plan to an ExistingRDD scan — the
    // pushdown is pinned on the factored incidence subtree the face
    // materializes, built here with the face's own candidate keys
    val keys = Graphs.heavyPairCandidates(spark, Sf,
        Graphs.HeavyPairSampleMod, Graphs.HeavyPairCandidates)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.toSeq
    val plan = Graphs.heavyPairIncidence(spark, Sf, keys)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(l_partkey"),
      s"candidate part keys not pushed to the re-count scan:\n$plan")
  }

  test("heavy-pair face degenerates to the exact face at sample rate 1") {
    // sampleMod = 1 samples every basket, so the candidate stage sees true
    // counts and (given a candidate pool >= the distinct pair count at
    // spec scale... bounded instead by pool >= k with true ordering) the
    // re-counted top-k must equal the exact top-k row for row — the
    // structural anchor that the approximation IS sampling, nothing else
    val k = 10
    val exact = Graphs.coOrderTopK(spark, Sf, k).collect().map(_.toSeq).toSeq
    val degenerate = Graphs.coOrderHeavyTopK(spark, Sf, k, sampleMod = 1,
      candidates = 100).collect().map(_.toSeq).toSeq
    assert(degenerate === exact,
      s"rate-1 sampling diverged from the exact face:\n$degenerate\nvs\n$exact")
  }

  test("heavy-pair recall sweep: per-mod rows partition the pair set; rate 1 anchors the pool cap") {
    val recall = Graphs.coOrderHeavyRecall(spark, Sf).collect()
      .map(r => (r.getAs[Int]("sample_mod"), r.getAs[Long]("n_orders"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_cand"),
        r.getAs[Double]("recall")))
    val exactPairs = Graphs.coOrderTopK(spark, Sf, k = Int.MaxValue).count()
    assert(recall.map(_._1).distinct.sorted.toSeq === Graphs.HeavyPairSweepMods.sorted)
    recall.groupBy(_._1).foreach { case (mod, rows) =>
      assert(rows.map(_._3).sum === exactPairs,
        s"mod $mod: recall bands must partition the pair set")
      assert(rows.map(_._4).sum <= Graphs.HeavyPairCandidates,
        s"mod $mod: candidate stage leaked past its pool bound")
      rows.foreach { case (_, _, nPairs, nCand, rec) =>
        assert(rec >= 0.0 && rec <= 1.0 && nCand <= nPairs)
      }
    }
    // the no-sampling anchor: at mod = 1 the candidate stage ranks TRUE
    // counts, so counting down from the heaviest band, every band that
    // fits inside the pool must be FULLY recalled — recall below 1.0 at
    // rate 1 can only be the pool cap, never sampling
    val anchor = recall.filter(_._1 == 1).sortBy(-_._2)
    var cum = 0L
    anchor.foreach { case (_, n, nPairs, nCand, _) =>
      if (cum + nPairs <= Graphs.HeavyPairCandidates)
        assert(nCand === nPairs, s"rate-1 pool had room for count=$n but missed pairs")
      cum += nPairs
    }
  }

  // ---- heavy-pair regime gate (r14 verdict task 4) ------------------------

  /** A lineitem-shaped frame: `hotOrders` baskets all containing the pair
    * (1, 2) — a Zipfian head — plus every basket carrying one unique filler
    * part so the field also has a uniform tail.
    */
  private def basketField(nOrders: Long, hotOrders: Long) = {
    val base = spark.range(nOrders).select(col("id").as("l_orderkey"),
      (col("id") + 1000000L).as("l_partkey"))
    val hotA = spark.range(hotOrders).select(col("id").as("l_orderkey"),
      lit(1L).as("l_partkey"))
    val hotB = spark.range(hotOrders).select(col("id").as("l_orderkey"),
      lit(2L).as("l_partkey"))
    base.unionAll(hotA).unionAll(hotB)
  }

  test("regime gate, Zipfian field: probe detects the heavy pair and picks a deep rate") {
    // 3200 baskets, the first 1600 all containing pair (1,2): true support
    // 1600, probe (1/16 of baskets) sees exactly 100 sampled hits
    val row = Graphs.heavyPairRegimeOf(basketField(3200, 1600),
      Graphs.RegimeProbeMod).head()
    val maxSampled = row.getAs[Long]("max_sampled")
    val chosen = row.getAs[Long]("chosen_mod")
    assert(maxSampled === 100L) // 1600 hot baskets, every 16th sampled
    assert(row.getAs[Boolean]("is_heavy"))
    assert(row.getAs[Long]("n_detectable") === 1L) // only (1,2) clears DetectMin
    assert(row.getAs[Long]("est_max_count") === 1600L)
    // the chooser must pick the DEEPEST ladder rate that still leaves the
    // top band >= RegimeDetectTarget expected sampled hits: est/mod >= 16
    // holds at 64 (1600/64 = 25) and fails at 128 (12.5)
    assert(chosen === 64L)
    assert(1600L / chosen >= Graphs.RegimeDetectTarget)
  }

  test("regime gate, uniform field: no demonstrable heavy pair, exact fallback") {
    // every pair unique (each basket = one filler + nothing shared):
    // sampled supports are 0 everywhere -> chosen_mod = 1
    val uniform = basketField(3200, 0)
    val row = Graphs.heavyPairRegimeOf(uniform, Graphs.RegimeProbeMod).head()
    assert(!row.getAs[Boolean]("is_heavy"))
    assert(row.getAs[Long]("chosen_mod") === 1L)
    // and the REAL sf field is the same regime: the auto face must emit
    // exactly the exact face's rows (the production fallback path)
    val regime = Graphs.heavyPairRegime(spark, Sf).head()
    assert(regime.getAs[Long]("chosen_mod") === 1L,
      s"spec-scale field unexpectedly heavy: $regime")
    val auto = Graphs.coOrderHeavyTopKAuto(spark, Sf).collect().map(_.toSeq).toSeq
    val exact = Graphs.coOrderTopK(spark, Sf).collect().map(_.toSeq).toSeq
    assert(auto === exact, "auto face diverged from the exact fallback")
  }

  // ---- wedge-shuffle spill budget (r14 verdict task 3) ---------------------

  test("spill gate: a forced-shuffle wedge count over budget fails fast with sizing") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    spark.conf.set(Graphs.ScratchConfKey, "1")
    try {
      val e = intercept[Graphs.WedgeSpillBudgetExceeded] {
        Graphs.triangleCountEdges(k4.toDF("u", "v"), broadcastMaxEdges = 0L)
          .head()
      }
      assert(e.availableBytes === 1L)
      assert(e.predictedBytes > 0L && e.nEdges === 6L)
      // the sizing line must survive Bench's 300-char error truncation
      val msg = e.toString.take(300)
      assert(msg.contains("predicted=") && msg.contains("available=1B"),
        s"sizing numbers truncated out of the artifact line: $msg")
    } finally spark.conf.unset(Graphs.ScratchConfKey)
  }

  test("exact-wedge admission gate: over-budget exact count refuses with sizing, as a DesignedRefusal") {
    // K4 oriented by (degree, id): outdegs 3/2/1/0 -> wedge volume 3+1 = 4
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val e = intercept[Graphs.TriangleWedgeBudgetExceeded] {
      Graphs.triangleCountEdges(k4.toDF("u", "v"), maxWedges = 3L).head()
    }
    assert(e.nWedges === 4L && e.maxWedges === 3L && e.nEdges === 6L)
    assert(e.isInstanceOf[graft.DesignedRefusal],
      "the admission gate must route to the artifact's refused field")
    val msg = e.toString.take(300)
    assert(msg.contains("wedges=4") && msg.contains("budget=3"),
      s"sizing must survive Bench's truncation: $msg")
    // at the budget boundary the exact count ADMITS
    assert(Graphs.triangleCountEdges(k4.toDF("u", "v"), maxWedges = 4L)
      .head().getLong(0) === 4L)
  }

  test("triangle regime chooser: integer ladder, exact within budget, smallest admissible ip past it") {
    assert(Graphs.chooseTriangleIp(0L, 100L) === 0)
    assert(Graphs.chooseTriangleIp(100L, 100L) === 0)
    assert(Graphs.chooseTriangleIp(101L, 100L) === 2,  // 101 <= 100*16
      "first rung past the budget is ip=2 (DOULION floor)")
    assert(Graphs.chooseTriangleIp(1601L, 100L) === 3) // > 100*16, <= 100*64
    assert(Graphs.chooseTriangleIp(Long.MaxValue / 2, 100L) === 8,
      "ladder caps at ip=8")
    // the 100x record's measured shape: 268.3B wedges over the 2e10 default
    assert(Graphs.chooseTriangleIp(268300000000L,
      Graphs.DefaultMaxExactWedges) === 2)
  }

  test("auto face: exact regime within budget, sampled regime past it, consistent quality fields") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val ex = Graphs.triangleCountAutoEdges(k4.toDF("u", "v"),
      Graphs.BroadcastRowCap, maxExact = 1000L).head()
    assert(ex.getLong(0) === 4L)                 // n_wedges
    assert(ex.getString(1) === "exact")
    assert(ex.getLong(2) === 0L)                 // inv_p_log2
    assert(ex.getLong(3) === 4L && ex.getLong(4) === 4L)
    assert(ex.getBoolean(5))
    val sm = Graphs.triangleCountAutoEdges(k4.toDF("u", "v"),
      Graphs.BroadcastRowCap, maxExact = 1L).head()
    assert(sm.getString(1) === "sampled")
    assert(sm.getLong(2) === 2L, "4 wedges over budget 1 -> first rung ip=2")
    assert(sm.getLong(3) === sm.getLong(4) * 64L,
      "estimate = n_sampled * (1/p)^3 at p=1/4")
    assert(sm.getBoolean(5) === (sm.getLong(4) >= Graphs.ApproxMinSampled))
    // DOULION error bar (r17 verdict task 4): exact branch is not an
    // estimate (0); sampled branch carries the 1/sqrt(n) integer bar
    assert(ex.getAs[Long]("rel_err_pct") === 0L)
    assert(sm.getAs[Long]("rel_err_pct") ===
      Graphs.triangleRelErrPct(sm.getLong(4)))
  }

  test("DOULION error bar: smallest integer e with e^2*n >= 100^2, n=0 caps at 100") {
    assert(Graphs.triangleRelErrPct(0L) === 100L)
    assert(Graphs.triangleRelErrPct(1L) === 100L)   // 100/sqrt(1)
    assert(Graphs.triangleRelErrPct(4L) === 50L)    // exact square
    assert(Graphs.triangleRelErrPct(25L) === 20L)   // the sample_ok floor
    assert(Graphs.triangleRelErrPct(26L) === 20L)   // ceil, not round
    assert(Graphs.triangleRelErrPct(101L) === 10L)  // 100/sqrt(101)=9.95 -> 10
    assert(Graphs.triangleRelErrPct(10000L) === 1L)
    assert(Graphs.triangleRelErrPct(Long.MaxValue / 2) === 1L,
      "huge n must not overflow the integer ladder")
  }

  test("wedge-stat memo: a later exact face refuses from the staged sizing without rebuilding") {
    // the auto face measures (m, wedges) under a statsKey; the exact face
    // with the SAME key and a tight budget must refuse IMMEDIATELY — pinned
    // by handing it an edge frame whose evaluation would throw, which the
    // memoized fast path never triggers (r17 verdict task 5)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val key = "graphs-spec-memo-" + System.nanoTime()
    try {
      Graphs.triangleCountAutoEdges(k4.toDF("u", "v"),
        Graphs.BroadcastRowCap, maxExact = 1000L, statsKey = Some(key)).head()
      val poisoned = spark.range(1)
        .select((lit(1L) / col("id")).cast("long").as("u"), col("id").as("v"))
        .filter(expr("assert_true(false)").isNull)
      val e = intercept[Graphs.TriangleWedgeBudgetExceeded] {
        Graphs.triangleCountEdges(poisoned, maxWedges = 3L,
          statsKey = Some(key)).head()
      }
      assert(e.nWedges === 4L && e.maxWedges === 3L && e.nEdges === 6L,
        "refusal must carry the MEMOIZED sizing")
      // cold-rerun uniformity: after the WarmState reset the memo is gone
      // and the same call measures the real frame again
      graft.WarmState.resetForColdRerun()
      assert(Graphs.triangleCountEdges(k4.toDF("u", "v"), maxWedges = 4L,
        statsKey = Some(key)).head().getLong(0) === 4L)
    } finally graft.WarmState.resetForColdRerun()
  }

  test("auto path runs the chooser's rate with escalation OFF: spill refusal surfaces, sized") {
    // maxRaises = 0 (the auto face's contract, r17 ADVICE): a spill-gated
    // chooser rate must RETHROW instead of silently raising ip past what
    // inv_p_log2 and the oracle replay
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    spark.conf.set(Graphs.ScratchConfKey, "1")
    spark.conf.set("spark.graft.triangle.broadcastMaxEdges", "0")
    try {
      val e = intercept[Graphs.WedgeSpillBudgetExceeded] {
        Graphs.triangleCountApproxEdges(k4.toDF("u", "v"), invPLog2 = 0,
          maxRaises = 0).head()
      }
      assert(e.isInstanceOf[graft.DesignedRefusal])
    } finally {
      spark.conf.unset(Graphs.ScratchConfKey)
      spark.conf.unset("spark.graft.triangle.broadcastMaxEdges")
    }
  }

  test("scratch probe: two local dirs on one filesystem count its space ONCE") {
    // r15 ADVICE: .distinct deduped path STRINGS, so two dirs on the same
    // filesystem each contributed that filesystem's full free space and the
    // gate's budget doubled — under-refusing exactly on multi-dir configs.
    val a = java.nio.file.Files.createTempDirectory("graft-scratch-a")
    val b = java.nio.file.Files.createTempDirectory("graft-scratch-b")
    try {
      val one = Graphs.scratchBytesOfDirs(a.toString)
      val two = Graphs.scratchBytesOfDirs(s"$a,$b")
      // same FileStore → deduped to one contribution (free space can move a
      // little between the probes; assert "far below 2x", not equality)
      assert(two < one * 3 / 2, s"double-counted: one=$one two=$two")
      assert(two > one / 2, s"dedup dropped the store entirely: one=$one two=$two")
    } finally {
      java.nio.file.Files.deleteIfExists(a)
      java.nio.file.Files.deleteIfExists(b)
    }
  }

  test("spill gate: the approx face escalates invPLog2 until the budget admits it") {
    // complete graph K14 (91 edges): big enough that the md5 edge sample
    // shrinks strictly between p=1/4 and p=1/8
    val nodes = 1L to 14L
    val kN = for (u <- nodes; v <- nodes if u < v) yield (u, v)
    val df = kN.toDF("u", "v")
    def sampledAt(ip: Int) = df.filter(
      call_function("graft_hex15",
        md5(concat(lit("tri:"), col("u").cast("string"), lit(","),
          col("v").cast("string")))) < lit(1L << (60 - ip)))
    // measured (m, wedges) of each sampled subgraph, computed independently
    // of the production code: orient by (degree, id) and sum C(outdeg, 2)
    def stats(edges: Seq[(Long, Long)]): (Long, Long) = {
      val deg = edges.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val srcs = edges.map { case (u, v) =>
        if (Ordering[(Long, Long)].lt((deg(u), u), (deg(v), v))) u else v }
      val od = srcs.groupBy(identity).view.mapValues(_.size.toLong)
      (edges.size.toLong, od.values.map(d => d * (d - 1) / 2).sum)
    }
    def collectEdges(ip: Int) =
      sampledAt(ip).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (m2, w2) = stats(collectEdges(2))
    val (m3, w3) = stats(collectEdges(3))
    val p2 = Graphs.predictedWedgeSpillBytes(m2, w2, bloomPruned = w2 > 8 * m2)
    val p3 = Graphs.predictedWedgeSpillBytes(m3, w3, bloomPruned = w3 > 8 * m3)
    assert(p3 < p2, s"degenerate fixture: sampled spill must shrink ($p3 vs $p2)")
    // scratch sized so p=1/4 is REFUSED and p=1/8 admitted
    val scratch = math.ceil(p3 / Graphs.ScratchFraction).toLong + 1
    assert(p2 > scratch * Graphs.ScratchFraction)
    spark.conf.set(Graphs.ScratchConfKey, scratch.toString)
    spark.conf.set("spark.graft.triangle.broadcastMaxEdges", "0") // force shuffle
    try {
      val row = Graphs.triangleCountApproxEdges(df, invPLog2 = 2).head()
      // the count must be the exact count of the ip=3 subgraph scaled by
      // (2^3)^3 — proving the face completed AT THE ESCALATED RATE
      val expected = Graphs.triangleCountEdges(collectEdges(3).toDF("u", "v"))
        .head().getLong(0)
      assert(row.getAs[Long]("est_triangles") === expected * 512L)
      assert(row.getAs[Long]("n_sampled") === expected)
    } finally {
      spark.conf.unset(Graphs.ScratchConfKey)
      spark.conf.unset("spark.graft.triangle.broadcastMaxEdges")
    }
  }
}
