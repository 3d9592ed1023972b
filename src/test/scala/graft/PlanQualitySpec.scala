package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan contracts for the headline queries — the properties that
  * decide whether a plan survives a 100 TB scale-up: filters and projections
  * reaching the parquet scan, dimension joins broadcasting, order+limit
  * fusing to TakeOrderedAndProject, aggregates running partial-then-final.
  * These assertions are why ".explain and iterate" results stay locked in.
  */
class PlanQualitySpec extends SparkSpecBase {

  private def plan(df: DataFrame): String = {
    val executed = df.queryExecution.executedPlan
    val p = executed match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other                    => other.toString
    }
    p + "\n" + df.queryExecution.optimizedPlan.toString
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, Sf)

  test("date-window scan pushes the range predicate into the parquet scan") {
    val p = plan(q("q_yesterday_post_ids"))
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("LessThan(o_orderdate"), s"range not pushed:\n$p")
  }

  test("scans read only the columns the query needs") {
    val p = plan(q("q_yesterday_post_ids"))
    // 2 of 6 orders columns → ReadSchema must not contain the rest
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp_ntz>"),
      s"column pruning failed:\n$p")
    // q18-class: the quantity rollup side reads exactly (orderkey, quantity)
    val p18 = plan(q("q_large_orders"))
    assert(p18.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"large-orders aggregate scan not pruned:\n$p18")
    // skyline reads exactly the two trade-off columns on the per-price side
    // (ReadSchema lists columns in FILE order: quantity before price).
    // r20: the face CHECKPOINTS the per-price table (it feeds both the
    // running-max window and the per-bucket maxima), so the pruned scan is
    // pinned on the factored subtree the face materializes
    val pSky = plan(operators.Analytics.skylinePerPrice(spark, Sf,
      Array(0.0)))
    assert(pSky.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double>"),
      s"skyline per-price scan not pruned:\n$pSky")
  }

  test("star-schema joins broadcast the dimension side") {
    val p = plan(q("q5_local_supplier_volume"))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in q5:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in q5:\n$p")
  }

  test("top-k fuses to TakeOrderedAndProject (no global sort)") {
    val p = plan(q("q_posts_latest30"))
    assert(p.contains("TakeOrderedAndProject"), s"order+limit not fused:\n$p")
  }

  test("aggregations run partial then final (map-side combine)") {
    val p = plan(q("q1_pricing_summary"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no partial aggregation in q1:\n$p")
  }

  /** Output attribute lists of every shuffle in the pre-AQE physical plan —
    * the programmatic (type-level) form of the array-free-shuffle contract;
    * grepping Exchange plan lines only sees partitioning KEYS, not the
    * columns riding along.
    */
  private def shuffleOutputs(df: DataFrame) = {
    // under AQE, EnsureRequirements runs inside the adaptive preparation —
    // sparkPlan has no exchanges yet; the (pre-execution) adaptive plan does
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case o                        => o
    }
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e.output
    }
  }

  private def arrayCols(out: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) =
    out.filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]).map(_.name)

  test("dedup candidate joins carry no array columns through the shuffle") {
    // the distinct-set collapse aggregation legitimately moves one sset per
    // group (map-side min_by keeps it to one candidate per partition); the
    // candidate index and pair counts must stay scalar-only
    val shuffles = shuffleOutputs(q("q_ngram_jaccard"))
    assert(shuffles.nonEmpty)
    val offenders = shuffles.filter(out => arrayCols(out).nonEmpty &&
      // min_by's partial state carries the set inside its ordering struct
      !out.exists(a => a.name == "sset" || a.name.startsWith("valueWithExtremumOrdering")))
    assert(offenders.isEmpty,
      s"array outside the set-collapse aggregation: ${offenders.map(arrayCols)}")
  }

  test("minhash LSH moves arrays only in the verification set joins") {
    // verification joins the (persisted) shingle sets back per surviving
    // candidate — arrays there are the point; everything else (signature
    // aggregation, band self-join, candidate dedup) must shuffle scalars
    // only. Since r20 the verified rep pairs are checkpointed before the
    // gated member expansion, so the band/verify exchanges no longer appear
    // in the face's final plan — the discipline is pinned where those
    // shuffles actually live (the rep-graph front, built unregistered and
    // freed below) AND on the enumeration plan itself (whose small sides
    // may all broadcast at spec scale — then it holds vacuously there).
    val allowed = Set("sset", "set_a", "set_b")
    def offenders(df: DataFrame) = shuffleOutputs(df).filter(out =>
      arrayCols(out).nonEmpty && !out.exists(a => allowed.contains(a.name)))
    val g = graft.operators.Dedup.minhashRepGraph(
      spark, Sf, graft.operators.Dedup.HotBandCap)
    try {
      assert(shuffleOutputs(g.repPairs).nonEmpty)
      val frontOff = offenders(g.repPairs)
      assert(frontOff.isEmpty,
        s"array outside the verify set joins (rep front): ${frontOff.map(arrayCols)}")
      val enumOff = offenders(q("q_dedup_minhash_lsh"))
      assert(enumOff.isEmpty,
        s"array outside the verify set joins (enumeration): ${enumOff.map(arrayCols)}")
    } finally graft.operators.IterCheckpoint.free(g.keyed, g.reps)
  }

  test("simhash pairs move arrays only in the grouped-expansion exchanges") {
    // the band candidate join shuffles packed longs only; member arrays ride
    // exactly two shuffle kinds introduced by the join-then-explode
    // expansion: the (h → ids) group-by (collect_list partial buffers) and
    // the explicit pre-explode repartitions (ids/chunk columns). Anything
    // else carrying an array means the band join regressed to per-doc rows.
    val shuffles = shuffleOutputs(q("q_simhash_pairs"))
    assert(shuffles.nonEmpty)
    val allowed = Set("ids", "ids_a", "ids_b", "chunk_a", "buf")
    val offenders = shuffles.filter(out => arrayCols(out).nonEmpty &&
      !arrayCols(out).forall(n => allowed.exists(n.startsWith)))
    assert(offenders.isEmpty,
      s"array outside the expansion exchanges: ${offenders.map(arrayCols)}")
  }

  test("as-of join is a single-shuffle union-merge (no range explosion)") {
    val p = plan(q("q_asof_join"))
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
      .toSeq
    assert(exchanges.size == 1, s"expected exactly one shuffle:\n${exchanges.mkString("\n")}\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of fell back to a product join:\n$p")
  }

  test("ANN brute force broadcasts the query side, never the corpus") {
    val p = plan(q("q_ann_cosine"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
  }

  test("hash split and repetition score are pure projections (zero shuffles)") {
    // both must scale as embarrassingly parallel scans — any exchange here
    // is a structural regression
    assert(shuffleOutputs(q("q_hash_split")).isEmpty)
    assert(shuffleOutputs(q("q_repetition_score")).isEmpty)
  }

  test("histogram, robust clip and active users broadcast their small side") {
    // extent/bounds/day-spine tables are group-count-sized; the corpus side
    // must never shuffle for these joins
    for (name <- Seq("q_histogram", "q_robust_clip", "q_active_users")) {
      val p = plan(q(name))
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
        s"$name: small side not broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian:\n$p")
    }
  }

  test("co-order top-k fuses to TakeOrderedAndProject") {
    val p = plan(q("q_co_order_topk"))
    assert(p.contains("TakeOrderedAndProject"), s"top-k not fused:\n$p")
  }

  test("funnel shuffles carry only narrow long rows (no strings, no arrays)") {
    // event_type strings gate each stage BEFORE its exchange; every shuffle
    // moves (user_id, ts-micros) longs or final count/sum buffers only
    val offenders = shuffleOutputs(q("q_funnel")).flatMap(out => out.filter(a =>
      a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
      a.dataType == org.apache.spark.sql.types.StringType).map(_.name))
    assert(offenders.isEmpty, s"non-long columns in funnel shuffles: $offenders")
  }

  test("profile reads its table exactly once (stack fan-out, not per-column unions)") {
    val df = q("q_profile_documents")
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
      case r if r.nodeName == "Relation" => r
    }
    assert(scans.size == 1, s"expected one documents scan, got ${scans.size}")
  }

  test("scd2 merge: one key join, no cartesian, history leg join-free") {
    val p = plan(q("q_scd2_customers"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"scd2 fell back to a product join:\n$p")
    // the three merge legs project the SAME joined frame — the plan must
    // not contain three separate join subtrees
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin"))
    assert(joins <= 6, s"merge legs re-joined instead of sharing:\n$p")
  }

  test("AQE splits a skewed join partition at runtime (the moderate-skew path)") {
    // the repo's skew story is two-tier: AQE's skew join splits oversized
    // partitions at runtime (this test), and Analytics.saltedJoin is the
    // explicit knob for the single-key pathology AQE cannot split when the
    // key is ALSO the aggregation key. Prove tier 1 actually fires:
    // thresholds tuned down so the hot key's partition qualifies at test
    // scale, broadcast disabled so the join must shuffle.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // ~190k rows of key 1 (one fat partition), the rest spread thin
      val fact = spark.range(200000).select(
        when(col("id") % 20 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
        concat(lit("payload_"), col("id")).as("payload"))
      val dim = spark.range(200000).select(col("id").as("k"),
        (col("id") * 2).as("dim_v"))
      val joined = fact.join(dim, Seq("k"))
      // drive THIS Dataset's QueryExecution (count() would build its own
      // plan and leave joined's adaptive plan unexecuted)
      assert(joined.collect().length == 200000)
      // query stages are LEAF wrappers (collect cannot descend into
      // ResultQueryStage), so assert on the final plan's rendering
      val root = (joined.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case o                        => o
      }).toString
      assert(root.contains("skew=true") && root.contains("skewed"),
        s"AQE skew join did not fire:\n$root")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q2-class correlated scalar MIN decorrelates to one grouped aggregate") {
    val p = plan(q("q_min_cost_supplier"))
    // the per-part min must run as ONE aggregate joined back on the
    // correlation key — a per-row subquery would re-aggregate lineitem
    // once per outer row
    assert(!p.toLowerCase.contains("subquery"),
      s"residual subquery execution in q2-class plan:\n$p")
    assert(p.contains("HashAggregate") || p.contains("partial_min"),
      s"per-part min not planned as a grouped aggregate:\n$p")
  }

  test("q21-class EXISTS + NOT EXISTS both decorrelate in one plan") {
    val p = plan(q("q_waiting_orders"))
    // the hardest standard decorrelation shape: two correlated predicates
    // over the SAME fact must BOTH rewrite to joins — a residual subquery
    // would execute once per outer row
    assert(p.contains("LeftSemi"), s"EXISTS not rewritten to semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not rewritten to anti join:\n$p")
    assert(!p.toLowerCase.contains("subquery"),
      s"residual subquery execution in q21-class plan:\n$p")
  }

  test("EXISTS decorrelates to a left semi join (no per-row subquery)") {
    val p = plan(q("q_exists_orders"))
    assert(p.contains("LeftSemi"), s"EXISTS not rewritten to semi join:\n$p")
    // the rewrite must be total: no subquery node survives into execution
    assert(!p.toLowerCase.contains("subquery"),
      s"residual subquery execution in EXISTS plan:\n$p")
  }

  test("correlated scalar subquery decorrelates to aggregate + join") {
    val df = q("q_corr_scalar")
    val p = plan(df)
    // RewriteCorrelatedScalarSubquery: per-part avg becomes ONE grouped
    // aggregate joined back on the correlation key — never an aggregate
    // per outer row (a scalar-subquery exec node would mean per-row)
    assert(!p.toLowerCase.contains("scalar-subquery") &&
      !p.contains("ScalarSubquery"),
      s"correlated scalar subquery not decorrelated:\n$p")
    assert(p.contains("avg(l_quantity"), s"pulled-up aggregate missing:\n$p")
  }

  test("NOT EXISTS decorrelates to a left anti join (no per-row subquery)") {
    val p = plan(q("q_not_exists"))
    assert(p.contains("LeftAnti"), s"NOT EXISTS not rewritten to anti join:\n$p")
    assert(!p.toLowerCase.contains("subquery"),
      s"residual subquery execution in NOT EXISTS plan:\n$p")
  }

  test("IN over an aggregated subquery decorrelates to aggregate + semi join") {
    val p = plan(q("q_in_subquery"))
    assert(p.contains("LeftSemi"), s"IN not rewritten to semi join:\n$p")
    assert(!p.toLowerCase.contains("in-subquery") && !p.contains("InSubquery"),
      s"residual subquery execution in IN plan:\n$p")
  }

  test("nullable NOT IN plans null-aware; NOT EXISTS stays a hash anti join") {
    // the semantics face itself: one NULL in the subquery collapses the
    // nullable NOT IN count to 0 while NOT EXISTS keeps counting
    val row = q("q_not_in_null").head
    val (clean, nullable, notExists) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nullable == 0L,
      s"NOT IN over a nullable subquery must collapse to 0, got $nullable")
    assert(notExists == clean + 1,
      s"NOT EXISTS must count the nullif'd customer too: clean=$clean notExists=$notExists")
    // and the plan shape is WHY NOT EXISTS is the 100 TB recommendation:
    // the nullable NOT IN needs a null-aware anti join (broadcast nested
    // loop in the general case), the clean/exists forms stay hash anti
    val p = plan(q("q_not_in_null"))
    assert(p.contains("LeftAnti"), s"anti join missing:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("isnull"),
      s"null-aware anti join shape not visible in plan:\n$p")
  }

  test("global rank: deterministic buckets, no physical-partition dependence") {
    val df = q("q_global_rank")
    // drive THIS Dataset's QueryExecution (count() would build its own
    // plan and leave df's adaptive plan unexecuted — the skew-test trap)
    assert(df.collect().nonEmpty)
    val p = (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case o                        => o.toString
    })
    // the r9 hazard class, structurally closed: correctness must not read
    // the physical partition id (whose meaning depends on exchange reuse)
    assert(!p.toUpperCase.contains("SPARK_PARTITION_ID"),
      s"global rank reads the physical partition id:\n$p")
    // the row_number window must be PARTITIONED by the bucket — an
    // unpartitioned sort-key window prints windowspecdefinition(l_shipdate
    // first and funnels 100 TB through one task
    assert(!p.contains("windowspecdefinition(l_shipdate"),
      s"global rank fell back to an unpartitioned data window:\n$p")
    assert(p.contains("hashpartitioning(_bkt"),
      s"bucket-partitioned window exchange missing:\n$p")
  }

  test("contamination broadcasts the eval side and shuffles only longs") {
    val df = q("q_contamination")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"eval grams not broadcast:\n$p")
    // gram TEXT must never move: the join and the per-doc count aggregation
    // carry only (long, long) gram-hash/doc-id rows
    val offenders = shuffleOutputs(df).flatMap(out => out.filter(a =>
      a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
      a.dataType == org.apache.spark.sql.types.StringType).map(_.name))
    assert(offenders.isEmpty, s"non-scalar/string columns in shuffle: $offenders")
  }

  test("simhash pair stats: NO array column rides any shuffle") {
    // the production face's scale claim is that member stats are computed
    // array-free (count/min + conditional second-min re-aggregation) — so
    // unlike the enumerating face (whose grouped expansion legitimately
    // moves member arrays), no exchange anywhere in this plan may carry an
    // array column, at any duplication density
    val shuffles = shuffleOutputs(q("q_simhash_pair_stats"))
    assert(shuffles.nonEmpty)
    val offenders = shuffles.filter(out => arrayCols(out).nonEmpty)
    assert(offenders.isEmpty,
      s"arrays in the stats-face shuffle: ${offenders.map(arrayCols)}")
  }

  test("semantic contamination: corpus side never shuffles, probes broadcast") {
    // literal centroids make the argmax cell a per-row projection, so the
    // TRAINING side must be scan → project → BroadcastHashJoin with the
    // train-split predicate pushed to the parquet scan; the only shuffles
    // are the 50-row eval window and the hits rollup — neither may carry
    // the corpus embedding vectors
    val df = q("q_semantic_contamination")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"probe side not broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(vec_id,50"),
      s"train-split predicate not pushed to the scan:\n$p")
    val shuffles = shuffleOutputs(df)
    assert(shuffles.size <= 2, s"corpus-sized exchange crept in:\n$p")
    // the rollup shuffle is hits-only scalars; the eval window may carry
    // its 50 query vectors — corpus vectors (nvec) must ride no exchange
    val offenders = shuffles.flatMap(out =>
      out.filter(a => a.name == "nvec" || a.name == "ccos_arr").map(_.name))
    assert(offenders.isEmpty, s"corpus vectors in a shuffle: $offenders")
  }

  test("contamination sweep: one ranked screen pass, corpus vectors ride no exchange") {
    // the r14 review rework: the sweep must not pay one corpus pass per
    // swept nprobe — the ranked probe side broadcasts once, and the only
    // exchanges are hits/truth-sized aggregations; corpus embedding
    // vectors must never cross a shuffle
    val df = q("q_semantic_contamination_sweep")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"probe side not broadcast:\n$p")
    assert(p.contains("GreaterThanOrEqual(vec_id,50"),
      s"train-split predicate not pushed to the scan:\n$p")
    val offenders = shuffleOutputs(df).flatMap(out =>
      out.filter(a => a.name == "nvec" || a.name == "ccos_arr").map(_.name))
    assert(offenders.isEmpty, s"corpus vectors in a shuffle: $offenders")
  }

  test("heavy-pair top-k: re-count scan is partkey-pruned; no pair-stream shuffle of baskets") {
    val df = q("q_co_order_heavy_topk")
    val p = plan(df)
    // r20: the face CHECKPOINTS the incidence table (it feeds both self-
    // join sides — one corpus pass instead of two), so its own plan starts
    // at an ExistingRDD scan; the pushed In is pinned on the factored
    // incidence subtree the face materializes (GraphsSpec pins the same
    // with the face's own candidate keys)
    val pInc = plan(operators.Graphs.heavyPairIncidence(spark, Sf, Seq(1L, 2L)))
    assert(pInc.contains("In(l_partkey"), s"re-count scan not IN-pruned:\n$pInc")
    // candidate membership joins broadcast — a SortMergeJoin here would
    // mean the 100-pair candidate frame shuffled the re-count stream
    assert(!p.contains("SortMergeJoin"),
      s"candidate join shuffled the re-count stream:\n$p")
  }

  test("cluster split is one projection over the labels: no split-stage exchange") {
    // the split must add NO shuffle beyond the cluster-label computation:
    // assignment is a hash of cluster_id — any exchange whose output
    // carries the split column means the face re-partitioned to assign
    val offenders = shuffleOutputs(q("q_cluster_split")).flatMap(out =>
      out.filter(_.name == "split").map(_.name))
    assert(offenders.isEmpty,
      s"split assignment crossed an exchange: $offenders")
  }

  test("large-orders aggregate semi-join broadcasts dims, aggregates partially") {
    val p = plan(q("q_large_orders"))
    assert(p.contains("BroadcastHashJoin"),
      s"customer dim not broadcast in q18-class plan:\n$p")
    assert(!p.toLowerCase.contains("subquery"),
      s"q18-class plan executes a per-row subquery:\n$p")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"quantity rollup not partial-aggregated:\n$p")
  }

  test("skyline: bucket-partitioned running max, no partition-id read, no cross join") {
    val p = plan(q("q_skyline"))
    // structural pin of the r9 hazard: no physical-partition-id dependence
    assert(!p.toUpperCase.contains("SPARK_PARTITION_ID"),
      s"skyline reads the physical partition id:\n$p")
    // the only windows allowed: prefix max over the bucket-sized frame
    // (windowspecdefinition(_bkt ASC...)) and the _bkt-PARTITIONED local
    // running max (windowspecdefinition(_bkt, price ASC...)). An
    // unpartitioned price-ordered window over the data would print
    // windowspecdefinition(price ...) — the single-partition funnel.
    assert(!p.contains("windowspecdefinition(price"),
      s"skyline fell back to a global price window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"skyline planned a dominance cross join:\n$p")
  }

  test("max concurrency: bucket-partitioned sweep, no unpartitioned data window") {
    val p = plan(q("q_max_concurrency"))
    // structural pin of the r9 hazard: no physical-partition-id dependence
    assert(!p.toUpperCase.contains("SPARK_PARTITION_ID"),
      s"sweep reads the physical partition id:\n$p")
    // allowed windows: the _bkt-PARTITIONED local running sum
    // (windowspecdefinition(_bkt, t ASC...)) and the bucket-count-sized
    // offset prefix (windowspecdefinition(_bkt ASC...)). A global
    // time-ordered window over the data would print
    // windowspecdefinition(t ...) — the single-partition funnel.
    assert(!p.contains("windowspecdefinition(t#") &&
      !p.contains("windowspecdefinition(t "),
      s"sweep fell back to a global time-ordered window:\n$p")
  }

  test("split prefix-scan faces survive exchange reuse being DISABLED") {
    // the r9 latent hazard, adversarially probed: with physical-partition-id
    // grouping, spark.sql.exchange.reuse=false let the two consumers of one
    // repartitionByRange sample DIFFERENT boundaries → silently wrong
    // offsets. Deterministic value buckets must make the answers invariant.
    val faces = Seq("q_global_rank", "q_skyline", "q_max_concurrency")
    val base = faces.map(n => n -> q(n).collect().map(_.toString).sorted.toSeq).toMap
    val k = "spark.sql.exchange.reuse"
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try {
      faces.foreach { n =>
        val got = q(n).collect().map(_.toString).sorted.toSeq
        assert(got == base(n), s"$n changed when exchange reuse was disabled")
      }
    } finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("selective fact join gets a runtime bloom filter pushed into the fact side") {
    import org.apache.spark.sql.internal.SQLConf
    // thresholds tuned so the injection admits test-scale inputs; broadcast
    // disabled so the join shuffles — the regime the bloom filter exists
    // for (a broadcast join already prunes on the driver-built hash table)
    val confs = Seq(
      SQLConf.RUNTIME_BLOOM_FILTER_ENABLED.key -> "true",
      SQLConf.RUNTIME_BLOOM_FILTER_APPLICATION_SIDE_SCAN_SIZE_THRESHOLD.key -> "0",
      SQLConf.RUNTIME_BLOOM_FILTER_CREATION_SIDE_THRESHOLD.key -> "100MB",
      SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = operators.Analytics.selectiveFactJoin(spark, Sf)
      val p = plan(df)
      assert(p.contains("might_contain"),
        s"no runtime bloom filter injected into the fact scan:\n$p")
      // the bloom is a pure may-contain pre-prune: answer unchanged
      val withBloom = df.orderBy("o_orderstatus", "l_returnflag")
        .collect().toSeq
      saved.foreach { case (k, vOpt) =>
        vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      val plainRun = operators.Analytics.selectiveFactJoin(spark, Sf)
        .orderBy("o_orderstatus", "l_returnflag").collect().toSeq
      assert(withBloom == plainRun, "bloom injection changed the answer")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("de-duplicated faces keep their materialized-once scan counts") {
    // r21 (r20 VERDICT task 6 + ADVICE): the r20/r21 duplicated-subtree
    // fixes truncate each face's plan at its checkpoint, so nothing pinned
    // that the faces still CONSUME the materialized subtree — a regression
    // rebuilding an unpruned inline scan would have passed the helper-level
    // pins. This is the PlanAudit counter as a spec: per face, the parquet
    // scan count in the face's OWN physical plan must not regrow past the
    // audited post-fix shape (0 where every fact frame is checkpointed).
    val scanRe = "Location: [A-Za-z]+FileIndex \\[[^\\]]*?([A-Za-z0-9_.-]+\\.parquet)".r
    val bound = Map(
      "q_funnel" -> Map.empty[String, Int],
      "q_funnel_windowed" -> Map.empty[String, Int],
      "q_scd2_asof" -> Map.empty[String, Int],
      "q_sample_topk_group" -> Map.empty[String, Int],
      "q_active_users" -> Map.empty[String, Int],
      "q_max_concurrency" -> Map.empty[String, Int],
      "q_skyline" -> Map("lineitem.parquet" -> 1),
      "q_bag_set_ops" -> Map("orders.parquet" -> 1),
      "q_scd2_customers" -> Map("customer.parquet" -> 3),
      "q_incremental_join" -> Map("orders.parquet" -> 1, "customer.parquet" -> 1),
      "q_tfidf_topk" -> Map("documents.parquet" -> 2),
      // range_join / quality_report FK / bloom keep their multi-scan shapes
      // DELIBERATELY (the 100× replica measured the single-scan drafts
      // slower — see OPTIMIZATION_r21.md); the bounds pin the adjudicated
      // shape so neither direction regresses silently
      "q_range_join" -> Map("events.parquet" -> 3),
      "q_table_diff" -> Map("orders.parquet" -> 2),
      "q_temperature_sample" -> Map("documents.parquet" -> 2),
      "q_quality_report" -> Map("orders.parquet" -> 2, "lineitem.parquet" -> 2),
      "q_bloom_insert_ignore" -> Map("orders.parquet" -> 3),
      "q_semantic_contamination_recall" -> Map("embeddings.parquet" -> 1),
      "q_semantic_contamination_sweep" -> Map("embeddings.parquet" -> 1),
      "q_co_order_heavy_topk" -> Map.empty[String, Int])
    bound.foreach { case (face, expect) =>
      val p = q(face).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val scans = scanRe.findAllMatchIn(p).map(_.group(1)).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      scans.foreach { case (t, n) =>
        assert(n <= expect.getOrElse(t, 0),
          s"$face scans $t ${n}x (audited bound ${expect.getOrElse(t, 0)}) — " +
            s"a checkpointed/fused subtree regrew its duplicate scan:\n$p")
      }
    }
  }
}
