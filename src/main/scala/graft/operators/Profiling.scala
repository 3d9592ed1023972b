package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table profiling — the `ANALYZE TABLE`-style statistics sweep every
  * ingestion pipeline runs before trusting a new drop: per-column row/null/
  * exact-distinct counts plus string min/max, emitted LONG-format (one row
  * per column) so any column set profiles into one fixed schema.
  *
  * Scale shape: one pass over the table. All per-column counts are partial
  * aggregates (map-side combined); the exact `countDistinct` columns rewrite
  * to Spark's Expand-based multi-distinct — at 100 TB you would flip
  * [[profileApprox]]'s HLL++ sketches instead (same output schema, bounded
  * error), which is why both faces exist. min/max compare raw values cast to
  * string AFTER aggregation (cast-then-min would compare lexicographically).
  */
object Profiling {

  private def longFormat(total: DataFrame, cols: Seq[String]): DataFrame = {
    // stack() fans the single agg row out to one row per column INSIDE the
    // same plan — a union of per-column selects would embed the whole agg
    // subtree once per column
    val cells = cols.map(c =>
      s"'$c', n_rows - n_$c, d_$c, min_$c, max_$c").mkString(", ")
    total.select(col("n_rows"),
      expr(s"stack(${cols.length}, $cells)")
        .as(Seq("column", "n_null", "n_distinct", "min_str", "max_str")))
      .select(col("column"), col("n_rows"), col("n_null"),
        col("n_distinct"), col("min_str"), col("max_str"))
  }

  /** Exact profile of selected columns (the driver-checkable face). */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"n_$c"),
        countDistinct(col(c)).as(s"d_$c"),
        min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))
    }
    longFormat(df.agg(count(lit(1)).as("n_rows"), aggs: _*), cols)
  }

  /** The 100 TB face: HLL++ sketches for the distinct counts (no Expand
    * blowup, mergeable partials), same schema. Not driver-hashed — the
    * sketch values are engine-specific; `ProfilingSpec` bounds them against
    * the exact face instead (the `approxDistinctUsers` pattern).
    */
  def profileApprox(df: DataFrame, cols: Seq[String], rsd: Double = 0.01): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"n_$c"),
        approx_count_distinct(col(c), rsd).as(s"d_$c"),
        min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"))
    }
    longFormat(df.agg(count(lit(1)).as("n_rows"), aggs: _*), cols)
  }

  /** Query face: profile the documents table's content-bearing columns. */
  def profileDocuments(s: SparkSession, d: String): DataFrame =
    profile(graft.Tables.documents(s, d),
      Seq("doc_id", "lang", "source", "n_chars"))

  // ------------------------------------------------------- data quality

  /** A declarative column rule evaluated as ONE conditional aggregate:
    * `violation` is a boolean column expression; rows where it is true
    * count against the rule.
    */
  case class Rule(name: String, violation: org.apache.spark.sql.Column)

  /** Rule-violation counts for one table, single pass: every rule folds to
    * a `sum(if)` inside the same aggregate, then `stack` fans the one agg
    * row out long-format — N rules cost one scan, not N (the
    * [[longFormat]] discipline applied to validation).
    */
  def ruleViolations(df: DataFrame, table: String, rules: Seq[Rule]): DataFrame = {
    val aggs = rules.zipWithIndex.map { case (r, i) =>
      sum(when(r.violation, 1L).otherwise(0L)).as(s"v_$i")
    }
    val cells = rules.zipWithIndex
      .map { case (r, i) => s"'${r.name}', v_$i" }.mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${rules.length}, $cells)")
        .as(Seq("rule", "violations")))
      .select(lit(table).as("table_name"), col("rule"), col("violations"))
  }

  /** The validation stage the reference's DAGs run on trust alone
    * (`comments_pipeline.py` loads whatever the API returned): not-null,
    * uniqueness, domain and range rules over orders/lineitem, plus the one
    * rule that cannot fold into a single-table pass — referential
    * integrity, an anti-join whose shuffle moves only the key column.
    * Output is the long-format report a pipeline gates deploys on.
    *
    * Scale shape: one scan per table for all folded rules (uniqueness is
    * `count − countDistinct`, computed in the same agg); the FK anti-join
    * is key-only and its dimension side is the broadcast candidate.
    */
  def qualityReport(s: SparkSession, d: String): DataFrame = {
    val o = graft.Tables.orders(s, d)
    val l = graft.Tables.lineitem(s, d)
    // r21: uniqueness folds into the SAME aggregate pass as the row rules
    // (countDistinct is just another aggregate over that scan) — orders was
    // scanned twice for what one agg computes (guide §2.4).
    val ordersReport = o
      .agg(sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("v_0"),
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("v_1"),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
          .otherwise(0L)).as("v_2"),
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_3"))
      .select(expr("stack(4, 'not_null o_custkey', v_0, " +
        "'not_null o_orderdate', v_1, 'accepted_values o_orderstatus', v_2, " +
        "'unique o_orderkey', v_3)").as(Seq("rule", "violations")))
      .select(lit("orders").as("table_name"), col("rule"), col("violations"))
    // The lineitem rules + FK check deliberately stay TWO passes (one
    // shuffle-free rules scan, one key-only anti-join scan): an r21 draft
    // fused them behind a per-l_orderkey pre-aggregate, and the 100×
    // replica measured it 2.1× SLOWER (14.4 → 30.2 s,
    // BENCH_100x_touched_r21_*.json) — near-unique keys mean the "partial"
    // aggregate barely reduces map-side while paying a 4-column hash-agg
    // shuffle and a distinct on the parent side; the anti-join's 1-column
    // key shuffle plus one extra pushed columnar scan is the cheaper side
    // of the trade at scale.
    val lineitemRules = ruleViolations(l, "lineitem", Seq(
      Rule("range l_quantity [1,30]", !col("l_quantity").between(1, 30)),
      Rule("range l_discount [0,0.1]", !col("l_discount").between(0.0, 0.1)),
      Rule("not_null l_shipdate", col("l_shipdate").isNull)))
    val fk = l.select(col("l_orderkey"))
      .join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("lineitem").as("table_name"),
        lit("fk l_orderkey -> orders").as("rule"), col("violations"))
    ordersReport.unionByName(lineitemRules).unionByName(fk)
  }

  /** One relation's orphan stats — separated so detection is unit-testable
    * on frames WITH violations (the driver corpus is referentially clean,
    * so the all-zero report alone can't prove the detector works).
    */
  private[graft] def orphanStats(name: String, child: DataFrame, ckey: String,
      parent: DataFrame, pkey: String, smallParent: Boolean): DataFrame = {
    val keys = child.groupBy(col(ckey).cast("long").as("k"))
      .agg(count(lit(1)).as("n"))
    val pKeys = parent.select(col(pkey).cast("long").as("k")).distinct()
      .withColumn("_hit", lit(1))
    // ONE pass over the child (r20): the old shape consumed `keys` twice —
    // once under the n_child aggregate, once as the anti-join probe — so
    // every relation re-ran its child scan + groupBy shuffle. A left-outer
    // join against the distinct parent keys carries a hit flag instead:
    // n_child sums every key's count, the orphan stats sum/count the
    // unmatched ones. Identical output — pKeys is distinct so the join
    // cannot duplicate, left_anti ≡ left_outer-then-null, and sum over
    // zero orphan whens is NULL → the same coalesce(…, 0).
    //
    // `smallParent` marks dimension parents, but the HINT decision rides
    // the DimBroadcast size gate (r12): a manual true on customer/part is
    // exactly the unconditional-hint class the gate exists to close — at
    // SF 10k these parents outgrow executors and the gate falls back to
    // the shuffled join on its own
    keys.join(if (smallParent) DimBroadcast(pKeys) else pKeys,
        Seq("k"), "left_outer")
      .agg(sum(col("n")).as("n_child"),
        coalesce(sum(when(col("_hit").isNull, col("n"))), lit(0L))
          .as("n_orphans"),
        count(when(col("_hit").isNull, 1)).as("n_missing_keys"))
      .select(lit(name).as("relation"), col("n_child"),
        col("n_orphans"), col("n_missing_keys"))
  }

  /** Cross-table referential-integrity audit: every FK relation of the star
    * schema in one report — (relation, child rows, orphan rows, distinct
    * missing keys). [[qualityReport]] checks ONE relation as a rule; this
    * is the schema-wide sweep a warehouse runs after every load, and the
    * first thing to consult when a join "loses" rows.
    *
    * Scale shape per relation: the child side collapses to DISTINCT-key
    * counts first (one partial-agg shuffle on a long key — orphan detection
    * never rescans child rows per parent), then anti-joins the parent key
    * set — broadcast for dimension parents, hash for the fact-sized orders
    * parent. Row counts ride along as per-key sums, so the report costs no
    * second scan of any child.
    */
  def refIntegrity(s: SparkSession, d: String): DataFrame = {
    import graft.Tables
    def rel(name: String, child: DataFrame, ckey: String,
        parent: DataFrame, pkey: String, smallParent: Boolean): DataFrame =
      orphanStats(name, child, ckey, parent, pkey, smallParent)
    val li = Tables.lineitem(s, d)
    Seq(
      rel("lineitem.l_orderkey->orders", li, "l_orderkey",
        Tables.orders(s, d), "o_orderkey", smallParent = false),
      rel("lineitem.l_partkey->part", li, "l_partkey",
        Tables.part(s, d), "p_partkey", smallParent = true),
      rel("lineitem.l_suppkey->supplier", li, "l_suppkey",
        Tables.supplier(s, d), "s_suppkey", smallParent = true),
      rel("orders.o_custkey->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey", smallParent = true),
      rel("customer.c_nationkey->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey", smallParent = true),
      rel("supplier.s_nationkey->nation", Tables.supplier(s, d), "s_nationkey",
        Tables.nation(s, d), "n_nationkey", smallParent = true),
      rel("nation.n_regionkey->region", Tables.nation(s, d), "n_regionkey",
        Tables.region(s, d), "r_regionkey", smallParent = true))
      .reduce(_ unionByName _)
  }
}
