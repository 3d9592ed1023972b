package graft.sources

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Interchange-format coverage beyond parquet: CSV (the universal
  * flat-file drop format) and ORC (the other columnar lake format). Each
  * face stages a write ONCE per (session, dataset), reads it back through
  * the format's own reader, and reports aggregates the oracle recomputes
  * from the ORIGINAL parquet — the roundtrip must be value-lossless or the
  * hash comparison fails. (The reference's only interchange surface is
  * JSON-over-REST, covered by [[JsonLanding]]; these are the formats a
  * warehouse actually receives drops in.)
  *
  * Format discipline encoded here:
  *  - CSV carries no schema — the read applies the writer's schema
  *    explicitly (header-only inference would demote every int to string);
  *    the staged slice is ints + comma-free strings, because floats and
  *    timestamps in CSV round-trip through DECIMAL-STRING formatting, a
  *    lossy path a pipeline should never put them on.
  *  - ORC is typed end-to-end (timestamps, doubles survive bit-exact);
  *    the staged slice keeps value doubles and aggregates them through
  *    the repo's decimal-sum convention.
  */
object Formats {

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  private def stagedDirs(s: SparkSession, d: String): (String, String) = {
    val root = graft.WarmState.stagedDir(("csv_orc", s, d)) { dir =>
      Tables.nation(s, d)
        .write.option("header", "true").mode("overwrite").csv(s"$dir/csv_nation")
      Tables.events(s, d)
        .filter(to_date(col("ts")) === lit("2024-01-05").cast("date"))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(s"$dir/orc_events")
    }
    (s"$root/csv_nation", s"$root/orc_events")
  }

  /** Driver face: one row per staged format with (row count, distinct key
    * count, value sum) — layout- and format-independent numbers the oracle
    * recomputes from the source parquet.
    */
  def roundTripReport(s: SparkSession, d: String): DataFrame = {
    val (csvDir, orcDir) = stagedDirs(s, d)
    val nation = s.read.option("header", "true")
      .schema(Tables.nation(s, d).schema).csv(csvDir)
    val events = s.read.orc(orcDir)
    val csvLeg = nation.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("n_nationkey")).as("n_distinct"),
        sum(col("n_regionkey")).cast("double").as("sum_val"))
      .select(lit("csv:nation").as("fmt"), col("n_rows"), col("n_distinct"),
        col("sum_val"))
    val orcLeg = events.agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_distinct"),
        sum(dec(col("value"))).cast("double").as("sum_val"))
      .select(lit("orc:events_day").as("fmt"), col("n_rows"), col("n_distinct"),
        col("sum_val"))
    csvLeg.unionByName(orcLeg)
  }

  /** Stage two parquet "generations" of an orders extract under one root:
    * gen=1 (even orderkeys) with the original 3-column schema, gen=2 (odd
    * orderkeys) after a column was added (`o_orderpriority`). The split rule
    * is key-deterministic so the oracle reconstructs which rows predate the
    * evolution without reading the staged files.
    */
  private def stagedEvolutionDir(s: SparkSession, d: String): String =
    graft.WarmState.stagedDir(("schema_evolution", s, d)) { dir =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$dir/gen=1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$dir/gen=2")
    }

  /** Parquet schema evolution — the read-side contract a long-lived lake
    * table lives on: files written before a column existed must read as
    * NULL for it, files after carry values, one unified scan over both.
    * `mergeSchema=true` makes the footer union explicit (without it the
    * scan schema is whichever footer Spark samples — on a pre-evolution
    * file that silently DROPS the new column); the `gen=` directory layout
    * doubles as partition discovery, so generation is queryable. The
    * aggregate rolls up by priority with pre-evolution rows in their own
    * bucket — value-recomputable by the oracle from the source table via
    * the key-split rule.
    *
    * At 100 TB: schema merge reads only footers (one small RPC per file,
    * driver-side listing is the cost — the documented fix is a transaction
    * log / manifest holding the committed schema, at which point
    * mergeSchema is a no-op); the data scan itself is unchanged.
    */
  def schemaEvolutionReport(s: SparkSession, d: String): DataFrame = {
    val merged = s.read.option("mergeSchema", "true")
      .parquet(stagedEvolutionDir(s, d))
    merged
      .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>"))
        .as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("sum_price"))
  }
}
