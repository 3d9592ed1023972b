package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType, ShortType, StructType, TimestampNTZType, TimestampType}

/** Readers for the driver's parquet test tables (`TESTDATA.md`).
  *
  * Every query takes `(spark, sfDir)` and resolves its inputs here, so the
  * same code runs at any scale factor. Reads are plain parquet scans —
  * Catalyst pushes filters/projections into the scan (verify via
  * `PushedFilters`/`ReadSchema` in `.explain("formatted")`).
  * The types reads dispatch on (ts, ids, embedding elements) come from the
  * file's own footer, read on the driver on each call ([[parquetSchema]]).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers, without the Spark job its
    * inference runs even for one file: the same file choice as
    * `ParquetUtils.inferSchema` (`_common_metadata`, else `_metadata`, else
    * the first data file in path order), its footer read on the driver and
    * converted by `readSchemaFromFooter` under the session's SQLConf. A
    * missing or empty path falls back to Spark's read and its error. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val files = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named("_common_metadata").orElse(named("_metadata"))
      .orElse(files.find(f => !f.getPath.getName.matches("_(common_)?metadata")))
      .map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
      .getOrElse(spark.read.parquet(path).schema)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  // o_orderdate / l_shipdate are timestamp[us] today, but the r7 events
  // regeneration proved physical encodings driver-owned — run the same
  // dispatch (pass-through today, immune to a nanos/LTZ re-encode tomorrow)
  def orders(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "orders")
    raw.withColumn("o_orderdate",
      tsAsNtz(raw.schema("o_orderdate").dataType, "o_orderdate"))
  }
  def lineitem(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "lineitem")
    raw.withColumn("l_shipdate",
      tsAsNtz(raw.schema("l_shipdate").dataType, "l_shipdate"))
  }
  /** The physical encoding of `events.ts` is DRIVER-OWNED and has changed
    * between rounds (TIMESTAMP(NANOS) through round 6; `timestamp[us]` from
    * the 2026-08-13 19:17 regeneration — see TESTDATA_NOTES.md). Reads must
    * therefore dispatch on the column's ACTUAL type, never assume one
    * encoding:
    *
    *  - `LongType`  — TIMESTAMP(NANOS) surfaced as raw nanos by the
    *    `nanosAsLong` legacy conf ([[sessionBuilder]] sets it; Spark's
    *    vectorized reader rejects nanos otherwise). Truncate to micros —
    *    exactly what DuckDB does loading the same file (its TIMESTAMP is
    *    microsecond-precision), so both engines see identical values.
    *  - `TimestampNTZType` — `timestamp[us]` without UTC adjustment under
    *    `inferTimestampNTZ`: already the canonical type, pass through.
    *  - `TimestampType` — `timestamp[us]` WITH UTC adjustment (or
    *    `inferTimestampNTZ` off): same instant, session TZ is pinned UTC so
    *    the cast to NTZ is wall-clock-preserving.
    *
    * Canonical output: `ts` as TIMESTAMP_NTZ at microsecond precision,
    * identical values from every encoding (pinned by TsEncodingSpec).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.withColumn("ts", tsAsNtz(raw.schema("ts").dataType, "ts"))
  }

  private def tsAsNtz(dt: DataType, c: String) = dt match {
    case LongType         => timestamp_micros(expr(s"$c div 1000")).cast("timestamp_ntz")
    case TimestampNTZType => col(c)
    case TimestampType    => col(c).cast("timestamp_ntz")
    case other => throw new IllegalStateException(
      s"$c has unsupported physical type $other — extend Tables.tsAsNtz")
  }

  /** `events` with `ts` as canonical epoch-micros×1000 BIGINT ("nanos"),
    * whatever the physical encoding — the representation the streaming
    * staging and sentinel arithmetic use ([[graft.SparkEntry.stageEventSlices]]
    * does range math and `Row.getLong` on it). Values are micros-truncated
    * under every encoding, matching [[events]] exactly.
    */
  def eventsRawNanos(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.withColumn("ts", tsAsNanos(raw.schema("ts").dataType))
  }

  private def tsAsNanos(dt: DataType) = dt match {
    // truncate to micros FIRST so downstream values agree with [[events]]
    // bit-for-bit even if a future regeneration carries sub-micro digits
    case LongType         => expr("(ts div 1000) * 1000")
    case TimestampNTZType => unix_micros(col("ts").cast(TimestampType)) * 1000L
    case TimestampType    => unix_micros(col("ts")) * 1000L
    case other => throw new IllegalStateException(
      s"ts has unsupported physical type $other — extend Tables.tsAsNanos")
  }

  /** The session configuration every graft entrypoint (Bench, Verify, tests)
    * builds on: UTC wall-clock semantics, NTZ parquet timestamps, nanos-as-long
    * for the events table, AQE on, shuffle partitions sized to local cores.
    */
  def sessionBuilder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(graft.functions.VectorExpressions.register)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // ContextCleaner reclaims broadcast blocks and shuffle files only when
      // their weak references get GC'd. The default periodic-GC interval is
      // 30 MINUTES — longer than a whole bench run — and under a 32g heap
      // organic full GCs essentially never fire, so a long session
      // accumulates every query's broadcasts/shuffles until the block
      // manager strangles unrelated queries (round-3 bench: nonreproducible
      // 100-200s spikes on innocent queries). 30s keeps a long-lived session
      // flat; a full GC on a mostly-dead heap costs well under a second.
      .config("spark.cleaner.periodicGC.interval", "30s")
      // managed tables (the bucketed-layout faces) need a warehouse; keep it
      // out of the repo working dir. Static conf — must be set at build time.
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .config("spark.ui.enabled", "false")

  /** Apply `SPARK_GRAFT_CONF` ("k=v,k=v") session-conf overrides — shared
    * by Bench AND Verify so a gate-branch demo (e.g. an overridden
    * `spark.graft.triangle.maxExactWedges`) runs its queries and generates
    * its oracles under the SAME budget; before r18 only Bench honored the
    * knob and a budget-overridden verify replayed the default regime (r17
    * ADVICE). LIMITATION: bare-comma separator — a conf VALUE containing
    * commas cannot ride this knob; an empty key ("=v") is rejected loudly.
    */
  def applyEnvConfOverrides(s: SparkSession, tag: String): Unit =
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").map(_.trim)
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        if (k.isEmpty)
          System.err.println(s"[$tag] SPARK_GRAFT_CONF entry '$kv' has an " +
            "empty key — skipped (commas inside values are not supported)")
        else {
          s.conf.set(k, v)
          System.err.println(s"[$tag] conf $k=$v")
        }
      })
  /** Integer-id dispatch for the LLM-pipeline tables (r12 verdict task 7 —
    * the same driver-owned-encoding drift class as `tsAsNtz`): the media
    * synthesis and the streaming band/vector index fixtures STAGE slices of
    * these tables and re-read them through a `doc_id LONG` /
    * `vec_id LONG` asserted stream schema, so a driver regeneration that
    * narrows the id columns to int32 must canonicalize HERE, before any
    * slice is written — not surprise the fixture read path. Pass-through
    * (no cast node) at today's int64 layout; unexpected encodings throw
    * loudly like the ts and embedding dispatches do.
    */
  private def idAsLong(raw: DataFrame, c: String): DataFrame =
    raw.schema(c).dataType match {
      case LongType                 => raw
      case IntegerType | ShortType  => raw.withColumn(c, col(c).cast("long"))
      case other => throw new IllegalStateException(
        s"$c has unsupported physical type $other — extend Tables.idAsLong")
    }

  def documents(s: SparkSession, d: String): DataFrame =
    idAsLong(idAsLong(table(s, d, "documents"), "doc_id"), "n_chars")
  // The similarity operators assume FLOAT elements and the DuckDB oracle
  // computes on the same parquet file's physical type — so dispatch on the
  // actual element type like tsAsNtz does (same drift class as events.ts,
  // TESTDATA_NOTES.md). A silent cast from a double re-encode would make
  // cosine scores diverge from the oracle SUBTLY (float32 rounding on one
  // side only) instead of failing loudly; unexpected encodings throw.
  def embeddings(s: SparkSession, d: String): DataFrame = {
    val raw = idAsLong(table(s, d, "embeddings"), "vec_id")
    raw.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => raw
      case other => throw new IllegalStateException(
        s"embeddings.embedding has unsupported physical type $other (expected " +
          "array<float>) — the oracle parity contract depends on the element " +
          "type; extend Tables.embeddings with an explicit, oracle-mirrored rule")
    }
  }
}
