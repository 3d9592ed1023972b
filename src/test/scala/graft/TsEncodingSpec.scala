package graft

import graft.streaming.EventStreamJob
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Pins the round-7 breakage class forever: the physical encoding of
  * `events.ts` is driver-owned and CHANGED between rounds (TIMESTAMP(NANOS)
  * through r6 → `timestamp[us]` at the 2026-08-13 19:17 regeneration),
  * which silently removed all 32 events queries from the driver-checked set.
  * Every reader must dispatch on the actual column type, so a regeneration
  * with ANY supported encoding yields identical values.
  *
  * Three fixtures per driver-owned ts column (events.ts, orders.o_orderdate,
  * lineitem.l_shipdate — the full matrix, r8 verdict task 7), same logical
  * rows each:
  *  - INT64 nanos — the Spark-visible shape of a TIMESTAMP(NANOS) file under
  *    `nanosAsLong=true` (the conf rewrites the annotated type to LongType
  *    before any graft code runs, so a plain BIGINT column exercises the
  *    identical dispatch branch);
  *  - TIMESTAMP_NTZ — written as `timestamp[us]` isAdjustedToUTC=false, the
  *    regenerated testdata's exact shape;
  *  - TIMESTAMP (LTZ) — `timestamp[us]` adjusted to UTC, the third way a
  *    future regeneration could plausibly encode the same instants.
  */
class TsEncodingSpec extends SparkSpecBase {
  import spark.implicits._

  // sub-micro digits in the nanos fixture prove micros-truncation parity
  private val rowsNanos = Seq(
    (1L, 1700000000123456789L, 10L, "click", 1.5, """{"k":1}"""),
    (2L, 1700000086400999999L, 11L, "view", 2.0, null.asInstanceOf[String]),
    (3L, 1700000172800000001L, 10L, "purchase", 3.25, """{"k":3}"""))

  private def baseDf =
    rowsNanos.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  /** Write `df` (with BIGINT-nanos column `tsCol`) as `table`.parquet under
    * three sibling dirs, one per physical encoding. Returns encoding → dir.
    */
  private def encodedDirs(table: String, tsCol: String, df: DataFrame)
      : Map[String, String] = {
    def write(suffix: String, enc: DataFrame => DataFrame): String = {
      val dir = tempDir(s"ts_${table}_$suffix")
      enc(df).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/$table.parquet")
      dir.toString
    }
    Map(
      "nanos" -> write("nanos", identity),
      "ntz" -> write("ntz", _.withColumn(tsCol,
        timestamp_micros(expr(s"$tsCol div 1000")).cast("timestamp_ntz"))),
      "ltz" -> write("ltz", _.withColumn(tsCol,
        timestamp_micros(expr(s"$tsCol div 1000")))))
  }

  private lazy val dirs: Map[String, String] = encodedDirs("events", "ts", baseDf)

  private def canon(df: DataFrame): Set[(Long, String, Long, String, Double)] =
    df.select(col("event_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
      col("user_id"), col("event_type"), col("value"))
      .as[(Long, String, Long, String, Double)].collect().toSet

  test("fixtures really carry three distinct physical encodings") {
    assert(Tables.table(spark, dirs("nanos"), "events").schema("ts").dataType == LongType)
    assert(Tables.table(spark, dirs("ntz"), "events").schema("ts").dataType == TimestampNTZType)
    assert(Tables.table(spark, dirs("ltz"), "events").schema("ts").dataType == TimestampType)
  }

  test("Tables.table reads the schema Spark infers from every encoding fixture") {
    val ids = tempDir("footer_ids")
    Seq((1, 7, "a b c")).toDF("doc_id", "n_chars", "text")
      .coalesce(1).write.parquet(s"$ids/documents.parquet")
    Seq((1, Array(1f, 2f))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$ids/embeddings.parquet")
    val dbl = tempDir("footer_emb_double")
    Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$dbl/embeddings.parquet")
    val dated = Seq(
      "orders" -> Seq((1L, 1700000000123456789L)).toDF("o_orderkey", "o_orderdate"),
      "lineitem" -> Seq((1L, 1700000000123456789L)).toDF("l_orderkey", "l_shipdate"))
      .flatMap { case (t, df) =>
        encodedDirs(t, df.columns(1), df).values.map(_ -> t) }
    val fixtures = dirs.values.map(_ -> "events") ++ dated ++ Seq(
      ids.toString -> "documents", ids.toString -> "embeddings",
      dbl.toString -> "embeddings")
    fixtures.foreach { case (d, t) =>
      assert(Tables.table(spark, d, t).schema ==
        spark.read.parquet(s"$d/$t.parquet").schema, s"$d/$t")
    }
  }

  test("Tables.events returns identical TIMESTAMP_NTZ values from every encoding") {
    val results = dirs.map { case (k, d) =>
      val df = Tables.events(spark, d)
      assert(df.schema("ts").dataType == TimestampNTZType,
        s"$k: canonical output must be TIMESTAMP_NTZ")
      k -> canon(df)
    }
    assert(results("nanos").nonEmpty)
    assert(results("nanos") == results("ntz"), "nanos vs timestamp[us] NTZ")
    assert(results("nanos") == results("ltz"), "nanos vs timestamp[us] LTZ")
    // micros truncation (not rounding), the DuckDB-parity contract
    assert(results("nanos").exists(_._2 == "2023-11-14 22:13:20.123456"))
    assert(results("nanos").exists(_._2 == "2023-11-14 22:14:46.400999"))
  }

  test("Tables.eventsRawNanos agrees with Tables.events bit-for-bit under every encoding") {
    val sets = dirs.map { case (k, d) =>
      k -> Tables.eventsRawNanos(spark, d)
        .select(col("event_id"), col("ts")).as[(Long, Long)].collect().toSet
    }
    assert(sets("nanos") == sets("ntz") && sets("nanos") == sets("ltz"))
    // micros-truncated nanos, so ×1000 grid and exact expected values
    assert(sets("nanos") == Set(
      (1L, 1700000000123456000L),
      (2L, 1700000086400999000L),
      (3L, 1700000172800000000L)))
  }

  test("Tables.orders o_orderdate dispatches identically under every encoding") {
    val base = Seq((1L, 1700000000123456789L, "O"), (2L, 1700000086400999999L, "F"))
      .toDF("o_orderkey", "o_orderdate", "o_orderstatus")
    val ds = encodedDirs("orders", "o_orderdate", base)
    val results = ds.map { case (k, d) =>
      val df = Tables.orders(spark, d)
      assert(df.schema("o_orderdate").dataType == TimestampNTZType,
        s"$k: canonical o_orderdate must be TIMESTAMP_NTZ")
      k -> df.select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .as[(Long, String)].collect().toSet
    }
    assert(results("nanos") == results("ntz") && results("nanos") == results("ltz"))
    assert(results("nanos").contains((1L, "2023-11-14 22:13:20.123456")))
  }

  test("Tables.lineitem l_shipdate dispatches identically under every encoding") {
    val base = Seq((1L, 1L, 1700000000123456789L), (2L, 1L, 1700000172800000001L))
      .toDF("l_orderkey", "l_linenumber", "l_shipdate")
    val ds = encodedDirs("lineitem", "l_shipdate", base)
    val results = ds.map { case (k, d) =>
      val df = Tables.lineitem(spark, d)
      assert(df.schema("l_shipdate").dataType == TimestampNTZType,
        s"$k: canonical l_shipdate must be TIMESTAMP_NTZ")
      k -> df.select(col("l_orderkey"),
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .as[(Long, String)].collect().toSet
    }
    assert(results("nanos") == results("ntz") && results("nanos") == results("ltz"))
    assert(results("nanos").contains((2L, "2023-11-14 22:16:12.800000")))
  }

  test("Tables.embeddings fails fast on a double re-encode") {
    val dir = tempDir("emb_double")
    Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalStateException](Tables.embeddings(spark, dir.toString))
    assert(e.getMessage.contains("unsupported physical type"))
  }

  test("readEventStream yields identical settled rows from every encoding") {
    val results = dirs.map { case (k, d) =>
      val q = EventStreamJob.runAvailableNow(
        EventStreamJob.readEventStream(spark, s"$d/events.parquet"),
        s"ts_enc_$k", "append")
      q.stop()
      val got = canon(spark.table(s"ts_enc_$k"))
      spark.catalog.dropTempView(s"ts_enc_$k")
      k -> got
    }
    assert(results("nanos").nonEmpty)
    assert(results("nanos") == results("ntz") && results("nanos") == results("ltz"))
  }

  test("media/retrieval staged fixtures survive a documents/embeddings re-encode") {
    // r12 verdict task 7: the media synthesis and streaming-index fixtures
    // stage slices of documents/embeddings and re-read them through
    // asserted LONG-id schemas — the exact shape the r7 events.ts
    // regeneration broke. Re-encode both tables with int32 ids (the
    // plausible narrowing) and pin the whole staged path: canonical read
    // schema, identical values, byte-identical synthesized media payloads,
    // and an identical slice-file stream round-trip.
    val dir = tempDir("docs_reenc")
    Tables.documents(spark, Sf)
      .withColumn("doc_id", col("doc_id").cast("int"))
      .withColumn("n_chars", col("n_chars").cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables.embeddings(spark, Sf)
      .withColumn("vec_id", col("vec_id").cast("int"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val reDir = dir.toString
    // canonical logical schema restored from the narrowed physical one
    val docs = Tables.documents(spark, reDir)
    assert(docs.schema("doc_id").dataType == LongType)
    assert(docs.schema("n_chars").dataType == LongType)
    val emb = Tables.embeddings(spark, reDir)
    assert(emb.schema("vec_id").dataType == LongType)
    assert(docs.orderBy("doc_id").collect().toSeq ==
      Tables.documents(spark, Sf).orderBy("doc_id").collect().toSeq)
    assert(emb.select(col("vec_id")).orderBy("vec_id").collect().toSeq ==
      Tables.embeddings(spark, Sf).select(col("vec_id")).orderBy("vec_id").collect().toSeq)
    // the media fixture synthesizes identical payload bytes either way
    import graft.multimodal.BinaryPipeline
    val canonical = BinaryPipeline.syntheticRealMedia(spark, Sf)
      .collect().map(r => r.media_id -> r.payload).toMap
    val reenc = BinaryPipeline.syntheticRealMedia(spark, reDir).collect()
    assert(reenc.nonEmpty && reenc.length == canonical.size)
    reenc.foreach(r => assert(
      java.util.Arrays.equals(r.payload, canonical(r.media_id)), s"payload ${r.media_id}"))
    // the streaming-index staged read path: a slice file written from the
    // canonicalized frame re-reads through the asserted LONG schema
    val landing = tempDir("reenc_landing")
    docs.select(col("doc_id"), col("text")).coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/b00.parquet")
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(s"$landing/b00.parquet")
    val q = EventStreamJob.runAvailableNow(stream, "reenc_slices", "append")
    q.stop()
    val settled = spark.table("reenc_slices")
      .as[(Long, String)].collect().toSet
    spark.catalog.dropTempView("reenc_slices")
    assert(settled == Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSet)
  }

  test("the driver's actual testdata reads under the dispatch (whatever its current encoding)") {
    val df = Tables.events(spark, Sf)
    assert(df.schema("ts").dataType == TimestampNTZType)
    assert(df.count() > 0)
    assert(Tables.eventsRawNanos(spark, Sf).schema("ts").dataType == LongType)
    // the date-carrying relational tables run the same dispatch (pass-through
    // today; immune if the driver re-encodes them the way it did events.ts)
    assert(Tables.orders(spark, Sf).schema("o_orderdate").dataType == TimestampNTZType)
    assert(Tables.lineitem(spark, Sf).schema("l_shipdate").dataType == TimestampNTZType)
    // the embeddings element-type dispatch (same drift class): float today
    assert(Tables.embeddings(spark, Sf).schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    })
  }
}
