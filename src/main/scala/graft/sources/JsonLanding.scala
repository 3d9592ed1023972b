package graft.sources

import graft.Tables
import graft.operators.IngestTransforms
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The reference's JSON landing-file ingestion path, as one lazy Spark plan.
  *
  * The reference lands API batches as JSON files and re-reads them between
  * Airflow tasks (`posts_pipeline.py:25-32`, `comments_pipeline.py:42-64`);
  * here the whole extract→transform chain is a single declarative plan:
  * schema-applied JSON scan → T1 serialize-nested → T2 timestamp normalize →
  * T3 word_count. A directory of per-(day, post) comment files reads as one
  * multi-file scan — the implicit UNION ALL of SURVEY.md §2.7.
  */
object JsonLanding {

  /** Read a posts landing batch (JSON array file(s)) with the explicit raw
    * schema — never inferred — and apply the transform stage.
    */
  def readPosts(spark: SparkSession, paths: String*): DataFrame =
    transformBatch(
      spark.read.schema(Schemas.postsRaw)
        .option("multiLine", "true").json(paths: _*),
      Schemas.postsFinal)

  /** Read comment landing file(s) (one JSON array per (day, post_id)). */
  def readComments(spark: SparkSession, paths: String*): DataFrame =
    transformBatch(
      spark.read.schema(Schemas.commentsRaw)
        .option("multiLine", "true").json(paths: _*),
      Schemas.commentsFinal)

  /** The transform stage (`posts_pipeline.py:29-44`): T1 stringify nested,
    * T2 normalize `T`-separated timestamps, T3 derive word_count from content.
    *
    * Faithful detail: the reference applies the T2 shape heuristic to EVERY
    * string value (`posts_pipeline.py:38-39` checks the value, not the
    * column), so we run it over every string column — a 19-char title with a
    * 'T' at index 10 would be rewritten in both systems.
    */
  def transformBatch(raw: DataFrame, target: StructType): DataFrame = {
    val serialized = IngestTransforms.serializeNested(raw)
    val normalized = serialized.schema.fields
      .filter(_.dataType == StringType)
      .foldLeft(serialized) { (df, fld) =>
        df.withColumn(fld.name,
          IngestTransforms.normalizeIsoTimestamp(col(fld.name)))
      }
    normalized
      .withColumn("word_count",
        IngestTransforms.wordCount(col("content")).cast("int"))
      .select(target.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
  }

  /** Read schema for the quarantine face — the landed fields plus the
    * PERMISSIVE-mode corrupt-record column. Explicit, never inferred
    * (inference would silently reshape on a bad batch — the exact failure
    * this face exists to catch instead).
    */
  private val quarantineSchema = new StructType()
    .add("doc_id", LongType).add("lang", StringType).add("n_chars", LongType)
    .add("_corrupt_record", StringType)

  /** Stage a JSONL landing derived from `documents` where every doc with
    * `doc_id % 7 == 3` is deterministically mangled (closing brace replaced
    * by '!'). Content-independent rule, so the oracle knows exactly which
    * records are bad without parsing anything.
    */
  private def stagedCorruptDir(s: SparkSession, d: String): String =
    graft.WarmState.stagedDir(("json_quarantine", s, d)) { dir =>
      val j = to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
      Tables.documents(s, d)
        .select(when(col("doc_id") % 7 === 3,
            concat(j.substr(lit(1), length(j) - 1), lit("!")))
          .otherwise(j).as("line"))
        .write.mode("overwrite").text(dir.toString)
    }

  /** Corrupt-record quarantine — the malformed-batch discipline every JSON
    * ingestion needs: a PERMISSIVE read lands unparseable records in
    * `_corrupt_record` (whole-record null otherwise) instead of failing the
    * batch or silently dropping rows. The report splits the batch by
    * disposition with exact counts/sums, so "how much of last night's batch
    * was garbage" is a first-class query; the raw mangled lines stay
    * recoverable from the corrupt column (JsonLandingSpec asserts
    * round-trip). At 100 TB this is per-file parallel — corrupt handling is
    * row-local in the scan, no extra pass.
    */
  def quarantineReport(s: SparkSession, d: String): DataFrame = {
    val parsed = s.read.schema(quarantineSchema)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(stagedCorruptDir(s, d))
    parsed
      .groupBy(when(col("_corrupt_record").isNull, lit("parsed"))
        .otherwise(lit("quarantined")).as("disposition"))
      .agg(count(lit(1)).as("n_rows"), count(col("doc_id")).as("n_ids"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** Streaming face of [[quarantineReport]]: the same mangled landing
    * consumed as a LIVE stream through
    * [[graft.sources.Sinks.streamQuarantine]] — parsed records land in the
    * target keyed on doc_id, unparseable lines in the dead-letter queue
    * keyed on a content hash, both replay-safe. The settled stores must
    * answer the identical disposition report the batch face computes in
    * one plan (one oracle, two execution modes — the repo-wide streaming
    * contract).
    */
  def streamQuarantineReport(s: SparkSession, d: String): DataFrame = {
    val root = graft.SparkEntry.settledSink(s, ("stream_quarantine", s, d)) { landing =>
      // the batch face's own mangled files, mtimes kept (the batch order)
      val src = java.nio.file.Paths.get(stagedCorruptDir(s, d))
      val files = java.nio.file.Files.list(src)
      try files.filter(p => !p.getFileName.toString.matches("[_.].*")).forEach { p =>
        java.nio.file.Files.copy(p, landing.resolve(p.getFileName),
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
        ()
      } finally files.close()
    }(s.readStream.option("maxFilesPerTrigger", "1").text(_)) { (stream, root) =>
      Sinks.streamQuarantine(stream, "doc_id LONG, lang STRING, n_chars LONG", "doc_id",
        s"$root/target", s"$root/dlq", s"$root/ckpt")
    }
    val good = s.read.parquet(s"$root/target")
      .agg(count(lit(1)).as("n_rows"), count(col("doc_id")).as("n_ids"),
        sum(col("n_chars")).as("sum_chars"))
      .select(lit("parsed").as("disposition"), col("n_rows"), col("n_ids"),
        col("sum_chars"))
    val bad = s.read.parquet(s"$root/dlq")
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("quarantined").as("disposition"), col("n_rows"),
        lit(0L).as("n_ids"), lit(null).cast("long").as("sum_chars"))
    good.unionByName(bad)
  }

  /** The quarantined raw lines themselves (the sink side of
    * [[quarantineReport]] — what re-processing consumes after a fix).
    * `parsed_id` rides along (always NULL — corrupt records parse no
    * fields): Spark disallows scans whose only referenced column is the
    * corrupt column, and keeping a parsed field in the output both
    * satisfies that and documents the whole-record-null contract.
    */
  def quarantinedRaw(s: SparkSession, d: String): DataFrame =
    s.read.schema(quarantineSchema)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(stagedCorruptDir(s, d))
      .filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"), col("doc_id").as("parsed_id"))
}
