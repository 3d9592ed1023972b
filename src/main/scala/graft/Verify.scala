package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Timestamp outputs are normalized to TIMESTAMP_NTZ before writing: the
  * testdata parquet is isAdjustedToUTC=false and DuckDB's TIMESTAMP is naive,
  * so an instant-typed (LTZ) Spark column would round-trip as tz-aware and
  * hash-mismatch a value-identical oracle result.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: comma-separated query-name filter (dev-only — the
    // driver always runs the full set)
    val only = SparkEntry.selectFaces(args.lift(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.sessionBuilder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same override knob as Bench: a gate-branch demo (e.g. a forced-small
    // triangle wedge budget) must drive the QUERIES and the GENERATED
    // oracles from one session conf, or the oracle replays the wrong
    // regime (r17 ADVICE)
    Tables.applyConfOverrides(spark, sys.env.getOrElse("SPARK_GRAFT_CONF", ""), "verify")
    new java.io.File(outDir).mkdirs()
    // A failed query must leave an explicit error record, never a silent gap
    // (round-1 lesson: q_window_lag vanished from the correctness report).
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val ntz = df.schema.fields.foldLeft(df) { (acc, f) =>
          if (f.dataType == TimestampType)
            acc.withColumn(f.name, col(f.name).cast(TimestampNTZType))
          else acc
        }
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.toString).take(500)
        System.err.println(s"[verify] $name FAILED: ${errors(name)}")
      }
      // same query isolation as Bench: a query's internal persists /
      // checkpoints must not linger into the next query's run
      try graft.operators.IterCheckpoint.releaseAll(spark)
      catch { case _: Throwable => () }
    }
    // static oracles + run-time-generated ones (e.g. the trained-IVF oracle
    // embeds this run's fitted centroid matrix as literals). Each generator
    // group runs under its own try inside oracleSqlDynamicSafe: a failure
    // degrades only its own queries to rows-only AND lands in
    // verify_errors.json — visible in the round artifact, not just stderr.
    val (dynamic, oracleErrors) = SparkEntry.oracleSqlDynamicSafe(spark, sfDir)
    oracleErrors.foreach { case (k, v) =>
      System.err.println(s"[verify] $k generation FAILED: $v")
      errors(k) = v
    }
    // Bench's JSON escape: a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness
    def q(s: String): String = Bench.jsonString(s)
    val json = (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty) System.err.println(s"[verify] ${errors.size} queries FAILED")
    spark.stop()
  }
}
