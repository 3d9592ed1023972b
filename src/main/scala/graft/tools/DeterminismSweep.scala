package graft.tools

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only audit: runs every SparkEntry query TWICE — once at the
  * session's normal shuffle-partition count and once at a co-prime count —
  * and compares canonical result hashes. Partitioning-dependence is
  * exactly the nondeterminism class that produces cross-engine oracle
  * flips (the `q_changelog_apply` version-collision bug surfaced this way:
  * an argmax tie resolved by shuffle arrival), and same-engine
  * double-execution catches it WITHOUT an oracle: a query whose answer
  * changes when only the partition count changes cannot hash-match DuckDB
  * reliably either.
  *
  * The canonical hash is an order-free fold (wrapping sum of per-row
  * hashes over all columns stringified), so row order never matters —
  * only content. Queries are isolated Bench-style (cache +
  * persistent-RDD sweep between runs).
  *
  * Usage: runMain graft.tools.DeterminismSweep <sfDir> [altPartitions]
  * (env SPARK_GRAFT_ONLY=q_a,q_b restricts to a subset — e.g. probing
  * just the argmax/ranking faces at a duplicate-dense 100× replica,
  * where key collisions are enriched.)
  */
object DeterminismSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val altParts = args.lift(1).getOrElse("13")
    val spark = Tables.sessionBuilder("local[32]", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def canonicalHash(df: DataFrame): (Long, Long) = {
      // stringify every column so NaN/array/struct all hash stably; the
      // wrapping SUM of per-row hashes is order-free (addition commutes),
      // so no sort is even needed
      val row = hash(df.columns.map(c => col(c).cast("string")).toIndexedSeq: _*)
        .cast("long")
      val agg = df.select(row.as("h"))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(expr("h")), lit(0L)).as("s"))
        .head()
      (agg.getLong(0), agg.getLong(1))
    }

    def isolate(): Unit =
      try graft.operators.IterCheckpoint.releaseAll(spark)
      catch { case _: Throwable => () }

    val only = SparkEntry.selectFaces(sys.env.get("SPARK_GRAFT_ONLY"))
    var mismatches = List.empty[String]
    var errors = List.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        val a = canonicalHash(fn(spark, sfDir))
        isolate()
        val b = Tables.withConf(spark, "spark.sql.shuffle.partitions" -> altParts) {
          canonicalHash(fn(spark, sfDir))
        }
        isolate()
        val ok = a == b
        if (!ok) mismatches ::= name
        System.err.println(f"[det] $name%-28s ${if (ok) "ok" else s"MISMATCH $a vs $b"}")
      } catch { case e: Throwable =>
        errors ::= name
        System.err.println(s"[det] $name ERROR ${Option(e.getMessage).getOrElse(e).toString.take(200)}")
        isolate()
      }
    }
    println(s"mismatches=${mismatches.sorted.mkString(",")} errors=${errors.sorted.mkString(",")}")
    if (mismatches.nonEmpty) sys.exit(1)
  }
}
