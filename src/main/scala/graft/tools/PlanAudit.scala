package graft.tools

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only sweep: for every catalog query, build the frame (no execution
  * beyond what construction itself runs — gates, cuts sampling, staging)
  * and report how many times each parquet table appears in the physical
  * plan plus the Exchange/Generate counts. The r20 lesson this tool
  * encodes: "inspected the code" is not "captured the plan" — duplicated
  * subtrees (one frame feeding two consumers) only show up here.
  *
  * Usage: runMain graft.tools.PlanAudit <sfDir> [faces] [--executed]
  * (the filter and the flag in either order; `faces` is a comma list of
  * exact face names, read by [[graft.SparkEntry.selectFaces]], which
  * refuses an unknown name before any face is built)
  * Output (stdout, one line per face):
  *   <name>  exch=<n> gen=<n> scans{table=count,...}  dup=<tables scanned >1>
  *
  * `--executed` (r21, r20 VERDICT task 7) additionally attaches a
  * QueryExecutionListener for the DURATION of each face's construction and
  * prints one `exec:` line per action Spark ran — which is the only way to
  * see the per-micro-batch plans inside a streaming face's foreachBatch
  * (the final-frame audit above only sees the settled-store read), and also
  * surfaces construction-time jobs (checkpoint materializations, gates).
  */
object PlanAudit {
  private[tools] def nameFilter(args: Array[String]): Option[String] =
    args.drop(1).find(_ != "--executed")

  /** The faces a run audits, sorted: every face without a filter, else
    * exactly the named ones. */
  private[tools] def faces(args: Array[String]): Seq[String] = {
    val only = graft.SparkEntry.selectFaces(nameFilter(args))
    graft.SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
  }

  private val scanRe = "Location: [A-Za-z]+FileIndex \\[[^\\]]*?([A-Za-z0-9_.-]+\\.parquet)".r
  private def audit(p: String): (Map[String, Int], Int, Int) = {
    val scans = scanRe.findAllMatchIn(p).map(_.group(1)).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    (scans, "(?<!Reused)Exchange".r.findAllIn(p).size,
      "Generate".r.findAllIn(p).size)
  }
  private def fmt(scans: Map[String, Int], exch: Int, gen: Int): String =
    f"exch=$exch%-3d gen=$gen%-3d " +
      s"scans{${scans.toSeq.sortBy(_._1).map { case (t, c) => s"$t=$c" }.mkString(",")}}"

  /** Runs `body` and returns its value with one `exec:` line per action
    * Spark ran meanwhile (foreachBatch bodies run actions on the SAME
    * session, so every micro-batch append/refresh lands here too).
    * Listener delivery is asynchronous: a marker action runs after `body`,
    * and the listener queue delivers in order, so once the marker's event
    * has arrived every earlier action's has too.
    */
  private[tools] def execLines[T](s: SparkSession)(body: => T): (T, Seq[String]) = {
    val lines = new ConcurrentLinkedQueue[String]()
    val marker = s.range(1).toDF()
    val markerSeen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq marker.queryExecution) markerSeen.countDown()
        else {
          val (scans, exch, gen) = audit(qe.explainString(FormattedMode))
          if (scans.nonEmpty || exch > 0)
            lines.add(f"  exec: $funcName%-12s ${fmt(scans, exch, gen)}")
        }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val out = body
      marker.collect()
      require(markerSeen.await(30, TimeUnit.SECONDS),
        "the marker action's listener event did not arrive within 30 s")
      (out, lines.asScala.toSeq)
    } finally s.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val executed = args.contains("--executed")
    val names = faces(args)
    val s = Tables.sessionBuilder("local[32]", "32").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      try {
        def build = graft.SparkEntry.queries(n)(s, dir)
        val (df, exec) = if (executed) execLines(s)(build) else (build, Nil)
        val (scans, exch, gen) = audit(df.queryExecution.explainString(FormattedMode))
        val dup = scans.filter(_._2 > 1).keys.toSeq.sorted.mkString(",")
        println(f"$n%-32s ${fmt(scans, exch, gen)}" +
          (if (dup.nonEmpty) s"  DUP=$dup" else ""))
        exec.foreach(println)
      } catch {
        case e: Throwable =>
          println(f"$n%-32s ERR ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(100).replace('\n', ' '))
      }
    }
    s.stop()
  }
}
