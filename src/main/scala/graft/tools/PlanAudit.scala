package graft.tools

import graft.Tables

/** Dev-only sweep: for every catalog query, build the frame (no execution
  * beyond what construction itself runs — gates, cuts sampling, staging)
  * and report how many times each parquet table appears in the physical
  * plan plus the Exchange/Generate counts. The r20 lesson this tool
  * encodes: "inspected the code" is not "captured the plan" — duplicated
  * subtrees (one frame feeding two consumers) only show up here.
  *
  * Usage: runMain graft.tools.PlanAudit <sfDir> [nameFilter] [--executed]
  * (the filter and the flag in either order)
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
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val executed = args.contains("--executed")
    val filt = nameFilter(args)
    val s = Tables.sessionBuilder("local[32]", "32").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filt.forall(n.contains))
    val scanRe = "Location: [A-Za-z]+FileIndex \\[[^\\]]*?([A-Za-z0-9_.-]+\\.parquet)".r
    def audit(p: String): (Map[String, Int], Int, Int) = {
      val scans = scanRe.findAllMatchIn(p).map(_.group(1)).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      (scans, "(?<!Reused)Exchange".r.findAllIn(p).size,
        "Generate".r.findAllIn(p).size)
    }
    def fmt(scans: Map[String, Int], exch: Int, gen: Int): String =
      f"exch=$exch%-3d gen=$gen%-3d " +
        s"scans{${scans.toSeq.sortBy(_._1).map { case (t, c) => s"$t=$c" }.mkString(",")}}"
    // executed-plan capture: foreachBatch bodies run actions on the SAME
    // session, so every micro-batch append/refresh lands here too
    val execLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val (scans, exch, gen) = audit(qe.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        if (scans.nonEmpty || exch > 0)
          execLines.add(f"  exec: $funcName%-12s ${fmt(scans, exch, gen)}")
      }
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    names.foreach { n =>
      try {
        execLines.clear()
        if (executed) s.listenerManager.register(listener)
        val df = graft.SparkEntry.queries(n)(s, dir)
        if (executed) {
          // listener delivery is async; a short settle keeps the lines
          // attributed to this face (dev tool — best-effort is fine)
          Thread.sleep(300)
          s.listenerManager.unregister(listener)
        }
        val p = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val (scans, exch, gen) = audit(p)
        val dup = scans.filter(_._2 > 1).keys.toSeq.sorted.mkString(",")
        println(f"$n%-32s ${fmt(scans, exch, gen)}" +
          (if (dup.nonEmpty) s"  DUP=$dup" else ""))
        execLines.forEach(l => println(l))
      } catch {
        case e: Throwable =>
          if (executed) try s.listenerManager.unregister(listener)
            catch { case _: Throwable => () }
          println(f"$n%-32s ERR ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(100).replace('\n', ' '))
      }
    }
    s.stop()
  }
}
