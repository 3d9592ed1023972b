package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace tree run → face → {construct, action, cleanup},
  * with Spark jobs and stages under the phase that submitted them and
  * micro-batches under construct. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double)

/** Per-face counters gathered from Spark's listener events. */
final class FaceAcc {
  var jobs, constructJobs, stages, tasks = 0L
  var taskWaitMs, taskRunMs, actionRunMs, gcMs = 0L
  var taskCpuNs = 0L
  var inputBytes, inputRows, shuffleRead, shuffleWrite, spill, outputBytes = 0L
  var peakExecMem = 0L
  var scans, exchanges, reused = 0L
  var openJobs = 0L
  val batchMs = mutable.ArrayBuffer.empty[Double]
}

/** Listens on Spark's public listener APIs and attributes every event to a
  * face through its job group: the harness runs a face's construction
  * under group `pb<id>.c` and its action under `pb<id>.a`. Streaming
  * queries set their own group (the run id), so a query started while a
  * face constructs is mapped to that face when it starts (the start
  * callback runs synchronously in the starting thread).
  *
  * Delivery is asynchronous. [[settle]] waits, without sleeping, until the
  * listener has seen the end of a marker job submitted after the face (the
  * shared listener queue delivers in order, so every earlier job, stage,
  * task and SQL-execution event has arrived), until no job of the face is
  * still open, and until every micro-batch the face reported has arrived
  * on the streaming queue.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var active = false
  @volatile private var current = -1
  private val faceAcc = new ConcurrentHashMap[Int, FaceAcc]()
  // group -> (face id, phase, parent span)
  private val groups = new ConcurrentHashMap[String, (Int, String, Long)]()
  private val jobFace = mutable.Map.empty[Int, (Int, String, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageSpan = mutable.Map.empty[(Int, Int), Span]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1000000L)
  @volatile private var marker: (String, CountDownLatch) = ("", new CountDownLatch(0))
  private val markerJobs = mutable.Set.empty[Int]

  def acc(face: Int): FaceAcc = faceAcc.computeIfAbsent(face, _ => new FaceAcc)

  /** Route the jobs of `group` to `face`, under span `parent`. */
  def bind(group: String, face: Int, phase: String, parent: Long): Unit = {
    current = face
    groups.put(group, (face, phase, parent))
  }

  def record(s: Span): Unit = spans.synchronized(spans += s)
  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  private def route(group: String): Option[(Int, String, Long)] =
    Option(group).flatMap(g => Option(groups.get(g)))
      .orElse(if (current >= 0) Some((current, "c", -1L)) else None)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null && group == marker._1) { markerJobs += e.jobId; return }
    if (!active) return
    route(group).foreach { case r @ (face, phase, parent) =>
      jobFace(e.jobId) = r
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      val a = acc(face)
      a.jobs += 1
      a.openJobs += 1
      if (phase == "c") a.constructJobs += 1
      jobSpan(e.jobId) = Span(nextId.getAndIncrement(), parent, "job",
        s"job ${e.jobId}", e.time.toDouble, e.time.toDouble)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (markerJobs.remove(e.jobId)) { marker._2.countDown(); return }
    jobFace.remove(e.jobId).foreach { case (face, _, _) =>
      acc(face).openJobs -= 1
      jobSpan.remove(e.jobId).foreach(s => record(s.copy(end = e.time.toDouble)))
      notifyAll()
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    for (job <- stageJob.get(info.stageId); (face, _, _) <- jobFace.get(job)) {
      val t = info.submissionTime.getOrElse(System.currentTimeMillis())
      stageSubmit((info.stageId, info.attemptNumber())) = t
      acc(face).stages += 1
      stageSpan((info.stageId, info.attemptNumber())) = Span(nextId.getAndIncrement(),
        jobSpan.get(job).map(_.id).getOrElse(-1L), "stage", s"stage ${info.stageId}",
        t.toDouble, t.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val key = (info.stageId, info.attemptNumber())
    stageSubmit.remove(key)
    stageSpan.remove(key).foreach(s => record(s.copy(
      end = info.completionTime.getOrElse(System.currentTimeMillis()).toDouble)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (job <- stageJob.get(e.stageId); (face, phase, _) <- jobFace.get(job)) {
      val a = acc(face)
      a.tasks += 1
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(t =>
        a.taskWaitMs += math.max(e.taskInfo.launchTime - t, 0L))
      val m = e.taskMetrics
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        if (phase == "a") a.actionRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.inputRows += m.inputMetrics.recordsRead
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** Scan and exchange counts of every executed plan, the final adaptive
    * plan included; delivered on the same shared queue as the job events. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active && current >= 0) {
        val a = acc(current)
        def walk(p: SparkPlan): Unit = {
          p match {
            case ad: AdaptiveSparkPlanExec => walk(ad.executedPlan); return
            case q: QueryStageExec => walk(q.plan); return
            case _: ReusedExchangeExec => a.synchronized(a.reused += 1); return
            case _: Exchange => a.synchronized(a.exchanges += 1)
            case _: FileSourceScanExec | _: BatchScanExec => a.synchronized(a.scans += 1)
            case _ =>
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
        }
        walk(qe.executedPlan)
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (active && current >= 0) {
        val parent = Option(groups.get(s"pb$current.c")).map(_._3).getOrElse(-1L)
        groups.put(e.runId.toString, (current, "c", parent))
      }
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      Option(groups.get(p.runId.toString)).foreach { case (face, _, parent) =>
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        Tracer.this.synchronized {
          acc(face).batchMs += ms
          record(Span(nextId.getAndIncrement(), parent, "batch", s"batch ${p.batchId}",
            start, start + ms))
          Tracer.this.notifyAll()
        }
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Block until every event of `face` has been delivered (see the class
    * comment), bounded by `timeoutMs`. Returns false on timeout. */
  def settle(face: Int, expectBatches: Int, timeoutMs: Long): Boolean = {
    val latch = new CountDownLatch(1)
    val group = s"pb-marker-$face"
    marker = (group, latch)
    sc.setJobGroup(group, "trace marker", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    val markerSeen = latch.await(timeoutMs, TimeUnit.MILLISECONDS)
    synchronized {
      val a = acc(face)
      var left = deadline - System.currentTimeMillis()
      while ((a.openJobs > 0 || a.batchMs.size < expectBatches) && left > 0) {
        wait(left)
        left = deadline - System.currentTimeMillis()
      }
      markerSeen && a.openJobs == 0 && a.batchMs.size >= expectBatches
    }
  }
}
