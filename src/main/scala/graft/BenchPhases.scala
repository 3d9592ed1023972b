package graft

import org.apache.spark.sql.streaming.StreamingQuery

/** Per-query, per-phase wall-clock attribution that lands IN the bench
  * artifact (r10 verdict task 1).
  *
  * Background: the graph pair has carried per-phase stderr attribution since
  * round 8 ([[graft.operators.Graphs]]), but the `q_stream_*` faces did not —
  * so when the r10 driver window showed `q_stream_tumbling` at 25.0 s against
  * a 4.3 s clean rehearsal, the artifact could not say whether the excess was
  * staging I/O, state-store commits, sentinel flush batches, or co-tenant
  * noise. This registry closes that: [[Bench]] scopes each query's run
  * (`begin`/`end` on the worker thread), the streaming harness records named
  * phases as it executes, and the final bench JSON carries a
  * `"phases":{query:{phase:secs}}` map alongside the per-query totals.
  *
  * Every face Bench runs carries `codegen_compiles` and `codegen_s`
  * ([[codegen]]): how many classes Spark's code generator compiled for it,
  * and for how long — the cost a warm codegen cache saves on a rerun.
  *
  * Phase vocabulary for a streaming face:
  *  - `staging`      — one-time landing construction (slice writes); absent
  *                     on a cached-landing rerun, so a retry's phase map
  *                     isolates pure stream cost;
  *  - `stream_wall`  — start-to-settle wall of the streaming query;
  *  - `n_batches`    — micro-batch count (a count, not seconds);
  *  - `p_<metric>`   — sums of Spark's own per-batch `durationMs` entries
  *                     across batches (`p_addBatch`, `p_walCommit`,
  *                     `p_commitOffsets`, `p_latestOffset`,
  *                     `p_queryPlanning`, `p_triggerExecution`);
  *    `p_triggerExecution` ≈ the whole batch and CONTAINS the others —
  *    these are attribution coordinates, not disjoint accounting;
  *  - `p_stateCommit` / `p_stateUpdates` — state-store commit / update time
  *    summed over operators, batches AND partitions (task-parallel time, so
  *    it can legitimately exceed wall).
  * `stream_wall − p_triggerExecution` is the harness overhead outside batch
  * execution (AvailableNow planning, source listing, settle); a driver-window
  * number far above all recorded phases indicates time lost to the BOX
  * (co-tenant load between batches), which is exactly the distinction the r10
  * artifact could not draw.
  *
  * Recording is a no-op unless the calling thread is inside a
  * `begin`/`end` scope — `graft.Verify` and unit tests run the same code
  * paths with zero bookkeeping. Writes are thread-scoped by construction
  * (each bench worker records only its own query), and the map is bounded by
  * the query count.
  */
object BenchPhases {
  private val current = new ThreadLocal[String]
  private val acc = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[String, Double]]()

  /** Scope the calling thread's recordings to `query`, discarding any
    * phases from a previous run of the same query (a budget retry must
    * report ITS phases, not a merge of both runs). */
  def begin(query: String): Unit = { acc.remove(query); current.set(query) }

  def end(): Unit = current.remove()

  def add(phase: String, secs: Double): Unit = {
    val q = current.get()
    if (q != null)
      acc.computeIfAbsent(q,
        _ => new java.util.concurrent.ConcurrentHashMap[String, Double]())
        .merge(phase, secs, (a: Double, b: Double) => a + b)
  }

  def timed[T](phase: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally add(phase, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` and stamps what Spark's code generator did meanwhile:
    * `codegen_compiles`, the classes it compiled (codegen-cache misses),
    * and `codegen_s`, its compile time. Both counters are JVM-wide, so the
    * deltas are one face's only while faces run one at a time, as Bench
    * runs them. Touches `CodeGenerator` only here: its cache takes its
    * capacity from the session conf when first used, so callers must have
    * built their session first.
    */
  def codegen[T](body: => T): T = {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val (n0, ns0) = (METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    try body
    finally {
      add("codegen_compiles", (METRIC_COMPILATION_TIME.getCount - n0).toDouble)
      add("codegen_s", (CodeGenerator.compileTime - ns0) / 1e9)
    }
  }

  /** Incremental, batch-deduplicated accumulator over a query's progress
    * telemetry: folding the bounded `recentProgress` buffer repeatedly
    * while the query runs sees every batch exactly once (keyed on
    * (runId, batchId)), so the peak/sum stamps stay correct past the
    * buffer's 100-entry retention (r18 ADVICE). Batches produced faster
    * than one poll interval per retention window would still rotate out —
    * at 500 ms polls that is >200 batches/s, far past any face here.
    */
  private final class ProgressFold {
    private val seen = scala.collection.mutable.HashSet.empty[(java.util.UUID, Long)]
    private var nBatches = 0L
    private val durations = scala.collection.mutable.Map.empty[String, Double]
    private var stateCommit = 0.0
    private var stateUpdates = 0.0
    private var peakRows = 0L
    private var hasState = false
    def fold(progs: Array[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit =
      progs.foreach { p =>
        if (seen.add((p.runId, p.batchId))) {
          nBatches += 1
          p.durationMs.forEach((k, v) =>
            durations.update(k, durations.getOrElse(k, 0.0) + v.toDouble / 1000.0))
          p.stateOperators.foreach { so =>
            hasState = true
            stateCommit += so.commitTimeMs.toDouble / 1000.0
            stateUpdates += so.allUpdatesTimeMs.toDouble / 1000.0
          }
          peakRows = math.max(peakRows, p.stateOperators.map(_.numRowsTotal).sum)
        }
      }
    def stamp(): Unit = {
      add("n_batches", nBatches.toDouble)
      durations.foreach { case (k, v) => add("p_" + k, v) }
      // presence of the state keys is itself signal (consumers detect
      // stateful faces by it — r19 ADVICE): stamp them, zero included,
      // whenever any state operator was OBSERVED, not only when positive
      if (hasState) {
        add("p_stateCommit", stateCommit)
        add("p_stateUpdates", stateUpdates)
        add("p_stateRows", peakRows.toDouble)
      }
    }
  }

  /** Start-to-settle under a `stream_wall` phase + progress attribution —
    * the drop-in for the harness's `Sinks.streamX(...).awaitTermination()`
    * call shape. By-name so a `settle(Sinks.streamX(...))` call times the
    * stream's START (source listing, batch planning) inside `stream_wall`
    * too; progress is folded incrementally every 500 ms so a face with
    * more micro-batches than the progress buffer retains still reports
    * true sums and the true state-row peak (r18 ADVICE).
    *
    * Stamps the micro-batch count and per-metric duration sums.
    * `p_stateRows` is the PEAK state volume — max across batches of the
    * total rows maintained over all state operators — read together with
    * `p_stateUpdates` (state rows × per-row cost); a face settling several
    * streams sums their peaks.
    */
  def settle(query: => StreamingQuery): Unit = {
    val f = new ProgressFold
    // stamp in a finally: a stream that dies mid-run must still land its
    // incrementally folded attribution (batch counts, state rows) in the
    // artifact — that partial map is exactly what explains the failure
    // (r19 ADVICE)
    try timed("stream_wall") {
      val q = query
      while (!q.awaitTermination(500L)) f.fold(q.recentProgress)
      f.fold(q.recentProgress)
    } finally f.stamp()
  }

  /** Phases recorded for `query` in its latest `begin` scope, if any. */
  def snapshot(query: String): Option[Map[String, Double]] = {
    val m = acc.get(query)
    if (m == null || m.isEmpty) None
    else {
      import scala.jdk.CollectionConverters._
      Some(m.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
    }
  }
}
