package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

/** Benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line for the driver.
  *
  * Each query is materialized with a noop-format write so the FULL plan
  * executes (a bare `count()` would let Catalyst prune projections and
  * under-report the real work).
  *
  * Watchdog design (round-1 lesson: one runaway query ate the whole 1-hour
  * budget and the summary line never printed): every query runs on a worker
  * thread under its own job group with a per-query timeout
  * (`SPARK_GRAFT_QUERY_TIMEOUT_SEC`, default 300) capped by a global soft
  * deadline (`SPARK_GRAFT_BENCH_BUDGET_SEC`, default 3000); on timeout the
  * job group is cancelled and the run moves on. Per-query results stream to
  * stderr as they land, and the final JSON prints no matter what failed.
  */
object Bench {

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — every artifact writer's (Verify's too). Found live at a 300× probe
    * (r14): a disk-full SparkException carries newlines and tabs, and the
    * old backslash+quote-only escape emitted an unparseable artifact —
    * the one failure mode an `errors` field exists to record. Extracted
    * from the writer so BenchPhasesSpec can pin the contract.
    */
  private[graft] def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val perQueryTimeout = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "300").toLong
    val globalBudget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "3000").toLong
    // SPARK_GRAFT_ONLY=q_a,q_b — run a subset in an otherwise-identical
    // session (clean-session attribution of queries that are slow only in
    // full runs, or one face in a fresh JVM; not used by the driver)
    val only = SparkEntry.selectFaces(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = Tables.sessionBuilder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // generic session-conf overrides ("k=v,k=v") so gate-branch demos,
    // deployment-sized budgets and the streaming state-store provider
    // don't each need a bespoke env knob; shared with Verify
    // ([[Tables.applyConfOverrides]] — key validation and the
    // no-commas-in-values limitation documented there, r17 ADVICE)
    val confApplied = Tables.applyConfOverrides(spark,
      sys.env.getOrElse("SPARK_GRAFT_CONF", ""), "bench")
    // the streaming state-store provider, stamped into the artifact when
    // the run overrode it (`state_store`; null = Spark's default store)
    val stateStore = confApplied.collect { case (StateStoreConf, cls) => cls }.lastOption
    // warm the session once before timing: executor threads, codegen
    // compiler, parquet footer cache — otherwise the alphabetically-first
    // query absorbs ~5s of one-time JVM cost and distorts its number.
    // Warm against the bench's own SF_DIR (not a hardcoded fixture path) and
    // never let a warmup failure kill the run before the summary line — the
    // worst case is a slower first query, not a silent no-output bench.
    try SparkEntry.queries("q1_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }
    // cached pool: a cancelled-but-wedged worker must not block later queries
    val pool = Executors.newCachedThreadPool()
    val benchStart = System.nanoTime()
    def remainingSec: Long = globalBudget - (System.nanoTime() - benchStart) / 1000000000L

    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Option[String], Boolean, Option[Map[String, Double]]) = {
      val budget = math.min(perQueryTimeout, math.max(remainingSec, 0L))
      val t0 = System.nanoTime()
      var err: Option[String] = None
      var refused = false
      // on timeout, the reported time is the moment the budget fired, not
      // budget + drain wait — otherwise timeout runs are incomparable across
      // rounds (the drain can add up to 60s of non-query time)
      var secsAtTimeout: Option[Double] = None
      if (budget <= 0) {
        err = Some("skipped: global budget exhausted")
      } else {
        val fut = pool.submit(new Runnable {
          def run(): Unit = {
            // job group set on the worker thread so cancelJobGroup can reach
            // every job this query submits; BenchPhases scope so the query's
            // instrumented phases (staging/stream_wall/per-batch metrics,
            // codegen compiles) land in this run's artifact — begin() also
            // discards a prior run's phases, so a budget retry reports its own
            spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
            BenchPhases.begin(name)
            try BenchPhases.codegen(
              fn(spark, sfDir).write.format("noop").mode("overwrite").save())
            finally {
              spark.sparkContext.clearJobGroup()
              BenchPhases.end()
            }
          }
        })
        try fut.get(budget, TimeUnit.SECONDS)
        catch {
          case _: TimeoutException =>
            secsAtTimeout = Some((System.nanoTime() - t0) / 1e9)
            spark.sparkContext.cancelJobGroup(name)
            fut.cancel(true)
            // cancellation is async: tasks of the cancelled group can keep
            // running (and eating all cores) into the next query's window,
            // contaminating its timing. Block (bounded) until the stages
            // actually drain before moving on.
            val drainDeadline = System.nanoTime() + 60L * 1000000000L
            while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty
                   && System.nanoTime() < drainDeadline) {
              Thread.sleep(200)
            }
            err = Some(s"timeout after ${budget}s")
          case e: java.util.concurrent.ExecutionException =>
            val cause = Option(e.getCause).getOrElse(e)
            refused = isRefusal(cause)
            err = Some(cause.toString.take(300))
          case e: Throwable =>
            refused = isRefusal(e)
            err = Some(e.toString.take(300))
        }
      }
      val secs = secsAtTimeout.getOrElse((System.nanoTime() - t0) / 1e9)
      // query isolation: drop whatever the query persisted/checkpointed
      // (operators legitimately cache intermediates INSIDE their own timed
      // window; leaving those blocks behind would pollute every later
      // query's session and compound over a 50-query run)
      try {
        graft.operators.IterCheckpoint.releaseAll(spark)
        // ContextCleaner only reclaims broadcast/shuffle state when weak
        // references are processed — i.e. when a GC runs. Under the 32g heap
        // full GCs essentially never happen on their own, so ~50 queries of
        // broadcasts and shuffle files pile up in the block manager and
        // strangle late queries (round-3 lesson: the slow SET differed run to
        // run — session damage, not plans). Force the GC here, outside the
        // timed window; `spark.cleaner.periodicGC.interval=30s` on the
        // session covers in-query accumulation.
        System.gc()
      } catch { case _: Throwable => () }
      // snapshot THIS run's phases before any retry's begin() discards them:
      // per-OBSERVATION staging capture (r18 verdict task 3 + ADVICE) — a
      // cold run that rode another face's landing and a cold-reset retry
      // that re-staged must each be adjudicated against their OWN stamp,
      // not whichever run happened to execute last
      (secs, err, refused, BenchPhases.snapshot(name))
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        val (secs, err, refused, ph) = runOne(name, fn)
        System.err.println(f"[bench] $name%-30s ${secs}%8.2fs " +
          s"${err.map(e => if (refused) s"REFUSED $e" else e).getOrElse("ok")}")
        ph.foreach { m =>
          val line = m.toSeq.sortBy(_._1)
            .map { case (p, v) => f"$p=$v%.2f" }.mkString(" ")
          System.err.println(s"[bench]   phases: $line")
        }
        (name, secs, err, refused, fn, ph)
      }

    // perf budget (BENCH_BUDGET.md): every query must finish under the
    // ceiling at sf0.1 — a dedicated JSON field + stderr WARN makes a perf
    // regression loud instead of letting it drift run over run.
    // A breach on a machine with ±2x background variance is unactionable
    // (round-6: the ceiling flag fired on a window where even unchanged
    // round-5 code ran 2.5x slow), so each first-pass breach gets ONE
    // rerun at the end of the run; a query is flagged only if BOTH runs
    // breach, and the minimum is reported (the best observed = the bound
    // on what the code itself needs).
    val ceiling = CeilingSec
    // r16 verdict task 2: the sf0.1 reference run gets the 100× record's
    // noise discipline AUTOMATICALLY — the slowest N error-free faces are
    // rerun cold-reset, so every round's driver-written artifact carries
    // its own noise floor (steady map + steady_total) for exactly the
    // faces that dominate the headline. SPARK_GRAFT_RERUN_SLOWEST
    // overrides N (0 disables — a 100× replica run must not pay N extra
    // 60 s faces). Every retry starts from a WarmState.resetForColdRerun():
    // staged landings, settled checkpoints, Derby dbs, bucketed tables and
    // trained models are all dropped, so the second run re-stages/replays/
    // re-trains inside its own timed window. That gives `steady` ONE
    // semantics — the min of two cold-equivalent runs — for every face
    // class (r14 verdict task 5); the artifact stamps the policy in
    // `rerun_staging`.
    val rerunSlowest = sys.env.getOrElse("SPARK_GRAFT_RERUN_SLOWEST", "5").toInt
    val autoSlow: Set[String] = results
      .collect { case (n, v, None, _, _, _) => (n, v) }
      .sortBy(-_._2).take(math.max(rerunSlowest, 0)).map(_._1).toSet
    if (autoSlow.nonEmpty) System.err.println(
      s"[bench] auto-rerun of slowest $rerunSlowest: ${autoSlow.toSeq.sorted.mkString(",")}")
    val retried = results.collect {
      case (name, v, None, _, fn, _) if v > ceiling || autoSlow(name) =>
        val why = if (v > ceiling) f"first ${v}%.1fs > ${ceiling}%.0fs"
          else "auto-slowest"
        try WarmState.resetForColdRerun()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warm-state reset failed (rerun may be warm): $e") }
        val (second, err2, _, ph2) = runOne(name, fn)
        System.err.println(
          f"[bench] RETRY ($why) $name%-30s ${second}%8.2fs ${err2.getOrElse("ok")}")
        (name, v, second, err2, ph2)
    }
    pool.shutdownNow()

    val allCold: Seq[(String, Double, Option[String], Boolean)] =
      results.map { case (k, v, e, r, _, _) => (k, v, e, r) }
    val retriedAll: Seq[(String, Double, Double, Option[String])] =
      retried.map { case (n, f0, s2, e2, _) => (n, f0, s2, e2) }
    val retryBySecond = retriedAll.map { case (n, _, s2, e2) => n -> (s2, e2) }.toMap
    // The acceptance WINDOW can sit above the contract ceiling (the 100×
    // replica runs accept 420 s where the sf0.1 contract is 30 s). r12
    // verdict task 6: the two thresholds must not share a flag field —
    // `budget_exceeded` flags only genuine WINDOW breaches (the number a
    // reader acts on), `over_contract` records contract-ceiling
    // exceedances informationally, and both thresholds are stamped into
    // the artifact so the record explains itself.
    // clamped to >= ceiling: `over` below only collects ceiling breaches,
    // so a window UNDER the ceiling would silently drop genuine window
    // breaches from both flag fields (r13 review finding) — and a window
    // tighter than the contract is a contradiction anyway (lower the
    // ceiling instead)
    val windowSec = sys.env.get("SPARK_GRAFT_WINDOW_SEC").map(_.toDouble)
      .map { w =>
        if (w < ceiling) System.err.println(
          f"[bench] WINDOW_SEC $w%.0f < ceiling $ceiling%.0f — clamped to the ceiling")
        math.max(w, ceiling)
      }
      .getOrElse(ceiling)

    def jstr(s: String) = Bench.jsonString(s)
    // per-face one-time dataset staging (the `staging` phase stamp: stream
    // landings, media fixtures, Derby loads, the co-order edge landing),
    // charged to whichever face drew it. r17 verdict task 1: three of the
    // five slowest 100× "faces" were mostly dataset setup, so the contract
    // adjudication below runs on query_secs = wall − staging while the
    // headline `queries`/`value` stay honest cold wall. Captured PER RUN
    // (r18 verdict task 3): each observation — the cold run and any
    // cold-reset retry — nets out its OWN stamp, so a cold run that rode
    // another face's landing (no stamp) is never netted by the staging its
    // retry re-paid.
    def stagingIn(ph: Option[Map[String, Double]]): Option[Double] =
      ph.flatMap(_.get("staging"))
    val stagingOf: Map[String, Double] =
      results.flatMap { case (k, _, _, _, _, ph) => stagingIn(ph).map(k -> _) }.toMap
    val stagingRetryOf: Map[String, Double] =
      retried.flatMap { case (n, _, _, _, ph2) => stagingIn(ph2).map(n -> _) }.toMap
    val qs = allCold.map { case (k, v, _, _) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    // designed refusals (admission gates firing as specified, sizing string
    // preserved) live in `refused`; `errors` is real failures ONLY — an
    // empty errors object again means "nothing broke" (r16 verdict task 3)
    val errs = allCold.collect { case (k, _, Some(e), false) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val refusedJson = allCold.collect { case (k, _, Some(e), true) => jstr(k) + ":" + jstr(e) }
      .mkString("{", ",", "}")
    val nRefused = allCold.count(_._4)
    val total = allCold.map(_._2).sum
    // contract adjudication is STAGING-NET (r17 verdict task 1): a face
    // lands in over_contract only when every error-free observation still
    // breaches the ceiling after ITS OWN run's staging stamp is netted out
    // (per-run capture, r18 verdict task 3); the reported number is the
    // best staging-net observation
    val over = allCold.collect { case (k, v, None, _) => (k, v) }.flatMap {
      case (k, v) =>
        val retry = retryBySecond.get(k).map { case (s2, e2) =>
          (s2, e2, stagingRetryOf.getOrElse(k, 0.0)) }
        overContractNet(v, stagingOf.getOrElse(k, 0.0), retry, ceiling)
          .map(net => (k, net))
    }
    // the hard acceptance flag stays on the WALL clock (r18 ADVICE: the
    // window mirrors an external driver kill/timeout, which fires on wall
    // seconds regardless of how much of them were staging) — a face is
    // budget_exceeded when every error-free observation's WALL breaches
    // the window; the staging-net policy applies to over_contract only
    val windowOver = allCold.collect { case (k, v, None, _) => (k, v) }.flatMap {
      case (k, v) =>
        val walls = v +: retryBySecond.get(k)
          .collect { case (s2, None) => s2 }.toSeq
        if (walls.forall(_ > windowSec)) Some(k -> walls.min) else None
    }
    windowOver.foreach { case (k, v) =>
      System.err.println(f"[bench] BUDGET EXCEEDED $k ${v}%.1fs wall > ${windowSec}%.0fs window (both runs)") }
    over.filterNot { case (k, _) => windowOver.exists(_._1 == k) }.foreach { case (k, v) =>
      System.err.println(f"[bench] over contract $k ${v}%.1fs staging-net > ${ceiling}%.0fs ceiling (wall inside ${windowSec}%.0fs window)") }
    val overJson = windowOver.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val contractJson = over.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val retriesJson = retriedAll.map { case (n, first, s2, _) =>
      jstr(n) + ":[" + first + "," + s2 + "]" }.mkString("{", ",", "}")
    // steady-state number per RETRIED query: the min of its runs. The cold
    // number in `queries` stays the first observation, but co-tenant page-
    // cache/heap swings inflated four r11 100× headline numbers 2–17× over
    // their own re-probes (r11 verdict task 3) — recording min-of-runs in
    // the SAME artifact makes the committed record self-correcting: readers
    // cite a field, not prose about a separate clean-JVM session.
    val steadyJson = retriedAll.map { case (n, first, s2, e2) =>
      jstr(n) + ":" + (if (e2.isEmpty) math.min(first, s2) else first)
    }.mkString("{", ",", "}")
    // per-phase attribution for instrumented queries (streaming faces):
    // `phases` carries each face's COLD-run decomposition (captured at
    // runOne time, r18 verdict task 3 — the headline `queries` numbers are
    // cold walls, so the decomposition shown next to them must be the same
    // run's); a retried face's own retry decomposition lands separately in
    // `phases_retry`, so both observations explain themselves.
    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    def phMap(ph: Map[String, Double]): String = ph.toSeq.sortBy(_._1)
      .map { case (p, v) => jstr(p) + ":" + r3(v) }.mkString("{", ",", "}")
    val phasesJson = results.flatMap { case (k, _, _, _, _, ph) =>
      ph.map(m => jstr(k) + ":" + phMap(m))
    }.mkString("{", ",", "}")
    val phasesRetryJson = retried.flatMap { case (n, _, _, _, ph2) =>
      ph2.map(m => jstr(n) + ":" + phMap(m))
    }.mkString("{", ",", "}")
    val storeJson = stateStore.map(jstr).getOrElse("null")
    // staging reported once, artifact-level, per face that drew it —
    // `staging` is the COLD run's stamp, `staging_retry` the cold-reset
    // retry's own re-staging (per-run capture) — and the staging-net clock
    // for EVERY face (== cold where nothing was staged in the cold run)
    val stagingJson = stagingOf.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + r3(v) }.mkString("{", ",", "}")
    val stagingRetryJson = stagingRetryOf.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + r3(v) }.mkString("{", ",", "}")
    val querySecsJson = allCold.map { case (k, v, _, _) =>
      jstr(k) + ":" + r3(stagingNet(v, stagingOf.getOrElse(k, 0.0))) }
      .mkString("{", ",", "}")
    // steady_total: the headline total with every retried face replaced by
    // its best error-free observation — the round-over-round number a
    // reader can compare without prose about co-tenant noise (r16 task 2).
    // Faces never retried contribute their cold time unchanged, so the
    // auto-slowest policy above is what makes this total meaningful.
    val steadyByBest = retriedAll.collect {
      case (n, first, s2, e2) if e2.isEmpty => n -> math.min(first, s2) }.toMap
    val steadyTotal = allCold.map { case (k, v, _, _) =>
      steadyByBest.getOrElse(k, v) }.sum
    val artifactPath = sys.env.getOrElse("SPARK_GRAFT_ARTIFACT", "bench_last.json")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","steady_total":${r3(steadyTotal)},"queries":$qs,"query_secs":$querySecsJson,"staging":$stagingJson,"staging_retry":$stagingRetryJson,"errors":$errs,"refused":$refusedJson,"ceiling_sec":$ceiling,"window_sec":$windowSec,"budget_exceeded":$overJson,"over_contract":$contractJson,"budget_retries":$retriesJson,"steady":$steadyJson,"phases":$phasesJson,"phases_retry":$phasesRetryJson,"state_store":$storeJson,"rerun_staging":"cold-reset","rerun_slowest":$rerunSlowest,"dedicated_jvm":[],"sf":"$sfDir"}"""
    println(line)
    // the round-7 driver artifact captured only a 2000-char TAIL of this
    // output, losing the per-query map and most of the error entries
    // (ADVICE r7) — also land the full line on disk so every bench run
    // leaves a self-sufficient artifact regardless of how stdout is captured.
    // SPARK_GRAFT_ARTIFACT overrides the path.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(artifactPath), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] artifact write failed: $e") }
    // compact SECOND line (see compactLine) — printed LAST so any stdout
    // tail window ends with a complete, parseable JSON line.
    // slowest-3 ranks by each face's BEST observation (min of first run and
    // any error-free retry), not the first-run cold time (r15 ADVICE): a
    // retried face whose first run was noise-inflated would otherwise be
    // reported slowest with no hint that a lower steady number exists in
    // the full artifact's `steady` map.
    val bestOf = allCold.map { case (k, v, _, _) =>
      val eff = retryBySecond.get(k) match {
        case Some((s2, e2)) if e2.isEmpty => math.min(v, s2)
        case _ => v
      }
      (k, eff)
    }
    println(compactLine(allCold.size, total, steadyTotal,
      allCold.count { case (_, _, e, r) => e.nonEmpty && !r }, nRefused,
      windowOver.size, over.size,
      bestOf.sortBy(-_._2).take(3),
      artifactPath, sfDir))
    spark.stop()
  }

  /** The per-query contract ceiling (BENCH_BUDGET.md), seconds. */
  private[graft] val CeilingSec = 30.0

  private val StateStoreConf = "spark.sql.streaming.stateStore.providerClass"

  /** A face's contract clock net of its one-time dataset staging, clamped
    * at zero (a staging stamp can exceed a retried face's best wall when
    * the box sped up between runs — a negative "query time" would be
    * nonsense in the artifact).
    */
  private[graft] def stagingNet(secs: Double, staging: Double): Double =
    math.max(secs - math.max(staging, 0.0), 0.0)

  /** The staging-net over-contract decision for one face (r17 verdict task
    * 1, per-RUN staging since r19 — r18 verdict task 3): Some(best
    * staging-net seconds) when EVERY error-free observation — the cold run
    * netted by ITS OWN staging stamp, any error-free retry netted by the
    * retry's own — still breaches the ceiling; None otherwise. An errored
    * retry contributes nothing (same as the old rule: it cannot clear a
    * face). BenchPhasesSpec pins the arithmetic, including the asymmetric
    * case that motivated the change: a cold run that rode another face's
    * landing (no stamp of its own) nets nothing, while its re-staged
    * retry nets exactly what it re-paid.
    */
  private[graft] def overContractNet(cold: Double, coldStaging: Double,
      retry: Option[(Double, Option[String], Double)],
      ceiling: Double): Option[Double] = {
    val nets = stagingNet(cold, coldStaging) +:
      retry.collect { case (s2, None, st2) => stagingNet(s2, st2) }.toSeq
    if (nets.forall(_ > ceiling)) Some(nets.min) else None
  }

  /** True when any cause in the chain is a [[DesignedRefusal]] — the gate
    * exceptions are thrown driver-side (sized BEFORE work starts) so they
    * usually surface unwrapped, but a cause-chain walk keeps the
    * classification robust to harness wrapping. Bounded walk: exception
    * causes can be cyclic.
    */
  private[graft] def isRefusal(t: Throwable): Boolean = {
    var c = t
    var n = 0
    while (c != null && n < 16) {
      if (c.isInstanceOf[graft.DesignedRefusal]) return true
      c = if (c.getCause eq c) null else c.getCause
      n += 1
    }
    false
  }

  /** The driver-facing compact summary line, kept well under ~500 chars:
    * the driver stores a 2000-char stdout TAIL, and at 192+ queries the
    * full artifact is ~15 kB — so BENCH_r{10..14}.json all carried
    * `"parsed": null` and the driver never saw a headline number (r14
    * verdict task 2; the judge reconstructed rounds from
    * `bench_last.json`). Schema mirrors the driver contract
    * (metric/value/unit/sf) plus counts and the slowest three faces, and
    * points at the on-disk full artifact. Extracted so BenchPhasesSpec can
    * pin the two properties the fix depends on: strict-parser validity
    * (query names and sf paths ride through [[jsonString]]) and the
    * <500-char budget at representative name lengths.
    */
  private[graft] def compactLine(n: Int, total: Double, steadyTotal: Double,
      nErrors: Int, nRefused: Int,
      nWindowOver: Int, nOverContract: Int,
      slowest: Seq[(String, Double)], artifactPath: String,
      sfDir: String): String = {
    def r3(v: Double): Double = math.round(v * 1000.0) / 1000.0
    val slow = slowest.take(3)
      .map { case (k, v) => jsonString(k) + ":" + r3(v) }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${r3(total)},"unit":"sec","steady_total":${r3(steadyTotal)},"n":$n,"n_errors":$nErrors,"n_refused":$nRefused,"n_budget_exceeded":$nWindowOver,"n_over_contract":$nOverContract,"slowest":$slow,"full_artifact":${jsonString(artifactPath)},"sf":${jsonString(sfDir)}}"""
  }
}
