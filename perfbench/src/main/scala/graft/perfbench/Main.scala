package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import graft.{BenchPhases, SparkEntry, Tables, WarmState}
import org.apache.spark.sql.{Observation, SparkSession}

/** One benchmark run of one workload: a closed loop with one client that
  * runs the workload's faces (entries of `SparkEntry.queries`) one after
  * another, in passes: two untimed warm-up passes, then timed passes until
  * `--seconds` have gone by and at least three have run. The set-up is
  * JVM start to the first timed face: session, warm-up face, warm-up passes.
  *
  * A face is two public calls, timed apart: construction,
  * `SparkEntry.queries(name)(spark, dir)`, which builds the plan and runs
  * any construction-time jobs (checkpoints, training, staging, whole
  * streams); and execution, the noop-write action on the returned frame,
  * which also computes the output fingerprint ([[Fingerprint]]). Between
  * faces the session is cleaned as `graft.Bench` cleans it, outside the
  * face's clock, and every pass starts data-cold from
  * `WarmState.resetForColdRerun()`.
  *
  * With `--trace 1` one traced pass ([[Tracer]]) runs once half of
  * `--seconds` has gone by; the untraced timed passes give the tracing
  * overhead. Raw observations go to `--out` as JSON, spans to `--spans`;
  * `perfbench/run.py` turns them into metrics.
  *
  * Usage: graft.perfbench.Main --data DIR --faces a,b --seed N
  *   --seconds S --trace 0|1 --cpus N --out FILE [--spans FILE]
  */
object Main {
  private val WarmupFace = "q1_pricing_summary"
  private val WarmPasses = 2
  private val MinTimedPasses = 3
  private val FaceTimeoutS = 60L

  final case class Obs(name: String, pass: Int, timed: Boolean, traced: Boolean,
      constructS: Double, actionS: Double, cpuS: Double, cleanupS: Double,
      fp: String, error: Option[String], layers: Map[String, Double],
      batchMs: Seq[Double])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = args("data")
    val faces = args("faces").split(",").toSeq.filter(_.nonEmpty)
    val seed = args("seed").toLong
    val trace = args("trace") == "1"
    val cpus = args("cpus").toInt
    val seconds = args("seconds").toDouble
    val unknown = faces.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown faces: ${unknown.mkString(",")}")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    def nowMs: Double = System.currentTimeMillis().toDouble
    def build(): SparkSession = {
      val s = Tables.sessionBuilder(s"local[$cpus]", cpus.toString).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def noopWrite(s: SparkSession, name: String): Unit =
      SparkEntry.queries(name)(s, data).write.format("noop").mode("overwrite").save()

    val spark = build()
    val tb = nowMs
    noopWrite(spark, WarmupFace)
    clean(spark)
    val tw = nowMs
    val sc = spark.sparkContext

    val tracer = new Tracer(sc)
    if (trace) {
      sc.addSparkListener(tracer)
      spark.listenerManager.register(tracer.queryListener)
      spark.streams.addListener(tracer.streamListener)
    }
    val runSpan = 1L
    val runStart = nowMs

    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val pool = Executors.newCachedThreadPool()
    val rng = new scala.util.Random(seed)
    val obs = mutable.ArrayBuffer.empty[Obs]
    var faceId = 0
    var spanId = 1L
    def newSpan(): Long = { spanId += 1; spanId }

    def runFace(name: String, pass: Int, timed: Boolean, traced: Boolean): Obs = {
      faceId += 1
      val id = faceId
      val (gC, gA) = (s"pb$id.c", s"pb$id.a")
      val (faceSpan, cSpan, aSpan, clSpan) = (newSpan(), newSpan(), newSpan(), newSpan())
      if (traced) {
        tracer.bind(gC, id, "c", cSpan)
        tracer.bind(gA, id, "a", aSpan)
      }
      val rddsBefore = sc.getPersistentRDDs.keySet
      var newRdds = 0
      val cpu0 = cpuBean.getProcessCpuTime
      val start = nowMs
      val task = pool.submit(new Callable[(Double, Double, String)] {
        def call(): (Double, Double, String) = {
          sc.setJobGroup(gC, name, interruptOnCancel = true)
          BenchPhases.begin(name)
          try {
            val t0 = System.nanoTime()
            val df = SparkEntry.queries(name)(spark, data)
            val t1 = System.nanoTime()
            if (traced) newRdds = (sc.getPersistentRDDs.keySet -- rddsBefore).size
            sc.setJobGroup(gA, name, interruptOnCancel = true)
            val o = Observation(s"fp$id")
            val fpCols = Fingerprint.metrics(df)
            df.observe(o, fpCols.head, fpCols.tail: _*)
              .write.format("noop").mode("overwrite").save()
            val t2 = System.nanoTime()
            val m = o.get
            ((t1 - t0) / 1e9, (t2 - t1) / 1e9,
              Fingerprint.render(m("rows").asInstanceOf[Long], m("hash_sum")))
          } finally {
            sc.clearJobGroup()
            BenchPhases.end()
          }
        }
      })
      val (constructS, actionS, fp, error) =
        try { val (c, a, f) = task.get(FaceTimeoutS, TimeUnit.SECONDS); (c, a, f, None) }
        catch {
          case _: TimeoutException =>
            sc.cancelJobGroup(gC); sc.cancelJobGroup(gA); task.cancel(true)
            val drain = System.nanoTime() + 30L * 1000000000L
            while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < drain)
              Thread.sleep(100)
            (FaceTimeoutS.toDouble, 0.0, "", Some(s"timeout after ${FaceTimeoutS}s"))
          case e: java.util.concurrent.ExecutionException =>
            (0.0, 0.0, "", Some(String.valueOf(Option(e.getCause).getOrElse(e)).take(300)))
        }
      val cpuS = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val end = nowMs
      // what the face left behind, then the clean-up Bench.runOne does
      val rddsLeft = sc.getPersistentRDDs.size
      val blockMbLeft = sc.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum / 1048576.0
      val tc = System.nanoTime()
      clean(spark)
      val cleanupS = (System.nanoTime() - tc) / 1e9
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val phases = BenchPhases.snapshot(name).getOrElse(Map.empty)

      val layers = if (!traced) Map.empty[String, Double] else {
        val batches = phases.getOrElse("n_batches", 0.0).toInt
        if (!tracer.settle(id, batches, 30000L))
          System.err.println(s"[perfbench] $name: listener events still missing after 30 s")
        tracer.record(Span(faceSpan, runSpan, "face", name, start, end + cleanupS * 1000))
        tracer.record(Span(cSpan, faceSpan, "construct", name, start, start + constructS * 1000))
        tracer.record(Span(aSpan, faceSpan, "action", name,
          start + constructS * 1000, start + (constructS + actionS) * 1000))
        tracer.record(Span(clSpan, faceSpan, "cleanup", name, end, end + cleanupS * 1000))
        layerMetrics(tracer.acc(id), phases, actionS, cpus) ++ Map(
          "SparkEntry.construct_s" -> constructS,
          "IterCheckpoint.rdds" -> newRdds.toDouble,
          "session.cleanup_s" -> cleanupS,
          "session.rdds_left" -> rddsLeft.toDouble,
          "session.blocks_left_mb" -> blockMbLeft,
          "session.heap_after_gc_mb" -> heapMb)
      }
      val mode = if (traced) "T" else if (timed) " " else "w"
      System.err.println(f"[perfbench] pass $pass%d $mode $name%-32s " +
        f"construct $constructS%7.3fs action $actionS%7.3fs ${error.getOrElse("")}")
      Obs(name, pass, timed, traced, constructS, actionS, cpuS, cleanupS, fp, error, layers,
        if (traced) tracer.acc(id).batchMs.toList else Nil)
    }

    // untimed passes in which the JIT compiles the faces' code paths (after
    // one, the next pass was still 7-40 % slower than the ones after it),
    // then timed passes until `--seconds` have gone by and at least three
    // have run, so that a face's median has three samples or more. Every
    // pass is a fresh permutation of the faces. A traced run adds one traced
    // pass once half of the time has gone by.
    def runPass(pass: Int, timed: Boolean, traced: Boolean): Unit = {
      WarmState.resetForColdRerun()
      tracer.active = traced
      rng.shuffle(faces).foreach(n => obs += runFace(n, pass, timed, traced))
      tracer.active = false
    }
    (0 until WarmPasses).foreach(runPass(_, timed = false, traced = false))
    // set-up: JVM start to the first timed face
    val loopStart = nowMs
    val setupS = (loopStart - jvmStartMs) / 1000.0
    System.err.println(f"[perfbench] set-up ${setupS}%.2fs: session ${(tb - jvmStartMs) / 1000}%.2fs, " +
      f"warm-up face ${(tw - tb) / 1000}%.2fs, warm-up passes ${(loopStart - tw) / 1000}%.2fs")
    def elapsedS = (nowMs - loopStart) / 1000.0
    var pass = WarmPasses
    var untracedPasses = 0
    var tracedDone = !trace
    while (untracedPasses < MinTimedPasses || elapsedS < seconds || !tracedDone) {
      val traced = !tracedDone && untracedPasses > 0 && elapsedS >= seconds / 2
      runPass(pass, timed = true, traced)
      if (traced) tracedDone = true else untracedPasses += 1
      pass += 1
    }
    pool.shutdownNow()

    val out = new StringBuilder
    def js(s: String) = graft.Bench.jsonString(s)
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => js(k) + ":" + num(v) }.mkString("{", ",", "}")
    out ++= "{" + s""""cpus":$cpus,"heap_mb":${Runtime.getRuntime.maxMemory / 1048576},"""
    out ++= s""""jdk":${js(System.getProperty("java.vm.name") + " " + System.getProperty("java.version"))},"""
    out ++= s""""spark":${js(spark.version)},"seed":$seed,"data":${js(data)},"""
    out ++= s""""setup_s":${num(setupS)},"loop_s":${num(elapsedS)},"""
    out ++= s""""peak_rss_mb":${num(vmHwmMb())},"run_s":${num((nowMs - runStart) / 1000)},"""
    out ++= "\"faces\":" + obs.map { o =>
      s"""{"name":${js(o.name)},"pass":${o.pass},"timed":${o.timed},"traced":${o.traced},""" +
        s""""construct_s":${num(o.constructS)},"action_s":${num(o.actionS)},""" +
        s""""cpu_s":${num(o.cpuS)},"cleanup_s":${num(o.cleanupS)},"fp":${js(o.fp)},""" +
        s""""error":${o.error.map(js).getOrElse("null")},"layers":${obj(o.layers)},""" +
        s""""batch_ms":${o.batchMs.map(num).mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]") + "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")), out.toString)
    args.get("spans").foreach { path =>
      val rows = tracer.allSpans.sortBy(_.start).map { s =>
        s"""{"id":${s.id},"parent":${s.parent},"kind":${js(s.kind)},"name":${js(s.name)},""" +
          s""""start":${num(s.start)},"end":${num(s.end)}}"""
      } :+ s"""{"id":$runSpan,"parent":0,"kind":"run","name":"run","start":${num(runStart)},"end":${num(nowMs)}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), rows.mkString("[\n", ",\n", "\n]\n"))
    }
    spark.stop()
  }

  /** Drop what a face persisted and collect garbage, as `Bench.runOne`
    * does between faces. */
  private def clean(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    System.gc()
  }

  private def layerMetrics(a: FaceAcc, ph: Map[String, Double], actionS: Double,
      cpus: Int): Map[String, Double] = {
    val mb = 1048576.0
    val triggers = ph.getOrElse("p_triggerExecution", 0.0)
    Map(
      "SparkEntry.construct_jobs" -> a.constructJobs.toDouble,
      "IterCheckpoint.ckpt_s" -> ph.collect { case (k, v) if k.endsWith("_ckpt") => v }.sum,
      "Similarity.train_s" -> ph.getOrElse("model_train", 0.0),
      "spark.jobs" -> a.jobs.toDouble,
      "spark.stages" -> a.stages.toDouble,
      "spark.tasks" -> a.tasks.toDouble,
      "spark.task_wait_s" -> a.taskWaitMs / 1000.0,
      "spark.task_run_s" -> a.taskRunMs / 1000.0,
      "spark.task_cpu_s" -> a.taskCpuNs / 1e9,
      "spark.gc_s" -> a.gcMs / 1000.0,
      "spark.action_run_s" -> a.actionRunMs / 1000.0,
      "spark.action_wall_s" -> actionS,
      "spark.exchanges" -> a.exchanges.toDouble,
      "spark.reused_exchanges" -> a.reused.toDouble,
      "spark.shuffle_read_mb" -> a.shuffleRead / mb,
      "spark.shuffle_write_mb" -> a.shuffleWrite / mb,
      "spark.spill_mb" -> a.spill / mb,
      "spark.peak_exec_mem_mb" -> a.peakExecMem / mb,
      "sources.input_mb" -> a.inputBytes / mb,
      "sources.input_rows" -> a.inputRows.toDouble,
      "sources.scans" -> a.scans.toDouble,
      "sources.output_mb" -> a.outputBytes / mb,
      "sources.staging_s" -> ph.getOrElse("staging", 0.0),
      "streaming.batches" -> a.batchMs.size.toDouble,
      "streaming.add_batch_s" -> ph.getOrElse("p_addBatch", 0.0),
      "streaming.wal_commit_s" -> ph.getOrElse("p_walCommit", 0.0),
      "streaming.state_commit_s" -> ph.getOrElse("p_stateCommit", 0.0),
      "streaming.state_update_s" -> ph.getOrElse("p_stateUpdates", 0.0),
      "streaming.state_rows_peak" -> ph.getOrElse("p_stateRows", 0.0),
      "streaming.harness_s" -> math.max(ph.getOrElse("stream_wall", 0.0) - triggers, 0.0))
  }

  private def vmHwmMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(Double.NaN)
      finally src.close()
    }.getOrElse(Double.NaN)
}
