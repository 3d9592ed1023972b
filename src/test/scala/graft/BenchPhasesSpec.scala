package graft

import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The bench-artifact attribution registry: thread-scoped recording,
  * retry-reset semantics, codegen stamps, and no-op outside a begin/end
  * scope (the Verify and unit-test paths run the same instrumented code
  * with zero bookkeeping).
  */
class BenchPhasesSpec extends AnyFunSuite {

  test("recording is a no-op outside a begin/end scope") {
    BenchPhases.end() // ensure no scope leaks in from another test
    BenchPhases.add("staging", 1.0)
    val r = BenchPhases.timed("stream_wall")(21 * 2)
    assert(r == 42)
    assert(BenchPhases.snapshot("no_scope_q").isEmpty)
  }

  test("phases accumulate within a scope and sum repeated adds") {
    BenchPhases.begin("q_spec_a")
    try {
      BenchPhases.add("staging", 1.25)
      BenchPhases.add("staging", 0.75)
      BenchPhases.timed("stream_wall")(Thread.sleep(10))
    } finally BenchPhases.end()
    val ph = BenchPhases.snapshot("q_spec_a").get
    assert(ph("staging") == 2.0)
    assert(ph("stream_wall") >= 0.01)
    // after end(), the thread records nothing new
    BenchPhases.add("staging", 99.0)
    assert(BenchPhases.snapshot("q_spec_a").get("staging") == 2.0)
  }

  test("begin() discards the previous run's phases (budget-retry contract)") {
    BenchPhases.begin("q_spec_retry")
    BenchPhases.add("staging", 5.0)
    BenchPhases.end()
    BenchPhases.begin("q_spec_retry") // the retry: staging is cached, absent
    BenchPhases.add("stream_wall", 1.0)
    BenchPhases.end()
    val ph = BenchPhases.snapshot("q_spec_retry").get
    assert(!ph.contains("staging"))
    assert(ph("stream_wall") == 1.0)
  }

  test("scopes are per-thread: a worker records only its own query") {
    BenchPhases.begin("q_spec_main")
    try {
      val t = new Thread(() => {
        BenchPhases.begin("q_spec_worker")
        try BenchPhases.add("staging", 3.0)
        finally BenchPhases.end()
      })
      t.start(); t.join()
      BenchPhases.add("staging", 7.0)
    } finally BenchPhases.end()
    assert(BenchPhases.snapshot("q_spec_worker").get("staging") == 3.0)
    assert(BenchPhases.snapshot("q_spec_main").get("staging") == 7.0)
  }

  test("codegen stamps: the classes compiled inside the scope, 0 on a cache hit") {
    SparkSpecBase.session // the codegen cache takes its capacity from the session
    val c = Literal(System.nanoTime())
    def project() = GenerateUnsafeProjection.generate(
      Seq(Add(BoundReference(0, LongType, nullable = false), c)))
    for (q <- Seq("q_spec_codegen_cold", "q_spec_codegen_warm")) {
      BenchPhases.begin(q)
      try BenchPhases.codegen(project())
      finally BenchPhases.end()
    }
    val cold = BenchPhases.snapshot("q_spec_codegen_cold").get
    assert(cold("codegen_compiles") === 1.0 && cold("codegen_s") > 0.0)
    val warm = BenchPhases.snapshot("q_spec_codegen_warm").get
    assert(warm("codegen_compiles") === 0.0 && warm("codegen_s") === 0.0)
  }

  test("bench JSON strings survive control characters (the disk-full exception class)") {
    // r14: a multi-line SparkException in the errors field made the whole
    // artifact unparseable — the writer must escape every control char
    val nasty = "Job aborted:\n\tjava.io.IOException: No space left\rend\"q\\p"
    val json = s"""{"errors":{"q_x":${Bench.jsonString(nasty)}}}"""
    // strict round-trip through a real JSON parser (Spark's Jackson)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(json)
    assert(tree.get("errors").get("q_x").asText() === nasty,
      "escape must be lossless under a strict parser")
  }

  test("compact summary line: strict-parseable and inside the driver's tail budget") {
    // r14 verdict task 2: the driver keeps a 2000-char stdout TAIL, so the
    // LAST printed line must be a complete JSON document well under that —
    // BENCH_r{10..14}.json were all dark because only the full ~15 kB line
    // existed. Pin the two properties the fix rests on, at representative
    // worst-case name lengths (the longest real face names are ~30 chars).
    val slowest = Seq(
      ("q_semantic_contamination_sweep", 123.456789),
      ("q_co_order_heavy_recall", 99.9999),
      ("q_stream_semantic_contam", 88.8))
    val line = Bench.compactLine(194, 3152.8315, 3018.2, 1, 1, 0, 20, slowest,
      "/root/repo/BENCH_100x_full_r17.json", "/tmp/sf100x")
    assert(line.length < 500, s"compact line ${line.length} chars — too long " +
      "for the driver's 2000-char tail to be safe alongside log residue")
    assert(!line.contains("\n"), "must be ONE line")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val tree = mapper.readTree(line)
    assert(tree.get("metric").asText() === "total")
    assert(tree.get("n").asInt() === 194)
    assert(tree.get("n_over_contract").asInt() === 20)
    // r16 task 2: the steady total is IN the compact line, so the
    // round-over-round delta is adjudicable from the driver's parse alone
    assert(tree.get("steady_total").asDouble() === 3018.2)
    assert(tree.get("n_refused").asInt() === 1)
    assert(tree.get("slowest").get("q_co_order_heavy_recall").asDouble() === 100.0)
    assert(tree.get("sf").asText() === "/tmp/sf100x")
    // r16 ADVICE: the pointer reflects the RESOLVED artifact path, not a
    // hardcoded name the SPARK_GRAFT_ARTIFACT override would falsify
    assert(tree.get("full_artifact").asText() === "/root/repo/BENCH_100x_full_r17.json")
    // more than three slowest entries offered -> truncated to three
    val line5 = Bench.compactLine(5, 1.0, 1.0, 0, 0, 0, 0,
      (1 to 5).map(i => (s"q_$i", i.toDouble)), "bench_last.json", "/tmp/x")
    assert(mapper.readTree(line5).get("slowest").size() === 3)
  }

  test("designed refusals are classified by the DesignedRefusal trait, not by string") {
    // r16 verdict task 3 contract: a gate refusal routes to `refused`, a
    // thrown non-gate exception still lands in `errors` — the classifier is
    // the marker trait on the cause chain
    val gate = graft.operators.Dedup.PairVolumeBudgetExceeded(
      18556930000L, 2000000000L, 240330L, 3638L, "simhashPairs")
    assert(Bench.isRefusal(gate))
    assert(Bench.isRefusal(new RuntimeException("wrapped", gate)),
      "refusal must be found through a wrapping cause chain")
    assert(Bench.isRefusal(graft.operators.Graphs.WedgeSpillBudgetExceeded(
      1L, 2L, 3L, 4L, "plain-shuffle")))
    assert(!Bench.isRefusal(new RuntimeException(
      "pair volume budget: looks like a refusal but is not one")),
      "classification must not be string-based")
    // cyclic cause chains terminate
    val a = new RuntimeException("a")
    val b = new RuntimeException("b", a)
    a.initCause(b)
    assert(!Bench.isRefusal(a))
  }

  test("staging-net contract arithmetic (r17 verdict task 1)") {
    // query_secs = wall - staging, clamped at zero
    assert(Bench.stagingNet(99.5, 49.0) === 50.5)
    assert(Bench.stagingNet(10.0, 0.0) === 10.0)
    assert(Bench.stagingNet(10.0, 12.0) === 0.0, "net clamps at zero")
    assert(Bench.stagingNet(10.0, -5.0) === 10.0, "negative staging ignored")
    // over_contract fires on the staging-NET clock: a 78.7 s face carrying
    // 50 s of Derby staging is NOT over a 30 s ceiling
    assert(Bench.overContractNet(78.7, 50.0, None, 30.0) === None)
    // a face genuinely over: cold 99.5 with 49 staging -> net 50.5 breaches
    assert(Bench.overContractNet(99.5, 49.0, None, 30.0) === Some(50.5))
    // an error-free retry under the net ceiling clears the face
    assert(Bench.overContractNet(45.0, 0.0, Some((29.0, None, 0.0)), 30.0) === None)
    // an ERRORED retry cannot clear it; the reported number is the best net
    assert(Bench.overContractNet(45.0, 0.0, Some((20.0, Some("boom"), 0.0)), 30.0)
      === Some(45.0))
    // both runs breach net -> min of the PER-RUN nets is reported; each
    // observation nets its OWN staging stamp (r18 verdict task 3)
    assert(Bench.overContractNet(99.5, 49.0, Some((90.0, None, 49.0)), 30.0)
      === Some(41.0))
    // the asymmetric case the per-run capture exists for: the cold run rode
    // another face's landing (no stamp of its own — nets nothing), the
    // cold-reset retry re-staged and nets its own 30 s; the best net is the
    // retry's 37.0, NOT cold-minus-retry-staging (the last-run-stamp bug
    // reported 4.5 for q_triangle_auto at r18, SURVEY §22.1)
    assert(Bench.overContractNet(34.5, 0.0, Some((67.0, None, 30.0)), 32.0)
      === Some(34.5))
    assert(Bench.overContractNet(50.0, 0.0, Some((67.0, None, 30.0)), 32.0)
      === Some(37.0))
    // and a cold run netted by a stamp that does NOT belong to the retry:
    // retry staged nothing, so its wall stands un-netted
    assert(Bench.overContractNet(99.5, 49.0, Some((40.0, None, 0.0)), 30.0)
      === Some(40.0))
  }

  test("SPARK_GRAFT_CONF spec: keys reach the session conf, empty keys are skipped") {
    // a fresh SQL conf on the shared context, so nothing leaks into other suites
    val s = SparkSpecBase.session.newSession()
    val provider = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val applied = Tables.applyConfOverrides(s,
      s"spark.sql.streaming.stateStore.providerClass=$provider, =orphan," +
        "spark.graft.test.spec=a=b,no-equals", "spec")
    assert(applied === Seq(
      "spark.sql.streaming.stateStore.providerClass" -> provider,
      "spark.graft.test.spec" -> "a=b"))
    assert(s.conf.get("spark.sql.streaming.stateStore.providerClass") === provider)
    // a value keeps everything after the FIRST '='
    assert(s.conf.get("spark.graft.test.spec") === "a=b")
    assert(Tables.applyConfOverrides(s, "", "spec").isEmpty)
  }

  test("face filter: names trimmed, blank selects all, unknown names refused") {
    assert(SparkEntry.selectFaces(Some(" q_simhash , q_dedup_exact,")) ===
      Some(Set("q_simhash", "q_dedup_exact")))
    assert(SparkEntry.selectFaces(None).isEmpty)
    assert(SparkEntry.selectFaces(Some(" , ")).isEmpty)
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectFaces(Some("q_simhash,q_simhsh,q_nope")))
    assert(e.getMessage.contains("q_nope, q_simhsh"), e.getMessage)
    assert(!e.getMessage.contains("q_simhash,"), e.getMessage)
  }

}
