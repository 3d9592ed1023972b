package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap

/** Relational graph analytics over testdata-derived graphs, complementing
  * [[ThreadGraph]]'s traversal ops. (The reference has no graph surface —
  * this is north-star extension, like the dedup/similarity operators.)
  *
  * The concrete graph: the part co-order graph — an edge between two parts
  * iff some order contains both (`lineitem` is the incidence list). The
  * co-occurrence projection of a bipartite incidence table is the shape
  * shared by "products bought together", "documents citing both", and
  * near-dup cluster graphs.
  */
object Graphs {

  /** Per-phase wall-clock attribution to stderr. The r6/r7 bench artifacts
    * showed the graph pair breaching the 30 s ceiling in DRIVER context
    * while builder/judge clean sessions measured 3–6× less; these lines make
    * every driver run carry its own attribution (which gate path fired,
    * where the seconds went) instead of leaving the gap to speculation.
    */
  private def timed[T](query: String, phase: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    val secs = (System.nanoTime() - t0) / 1e9
    // also land the phase in the bench artifact (no-op outside a Bench
    // scope): the r17 verdict's co-order drift adjudication needed the
    // face's own decomposition IN the committed record, not just stderr
    graft.BenchPhases.add("p_" + phase, secs)
    System.err.println(
      f"[graft.graphs] $query $phase%-14s $secs%7.2fs")
    r
  }

  /** Undirected co-order edges as canonical `u < v` pairs. Per-order
    * all-pairs is bounded by order size (≤7 items in TPC-H-shaped data, and
    * in general the basket, not the corpus), so pair generation is
    * group-local quadratic with small groups — the safe direction. A
    * part-keyed expansion ("orders sharing a part") would be the
    * skew-quadratic one; that direction is exactly what [[triangleCount]]'s
    * degree orientation exists to avoid.
    *
    * Shape: ONE aggregation shuffle (`collect_set` per order — partial aggs
    * map-side, basket-bounded arrays) + group-local pair expansion from the
    * sorted array (u < v for free) + the final distinct — two exchanges
    * total. The round-7 self-join formulation paid four (distinct incidence,
    * both join sides re-hashed on the order key, final distinct); at 2.4M
    * incidence rows the extra exchanges were ~40% of every graph query's
    * edge-build time.
    */
  def coOrderEdges(s: SparkSession, d: String): DataFrame =
    coOrderPairs(s, d).distinct()

  /** Per-order canonical pairs (one row per (order, pair); NOT globally
    * distinct): the shared expansion under [[coOrderEdges]] (distinct) and
    * [[coOrderTopK]] (support counts).
    *
    * Two chained GENERATORS (posexplode the sorted set, then explode each
    * element's tail slice) rather than one nested
    * `transform(…transform(slice…))` expression: the higher-order-function
    * form allocates per-element arrays and structs through interpreted
    * lambda evaluation — measured 3× slower on a 36M-pair expansion (30×
    * replica: 65 s → 22 s) — while Generate(explode) runs inside
    * whole-stage codegen. Sortedness of `ps` gives `u < v` for free.
    */
  private def coOrderPairs(s: SparkSession, d: String): DataFrame =
    coOrderPairsOf(Tables.lineitem(s, d))

  /** The basket-local pair expansion over an arbitrary lineitem-shaped
    * frame — parameterized so the sampled candidate stage of
    * [[coOrderHeavyTopK]] expands a FRACTION of the baskets through the
    * identical dataflow.
    */
  private def coOrderPairsOf(li: DataFrame): DataFrame =
    coOrderPairsWithOrder(li).select(col("u"), col("v"))

  /** The same expansion KEEPING the order key on every pair row — so a
    * consumer can aggregate truth and deterministic basket-sample counts
    * (order-residue conditionals) in ONE pass instead of re-expanding per
    * sample rate ([[coOrderHeavyRecall]]).
    */
  private def coOrderPairsWithOrder(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      .select(col("l_orderkey").as("ok"),
        posexplode(col("ps")).as(Seq("i", "u")), col("ps"))
      .select(col("ok"), col("u"),
        explode(expr("slice(ps, i + 2, size(ps) - i - 1)")).as("v"))

  /** Global triangle count via the degree-ordered node-iterator — the
    * O(m^{3/2}) algorithm (Schank/Wagner; the standard distributed
    * formulation is Suri & Vassilvitskii's MR-friendly variant):
    *
    *  1. orient every undirected edge from its (degree, id)-smaller endpoint
    *     to the larger — a DAG whose max out-degree is O(√m) REGARDLESS of
    *     in-degree skew (a celebrity node receives edges, it doesn't fan
    *     out), which is the entire scale argument;
    *  2. wedges = self-join oriented edges on the source: Σ outdeg² work,
    *     bounded by m^{3/2}, vs Σ deg² (unbounded under skew) for the naive
    *     shared-neighbor join;
    *  3. a wedge (p, q) closes iff {p, q} is an edge — probe the oriented
    *     edge set keyed on the unordered pair.
    *
    * Each triangle is counted exactly once: within a triangle the
    * orientation (a total order restricted to 3 nodes) gives exactly one
    * node out-degree 2 — its wedge is the one that finds the closing edge.
    *
    * All shuffles carry (long, long) rows; counts are exact integers, so
    * the oracle (canonical u<v<w triple join — a different algorithm, same
    * count) matches bit-for-bit.
    */
  def triangleCount(s: SparkSession, d: String): DataFrame =
    triangleCountEdges(coOrderEdges(s, d), broadcastMaxEdgesFor(s),
      maxWedges = maxExactWedgesFor(s), statsKey = Some(d))

  /** The edge-iterator admission cap, deployment-sized: the broadcast path
    * holds the whole oriented adjacency (m longs + array overhead) in every
    * executor, so the right cap is a function of executor memory, not a
    * universal constant. `spark.graft.triangle.broadcastMaxEdges` overrides
    * the conservative cluster default ([[BroadcastRowCap]], 4M edges — safe
    * for small executors); the single-JVM 128 GiB bench host measured the
    * 100× co-order graph (m = 90.3M edges, ~722 MB of adjacency longs,
    * 268.3 B wedges) through the edge-iterator in 226.5 s — the path that
    * never materializes a wedge — where both shuffle-join paths time out.
    * The knob is the documented sizing decision, recorded in the bench
    * artifact's environment, not a silent constant bump.
    */
  def broadcastMaxEdgesFor(s: SparkSession): Long =
    s.conf.getOption("spark.graft.triangle.broadcastMaxEdges")
      .map(_.toLong).getOrElse(BroadcastRowCap)

  // ---- exact-wedge admission + regime gate (r16 verdict task 1) ----------
  //
  // The exact count's work is EXACTLY the wedge volume (2·wedges hash probes
  // through the edge-iterator, or a wedges-row shuffle): at the 100× replica
  // (268.3 B wedges) the exact face paid 262.5 s — 12.5% of the whole record
  // — while DOULION at p=1/4 landed 61.8 s on the same graph. Same move as
  // the simhash pair-volume gate and the heavy-pair regime gate: the sizing
  // aggregate (Σ C(outdeg,2), an n-row job over the oriented DAG) is cheap,
  // so the DECISION runs in code, not in a scaladoc telling deployments to
  // check. Two consumers:
  //  - [[triangleCount]] (the exact face) REFUSES past the budget — a
  //    [[DesignedRefusal]] carrying the exact sizing, never a timeout;
  //  - [[triangleCountAuto]] picks exact vs DOULION-sampled, choosing the
  //    smallest 1/p that brings the SAMPLED wedge volume (wedges·p², both
  //    edges of a wedge must survive) under the budget, and ships the
  //    estimate with its n_sampled/sample_ok quality fields.

  /** Wedge-volume budget for an EXACT triangle count. Default sized from
    * the measured bench host rate (~1.0–1.3 B wedge probes/s through the
    * codegen'd sorted-intersect edge-iterator — BENCH_BUDGET.md r17 row):
    * 2×10^10 wedges ≈ 15–20 s of intersect work, comfortably inside the
    * 30 s face contract with edge-build headroom; the 100× co-order graph
    * (268.3 B) refuses at ~13× over. Deployments size it to their
    * cluster's aggregate probe rate × acceptable latency.
    */
  val MaxExactWedgesConfKey = "spark.graft.triangle.maxExactWedges"
  val DefaultMaxExactWedges: Long = 20000000000L

  def maxExactWedgesFor(s: SparkSession): Long =
    s.conf.getOption(MaxExactWedgesConfKey)
      .map(_.toLong).getOrElse(DefaultMaxExactWedges)

  /** Designed refusal of an exact count whose measured wedge volume exceeds
    * the budget. Message front-loads the sizing (Bench truncates at 300
    * chars) and names both remedies.
    */
  final case class TriangleWedgeBudgetExceeded(
      nWedges: Long, maxWedges: Long, nEdges: Long)
    extends RuntimeException(
      s"triangle wedge budget: wedges=$nWedges budget=$maxWedges m=$nEdges " +
        s"— refuse the exact count; remedies: triangleCountAuto (regime-" +
        s"gated DOULION estimate), or raise $MaxExactWedgesConfKey")
    with graft.DesignedRefusal

  /** DOULION sampling exponents the auto face picks from: the chooser takes
    * the SMALLEST ip ≥ 2 with wedges·4^-ip ≤ budget (each raise quarters
    * the sampled wedge volume); past ip=8 the estimate is all variance on
    * any graph whose exact count was worth asking for, so the ladder caps
    * there — and the CASE ladder stays integer-exact in both engines
    * (wedges ≤ budget·4^ip, products ≤ 2e10·65536 ≈ 1.3e15 < 2^63).
    */
  val AutoIpLadder: Seq[Int] = (2 to 8).toSeq

  /** The regime chooser: 0 = exact, else the smallest admissible DOULION
    * exponent. Pure integer comparisons — replicated verbatim as the
    * oracle's CASE ladder ([[graft.SparkEntry]] q_triangle_auto).
    */
  def chooseTriangleIp(wedges: Long, maxExact: Long): Int =
    if (wedges <= maxExact) 0
    else AutoIpLadder.find(ip => wedges <= maxExact * (1L << (2 * ip)))
      .getOrElse(AutoIpLadder.last)

  /** DOULION estimate's error bar as an integer percent (r17 verdict task
    * 4): the estimator's relative standard error is ≈ 1/√n_sampled
    * (triangle survival at p³ is Poisson-ish and the variance bound of
    * Tsourakakis et al. 2009 reduces to it when sampled triangles dominate
    * the shared-edge term, which `sample_ok`'s n ≥ 25 floor guarantees).
    * Emitted in the suite's integer style — the smallest e ∈ [1, 100] with
    * e²·n ≥ 100² (= ⌈100/√n⌉, but computed by pure integer comparisons so
    * the oracle's replay is bit-exact, never an IEEE-rounding coin flip);
    * n = 0 caps at 100 ("all variance" — same verdict as sample_ok=false).
    */
  def triangleRelErrPct(nSampled: Long): Long =
    if (nSampled <= 0L) 100L
    else (1L to 100L).find(e => e * e * nSampled >= 10000L).getOrElse(100L)

  // ---- per-dataset wedge-stat memo (r17 verdict task 5) -------------------
  //
  // The exact face's REFUSAL at 100× cost 20.8 s: edge checkpoint + degree
  // orientation + the gate aggregate, run only to learn a number
  // (268.3 B wedges) that q_triangle_auto had measured seconds earlier in
  // the same session over the same staged edge landing. The memo makes the
  // sizing a per-dataset fact, like the PageRank scale: whichever triangle
  // face measures (m, wedges) first records it, and a later exact face
  // consults it BEFORE building anything — an over-budget graph refuses in
  // milliseconds with the identical sizing message. Contract: a caller
  // passing `statsKey` asserts the edge frame IS the canonical co-order
  // edge list of that dataset (SparkEntry passes the staged landing); the
  // same immutable-dataset assumption as [[scaleCache]], and
  // [[graft.WarmState.resetForColdRerun]] drops it for cold reruns.

  private val wedgeStatsCache = TrieMap.empty[String, (Long, Long)]

  /** Drop the memoized (edges, wedges) sizing — cold-rerun uniformity. */
  private[graft] def resetWedgeStats(): Unit = wedgeStatsCache.clear()

  /** "Frequently bought together": the k heaviest co-order part pairs with
    * their support counts. The pair aggregation is the weighted form of
    * [[coOrderEdges]] (same basket-local quadratic bound); the global top-k
    * fuses to `TakeOrderedAndProject` — per-partition k-buffers, no full
    * sort at any scale. Ties break on the pair itself for determinism.
    */
  def coOrderTopK(s: SparkSession, d: String, k: Int = 20): DataFrame =
    coOrderPairs(s, d)
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("u"), col("v"))
      .limit(k)

  /** Deterministic basket-sampling rate (1/mod of orders by key residue)
    * and candidate-pool size for the approximate heavy-pair face. mod = 2
    * is chosen AGAINST the measured field, not for the cost win: the
    * co-order pair counts here are near-uniform (max 3 at sf0.1 — see
    * [[coOrderHeavyRecall]]), and a count-c pair needs ≥ 2 sampled
    * occurrences to be detectable, so any rate much under 1/2 has nothing
    * to detect (measured: candidate-stage top-k recall 0.25 at mod 2,
    * 0.0 at mod 4). On a Zipfian basket field — where heavy-pair mining
    * earns its keep — the same machinery runs at mod 100+ because the
    * heavy pairs' counts dwarf 1/rate; the recall face is what tells a
    * deployment which regime its data is in — and since r15 the REGIME GATE
    * ([[heavyPairRegime]]/[[coOrderHeavyTopKAuto]]) makes that check in
    * code: a cheap sampled pair-count probe either selects the rate or
    * falls back to the exact face. This constant remains the explicit
    * lever face's knob, kept so [[coOrderHeavyRecall]] can keep publishing
    * the recall AT a fixed rate.
    */
  val HeavyPairSampleMod = 2
  val HeavyPairCandidates = 100

  /** Approximate "frequently bought together" — [[coOrderTopK]]'s scale
    * lever (r13 verdict task 3). The exact face's floor is the Σ|basket|²
    * pair expansion plus a pair-keyed shuffle of the whole stream; this
    * face expands only a 1/[[HeavyPairSampleMod]] deterministic basket
    * sample (orderkey residue — oracle-replicable, no RNG), takes the
    * [[HeavyPairCandidates]] heaviest sampled pairs as candidates, and
    * then counts ONLY those candidates exactly: the candidate part keys
    * (≤ 2·candidates longs — a collected, limit-bounded model plane, the
    * centroid-literal precedent) become an IN filter PUSHED TO THE SCAN,
    * so the re-count reads a few hundred parts' rows, never the full pair
    * stream. Output = exact counts, so the face is oracle-checkable even
    * where the sampled stage misses truth; what sampling costs in RECALL
    * is a separate measured face ([[coOrderHeavyRecall]]), per the
    * suite's every-approximate-face-ships-its-quality-number rule.
    */
  def coOrderHeavyTopK(s: SparkSession, d: String, k: Int = 20,
      sampleMod: Int = HeavyPairSampleMod,
      candidates: Int = HeavyPairCandidates): DataFrame = {
    import s.implicits._
    val cand = heavyPairCandidates(s, d, sampleMod, candidates).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val partKeys = cand.flatMap(p => Seq(p._1, p._2)).distinct
    if (cand.isEmpty) return s.emptyDataFrame
      .select(lit(0L).as("u"), lit(0L).as("v"), lit(0L).as("n_orders"))
    // r20: materialized once — the filtered-distinct incidence table fed
    // BOTH sides of the self-join, so the full lineitem scan + filter +
    // distinct shuffle ran twice (two corpus passes at any scale for the
    // one table the probe actually needs)
    val inc = heavyPairIncidence(s, d, partKeys).localCheckpoint()
    IterCheckpoint.supersede(s, "coOrderHeavyTopK", inc)
    // pair membership via a broadcast join on BOTH key columns, not a
    // packed (u << 32) | v long: partkeys exceed 2^32 at the 100 TB
    // target, where packing stops being injective and a colliding
    // non-candidate could silently pass the filter (r14 review)
    inc.select(col("l_orderkey"), col("l_partkey").as("u"))
      .join(inc.select(col("l_orderkey"), col("l_partkey").as("v")),
        Seq("l_orderkey"))
      .join(broadcast(cand.toDF("u", "v")), Seq("u", "v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("u"), col("v"))
      .limit(k)
  }

  /** The IN-pruned incidence scan the heavy face re-counts over — factored
    * so GraphsSpec can pin the pushed `In(l_partkey, …)` on the subtree that
    * actually scans parquet: the face checkpoints this frame (it feeds both
    * self-join sides), which truncates its own executed plan to an
    * ExistingRDD scan.
    */
  private[graft] def heavyPairIncidence(s: SparkSession, d: String,
      partKeys: Seq[Long]): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
      .filter(col("l_partkey").isInCollection(partKeys))
      .distinct()

  /** The sampled candidate stage: heaviest [[HeavyPairCandidates]] pairs
    * of the basket sample, totally ordered (sampled count desc, then the
    * pair) so the collected candidate set is deterministic.
    */
  private[graft] def heavyPairCandidates(s: SparkSession, d: String,
      sampleMod: Int, candidates: Int): DataFrame =
    coOrderPairsOf(Tables.lineitem(s, d)
        .filter(col("l_orderkey") % sampleMod === 0))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("n_sampled"))
      .orderBy(col("n_sampled").desc, col("u"), col("v"))
      .limit(candidates)

  /** The sample rates the recall face sweeps — 1/mod of baskets; rate 1
    * is the no-sampling anchor (its candidate stage sees true counts, so
    * any recall below 1.0 there is the POOL cap, isolating the two causes
    * a reader must not conflate). One constant so the Scala face and the
    * oracle's VALUES list enumerate the same frontier.
    */
  val HeavyPairSweepMods: Seq[Int] = Seq(1, 2, 4)

  /** MEASURED recall of [[coOrderHeavyTopK]]'s candidate stage, per TRUE
    * pair count AND per swept sample rate — the r14 frontier discipline
    * (nprobe sweep, banding sweep) applied to the third approximate
    * family. Per-count rather than against the tie-broken top-k: on a
    * near-uniform field the exact top-k is mostly tie-break noise among
    * thousands of equal-count pairs — per-count recall is the tie-free
    * question "does a pair of weight c survive sampling at rate 1/mod?".
    * Truth = the exact face's full pair aggregation, computed ONCE for
    * all swept rates (this is what makes the sweep cost ≈ the old
    * single-rate face: truth dominates); the row set doubles as the
    * field-shape record (n_pairs per count — the no-heavy-hitters fact
    * that sizes [[HeavyPairSampleMod]]), and the mod = 1 rows expose the
    * pool-cap component of recall separately from the sampling loss.
    */
  def coOrderHeavyRecall(s: SparkSession, d: String,
      mods: Seq[Int] = HeavyPairSweepMods,
      candidates: Int = HeavyPairCandidates): DataFrame = {
    import s.implicits._
    // ONE basket expansion for the whole sweep (r17 verdict task 2: the
    // face drifted 61 → 77.6 s steady at 100×; the old shape re-expanded
    // per rate — 1 truth + 1 + ½ + ¼ candidate expansions). The sample
    // predicates are deterministic order-key residues, so every swept
    // rate's candidate count is a CONDITIONAL SUM over the order-tagged
    // pair stream: one expansion, one pair-keyed shuffle, truth and all
    // sampled counts in the same aggregate row. The checkpointed stats
    // then feed the mod-1 pool (true counts — definitionally the same
    // aggregation), every sampled pool (ns_m > 0, ns_m desc — identical
    // rows and order to the per-rate aggregation it replaces; GraphsSpec
    // + the oracle pin it), and the final probe join.
    val sampleCols = mods.filter(_ != 1).map(m =>
      sum(when(col("ok") % m === 0, 1L).otherwise(0L)).as(s"ns_$m"))
    val stats = timed("heavy_recall", "truth_ckpt")(
      coOrderPairsWithOrder(Tables.lineitem(s, d))
        .groupBy(col("u"), col("v"))
        .agg(count(lit(1)).as("n_orders"), sampleCols: _*)
        .localCheckpoint())
    val exact = stats.select(col("u"), col("v"), col("n_orders"))
    val cands = mods.map { m =>
      val pool =
        if (m == 1) stats
          .orderBy(col("n_orders").desc, col("u"), col("v")).limit(candidates)
        else stats.filter(col(s"ns_$m") > 0)
          .orderBy(col(s"ns_$m").desc, col("u"), col("v")).limit(candidates)
      pool.select(col("u"), col("v"), lit(m).as("sample_mod"), lit(1).as("hit"))
    }.reduce(_.unionByName(_))
    val out = exact.crossJoin(broadcast(mods.toDF("sample_mod")))
      .join(broadcast(cands), Seq("sample_mod", "u", "v"), "left_outer")
      .groupBy(col("sample_mod"), col("n_orders"))
      .agg(count(lit(1)).as("n_pairs"), count(col("hit")).as("n_cand"),
        (count(col("hit")).cast("double") / count(lit(1))).as("recall"))
    IterCheckpoint.supersede(s, "coOrderHeavyRecall", stats)
    out
  }

  // ---- regime gate for the heavy-pair lever (r14 verdict task 4) ---------
  //
  // coOrderHeavyTopK ships HeavyPairSampleMod = 2 while its own recall face
  // measures candidate-stage top-k recall 0.25 on this near-uniform field —
  // the scaladoc told deployments to check their regime; this gate makes
  // the CODE do it. A cheap pair-count-distribution probe (the
  // q_skew_report pattern: aggregate a 1/RegimeProbeMod basket sample and
  // read the max sampled support) decides whether demonstrably heavy pairs
  // exist; if not, the auto face falls back to the exact aggregation, and
  // if so it picks the deepest sampling rate that still leaves the top
  // band ≥ RegimeDetectTarget expected sampled hits.

  /** Basket-sampling rate (1/mod) of the regime PROBE. 1/16 keeps the probe
    * at ~6% of the exact face's expansion work while still giving a pair of
    * true support c an expected c/16 sampled hits — enough that any pair
    * heavy enough to be WORTH sampling-based mining (c ≥ 64, see
    * [[RegimeDetectMin]]) is visible to the probe.
    */
  val RegimeProbeMod = 16

  /** Sampled support below which no probe pair is DEMONSTRABLY heavy: on a
    * near-uniform field (true counts ≤ 3, the measured sf0.1 shape —
    * [[coOrderHeavyRecall]]'s n_pairs-per-count rows), max Binomial(3,
    * 1/16) over millions of pairs still sits at 1–2; requiring ≥ 4 sampled
    * hits makes a Poisson fluke vanishingly unlikely, so crossing it means
    * a genuinely heavy pair (c ≳ 64) exists.
    */
  val RegimeDetectMin = 4L

  /** Expected sampled hits the chooser leaves the heaviest pair at the
    * CHOSEN rate: est/mod ≥ 16 keeps detection robust down to pairs ~4×
    * lighter than the max — the band a top-k actually draws from.
    */
  val RegimeDetectTarget = 16L

  /** Rates the chooser picks from, deepest first; 1/256 caps the win (a
    * deeper rate saves little once the sample is ≪ the candidate pool).
    */
  val RegimeModLadder: Seq[Long] = Seq(256L, 128L, 64L, 32L, 16L, 8L, 4L, 2L)

  /** The chooser as an in-plan column (integer comparisons only — a
    * floating log2 ladder could round differently across engines at
    * power-of-two boundaries; the CASE ladder is bit-exact in both).
    * 1 = fall back to the exact face.
    */
  private def chosenModCol(maxSampled: Column, probeMod: Int): Column = {
    val est = maxSampled * lit(probeMod.toLong)
    RegimeModLadder.foldLeft(
      when(maxSampled < lit(RegimeDetectMin), lit(1L))) { (acc, m) =>
        acc.when(est >= lit(RegimeDetectTarget * m), lit(m))
      }.otherwise(lit(2L))
  }

  /** One-row regime record: the probe's measured stats and the decision
    * they force. `n_detectable` (pairs at ≥ [[RegimeDetectMin]] sampled
    * hits) is the "mass above c·rate" field-shape statistic — 0 on the
    * sf0.1 near-uniform field, the point of the gate.
    */
  def heavyPairRegime(s: SparkSession, d: String,
      probeMod: Int = RegimeProbeMod): DataFrame =
    heavyPairRegimeOf(Tables.lineitem(s, d), probeMod)

  private[graft] def heavyPairRegimeOf(li: DataFrame, probeMod: Int): DataFrame =
    coOrderPairsOf(li.filter(col("l_orderkey") % probeMod === 0))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("ns"))
      .agg(
        coalesce(max(col("ns")), lit(0L)).as("max_sampled"),
        coalesce(sum(when(col("ns") >= lit(RegimeDetectMin), 1L)
          .otherwise(0L)), lit(0L)).as("n_detectable"))
      .select(
        lit(probeMod.toLong).as("probe_mod"),
        col("max_sampled"), col("n_detectable"),
        (col("max_sampled") * probeMod.toLong).as("est_max_count"),
        chosenModCol(col("max_sampled"), probeMod).as("chosen_mod"),
        (col("max_sampled") >= lit(RegimeDetectMin)).as("is_heavy"))

  /** The production heavy-pair entry: probe → choose → run. On the sf0.1
    * field the probe measures max_sampled < [[RegimeDetectMin]] and the
    * face IS the exact aggregation (cost = probe + exact ≈ 1.06× exact);
    * on a Zipfian field it runs the sampled lever at the measured-safe
    * rate (GraphsSpec pins both regimes on synthetic frames). The chosen
    * rate lands in the bench artifact via the `regime_chosen_mod` phase
    * stamp; [[coOrderHeavyTopK]] keeps its explicit `sampleMod` as the
    * measured-lever face whose recall [[coOrderHeavyRecall]] publishes.
    */
  def coOrderHeavyTopKAuto(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    val mod = timed("co_order_auto", "regime_probe")(
      heavyPairRegime(s, d).select(col("chosen_mod")).head().getLong(0))
    graft.BenchPhases.add("regime_chosen_mod", mod.toDouble)
    System.err.println(s"[graft.graphs] co_order_auto chosen_mod=$mod" +
      (if (mod <= 1L) " (exact fallback)" else " (sampled lever)"))
    if (mod <= 1L) coOrderTopK(s, d, k)
    else coOrderHeavyTopK(s, d, k, sampleMod = mod.toInt)
  }

  /** Fixed-point PageRank over the undirected co-order graph: every edge
    * carries rank in both directions, damping 0.85, a fixed iteration count.
    *
    * Ranks are SCALED BIGINTs (1.0 ≡ 10^12), all arithmetic integer:
    * `contrib = rank div deg`, `rank' = 0.15·S + (17·Σcontrib) div 20`.
    * Integer sums are associative, so the result is bit-identical under any
    * partitioning or aggregation order — a double-valued PageRank would
    * hash-differently every run (Σ double over a shuffle has no fixed
    * order) and could never sit under an exact oracle. The div-truncation
    * mass loss (< deg ulps per node per round) is the price, and it is
    * deterministic.
    *
    * Scale shape: the adjacency (src, dst, deg) is iteration-invariant and
    * every round joins it on `src` against the rank table and re-aggregates
    * on `dst` — identical exchanges that AQE/exchange-reuse de-duplicate
    * within one plan. Ranks stay (long, long) rows. With iters beyond a
    * handful, the nested-plan depth calls for the per-round localCheckpoint
    * discipline of [[Dedup.clusterLabels]] (`IterCheckpoint`); at 3 rounds
    * the straight-line plan is cheaper (same measured trade as
    * [[triangleCountEdges]]'s recompute-vs-checkpoint note). Headroom: the
    * scale constant is DERIVED from the node count ([[pageRankScale]]) so
    * `17*sum(contrib)` provably stays under 2^63 at any graph size: a
    * 10^9-node corpus silently gets S = 10^8 instead of overflowing.
    */
  def pageRank(s: SparkSession, d: String, iters: Int = 3): DataFrame =
    pageRankEdges(coOrderEdges(s, d), iters)

  /** The maximum (and small-graph default) rank scale: 1.0 = 10^12. */
  val RankScale: Long = 1000000000000L

  /** Derive the integer rank scale from the node count. Total rank mass
    * stays <= n*S through every round (rank' = 0.15*S + 0.85*(incoming
    * contribs), and a node's outgoing contributions never exceed its own
    * rank), and the one place a sum sees unbounded fan-in is
    * `17*sum(contrib)` at a single node -- worst case the whole graph's
    * mass points at one hub, so the hard bound is 17*n*S < 2^63. Pick the
    * largest power of 10 meeting a 2^62 half-headroom version of that
    * bound, capped at [[RankScale]]: derivation, not a manual constant, is
    * what keeps a 10^9-node run safe without anyone remembering to retune
    * (round-5 verdict "What's wrong" #2). Below 10^4 the div-truncation
    * noise would swamp the ranks, so fail fast with the remedy instead of
    * returning garbage.
    */
  def pageRankScale(nNodes: Long): Long = {
    def safe(s: Long): Boolean =
      BigInt(17) * BigInt(math.max(nNodes, 1L)) * BigInt(s) < (BigInt(1) << 62)
    var s = RankScale
    while (s > 1L && !safe(s)) s /= 10
    require(s >= 10000L,
      s"pageRank: $nNodes nodes forces rank scale $s < 10^4 -- integer ranks " +
        "would be all truncation noise; move the contribution sums to " +
        "decimal(38,0) for graphs beyond ~2.7e13 nodes")
    s
  }

  /** Memoized derived scale per dataset: the oracle generator
    * ([[graft.SparkEntry.oracleSqlDynamic]]) and the query run must embed
    * the SAME constant, and both reach it deterministically from the same
    * node count -- the derivation, not a shared mutable, is the parity
    * mechanism; the memo just saves the count job on repeat calls.
    * ASSUMPTION (r6 ADVICE): the dataset at a path is immutable for the JVM
    * lifetime — regenerating data in place under a live session would serve
    * a stale scale here while [[pageRankEdges]] derives a fresh one. Verify/
    * Bench are one-shot processes, so the assumption holds by construction.
    */
  private val scaleCache = TrieMap.empty[String, Long]

  /** Drop the memoized scale (one node-count job re-paid) — cold-rerun
    * uniformity, see [[graft.WarmState]]. Derivation is deterministic, so
    * the re-derived constant is identical. */
  private[graft] def resetScaleCache(): Unit = scaleCache.clear()

  def rankScaleFor(s: SparkSession, d: String): Long =
    scaleCache.getOrElseUpdate(d, {
      val e = coOrderEdges(s, d)
      val n = e.select(col("u").as("node"))
        .unionAll(e.select(col("v").as("node"))).distinct().count()
      pageRankScale(n)
    })

  /** Row cap for the explicit broadcast hints in [[triangleCountEdges]] and
    * [[pageRankEdges]]: 4M (long, long) rows ≈ 64 MB raw, a few hundred MB
    * as a hash relation — comfortably inside a multi-GB executor. The hint
    * is explicit because both operators join CHECKPOINTED frames, and
    * checkpoint leaves carry no statistics for Catalyst's own broadcast
    * decision; the measured row count stands in for the stats.
    */
  val BroadcastRowCap: Long = 4000000L

  /** Core over any canonical (`u < v`, distinct) undirected edge list.
    *
    * Checkpoint the SMALL iteration-invariant frames and re-derive the big
    * cheap ones (r12 — the r11 100× phase lines showed the old shape spent
    * ~85% of its 232 s materializing checkpoints: 2m directed rows 56–78 s,
    * the 2m (src, dst, deg) adjacency another 149–168 s, while the three
    * actual rounds were pennies):
    *  - the CANONICAL m-row edge list — the expensive subtree (basket
    *    expansion + distinct) runs once; the 2m directed expansion is a
    *    map-side union re-derived from it per consumer, never stored;
    *  - the per-node degree table (n rows) — read by the node count (the
    *    overflow-safe scale derivation), the rank seed, and every round;
    *  - each ROUND's rank table (n rows) — truncating per round keeps plan
    *    depth flat (without it round k embeds the adjacency subtree k-fold
    *    — the [[Dedup.clusterLabels]] lesson) at the price of n rows, not
    *    the old 2m-row adjacency materialization.
    * Below [[BroadcastRowCap]] nodes, deg and rank both broadcast (explicit
    * hints — checkpoint leaves carry no stats), so a round is ONE map-side
    * pass over the checkpointed edges with only the n-key contribution sums
    * shuffling. Beyond the cap the adjacency IS materialized once (the old
    * shape): there the per-round join shuffles 2m rows regardless, and
    * paying one adjacency checkpoint beats re-shuffling the degree join
    * every round — the correct 100 TB plan.
    * Leak contract: the checkpointed edges, degrees, adjacency (shuffle
    * path only) and last rank table are registered under "pageRank"
    * ([[IterCheckpoint.supersede]]), so a repeat invocation frees the
    * previous call's; each round frees its predecessor's rank checkpoint
    * as soon as the successor is materialized.
    */
  def pageRankEdges(edges: DataFrame, iters: Int): DataFrame = {
    val s = edges.sparkSession
    val edg = timed("pagerank", "edge_ckpt")(
      edges.select(col("u"), col("v")).localCheckpoint())
    def dir = edg.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edg.select(col("v").as("src"), col("u").as("dst")))
    val deg = timed("pagerank", "degree_ckpt")(
      dir.groupBy(col("src")).agg(count(lit(1)).as("deg")).localCheckpoint())
    val nNodes = deg.count()
    val scale = pageRankScale(nNodes)
    val bc = nNodes <= BroadcastRowCap
    val adjCk = if (bc) None // lazy
      else Some(timed("pagerank", "adj_ckpt")(dir.join(deg, Seq("src")).localCheckpoint()))
    val adj = adjCk.getOrElse(dir.join(broadcast(deg), Seq("src")))
    val rankSide: DataFrame => DataFrame = if (bc) broadcast else identity
    val r0 = deg.select(col("src").as("node"), lit(scale).as("rank_scaled"))
    val result = (1 to iters).foldLeft(r0) { (rank, i) =>
      val next = adj.join(rankSide(rank), col("src") === col("node"))
        .select(col("dst"), expr("rank_scaled div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
        .select(col("dst").as("node"),
          (lit(scale * 15L / 100L) + expr("(17 * sc) div 20")).as("rank_scaled"))
      val ck = timed("pagerank", s"round_$i")(next.localCheckpoint())
      if (i > 1) IterCheckpoint.free(rank) // predecessor dead once successor lives
      ck
    }
    val lastRank = if (iters > 0) Some(result) else None
    IterCheckpoint.supersede(s, "pageRank", Seq(edg, deg) ++ adjCk ++ lastRank: _*)
    result
  }

  /** Wedge-to-edge ratio above which the dense path builds the Bloom prune:
    * below it the sketch build (one extra pass over the closing set) costs
    * more than the un-pruned shuffle it would save.
    */
  val SketchWedgeFactor: Long = 8L

  // ---- wedge-shuffle spill budget (r14 verdict task 3) -------------------
  //
  // The 300× ladder ran q_triangle_approx minutes into a "No space left on
  // device" death: the sampled graph fell past the broadcast cap onto the
  // shuffle path, and the wedge-scale shuffle/sort machinery exceeded the
  // single host's remaining scratch. The wedge volume Σ C(outdeg, 2) is
  // already measured by the gate job, so the plan can PREDICT its spill
  // demand and refuse before writing a byte — fail-fast with the sizing
  // line instead of an async task death mid-shuffle.

  /** Bytes the budget model charges per row transiting the wedge-stage
    * shuffle machinery: a (long, long) row is 16 payload bytes, and the
    * model ASSUMES lz4 shuffle compression roughly cancels the
    * UnsafeRow/serialization overhead. A sizing assumption, not a
    * measurement — the model's job is refusing runs that are wrong by 10×
    * (the r14 300× death), and the 2× sort-working-space factor in
    * [[predictedWedgeSpillBytes]] plus [[ScratchFraction]]'s headroom
    * absorb per-row estimate error; deployments that measure differently
    * size the budget itself via [[ScratchConfKey]].
    */
  val WedgeSpillRowBytes: Long = 16L

  /** Fraction of the free scratch one wedge shuffle may claim — headroom
    * for the OTHER stages of the same job (ori sort legs, checkpoints) and
    * for co-tenants of the disk.
    */
  val ScratchFraction: Double = 0.8

  /** Conf override for available scratch bytes: deployments size it to the
    * shuffle volume their executors' local disks actually offer (the
    * filesystem probe below sees only this host), and specs use it to force
    * both gate branches.
    */
  val ScratchConfKey = "spark.graft.triangle.scratchBytes"

  /** Fail-fast refusal of a wedge shuffle predicted to exceed scratch.
    * Message is front-loaded so Bench's 300-char error truncation keeps the
    * sizing numbers — the artifact then records predicted-vs-available.
    */
  final case class WedgeSpillBudgetExceeded(
      predictedBytes: Long, availableBytes: Long,
      nEdges: Long, nWedges: Long, path: String)
    extends RuntimeException(
      s"wedge spill budget: predicted=${predictedBytes}B available=" +
        s"${availableBytes}B (x$ScratchFraction) m=$nEdges wedges=$nWedges " +
        s"path=$path — refuse the $path wedge shuffle; remedies: raise " +
        s"invPLog2 (approx face does automatically), add executors/disks, " +
        s"or override $ScratchConfKey")
    with graft.DesignedRefusal

  /** Free scratch for shuffle/spill on this host: the conf override when
    * set (malformed → warn + probe), else the summed usable space of the
    * configured Spark local dirs (`spark.local.dir`, default the JVM temp
    * dir) — the directories the shuffle writers actually target.
    *
    * Dirs are deduped by the `FileStore` backing them, not by path string:
    * two local dirs on ONE filesystem each report that filesystem's full
    * free space, and summing them would inflate the budget by the dir
    * count — the gate would then under-refuse exactly on the multi-dir
    * configs where refusal matters (r15 ADVICE). A dir whose store can't
    * be resolved (not yet created, permission) still contributes under its
    * path identity rather than being dropped — erring toward admission
    * only for dirs the probe can't see, which shuffle writers would fail
    * on anyway.
    */
  private[graft] def availableScratchBytes(s: SparkSession): Long =
    s.conf.getOption(ScratchConfKey).flatMap { v =>
      val parsed = scala.util.Try(v.toLong).toOption
      if (parsed.isEmpty) System.err.println(
        s"[graft.graphs] ignoring malformed $ScratchConfKey='$v'; probing disks")
      parsed
    }.getOrElse(scratchBytesOfDirs(
      s.sparkContext.getConf
        .get("spark.local.dir", System.getProperty("java.io.tmpdir"))))

  /** Usable space summed over the comma-separated dir list, deduped by
    * backing FileStore (see [[availableScratchBytes]]). Factored out so
    * GraphsSpec can pin the one-filesystem-two-dirs case without a
    * restarted SparkContext (`spark.local.dir` is fixed at startup).
    */
  private[graft] def scratchBytesOfDirs(dirList: String): Long =
    dirList.split(",").map(_.trim).filter(_.nonEmpty).distinct
      .map { dir =>
        val f = new java.io.File(dir)
        val storeKey = scala.util.Try(
          java.nio.file.Files.getFileStore(f.toPath).toString)
          .getOrElse(s"unresolved:$dir")
        storeKey -> f.getUsableSpace
      }
      .groupBy(_._1).map { case (_, vs) => vs.head._2 }.sum

  /** Predicted spill bytes of the chosen shuffle path, from the measured
    * (m, wedges) pair. Rows that transit shuffle/sort machinery:
    *  - plain-shuffle: every wedge reaches the closing exchange, plus both
    *    oriented sort legs of the wedge self-join — wedges + 2m rows;
    *  - bloom-pruned: fp survivors ≈ max(fpp·wedges, m) (the same fpp
    *    formula the sketch build uses targets fp-survivors ≈ m), plus the
    *    two ori legs and the closing probe leg — survivors + 3m rows.
    * A 2× factor covers sort working space (sorter spill files coexist
    * with the shuffle files they feed). This is a sizing model, not an
    * accounting identity — it exists to refuse the runs that die at the
    * 10×-wrong scale, not to predict the last gigabyte.
    */
  private[graft] def predictedWedgeSpillBytes(
      nEdges: Long, nWedges: Long, bloomPruned: Boolean): Long = {
    val rows =
      if (bloomPruned) {
        val fpp = math.min(0.01,
          math.max(1e-5, nEdges.toDouble / math.max(nWedges, 1L)))
        math.max((fpp * nWedges).toLong, nEdges) + 3L * nEdges
      } else nWedges + 2L * nEdges
    2L * rows * WedgeSpillRowBytes
  }

  /** Core algorithm over any canonical (`u < v`, distinct) edge list —
    * factored out so `GraphsSpec` can pin the count on handcrafted graphs
    * and force each execution path.
    *
    * The oriented DAG is eagerly localCheckpointed ONCE and feeds all four
    * consumers (both wedge sides, the closing probe, the gate statistics) —
    * the edge-build (lineitem self-join + distinct + degree joins) runs one
    * time instead of three. Checkpoint leaves carry no statistics, so the
    * round-5 measurement ("checkpoint oriented → wedge/closing joins lose
    * their broadcasts → 13 s → 31 s") is answered with EXPLICIT hints: the
    * gate job measures the exact edge count and wedge volume, and those
    * measured numbers — not Catalyst's absent stats — pick the plan:
    *
    *  - `m ≤ broadcastMaxEdges`: broadcast both the wedge build side and the
    *    closing probe — wedges are generated, probed, and counted in ONE
    *    map-side stage; no wedge ever shuffles and no sketch is built (at
    *    sf0.1 density the sketch was ~6 s of pure overhead — the round-6
    *    ceiling breach; r6 verdict task 1).
    *  - dense beyond the cap AND wedges > [[SketchWedgeFactor]]·m: shuffle
    *    joins with a Bloom prune of the wedges IN the wedge-join stage, so
    *    only triangles + fp·wedges reach the closing exchange (6.7e9 wedges
    *    on the 10×-densified sf0.1 replica — un-pruned it ran past 300 s).
    *    The no-false-negative property keeps the count exact.
    *  - big but sparse (wedges ~ m): plain shuffle joins; the sketch would
    *    prune nothing worth its build pass.
    */
  /** Degree-orient a canonical edge list: every edge points from its
    * (degree, id)-smaller endpoint to the larger. Factored from
    * [[triangleCountEdges]] so [[triangleCountAuto]]'s sizing probe builds
    * the IDENTICAL DAG (the wedge volume both consumers reason about is
    * the same number). `bc` selects explicit broadcast hints for the two
    * degree joins — checkpoint leaves carry no stats.
    */
  private def orientByDegree(edg: DataFrame, bc: Boolean): DataFrame = {
    val deg = edg.select(col("u").as("node"))
      .unionAll(edg.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    def degSide(df: DataFrame): DataFrame = if (bc) broadcast(df) else df
    edg
      .join(degSide(deg.select(col("node").as("u"), col("deg").as("du"))), Seq("u"))
      .join(degSide(deg.select(col("node").as("v"), col("deg").as("dv"))), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
  }

  /** Exact wedge volume Σ C(outdeg, 2) of an oriented DAG — the sizing
    * aggregate shared by the spill gate, the exact-wedge admission gate and
    * the auto face's regime chooser. Integer `div` so the oracle's
    * `sum(od*(od-1)) // 2` matches bit-for-bit.
    */
  private def wedgeVolumeOf(ori: DataFrame): Long =
    ori.groupBy(col("s")).agg(count(lit(1)).as("od"))
      .agg(coalesce(expr("sum(od * (od - 1)) div 2"), lit(0L)).as("wedges"))
      .head().getLong(0)

  def triangleCountEdges(edges: DataFrame,
      broadcastMaxEdges: Long = BroadcastRowCap,
      sketchWedgeFactor: Long = SketchWedgeFactor,
      maxWedges: Long = Long.MaxValue,
      statsKey: Option[String] = None): DataFrame = {
    val s = edges.sparkSession
    // memoized-sizing fast path (r17 verdict task 5): when another triangle
    // face already measured this dataset's wedge volume, an over-budget
    // exact count refuses HERE — before the edge checkpoint, orientation or
    // gate job — with the identical sizing message
    statsKey.foreach { key =>
      wedgeStatsCache.get(key).foreach { case (m, w) =>
        if (w > maxWedges) {
          // interpolate the bound key, not the Option, so the sizing line
          // reads "for sf100" rather than "for Some(sf100)" (r18 ADVICE)
          System.err.println(s"[graft.graphs] triangle refusing from memoized " +
            s"sizing for $key: m=$m wedges=$w budget=$maxWedges")
          throw TriangleWedgeBudgetExceeded(w, maxWedges, m)
        }
      }
    }
    // checkpoint the CANONICAL edge list first: it is the expensive subtree
    // (for the co-order graph, the basket expansion + distinct), it doubles
    // as the closing-edge probe set verbatim, and a count over its
    // checkpointed blocks is a shuffle-free job that lets the degree joins
    // below be EXPLICITLY broadcast (checkpoint leaves carry no stats, so
    // without the measured count Catalyst would shuffle 2m rows through
    // both joins — ~2 s of the r7 edge-build time at sf0.1)
    val edg = timed("triangle", "edge_ckpt")(edges.localCheckpoint())
    val nEdges = edg.count()
    if (nEdges == 0) {
      IterCheckpoint.supersede(s, "triangleCount", edg)
      return s.range(1).select(lit(0L).as("n_triangles"))
    }
    val bc = nEdges <= broadcastMaxEdges
    val ori = timed("triangle", "orient_ckpt")(orientByDegree(edg, bc).localCheckpoint())
    // broadcast path: the result plan reads only `ori` (the adjacency and
    // both join sides derive from it), so edg's blocks are dead once ori is
    // materialized — free them NOW instead of leaving them to the GC-driven
    // cleaner (DedupLeakSpec pins the flat-pinned-RDD contract). The
    // shuffle paths keep edg: it IS the closing probe set.
    if (bc) {
      IterCheckpoint.free(edg)
      IterCheckpoint.supersede(s, "triangleCount", ori)
    } else IterCheckpoint.supersede(s, "triangleCount", edg, ori)
    // the gate job: exact wedge volume Σ C(outdeg, 2) in one aggregate over
    // the checkpointed DAG (n-row shuffle of longs) — or the memoized
    // per-dataset measurement when a prior face already ran it
    val nWedges = statsKey.flatMap(wedgeStatsCache.get) match {
      case Some((_, w)) => w
      case None =>
        val w = timed("triangle", "gate_stats")(wedgeVolumeOf(ori))
        statsKey.foreach(k => wedgeStatsCache.put(k, (nEdges, w)))
        w
    }
    // exact-wedge admission gate (r16 task 1): the wedge volume IS the
    // exact count's work on EITHER path, so past the budget the face
    // refuses with the sizing — before the intersect/shuffle starts
    if (nWedges > maxWedges) {
      IterCheckpoint.free(edg, ori) // refuse cleanly: no leaks
      throw TriangleWedgeBudgetExceeded(nWedges, maxWedges, nEdges)
    }
    System.err.println(s"[graft.graphs] triangle path=" +
      (if (bc) "broadcast"
       else if (nWedges > sketchWedgeFactor * nEdges) "bloom-pruned"
       else "plain-shuffle") +
      s" m=$nEdges wedges=$nWedges")
    // spill-budget gate (header above): only the shuffle paths materialize
    // wedge-scale state on disk — the broadcast edge-iterator streams every
    // intersection map-side and is bounded by executor MEMORY, which the
    // admission cap already owns
    if (!bc) {
      val bloomPruned = nWedges > sketchWedgeFactor * nEdges
      val predicted = predictedWedgeSpillBytes(nEdges, nWedges, bloomPruned)
      val available = availableScratchBytes(s)
      if (predicted > available * ScratchFraction) {
        IterCheckpoint.free(edg, ori) // refuse cleanly: no leaks
        throw WedgeSpillBudgetExceeded(predicted, available, nEdges, nWedges,
          if (bloomPruned) "bloom-pruned" else "plain-shuffle")
      }
    }
    triangleCountPlan(edg, ori, nEdges, nWedges, bc, sketchWedgeFactor)
  }

  /** The counting plan over ALREADY-materialized canonical edges `edg` and
    * oriented DAG `ori` — factored out (r20) so [[triangleCountAutoEdges]]'s
    * exact branch reuses the regime probe's checkpointed orientation and
    * memoized wedge volume instead of re-checkpointing the edges,
    * re-orienting and re-running the gate aggregate (the probe and the
    * exact count were doing the identical three jobs back to back).
    * Callers own every admission/spill gate and all checkpoint lifetimes.
    */
  private def triangleCountPlan(edg: DataFrame, ori: DataFrame,
      nEdges: Long, nWedges: Long, bc: Boolean,
      sketchWedgeFactor: Long): DataFrame = {
    val s = edg.sparkSession
    if (bc) {
      // Broadcast path: edge-iterator with adjacency-list intersection.
      // Each oriented edge (s, t) contributes |N⁺(s) ∩ N⁺(t)| — within a
      // triangle exactly one edge is the one whose endpoints both out-point
      // to the third node (the out-degree-2 apex's edge), so the sum counts
      // each triangle once. Work is Σ(od(s)+od(t)) per edge ≈ 2·wedges+m
      // hash operations, the SAME complexity class as the wedge join below
      // — but no 41M-row wedge frame is ever materialized, shuffled, or
      // probed through join machinery: the whole count is one map-side
      // stage over the checkpointed edges against a broadcast n-row
      // adjacency (arrays totalling m longs — broadcastable exactly when
      // the closing set itself is, i.e. the gate condition already holds).
      // r21: the adjacency aggregate fed TWO broadcast sides (source and
      // target adjacency) as canonically distinct subtrees — the
      // collect_list shuffle + ObjectHashAggregate ran twice per count
      // (plans/r21/q_triangle_count_before.txt operators (5)-(8) vs
      // (13)-(16)). One checkpoint materializes it once; its size is the
      // broadcast relation the admission gate already admitted (n rows,
      // m longs total), so the pin stays inside the same memory class.
      val adjArr = ori.groupBy(col("s"))
        .agg(array_sort(collect_list(col("t"))).as("nbr"))
        .localCheckpoint()
      IterCheckpoint.supersede(s, "triangleCountAdj", adjArr)
      // counting is graft_sorted_intersect_n — a codegen'd two-pointer
      // merge over the sorted adjacency arrays (r12): the old
      // size(array_intersect) built a per-ROW hash set of n1 (Σ od(s)
      // boxed inserts ≈ wedge-scale allocation); the merge does the same
      // 2·wedges element comparisons with two primitive cursors, which is
      // what makes the edge-iterator viable at the 100× replica's 268 B
      // wedges (GraphsSpec pins count equality against array_intersect)
      ori
        .join(broadcast(adjArr.select(col("s").as("a1"), col("nbr").as("n1"))),
          col("s") === col("a1"))
        .join(broadcast(adjArr.select(col("s").as("a2"), col("nbr").as("n2"))),
          col("t") === col("a2")) // inner: a t with no out-edges adds 0
        .select(call_function("graft_sorted_intersect_n",
          col("n1"), col("n2")).as("c"))
        // coalesce: a wedge-free graph leaves the inner joins empty and a
        // bare sum would return NULL where the count is 0
        .agg(coalesce(sum(col("c")), lit(0L)).cast("long").as("n_triangles"))
    } else {
      val closing = edg.select(col("u").as("p"), col("v").as("q"))
      val wedges = ori.as("x").join(ori.as("y"), Seq("s"))
        .filter(col("x.t") < col("y.t"))
        .select(col("x.t").as("p"), col("y.t").as("q"))
      val pruned =
        if (nWedges > sketchWedgeFactor * nEdges) {
          val path = writeSketchFile(s, closing, nEdges, nWedges)
          wedges.filter(call_function("graft_bloom_might_file",
            lit(path), xxhash64(col("p"), col("q"))))
        } else wedges
      pruned.join(closing, Seq("p", "q"))
        .agg(count(lit(1)).as("n_triangles"))
    }
  }

  /** DOULION-style approximate triangle count (Tsourakakis et al. 2009):
    * keep each edge independently with probability p = 2^-`invPLog2`, count
    * triangles EXACTLY on the sampled graph, scale by 1/p³. The unbiased
    * estimator whose concentration the paper proves — and the face the
    * exact [[triangleCount]] needs beside it at 100 TB: the Σ outdeg² wedge
    * volume that times the exact count out on dense graphs (SURVEY §12.6:
    * 35.2B wedges at 30×-dense) shrinks by p² ≈ 16× at the default p, while
    * the estimate stays within a few percent whenever the sampled count
    * clears the in-plan gate.
    *
    * Oracle-exact despite being approximate: the coin flip is the md5 of
    * the canonical edge ("tri:u,v" — 60-bit prefix < p·2^60), so both
    * engines sample the identical subgraph and the estimate is the same
    * integer (p a power of two ⇒ 1/p³ = 2^{3·invPLog2} exactly).
    *
    * `sample_ok` is the error gate: rel. std-error of the estimator is
    * ~1/√n_sampled (Poisson-ish survival of triangles at p³), so
    * n_sampled ≥ 25 bounds it near 20%. A FALSE here means p is too
    * aggressive for this graph — the caller should halve `invPLog2`, not
    * trust the number.
    */
  def triangleCountApprox(s: SparkSession, d: String, invPLog2: Int = 2): DataFrame =
    triangleCountApproxEdges(coOrderEdges(s, d), invPLog2)

  val ApproxMinSampled = 25L

  /** Most spill-gate escalations the approx face attempts before giving up
    * and rethrowing: 6 raises shrink the wedge volume ~4^6 ≈ 4000× — a
    * graph still over budget there needs hardware, not a knob.
    */
  val MaxWedgeGateRaises = 6

  /** `maxRaises` bounds the spill-gate escalation (default
    * [[MaxWedgeGateRaises]]); the AUTO face passes 0 — its output column
    * `inv_p_log2` and the oracle both replay the CHOOSER's rate, so a
    * silent internal raise would misreport the rate actually used (r17
    * ADVICE). With escalation off, a spill-refused chooser rate surfaces
    * as the designed refusal it is, sizing intact.
    */
  def triangleCountApproxEdges(edges: DataFrame, invPLog2: Int = 2,
      maxRaises: Int = MaxWedgeGateRaises): DataFrame = {
    require(invPLog2 >= 0 && invPLog2 <= 19, s"invPLog2 $invPLog2 out of range")
    def sampledAt(ip: Int) = edges.filter(
      call_function("graft_hex15",
        md5(concat(lit("tri:"), col("u").cast("string"), lit(","),
          col("v").cast("string")))) < lit(1L << (60 - ip)))
    // the exact count on the sampled graph honors the SAME deployment-sized
    // edge-iterator cap as the exact face (r12): without it the 100×
    // replica's p=1/4 sample (~22.5M edges) fell past the 4M cluster
    // default onto the bloom-pruned shuffle path — 415.9 s where the
    // broadcast edge-iterator does wedges/16 of the exact face's work
    val cap = broadcastMaxEdgesFor(edges.sparkSession)
    // spill-gate escalation (r14 verdict task 3): a refused wedge shuffle
    // raises invPLog2 instead of dying mid-shuffle — each raise halves p
    // and cuts the wedge volume ~4× (a wedge survives iff BOTH edges do).
    // The estimator stays unbiased at ANY p (DOULION's property), and the
    // output's own `sample_ok` gate is what says whether the escalated
    // rate still carries enough sampled triangles to trust — the caller
    // reads the flag, not the knob. Escalations land in the bench artifact
    // via the `wedge_gate_raises` / `inv_p_log2_used` phase stamps.
    var ip = invPLog2
    val ipCeiling = math.min(invPLog2 + math.max(maxRaises, 0), 19)
    var counted: DataFrame = null
    while (counted == null) {
      try counted = triangleCountEdges(sampledAt(ip), cap)
      catch {
        case e: WedgeSpillBudgetExceeded =>
          if (ip >= ipCeiling) throw e
          System.err.println(s"[graft.graphs] ${e.getMessage}; raising " +
            s"invPLog2 $ip -> ${ip + 1}")
          graft.BenchPhases.add("wedge_gate_raises", 1.0)
          ip += 1
      }
    }
    if (ip != invPLog2) graft.BenchPhases.add("inv_p_log2_used", ip.toDouble)
    val scale = 1L << (3 * ip)
    counted.select(
      (col("n_triangles") * scale).as("est_triangles"),
      col("n_triangles").as("n_sampled"),
      (col("n_triangles") >= ApproxMinSampled).as("sample_ok"))
  }

  /** The production triangle entry: measure → choose → run (the
    * [[coOrderHeavyTopKAuto]] template applied to the triangle family, r16
    * verdict task 1). The sizing probe orients the checkpointed edge list
    * and measures the exact wedge volume; [[chooseTriangleIp]] then selects
    * the exact count (within [[maxExactWedgesFor]]) or DOULION at the
    * smallest admissible rate. One unified row whatever the regime — the
    * estimate doubles as the count on the exact branch, and the quality
    * fields (n_sampled, sample_ok) ship IN the output, so the approximate
    * branch carries its own trust gate. The decision lands in the bench
    * artifact via `tri_wedges` / `tri_regime_ip` phase stamps, and the
    * single result row is collected driver-side (1 row — the bounded-plane
    * pattern) so the stamps reflect the work actually run.
    *
    * Oracle parity: wedge volume, chooser ladder, md5 edge sampling and
    * both counts are integer-exact closed forms, so DuckDB replays the
    * SAME decision and the SAME number (q_triangle_auto's static SQL).
    */
  def triangleCountAuto(s: SparkSession, d: String): DataFrame =
    triangleCountAutoEdges(coOrderEdges(s, d), broadcastMaxEdgesFor(s),
      maxExactWedgesFor(s), statsKey = Some(d))

  /** Core over any canonical edge list — factored so GraphsSpec forces both
    * regimes on handcrafted graphs. `statsKey` memoizes the measured
    * (m, wedges) per dataset so a later exact face's refusal reads the
    * staged sizing instead of re-deriving it ([[wedgeStatsCache]]). The
    * sampled branch runs the chooser's rate with spill-gate escalation OFF
    * (maxRaises = 0): `inv_p_log2` and the oracle replay the chooser, so an
    * internal raise would misreport the rate actually used — a spill-gated
    * chooser rate surfaces as the sized designed refusal instead (r17
    * ADVICE). `rel_err_pct` is [[triangleRelErrPct]]'s integer error bar
    * (0 on the exact branch — the count is not an estimate).
    */
  def triangleCountAutoEdges(edges: DataFrame, cap: Long,
      maxExact: Long, statsKey: Option[String] = None): DataFrame = {
    val s = edges.sparkSession
    val edg = timed("tri_auto", "edge_ckpt")(edges.localCheckpoint())
    val nEdges = edg.count()
    val bc = nEdges <= cap
    // The probe STREAMS the orientation into the wedge aggregate (no
    // materialization — an earlier r20 draft checkpointed it here "for
    // exact-branch reuse" and paid a 41.5 s m-row materialization at the
    // 100× replica on the SAMPLED branch, where it is pure waste; big
    // graphs are exactly the ones the chooser samples). The exact branch
    // below re-orients ONCE into a checkpoint — bounded by the admission
    // gate's own wedge budget — and reuses the probe's wedge volume, so
    // vs the pre-r20 shape it still skips the duplicate edge checkpoint +
    // count and the duplicate gate aggregate.
    val wedges =
      if (nEdges == 0) 0L
      else timed("tri_auto", "regime_probe")(
        wedgeVolumeOf(orientByDegree(edg, bc)))
    statsKey.foreach(k => wedgeStatsCache.put(k, (nEdges, wedges)))
    val ip = chooseTriangleIp(wedges, maxExact)
    graft.BenchPhases.add("tri_wedges", wedges.toDouble)
    graft.BenchPhases.add("tri_regime_ip", ip.toDouble)
    System.err.println(s"[graft.graphs] tri_auto wedges=$wedges budget=" +
      s"$maxExact ip=$ip" + (if (ip == 0) " (exact)" else " (DOULION)"))
    var exactOri = Option.empty[DataFrame]
    val (nTri, nSampled, sampleOk) =
      if (nEdges == 0) (0L, 0L, true)
      else if (ip == 0) {
        // the spill gate the standalone exact face runs (shuffle paths
        // only) — the chooser admits by wedge budget, not by scratch
        if (!bc) {
          val bloomPruned = wedges > SketchWedgeFactor * nEdges
          val predicted = predictedWedgeSpillBytes(nEdges, wedges, bloomPruned)
          val available = availableScratchBytes(s)
          if (predicted > available * ScratchFraction) {
            IterCheckpoint.free(edg) // refuse cleanly
            throw WedgeSpillBudgetExceeded(predicted, available, nEdges,
              wedges, if (bloomPruned) "bloom-pruned" else "plain-shuffle")
          }
        }
        val ori = timed("tri_auto", "orient_ckpt")(orientByDegree(edg, bc).localCheckpoint())
        exactOri = Some(ori)
        System.err.println(s"[graft.graphs] triangle path=" +
          (if (bc) "broadcast"
           else if (wedges > SketchWedgeFactor * nEdges) "bloom-pruned"
           else "plain-shuffle") + s" m=$nEdges wedges=$wedges (auto reuse)")
        val c = triangleCountPlan(edg, ori, nEdges, wedges, bc,
          SketchWedgeFactor).head().getLong(0)
        (c, c, true)
      } else {
        val r = triangleCountApproxEdges(edg, ip, maxRaises = 0).head()
        (r.getLong(0), r.getLong(1), r.getBoolean(2))
      }
    IterCheckpoint.supersede(s, "triangleAuto", edg +: exactOri.toSeq: _*)
    s.range(1).select(
      lit(wedges).as("n_wedges"),
      lit(if (ip == 0) "exact" else "sampled").as("regime"),
      lit(ip.toLong).as("inv_p_log2"),
      lit(nTri).as("n_triangles"),
      lit(nSampled).as("n_sampled"),
      lit(sampleOk).as("sample_ok"),
      lit(if (ip == 0) 0L else triangleRelErrPct(nSampled)).as("rel_err_pct"))
  }

  /** Build the closing-edge Bloom sketch (m keys, fpp 0.01 ⇒ m·~10 bits)
    * and land it in STORAGE: the single merged sketch row is written by the
    * executor running the final aggregate task and lazily re-read by every
    * probe-side executor ([[graft.functions.BloomFileCache]]). The driver
    * handles only the path string, never the bytes — a scalar-subquery
    * formulation would collect the sketch to the driver (Spark caps its own
    * runtime-filter blooms at 8 MB for exactly that reason), and at 10^9
    * edges the sketch is ~1.2 GB (r6 verdict Missing #4). In the sandbox the
    * shared storage is the local temp dir; on a cluster the identical call
    * shape targets a shared filesystem path.
    */
  private def writeSketchFile(s: SparkSession, closing: DataFrame,
      nEdges: Long, nWedges: Long): String = {
    // fpp must scale with the wedge/edge ratio: the sketch's false-positive
    // SURVIVORS (fpp · wedges) are what reach the closing shuffle, so
    // target fp-survivors ≈ m. A flat 0.01 at the 100×-dense graph (268B
    // wedges, 90M edges) let ~2.7B fp rows through and filled the disk
    // with closing-shuffle spill (measured, round 10); m/wedges = 3.4e-4
    // there costs only ~7 more bits/key. Clamped to [1e-5, 0.01] — at
    // contract scale (wedges/m ≲ 100) the clamp reproduces the old 0.01.
    val fpp = math.min(0.01,
      math.max(1e-5, nEdges.toDouble / math.max(nWedges, 1L)))
    val nBits = math.max(64L,
      math.ceil(-nEdges * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // Spark clamps BloomFilterAggregate sizing to the runtime-filter confs
    // (defaults 4M items / 64M bits); below them the sketch silently degrades
    // its fpp and the sizing math above is fiction (r6 ADVICE) — raise them
    // to the computed size first.
    def raise(key: String, needed: Long): Unit =
      if (s.conf.get(key).toLong < needed) s.conf.set(key, needed.toString)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", nEdges)
    raise("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", nBits)
    val dir = java.nio.file.Files.createTempDirectory("graft_triangle_bf")
    dir.toFile.deleteOnExit()
    val path = dir.resolve("sketch.bin")
    path.toFile.deleteOnExit()
    val target = path.toString
    // every partial-aggregation task allocates a FULL nBits/8-byte buffer;
    // at 100×-dense (120M edges → ~145 MB each) 32 concurrent partials
    // GC-locker-thrash the JVM to death (measured, round 10). Cap the
    // builder's parallelism so concurrent buffers stay ≤ ~2 GB — the build
    // is one CPU-light pass over the keys, so narrowing it costs little.
    val maxPartials = math.max(1L, math.min(8L, (2L << 30) / math.max(nBits / 8, 1L))).toInt
    closing.coalesce(maxPartials)
      .agg(call_function("graft_bloom_agg",
        xxhash64(col("p"), col("q")), lit(nEdges), lit(nBits)).as("bf"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          java.nio.file.Files.write(java.nio.file.Paths.get(target),
            it.next().getAs[Array[Byte]](0))
          ()
        }
      }
    target
  }
}
