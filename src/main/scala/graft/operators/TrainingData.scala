package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a training-data pipeline runs after cleaning
  * and dedup: deterministic dataset splitting and benchmark decontamination.
  * (The reference has no equivalent — this extends its ingest surface the
  * same way the dedup/similarity operators do.)
  *
  * Both are pure column-expression dataflows: md5-derived hashes (bit-equal
  * in DuckDB, so both are oracle-checked) and narrow long-keyed shuffles.
  */
object TrainingData {

  /** Deterministic train/val/test assignment by key hash — the standard way
    * to split a corpus so the assignment is (a) reproducible run-to-run,
    * (b) stable under corpus growth (a doc's split never depends on other
    * rows — no sampling, no ordering), and (c) join-free to audit.
    *
    * `u` = the doc's 60-bit md5 hash scaled to [0, 1); split boundaries are
    * cumulative fractions. Per-row projection only — no shuffle at any
    * scale.
    */
  def hashSplit(s: SparkSession, d: String,
      trainFrac: Double = 0.9, valFrac: Double = 0.05): DataFrame = {
    val u = (Dedup.md5Hash60(col("doc_id").cast("string"), lit(0)).cast("double")
      / lit(1152921504606846976.0)) // 2^60, exactly representable
    Tables.documents(s, d).select(
      col("doc_id"),
      u.as("u"),
      when(u < trainFrac, lit("train"))
        .when(u < trainFrac + valFrac, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Benchmark decontamination: find training docs sharing at least one
    * word n-gram with the eval set — the overlap screen run before training
    * so eval numbers aren't inflated by leaked benchmark text. Emits, per
    * contaminated training doc, how many distinct n-grams leak and how many
    * eval docs they touch.
    *
    * Scale shape: each side explodes to DISTINCT per-doc gram HASHES (60-bit
    * md5 longs — the shuffle/broadcast carries narrow (long, long) rows, no
    * gram text). The eval side is benchmark-suite sized — tiny next to the
    * corpus — so it broadcasts; the training side streams partition-parallel
    * with no shuffle until the per-doc count aggregation. A hash collision
    * could flag a clean doc (1 in 2^60 per gram pair) — acceptable for a
    * screen whose hits get reviewed; exact-match verification would rejoin
    * the gram text for flagged docs only.
    */
  def contamination(s: SparkSession, d: String,
      evalMaxDocId: Long = 50, n: Int = 5): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= n)
    // gram STRINGS in the lambda (off the BOUND token column — a lambda
    // re-evaluates non-lambda subtrees per element), but the md5 hashing
    // AFTER the explode: higher-order lambdas are interpreted, so a hash
    // inside the lambda runs outside whole-stage codegen (measured 9.4 s vs
    // 1.3 s for the string form at a 10× sf0.1 replica); as a post-explode
    // projection it codegens with the stage
    val gramStrings = array_distinct(transform(
      sequence(lit(1), size(col("t")) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(col("t"), i + k)): _*)))
    // Materialized ONCE (eager checkpoint): both join sides and the count
    // aggregation otherwise re-execute the gram pipeline, and the combined
    // agg stage — expand + join + two inlined copies of the interpreted
    // lambda chain — hit a pathological ~40 s whole-stage-codegen compile
    // at ANY data size. Off the checkpoint, every downstream stage compiles
    // over two long columns.
    // stamped: the gram table is built and materialized ONCE (this
    // checkpoint) for both join sides — in a bench record the stamp plus
    // the closure's p_pairs_ckpt/p_labels_r* decompose q_contamination_
    // closure's seconds into its three real terms (r18 verdict task 4)
    val grams = graft.BenchPhases.timed("p_grams_ckpt")(
      docs.select(col("doc_id"), explode(gramStrings).as("g"))
        .select(col("doc_id"), Dedup.md5Hash60(col("g"), lit(0)).as("gh"))
        .localCheckpoint())
    val evalGrams = grams.filter(col("doc_id") < evalMaxDocId)
      .select(col("gh"), col("doc_id").as("eval_id"))
    val trainGrams = grams.filter(col("doc_id") >= evalMaxDocId)
    trainGrams.join(broadcast(evalGrams), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gh")).as("n_shared_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
  }

  /** Sequence packing for LLM training: documents are concatenated in
    * doc_id order and chunked into fixed token-budget sequences ("concat and
    * chunk"); each doc gets the pack it starts in, its offset there, and
    * whether it straddles a pack boundary.
    *
    * The global running token count is the scale problem: a bare
    * `sum() OVER (ORDER BY doc_id)` window sorts the corpus into ONE task.
    * Instead, the prefix sum is two-stage: per-bucket running sums (buckets =
    * contiguous doc_id ranges, partition-parallel) plus an exclusive prefix
    * over the per-bucket totals — a table 1/bucketWidth the corpus size,
    * broadcast back. Same numbers as the naive window (the oracle computes
    * the plain global cumulative sum), no single-task stage over corpus-sized
    * data.
    */
  def packSequences(s: SparkSession, d: String,
      tokenBudget: Int = 512, bucketWidth: Long = 1000): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), size(TextAnalysis.tokens(col("text"))).as("n"),
        expr(s"doc_id DIV $bucketWidth").as("bkt")) // integer div: exact at any id
    val wLocal = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = docs.withColumn("lcum", sum(col("n")).over(wLocal))
    // exclusive prefix of bucket totals: tiny (corpus/bucketWidth rows), so
    // the single-task global-order window is over metadata, not data
    val wBuckets = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("bkt")).agg(sum(col("n")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(wBuckets), lit(0L)))
      .select(col("bkt"), col("boff"))
    local.join(broadcast(offsets), Seq("bkt"))
      .select(col("doc_id"), col("n"),
        (col("boff") + col("lcum") - col("n")).as("strt"))
      .select(
        col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        expr(s"strt DIV $tokenBudget").as("pack_id"),
        (col("strt") % tokenBudget).as("offset_in_pack"),
        (expr(s"strt DIV $tokenBudget") =!=
          expr(s"(strt + greatest(n, 1) - 1) DIV $tokenBudget")).as("straddles"))
  }

  /** Exact-size stratified sampling: a deterministic uniform sample of
    * `perStratum` documents per language — the standard way to draw an
    * inspection/eval slice whose membership is reproducible run-to-run and
    * auditable row-by-row. "Random" order is the md5-derived hash `u`
    * (seed 1, independent of [[hashSplit]]'s seed-0 stream): the sample is
    * the `perStratum` smallest `u` per stratum.
    *
    * Scale shape: this is per-key top-k where groups are HUGE (a stratum can
    * be most of a 100 TB corpus) and k is tiny — exactly the regime where a
    * ranking window collapses into one sort per stratum. So no window: the
    * bounded-buffer [[graft.functions.TopKAggregator]] runs as a typed
    * aggregation with map-side partial merge — each task ships at most k
    * (id, u) pairs per stratum, the shuffle is k×strata rows total, and
    * nothing ever sorts a full stratum. (Negated u turns the aggregator's
    * score-descending order into u-ascending; negation is IEEE-exact both
    * ways.)
    */
  def stratifiedSample(s: SparkSession, d: String, perStratum: Int = 64): DataFrame = {
    import s.implicits._
    val u = (Dedup.md5Hash60(col("doc_id").cast("string"), lit(1)).cast("double")
      / lit(1152921504606846976.0)) // 2^60, exactly representable
    val picked = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), u.as("u"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, uu) => (id, -uu) }
      .agg(new graft.functions.TopKAggregator(perStratum).toColumn.name("topk"))
      .toDF("lang", "topk")
    picked
      .select(col("lang"), posexplode(col("topk")))
      .select(col("lang"), col("col._1").as("doc_id"),
        negate(col("col._2")).as("u"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Sliding-window document chunking — the per-document counterpart of
    * [[packSequences]] (which concatenates ACROSS documents): each doc is
    * cut into `chunkTokens`-token windows advancing by `stride`, the
    * overlap preserving context at chunk boundaries (the standard prep for
    * RAG indexing and long-document pretraining). The final window keeps
    * the tail even when shorter than a full chunk; a sub-chunk document
    * yields exactly one chunk.
    *
    * All window arithmetic is integer (`(n − chunk + stride − 1) div
    * stride` start count — no float `ceil`), and both engines slice the
    * same 1-based clamped ranges, so the chunk table is value-exact under
    * the oracle. Scale shape: one explode per doc bounded by n/stride —
    * row-local, no shuffle at any corpus size; chunk text re-joins tokens
    * with single spaces (tokenization is whitespace-normalizing by
    * contract).
    */
  def chunkDocuments(s: SparkSession, d: String,
      chunkTokens: Int = 128, stride: Int = 64): DataFrame = {
    require(stride > 0 && chunkTokens >= stride, "stride must be in (0, chunkTokens]")
    Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .filter(size(col("t")) > 0)
      .withColumn("strt", explode(expr(
        s"sequence(0, greatest(0, (size(t) - $chunkTokens + $stride - 1) div $stride) * $stride, $stride)")))
      .select(
        col("doc_id"),
        expr(s"CAST(strt div $stride AS BIGINT)").as("chunk_id"),
        size(slice(col("t"), col("strt") + 1, lit(chunkTokens))).cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("t"), col("strt") + 1, lit(chunkTokens))).as("chunk_text"))
  }

  /** Temperature-based language resampling (the XLM/mT5 mixture rule):
    * language `l` with `n_l` documents is kept with probability
    * `(n_l / n_min)^(alpha-1)` — the per-language fraction that makes
    * post-sample language mass ∝ `n_l^alpha`, normalized so the
    * smallest language keeps everything. `alpha < 1` flattens the mixture
    * (high-resource languages downsampled, low-resource kept); `alpha = 1`
    * keeps the natural distribution.
    *
    * Selection is the deterministic hash-u rule ([[hashSplit]]'s property
    * set): doc kept iff `u < keep_frac(lang)` where `u` is the doc's
    * md5-derived uniform (seed 7 — independent of the seed-0 split and
    * seed-1 sample streams). So membership is reproducible run-to-run,
    * stable under corpus growth WITHIN a language count profile, and
    * join-free to audit — no RNG state, no sampling order.
    *
    * Scale shape: the language histogram is langs-sized (tiny), broadcast
    * back; the selection itself is a per-row projection + filter — no
    * corpus shuffle at any scale. Output carries no floating-point columns
    * (the pow-derived fraction stays internal), so the oracle comparison
    * rests only on the keep decision; a last-ulp `pow` divergence between
    * engines would need a doc's 2^-60-granular `u` to land inside that
    * ~2^-53 window to flip a row — ~n_docs·2^-53 odds, negligible.
    */
  def temperatureSample(s: SparkSession, d: String,
      alpha: Double = 0.3): DataFrame = {
    val docs = Tables.documents(s, d)
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
    // r21: n_min rides a global window over the langs-sized histogram —
    // the old scalar-agg crossJoin consumed `counts` twice, re-running the
    // whole corpus histogram scan under each consumer (audit: documents=3).
    // The unpartitioned window funnels only the langs-cardinality frame
    // through one task (guide §2.4; same min, same IEEE pow chain).
    val fracs = counts
      .withColumn("n_min", min(col("n_l")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("lang"),
        pow(col("n_l").cast("double") / col("n_min"), lit(alpha - 1.0))
          .as("keep_frac"))
    val u = (Dedup.md5Hash60(col("doc_id").cast("string"), lit(7)).cast("double")
      / lit(1152921504606846976.0)) // 2^60, exactly representable
    docs.join(broadcast(fracs), Seq("lang"))
      .filter(u < col("keep_frac"))
      .select(col("doc_id"), col("lang"))
  }

  /** Weighted sampling WITHOUT replacement, k per language
    * (Efraimidis–Spirakis A-ES): each doc draws a deterministic md5
    * uniform u and competes on key u^(1/w) — the top-k keys per group are
    * a weighted sample without replacement with inclusion probability
    * exactly proportional to w in sequential-draw semantics. The
    * weight here is document length (chars), the standard size-biased
    * draw for corpus inspection ("show me a length-representative
    * sample"), complementing [[temperatureSample]] (per-doc Bernoulli —
    * WITH-replacement semantics, no fixed k) and [[sampleTopKPerGroup]]
    * (unweighted). Deterministic: u is md5-derived (seed 11), rerun- and
    * partitioning-stable; cross-engine by the same POWER-comparison
    * contract q_temperature_sample has relied on since round 5. Zero
    * weights are clamped to 1 (a w=0 doc would take key u^∞ = 0, i.e.
    * never sampled but also never an error).
    *
    * Scale: per-language window ranking, partition-parallel; the
    * hash-prefix pre-prune of [[sampleTopKPerGroup]] does NOT transfer
    * (the key is weight-skewed, not uniform) — the 100 TB form keeps a
    * per-group running k-th-key threshold (the A-ES reservoir) via
    * [[graft.functions.TopKAggregator]]-style partial aggregation.
    */
  def weightedSample(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val u = Dedup.md5Hash60(col("doc_id").cast("string"), lit(11)).cast("double") /
      lit(1152921504606846976.0) // 2^60, exactly representable
    val skey = pow(u, lit(1.0) / greatest(col("n_chars"), lit(1L)).cast("double"))
    val w = Window.partitionBy(col("lang")).orderBy(col("_skey").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("_skey", skey)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("rk"))
  }

  /** Corpus balancing: cap every language at its `perLang` longest documents
    * (token count, doc_id tiebreak) — the standard rebalance before training
    * so high-resource languages don't drown the mixture. Per-language window
    * ranking — partition-parallel across languages; for a language so hot it
    * skews a single reducer, the two-stage salted top-k in
    * [[Similarity.bruteForceTopK]] is the drop-in replacement.
    */
  def languageBalance(s: SparkSession, d: String, perLang: Int = 50): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= perLang)
  }

  /** Robust length clip: keep documents whose stored length sits inside the
    * per-language [p05, p95] band — the standard outlier screen before
    * length-sensitive corpus stats (a handful of giant or empty docs
    * otherwise dominate token budgets and skew packing).
    *
    * Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, the parity [[graft.operators.Analytics.valuePercentiles]]
    * established); the per-lang bounds table is languages-sized and
    * broadcast, so the gate is a per-row predicate with no corpus shuffle.
    * At 100 TB the exact sort-based percentile becomes the sketch
    * (`approx_percentile`) — same dataflow, engine-private bounds.
    */
  def robustClip(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val bounds = docs.groupBy(col("lang")).agg(
      expr("percentile(n_chars, 0.05)").as("p05"),
      expr("percentile(n_chars, 0.95)").as("p95"))
    docs.join(broadcast(bounds), Seq("lang"))
      .filter(col("n_chars") >= col("p05") && col("n_chars") <= col("p95"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("p05"), col("p95"))
  }

  /** Deterministic EXACTLY-k-per-group sample — eval-set construction: the
    * same k docs per language on every run, every engine, any row order.
    * Ranking key is the md5 of a seeded doc-id string (bit-equal in DuckDB,
    * so the oracle reproduces the exact selection), doc_id tiebreak.
    *
    * Production shape (r8 verdict task 3 — now implemented, not just
    * documented): the window never sees the corpus. Survivors are
    * pre-pruned by hash PREFIX — `u ≤ c·k/|group|` where `u` is the first
    * 60 bits of the ranking md5 as a uniform [0,1) draw — so the per-group
    * sort input is ∝ c·k instead of the group size. Exactness argument: if
    * a group keeps ≥ min(k, |group|) survivors, the true top-k are all
    * survivors (any non-survivor has a strictly larger 60-bit prefix than
    * every survivor, hence a larger full key — prefix order IS string order
    * on equal-length hex). Groups where the uniform draw under-delivers
    * (P ≈ e^{-c·k} per group — negligible, but the guarantee must not be
    * probabilistic) are detected by a survivor count against min(k, n_g)
    * and ranked IN FULL: bit-identical selection under every outcome,
    * pinned by TrainingDataSpec against the un-pruned reference.
    *
    * Cost: two narrow passes over (doc_id, lang) + a languages-sized
    * broadcast, against the full-corpus per-group SORT the naive form pays
    * — the sort is the term that breaks at 100 TB (a group is corpus-scale
    * there), the scans are the cheap linear part.
    */
  def sampleTopKPerGroup(s: SparkSession, d: String, k: Int = 10,
      pruneFactor: Int = 8): DataFrame = {
    // r20: the ranked-key projection and the candidate slice are each
    // MATERIALIZED once — `docs` fed sizes, candidates, the deficient
    // check and the fallback leg, and `candidates` fed the deficient
    // check and the pruned leg, so the documents scan + md5 ranking ran
    // up to 9× per face. Both checkpoints are metadata-width ((doc_id,
    // lang, rk_key, u) / plus n_g) — the §8 "decide with small rows"
    // tables, never the document payloads.
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"))
      .withColumn("rk_key", md5(concat(lit("seed42:"), col("doc_id").cast("string"))))
      .withColumn("u", call_function("graft_hex15", col("rk_key")).cast("double")
        / lit((1L << 60).toDouble))
      .localCheckpoint()
    val sizes = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_g"))
    val bound = least(lit(1.0), lit(pruneFactor.toDouble * k) / col("n_g"))
    val candidates = docs.join(broadcast(sizes), Seq("lang"))
      .filter(col("u") <= bound)
      .localCheckpoint()
    // safety net: a group whose survivor count fell below min(k, n_g) is
    // ranked in full (languages-sized frames; empty in practice)
    val deficient = candidates.groupBy(col("lang")).agg(count(lit(1)).as("n_surv"))
      .join(sizes, Seq("lang"), "right_outer")
      .filter(coalesce(col("n_surv"), lit(0L)) < least(lit(k.toLong), col("n_g")))
      .select(col("lang"))
    val pruned = candidates.join(broadcast(deficient), Seq("lang"), "left_anti")
    val fallback = docs.join(broadcast(deficient), Seq("lang"), "left_semi")
    val w = Window.partitionBy(col("lang")).orderBy(col("rk_key"), col("doc_id"))
    pruned.select(col("doc_id"), col("lang"), col("rk_key"))
      .unionByName(fallback.select(col("doc_id"), col("lang"), col("rk_key")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("rk"))
  }

  /** The un-pruned reference form of [[sampleTopKPerGroup]] (full per-group
    * sort) — kept for the spec's bit-identity assertion.
    */
  private[graft] def sampleTopKPerGroupFullSort(s: SparkSession, d: String,
      k: Int = 10): DataFrame = {
    val key = md5(concat(lit("seed42:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("lang")).orderBy(key, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** Per-source domain-mixture weights — the DoReMi/Pile-style knob a
    * training run turns when composing its sampling distribution: each
    * source's weight rewards uniqueness (distinct exact texts over docs —
    * a duplicated crawl must not buy itself sampling mass; at the 100×
    * replica, where every doc is a 100-member duplicate cluster, this term
    * collapses to 1/100) and length quality (fraction of docs in the
    * [200, 5000]-char band — the corpusClean gate's length discipline as a
    * rate). `weight_ppm = floor(1e6 · uniq_ratio · good_ratio)` stays in
    * exact integer/IEEE territory: the numerator product is < 2^53 at any
    * plausible per-source count, the quotient is one double division, and
    * `floor` truncates identically in both engines (the CAST-rounds trap
    * q_rolling_1h documents). Normalization to a sampling distribution is
    * the consumer's one-line step — emitting unnormalized ppm avoids
    * cross-engine float-summation-order on the denominator.
    *
    * Scale shape: one partial-aggregated shuffle on source; the distinct
    * text count is the standard two-phase distinct aggregate over
    * md5(text) (128-bit — collision-safe at corpus scale; swap for
    * approx_count_distinct when ±2% suffices at 100 TB).
    */
  def domainMixWeights(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_uniq_texts"),
        count(when(col("n_chars").between(200, 5000), 1)).as("n_good_len"))
      .withColumn("weight_ppm",
        floor(lit(1000000.0) * col("n_uniq_texts") * col("n_good_len") /
          (col("n_docs") * col("n_docs"))).cast("long"))

  /** Train/eval SPLIT LEAKAGE via near-dup clusters — the contamination mode
    * [[contamination]]'s n-gram screen (train vs an external benchmark) does
    * NOT cover: the corpus's own held-out split. [[hashSplit]] assigns docs
    * independently, so two near-duplicate documents routinely land on
    * opposite sides of the boundary, and every such val/test doc is an eval
    * item the model has effectively seen — eval loss reads training
    * memorization. Standard practice (Gopher/MassiveText, The Pile v2
    * analyses) is therefore to split by DEDUP CLUSTER, not by document;
    * this face is the audit that says how much a doc-level split leaks.
    *
    * Emits every val/test doc whose [[Dedup.dedupClustersRep]] cluster also
    * contains ≥1 train doc, with the offending train-member count — the
    * rows a pipeline either drops from eval or re-splits by cluster id.
    *
    * Scale shape: pure composition of scale-proven faces. Cluster labels ⋈
    * split assignment is a doc_id-keyed narrow join (the split side is a
    * shuffle-free projection); the train-member rollup is one partial-agg
    * shuffle on cluster_id, and the final join is cluster-keyed on the
    * leaked subset only (near-dup clusters spanning the split are rare next
    * to the corpus, and val+test is ≤10% of it by construction).
    */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    // r21: the labeled frame fed the per-cluster train count AND the
    // non-train probe side — the whole cluster-labeling + split join ran
    // twice (audit documents=4). A count window over cluster_id computes
    // n_train_dups on the same stream (guide §2.4); the old inner join
    // kept non-train rows only when the cluster had ≥1 train row, which is
    // exactly the window sum's non-NULL cases.
    val labeled = Dedup.dedupClustersRep(s, d)
      .join(hashSplit(s, d).select(col("doc_id"), col("split")), Seq("doc_id"))
    labeled
      .withColumn("n_train_dups", sum(when(col("split") === "train", 1L))
        .over(Window.partitionBy(col("cluster_id"))))
      .filter(col("split") =!= "train" && col("n_train_dups").isNotNull)
      .select(col("doc_id"), col("split"), col("cluster_id"), col("n_train_dups"))
  }

  /** Leakage-FREE deterministic split — the FIX for exactly what
    * [[splitLeakage]] measures: assignment hashes the doc's near-dup
    * CLUSTER id ([[Dedup.dedupClustersRep]] labels), so every member of a
    * cluster lands in the same split by construction and a near-duplicate
    * of a test doc can never sit in train. This is how production corpora
    * are actually split (split AFTER dedup-clustering, by group key);
    * the per-doc [[hashSplit]] stays as the pre-clustering baseline the
    * leakage face audits. Same hash/boundary scheme as [[hashSplit]]
    * (md5-scaled cumulative fractions), keyed on cluster_id — zero
    * leakage is structural (split is a function of cluster_id), pinned in
    * TrainingDataSpec, and the fractions drift from the per-doc split
    * only by cluster-size mass (singleton-dominated corpora land within
    * noise of the target fractions).
    *
    * Scale shape: the labels ARE the cost (iterative label propagation,
    * already the `q_dedup_clusters` face); the split itself is one
    * per-row projection on top — no extra shuffle.
    */
  def clusterSplit(s: SparkSession, d: String,
      trainFrac: Double = 0.9, valFrac: Double = 0.05): DataFrame = {
    val u = (Dedup.md5Hash60(col("cluster_id").cast("string"), lit(0)).cast("double")
      / lit(1152921504606846976.0)) // 2^60, exactly representable
    Dedup.dedupClustersRep(s, d).select(
      col("doc_id"), col("cluster_id"),
      u.as("u"),
      when(u < trainFrac, lit("train"))
        .when(u < trainFrac + valFrac, lit("val"))
        .otherwise(lit("test")).as("split"))
  }

  /** Decontamination CLOSURE over near-dup clusters — the removal set a
    * production pipeline actually deletes: a cluster is contaminated if it
    * contains (a) a direct n-gram hit ([[contamination]]) or (b) an eval
    * document itself — an eval near-duplicate sitting in the training
    * corpus is a leak whether or not the 5-gram screen catches it (a
    * paraphrase can clear the exact-gram test yet share a Jaccard-0.4
    * shingle set). Output: every TRAINING member of a contaminated
    * cluster, with its cluster and whether it was a direct hit — the rows
    * a removal queue consumes; `direct_hit = false` rows are the docs
    * ONLY the closure catches, i.e. the value this face adds over the
    * plain screen. Measured caveat: on THIS synthetic corpus every
    * closure member is also a direct hit (verbatim-style near-dups at
    * Jaccard ≥ 0.35 with contiguous shared runs necessarily share
    * 5-grams), so the closure-only set is empty here — its value appears
    * on paraphrase-style corpora, where shingle-set overlap survives
    * word-level edits that break every exact 5-gram; the spec proves the
    * expansion semantics and the oracle pins them regardless.
    *
    * Scale shape: hits are leak-sized and cluster labels are the standing
    * `q_dedup_clusters` computation; the closure adds two narrow
    * long-keyed joins (doc→hit, cluster→contaminated-cluster) — no new
    * quadratic term, and the contaminated-cluster set is bounded by the
    * leak, so AQE broadcasts it without needing a forced hint.
    */
  def contaminationClosure(s: SparkSession, d: String,
      evalMaxDocId: Long = 50): DataFrame = {
    val hits = contamination(s, d, evalMaxDocId)
      .select(col("doc_id"), lit(true).as("direct"))
    val clusters = Dedup.dedupClustersRep(s, d)
    val hitClusters = clusters
      .join(hits, Seq("doc_id"), "left_outer")
      .filter(col("direct").isNotNull || col("doc_id") < evalMaxDocId)
      .select(col("cluster_id")).distinct()
    clusters
      .join(hitClusters, Seq("cluster_id"))
      .filter(col("doc_id") >= evalMaxDocId)
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("direct"), lit(false)).as("direct_hit"))
  }
}
