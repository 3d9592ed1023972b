package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the training-data-pipeline
  * surface (language ID, quality scoring, token counting, fingerprinting),
  * generalizing the reference's single derived text feature (`word_count`,
  * `posts_pipeline.py:41`).
  *
  * Everything is built-in column expressions (codegen'd, no UDFs); ratios are
  * single IEEE divisions of exact integers so the DuckDB oracle hash-matches.
  */
object TextAnalysis {

  /** Python-faithful whitespace tokenization (see IngestTransforms.wordCount). */
  def tokens(c: Column): Column = {
    val stripped = regexp_replace(c, "^\\s+|\\s+$", "")
    when(stripped === "", array().cast("array<string>"))
      .otherwise(split(stripped, "\\s+"))
  }

  private val stopwords = Seq("the", "a", "an", "of", "and", "to", "in", "is",
    "it", "for", "on", "with", "as", "at", "by")

  /** Quality scoring: token count, mean token length, punctuation ratio,
    * stopword ratio, uppercase ratio — the standard cheap heuristics used to
    * filter web text before training.
    */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val nChars = length(col("text"))
    val punct = nChars - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    val stops = size(filter(toks, t => t.isin(stopwords: _*)))
    Tables.documents(s, d).select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      nChars.as("n_chars_calc"),
      punct.as("n_punct"),
      (punct.cast("double") / nChars).as("punct_ratio"),
      stops.as("n_stopwords"),
      when(nTokens === 0, lit(0.0))
        .otherwise(stops.cast("double") / nTokens).as("stopword_ratio"),
      when(nTokens === 0, lit(0.0))
        .otherwise((nChars - (nTokens - 1)).cast("double") / nTokens)
        .as("avg_token_len"))
  }

  /** N-gram-heuristic language ID: score = stopword-hit ratio against an
    * English function-word list; classify en / unknown. (The fixture corpus is
    * synthetic English-ish text, so the interesting part is the operator
    * shape: set-membership over a tokenized column, fully codegen'd.)
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    val toks = tokens(col("text"))
    val hits = size(filter(toks, t => lower(t).isin(stopwords: _*)))
    val ratio = when(size(toks) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(toks))
    Tables.documents(s, d).select(
      col("doc_id"), col("lang").as("declared_lang"),
      ratio.as("en_score"),
      when(ratio >= 0.05, lit("en")).otherwise(lit("unknown")).as("pred_lang"))
  }

  /** BPE-ish token counting: letter runs | digit runs | single non-space
    * symbol — the standard cheap proxy for tokenizer token counts.
    */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
        .as("n_bpe_tokens"))

  /** Gopher-style repetition signals: the fraction of duplicated words,
    * 2-grams and 3-grams per document — the standard cheap screens for
    * degenerate/templated text (high duplicate-n-gram fraction ⇒ boilerplate
    * or model-loop output). Pure per-row projection — gram lists are built
    * and deduped inside one codegen'd expression, no shuffle at any scale.
    *
    * The gram transforms index a BOUND token column (`t`), not the tokenizer
    * expression: a non-lambda subtree inside a higher-order function is
    * re-evaluated per element, which would make each gram re-run the regex
    * split.
    */
  def repetitionScore(s: SparkSession, d: String): DataFrame = {
    def grams(nGram: Int) = when(size(col("t")) < nGram,
        array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(col("t")) - (nGram - 1)),
        i => concat_ws(" ", (0 until nGram).map(k => element_at(col("t"), i + k)): _*)))
    def dupRatio(g: Column): Column =
      when(size(g) === 0, lit(0.0))
        .otherwise(lit(1.0) - size(array_distinct(g)).cast("double") / size(g))
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        grams(2).as("g2"), grams(3).as("g3"))
      .select(
        col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        dupRatio(col("t")).as("dup_word_ratio"),
        dupRatio(col("g2")).as("dup_2gram_ratio"),
        dupRatio(col("g3")).as("dup_3gram_ratio"))
  }

  /** Per-document top-k terms by TF-IDF — the standard relevance signal for
    * keyword extraction / quality triage over a corpus. The idf factor is
    * LINEAR (`N / df`) rather than logarithmic: `ln` is a libm call whose
    * last-ulp rounding differs across engines, which would break the
    * bit-exact oracle hash; for a fixed tf the linear and log forms rank
    * identically (both are strictly decreasing in df), and the score stays a
    * pure IEEE `(double × exact-int) / exact-int` chain both engines compute
    * identically.
    *
    * Scale shape: tf is a (doc_id, term) partial-aggregated count; df is a
    * vocab-sized rollup OF the tf table (one row per (doc, term) already, so
    * a plain count — no distinct pass over the corpus); N rides in as a
    * broadcast 1-row cross join, never a driver-side action. The tf⋈df join
    * shuffles on `term` — hot stopword terms are exactly the AQE skew-join
    * case, and the per-doc ranking window partitions on doc_id (unskewed by
    * construction).
    */
  def tfidfTopK(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    // r21: df used to be a separate rollup OF the tf table that then joined
    // back onto it — the tokenize+tf pipeline ran twice (agg input + join
    // probe; the audit's documents=3). tf rows are distinct per (doc, term),
    // so a count window over `term` IS the document frequency (the
    // q_unigram_score / bm25 discipline, guide §2.4) — one expansion, no
    // df join. n_docs keeps its own scan: it counts ALL documents including
    // token-less ones (not derivable from tf), but it is a zero-column
    // count-only read. Same IEEE score chain: (double × exact-int) /
    // exact-int, identical operand order.
    val docs = Tables.documents(s, d)
    val terms = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("term"))))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf").cast("double") * col("n_docs") / col("df"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rnk"))
  }

  /** Unigram rarity score: the mean corpus document-frequency of a doc's
    * token occurrences — the cheap stand-in for the LM-perplexity quality
    * signal (CCNet-style): documents made of globally common words score
    * high, documents full of rare/garbage tokens score low. Emitted per doc:
    * occurrence count, Σ df over occurrences, and their ratio.
    *
    * Numeric contract with the oracle: `df` and the per-doc Σ are exact
    * 64-bit integer aggregations (order-independent, bit-identical across
    * engines); the only floating-point step is ONE IEEE division per output
    * row — deliberately NOT a mean over per-token doubles, whose
    * summation-order low bits would break the exact-value gate.
    *
    * Scale shape (r20): ONE token expansion, immediately collapsed to
    * per-doc token counts (map-side partials bound the shuffle by distinct
    * (doc, token) pairs); df rides a count window on the token key over
    * those already-distinct rows — no second expansion, no distinct
    * shuffle, no join. Stopword skew concentrates a hot token's rows in
    * one window partition, but the per-group work is a running count over
    * ~df rows (bounded by the corpus doc count), the same order as the old
    * join's skewed probe side.
    */
  def unigramScore(s: SparkSession, d: String): DataFrame = {
    // r20 single-pass shape: the old occ ⋈ dfreq(occ.distinct) plan expanded
    // the token inventory TWICE (two Generate branches — once under the
    // distinct/df aggregate, once as the join's probe side) and paid a
    // distinct shuffle plus the join. One expansion collapses to per-doc
    // token counts (map-side partials make the shuffle ~distinct (doc, tok)
    // pairs — the same volume the old distinct moved); df is then a count
    // window over tok (rows are distinct per (doc, tok), so the window
    // count IS the document frequency), and the per-doc rollup weights by
    // the local count: Σc = n_tokens, Σc·df = the occurrence-weighted
    // sum_df the oracle computes. Exact integer math throughout, identical
    // output.
    val tc = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    tc.withColumn("df",
        count(lit(1)).over(Window.partitionBy(col("tok"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("df")).as("sum_df"))
      .withColumn("mean_df", col("sum_df").cast("double") / col("n_tokens"))
  }

  /** The full pre-training filter stack as ONE lazy plan — the composition a
    * real corpus release runs: quality gates ([[corpusClean]]'s token /
    * stopword / punctuation screens) + repetition gate (duplicate-2-gram
    * ratio, the Gopher signal) + per-language robust length clip
    * ([[graft.operators.TrainingData.robustClip]]'s [p05, p95] band) +
    * exact-dedup survivor selection. Everything row-local evaluates before
    * the two shuffles (the languages-sized bounds aggregate, broadcast back,
    * and the fingerprint survivor window over already-gated rows) — the
    * same gates-before-shuffle discipline as [[corpusClean]], now with the
    * whole stack composed, which is the point: operators that each hold
    * their scale shape still hold it when a user chains them.
    */
  def filterStack(s: SparkSession, d: String,
      minTokens: Int = 5, minStopwordRatio: Double = 0.05,
      maxPunctRatio: Double = 0.2, maxDup2: Double = 0.3): DataFrame = {
    val nChars = length(col("text"))
    val punct = nChars - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    // Token signals are computed INSIDE a 1-element-array lambda binding
    // (the [[Dedup.shingles3]] device): predicate pushdown inlines projected
    // aliases into the gate Filter, and with a plain `tokens(text).as("t")`
    // alias the tokenizer split lands INSIDE the per-element 2-gram lambdas
    // — O(tokens²) regex splits per row (measured: 25.7 s at sf0.1; 3.6 s
    // bound). A lambda variable cannot be inlined any further, so each
    // pushed-down copy of the struct still tokenizes exactly once.
    val sig = element_at(
      transform(array(tokens(col("text"))), t =>
        struct(
          size(t).cast("long").as("n_tokens"),
          when(size(t) === 0, lit(0.0))
            .otherwise(size(filter(t, x => x.isin(stopwords: _*))).cast("double") /
              size(t)).as("stopword_ratio"),
          element_at(transform(
            array(when(size(t) < 2, array().cast("array<string>"))
              .otherwise(transform(sequence(lit(1), size(t) - 1),
                i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))),
            g => when(size(g) === 0, lit(0.0))
              .otherwise(lit(1.0) -
                size(array_distinct(g)).cast("double") / size(g))), 1)
            .as("dup_2gram_ratio"))), 1)
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        sig.getField("n_tokens").as("n_tokens"),
        sig.getField("stopword_ratio").as("stopword_ratio"),
        (punct.cast("double") / nChars).as("punct_ratio"),
        sig.getField("dup_2gram_ratio").as("dup_2gram_ratio"),
        fingerprintCol(col("text")).as("fingerprint"))
    val bounds = Tables.documents(s, d).groupBy(col("lang")).agg(
      expr("percentile(n_chars, 0.05)").as("p05"),
      expr("percentile(n_chars, 0.95)").as("p95"))
    val kept = scored.join(broadcast(bounds), Seq("lang"))
      .filter(col("n_tokens") >= minTokens &&
        col("stopword_ratio") >= minStopwordRatio &&
        col("punct_ratio") <= maxPunctRatio &&
        col("dup_2gram_ratio") <= maxDup2 &&
        col("n_chars") >= col("p05") && col("n_chars") <= col("p95"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fingerprint")).orderBy(col("doc_id"))
    kept.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_chars"))
  }

  /** Count-Min sketch of the token stream, evaluated against exact counts:
    * d×w integer counters (row r's bucket for a token is md5-derived), a
    * token's estimate is the MIN of its d counters — the classic
    * overestimate-only frequency sketch. Output: the exact top-k tokens with
    * exact and CMS counts side by side (CMS ≥ exact always; equality when no
    * bucket collisions).
    *
    * Unlike engine-private sketches (HLL++, `approx_percentile`), every
    * ingredient here is md5 + integer arithmetic, so the WHOLE sketch is
    * reproducible in the DuckDB oracle — approximate result, exact check.
    * Scale story: the counter table is d·w rows REGARDLESS of corpus size
    * (partial-aggregated, broadcastable, mergeable across shards by plain
    * addition) — this is the shape frequency tracking takes at 100 TB where
    * exact per-token tables would themselves be corpus-sized.
    */
  def cmsTokenTopK(s: SparkSession, d: String, rows: Int = 4,
      width: Int = 1024, k: Int = 20): DataFrame = {
    val occ = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
    val top = occ.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok")).limit(k)
    def bucket(r: Column) = pmod(Dedup.md5Hash60(col("tok"), r), lit(width.toLong))
    val counters = occ
      .select(col("tok"), explode(sequence(lit(0), lit(rows - 1))).as("r"))
      .select(col("r"), bucket(col("r")).as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))
    val probes = top
      .select(col("tok"), col("n_exact"),
        explode(sequence(lit(0), lit(rows - 1))).as("r"))
      .select(col("tok"), col("n_exact"), col("r"), bucket(col("r")).as("b"))
    probes.join(counters, Seq("r", "b"))
      .groupBy(col("tok"), col("n_exact")).agg(min(col("c")).as("n_cms"))
  }

  /** Per-language Pearson correlation + OLS slope/intercept between stored
    * document length (`n_chars`) and computed whitespace word count — the
    * "do these corpus metadata columns tell one story" screen.
    *
    * The moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as exact BIGINT sums:
    * associative, partial-agg (map-side combine) friendly, and bit-stable
    * under any partitioning. The float math is then one FIXED chain of IEEE
    * ops over those integers, written identically in the oracle — so the
    * doubles compare bit-equal with no tolerance. Spark's built-in `corr()`
    * sums doubles in shuffle order and could never sit under a hash oracle;
    * the moment form is also how corr is computed distributed at 100 TB.
    * Overflow headroom: Σx² ≤ n·max(x)², within BIGINT for ~10⁹ docs of
    * ≤3·10³ chars; beyond that the moments move to decimal(38,0).
    */
  def corrStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("lang"),
      col("n_chars").as("x"),
      IngestTransforms.wordCount(col("text")).cast("long").as("y"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varXN = col("n") * col("sxx") - col("sx") * col("sx")
    val varYN = col("n") * col("syy") - col("sy") * col("sy")
    val slope = covN.cast("double") / varXN.cast("double")
    docs.groupBy(col("lang")).agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lang"), col("n"),
        (covN.cast("double") /
          (sqrt(varXN.cast("double")) * sqrt(varYN.cast("double"))))
          .as("corr_chars_words"),
        slope.as("slope"),
        ((col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("n").cast("double")).as("intercept"))
  }

  /** Corpus-wide vocabulary statistics: the k most frequent (lowercased)
    * terms with occurrence and document frequencies. Explode → one partial-
    * aggregated count keyed on the term, then a global top-k that fuses to
    * `TakeOrderedAndProject` — per-partition k-buffers, no full sort at any
    * corpus size.
    */
  def vocabTopK(s: SparkSession, d: String, k: Int = 50): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("term"))
      .limit(k)

  /** Fuzzy vocabulary matching: all unordered term pairs from the top-k
    * vocabulary within `maxDist` edits — the short-string near-dup screen
    * (typo clusters, inflection families) that complements the
    * shingle/minhash machinery built for long documents. `levenshtein` is
    * exact integer edit distance in both engines. The lexicon is top-k
    * bounded, so the pairwise product is k²-bounded REGARDLESS of corpus
    * size and both sides broadcast — fuzzy matching against a lexicon never
    * becomes a corpus-sized join.
    */
  def editDistancePairs(s: SparkSession, d: String, k: Int = 50,
      maxDist: Int = 2): DataFrame = {
    val vocab = vocabTopK(s, d, k).select(col("term"))
    vocab.select(col("term").as("term_a"))
      .crossJoin(broadcast(vocab.select(col("term").as("term_b"))))
      .filter(col("term_a") < col("term_b"))
      .select(col("term_a"), col("term_b"),
        levenshtein(col("term_a"), col("term_b")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Email-address pattern shared by redaction and counting. ASCII classes
    * only — Java regex and RE2 (DuckDB) agree on every construct used here
    * (classes, `{m,}` bounds, `\b`, non-capturing groups).
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Dotted-quad IPv4 pattern (shape-level: no 0-255 range check — this is a
    * redaction screen, over-matching is the safe direction).
    */
  val Ipv4Pattern = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  /** PII redaction over a (doc_id, text) frame: count and mask email
    * addresses and IPv4 literals — the scrub every crawl-derived training
    * corpus runs before release. Pure per-row regex projection: no shuffle at
    * any scale, fully codegen'd. Emails are replaced BEFORE IPs so a dotted
    * quad inside a just-inserted `<EMAIL>` token can't double-redact.
    *
    * `n_ipv4` counts over the email-redacted text, not the raw text, so the
    * counts are auditable against `clean_text`: a dotted quad living inside
    * an email's matched span (`bob@10.1.2.3.io`) is consumed by the email
    * mask and never appears as `<IP>`, and counting it would make
    * n_emails + n_ipv4 exceed the inserted tokens.
    */
  def piiRedact(docs: DataFrame): DataFrame = {
    val emailClean = regexp_replace(col("text"), EmailPattern, "<EMAIL>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailPattern), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(emailClean, lit(Ipv4Pattern), lit(0)))
        .cast("long").as("n_ipv4"),
      regexp_replace(emailClean, Ipv4Pattern, "<IP>").as("clean_text"))
  }

  /** Content fingerprinting: md5 over whitespace-normalized lowercased text.
    * md5 is bit-identical across engines → oracle-checkable, unlike
    * engine-private hashes (xxhash64). Used as the exact-dedup key.
    */
  def fingerprintCol(c: Column): Column =
    md5(lower(regexp_replace(c, "\\s+", " ")))

  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"), fingerprintCol(col("text")).as("fingerprint"))

  /** The composed "clean a crawl" dataflow — quality gate → language gate →
    * exact-dedup survivor selection — i.e. the standard first pass of a
    * training-data pipeline, as ONE lazy plan.
    *
    * Scale shape: the gates are per-row codegen'd predicates evaluated
    * before the only shuffle (the fingerprint window), so the dedup stage
    * shuffles just the rows that survived filtering, keyed on a 32-char md5
    * with near-unique cardinality (no skew).
    */
  def corpusClean(s: SparkSession, d: String,
      minTokens: Int = 5, minStopwordRatio: Double = 0.05,
      maxPunctRatio: Double = 0.2): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val nChars = length(col("text"))
    val punct = nChars - length(regexp_replace(col("text"), "[.,!?;:]", ""))
    val stops = size(filter(toks, t => t.isin(stopwords: _*)))
    val scored = Tables.documents(s, d).select(
      col("doc_id"), col("lang"),
      nTokens.cast("long").as("n_tokens"),
      when(nTokens === 0, lit(0.0))
        .otherwise(stops.cast("double") / nTokens).as("stopword_ratio"),
      (punct.cast("double") / nChars).as("punct_ratio"),
      fingerprintCol(col("text")).as("fingerprint"))
    val kept = scored.filter(
      col("n_tokens") >= minTokens &&
        col("stopword_ratio") >= minStopwordRatio &&
        col("punct_ratio") <= maxPunctRatio)
    kept
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("fingerprint").orderBy("doc_id")))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("stopword_ratio"))
  }

  /** Corpus bigram language-model fluency — the CCNet/perplexity-filter
    * shape upgraded from [[unigramScore]]'s document-frequency stand-in:
    * score each document by the mean add-one-smoothed conditional
    * probability of its bigrams under the corpus's own bigram LM,
    * `mean_i (c(w_{i−1} w_i) + 1) / (c(w_{i−1}) + V)`.
    *
    * Production perplexity sums LOG probabilities; this face deliberately
    * scores in probability space because every term is then a ratio of
    * INTEGERS — one correctly-rounded double division, bit-identical across
    * engines — where `ln` is only 1-ulp-accurate in both libms and a
    * hash-compare could flake. Same monotone discriminative signal
    * (gibberish scores low, formulaic text high); the log variant is a
    * one-line swap where cross-engine bit-equality is not a requirement.
    * Per-document summation is an ORDERED left fold over the position-
    * sorted term array (the repo's float-determinism convention), so the
    * sum has ONE association order in both engines.
    *
    * Scale shape: bigram extraction is row-local (one codegen'd
    * projection); the count tables are partial-agg'd; the probability join
    * shuffles on the bigram/unigram keys — pre-aggregated, so volume is
    * vocabulary-sized, with the usual hot-key caveat ("of the") that AQE
    * or [[Analytics.saltedJoin]] handles. V rides in-plan as a broadcast
    * 1-row aggregate — no driver-side count.
    */
  def bigramFluencyOf(docs: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), "\\s+"), t => length(t) > 0)
    val base = docs.select(col("doc_id"), toks.as("t"))
      .withColumn("n", size(col("t")))
    val bi = base.select(col("doc_id"),
      explode(when(col("n") >= 2,
        transform(sequence(lit(2), col("n")), i => struct(
          (i - 2).as("pos"),
          element_at(col("t"), i - 1).as("w1"),
          element_at(col("t"), i).as("w2"))))
        .otherwise(array().cast("array<struct<pos:int,w1:string,w2:string>>")))
        .as("b"))
      .select(col("doc_id"), col("b.pos").as("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uniOcc = base.select(explode(col("t")).as("w"))
    val uni = uniOcc.groupBy(col("w")).agg(count(lit(1)).as("c_uni"))
    val vocab = uni.agg(count(lit(1)).as("vocab_n"))
    // r20: c_bi rides a count window on the bigram key — the old
    // bic-aggregate ⋈ bi join re-ran the whole bigram expansion twice (agg
    // input + join probe side) and shuffled it twice; the window delivers
    // the same count to every occurrence row in ONE shuffle of the
    // expansion. Hot-bigram skew ("of the") concentrates a key's rows in
    // one window partition, the same rows the old join's probe side sent
    // to one reducer.
    val terms = bi
      .withColumn("c_bi",
        count(lit(1)).over(Window.partitionBy(col("w1"), col("w2"))))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("pos"),
        ((col("c_bi") + 1L).cast("double") /
          (col("c_uni") + col("vocab_n")).cast("double")).as("term"))
    val folded = terms.groupBy(col("doc_id"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("pos"), col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("sum_p"),
        count(lit(1)).as("n_bigrams"))
    docs.select(col("doc_id"))
      .join(folded, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("sum_p") / col("n_bigrams").cast("double")).as("fluency"))
  }

  /** Driver face over the documents table. */
  def bigramFluency(s: SparkSession, d: String): DataFrame =
    bigramFluencyOf(Tables.documents(s, d))

  // ------------------------------------------------------------ retrieval

  /** The corpus posting list — (term, doc_id, tf), the inverted index every
    * retrieval face queries. At 100 TB this IS the index: term-partitioned
    * by the tf aggregation's hash shuffle, materialized once next to the
    * corpus and append-maintained per crawl batch (the
    * [[graft.sources.Sinks.streamBandIndex]] pattern applies verbatim —
    * bands and postings are the same (key → doc) shape).
    */
  private[operators] def postings(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** Conjunctive boolean retrieval (`term1 AND term2 AND …`): posting-list
    * intersection as a grouped count — a doc qualifies iff it matched ALL
    * query terms. The classical merge-of-sorted-postings becomes, in
    * relational form, one narrow (doc_id, tf) aggregation over the
    * query-terms slice of the index; the term filter hits the posting
    * table's partition key, so at scale only the query terms' partitions
    * are read at all.
    */
  def booleanSearch(s: SparkSession, d: String,
      terms: Seq[String] = Seq("vector", "merge")): DataFrame =
    postings(s, d)
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"), sum(col("tf")).as("total_tf"))
      .filter(col("n_matched") === terms.length)
      .select(col("doc_id"), col("total_tf"))

  /** Trigram-indexed SUBSTRING search — how `LIKE '%phrase%'` avoids a full
    * scan at 100 TB (the pg_trgm / Google-Code-Search / Zoekt design): a
    * character-trigram posting table (tri → doc, distinct per doc) is built
    * once; a query intersects the postings of ITS OWN trigrams — any true
    * match must contain every one — and only the surviving candidates are
    * verified with the exact `contains`. Candidate volume ∝ the rarest
    * query trigram's document frequency, not the corpus; the verification
    * join fetches text for candidates only. The result is provably
    * index-independent (verification applies the full predicate), which is
    * what the plain-LIKE oracle checks.
    */
  def substringSearch(s: SparkSession, d: String,
      pattern: String = "hash join"): DataFrame = {
    require(pattern.length >= 3, "trigram search needs a pattern of >= 3 chars")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), lower(col("text")).as("t"))
    val patTris = pattern.toLowerCase.sliding(3).toSeq.distinct
    val candidates = substringCandidates(docs, patTris)
    candidates.join(docs, Seq("doc_id"))
      .withColumn("first_pos", instr(col("t"), pattern.toLowerCase).cast("long"))
      .filter(col("first_pos") > 0)
      .select(col("doc_id"), col("first_pos"))
  }

  /** The index-side candidate set: docs containing EVERY query trigram.
    * Separated so the spec can measure the pruning ratio (candidates ≪
    * corpus) independently of the verified result.
    *
    * The query-trigram filter runs INSIDE the array, before `array_distinct`
    * (r20): the old shape deduped the document's FULL trigram inventory
    * (a hash set over every trigram of every doc) only to discard all but
    * the ≤ |pattern| query trigrams one operator later. Filter∘distinct =
    * distinct∘filter on a set membership predicate, so the exploded row set
    * is identical; the per-doc distinct now runs over at most a handful of
    * survivors instead of the whole document.
    */
  private[graft] def substringCandidates(docs: DataFrame,
      patTris: Seq[String]): DataFrame = {
    // Column-API higher-order functions, not an interpolated SQL string
    // (r20 ADVICE): Spark SQL string literals escape with backslash, so a
    // pattern containing a quote or backslash made the '' doubling above
    // either fail to parse or match the wrong IN-list — silently returning
    // zero candidates. isInCollection takes arbitrary strings; the
    // filter-inside-distinct shape (r20) is unchanged.
    docs
      .select(col("doc_id"), explode(array_distinct(
        filter(
          transform(
            sequence(lit(1), greatest(length(col("t")) - 2, lit(0))),
            i => col("t").substr(i, lit(3))),
          tri => tri.isInCollection(patTris))))
        .as("tri"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tris"))
      .filter(col("n_tris") === patTris.length)
      .select(col("doc_id"))
  }

  /** BM25 term scores: the postings of `terms` with `tscore` =
    * `idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` — the one scoring tree
    * [[bm25Search]] and [[Retrieval.hybridRrfBatch]] sum, so the doubles
    * (and therefore the ranks) cannot drift between faces.
    */
  private[graft] def bm25Postings(s: SparkSession, d: String, terms: Seq[String],
      k1: Double, b: Double): DataFrame = {
    val docs = Tables.documents(s, d)
    // r21: dl fed the corpus-stats aggregate AND the scoring join — the
    // full-corpus tokenize pass behind it ran twice (audit documents=3,
    // two of them tokenize passes). The doc-length table is metadata-width
    // (two longs per doc — the textbook second component of a BM25 index
    // next to the postings), so one checkpoint replaces a whole
    // tokenize+scan pass at any scale (guide §2.4/§5).
    val dl = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("dl")).localCheckpoint()
    val post = postings(s, d)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // r20: df rides a count window over the term-filtered postings — the
    // old dfT-aggregate ⋈ postings join re-ran the whole tokenize/explode/
    // tf-aggregate pipeline twice (agg input + join probe). Postings are
    // one row per (doc, term), so the window count over `term` IS the
    // document frequency, and filtering to the query terms first changes
    // nothing (df counts rows of that term only).
    post.filter(col("term").isin(terms: _*))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5))
      .withColumn("tscore",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
  }

  /** BM25-shaped ranked retrieval (disjunctive — any matched term scores):
    * per-term score `idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` summed
    * over the query terms, top-k docs. Two departures from textbook BM25,
    * both deliberate:
    *
    *  - idf is the RATIONAL Robertson form WITHOUT the log,
    *    `(N−df+0.5)/(df+0.5)` — same monotonicity in df, but a pure IEEE
    *    div/add chain both engines compute bit-identically, where `ln` is a
    *    libm call with cross-engine last-ulp drift (the [[tfidfTopK]]
    *    decision applied again);
    *  - the per-doc sum over matched terms is a FIXED-ORDER sum of
    *    per-term conditional aggregates (one `sum(when(term=t))` column per
    *    query term, added left-to-right), not `sum()` over rows — float
    *    addition order must not depend on shuffle arrival.
    *
    * Scale shape: df/N/avgdl are vocab- and scalar-sized broadcasts off the
    * posting table; the scoring slice is query-terms-only; the final top-k
    * is an order+limit that fuses to TakeOrderedAndProject.
    */
  def bm25Search(s: SparkSession, d: String,
      terms: Seq[String] = Seq("vector", "merge"), k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val scored = bm25Postings(s, d, terms, k1, b)
    // fixed-order cross-term sum: one conditional aggregate per query term,
    // added left-to-right — never a row-order-dependent float sum()
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tscore"))).as(s"s_$i")
    }
    scored.groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .withColumn("score",
        terms.indices.map(i => coalesce(col(s"s_$i"), lit(0.0)))
          .reduce(_ + _))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("score"))
  }
}
