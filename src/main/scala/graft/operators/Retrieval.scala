package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid lexical + vector retrieval with reciprocal-rank fusion — the
  * production search shape a RAG / training-data pipeline runs over a
  * corpus: a BM25 arm (term evidence) and an embedding-cosine arm (semantic
  * evidence), fused by RRF so neither arm's score scale has to be
  * calibrated against the other (rank is the only thing that crosses the
  * fusion boundary — the whole point of RRF and why it is the standard
  * baseline fusion in IR literature and production search stacks).
  *
  * Scale shape (100 TB): each arm is ONE pass over its table — the BM25 arm
  * is [[TextAnalysis.bm25Search]]'s term-partitioned posting-list shape; the
  * vector arm broadcasts the query vector(s) and scores map-side with the
  * codegen'd dot Expression, then keeps armK rows per query (global
  * `TakeOrderedAndProject` for one query; salted two-stage windows for a
  * batch — k rows per (salt, query) survive stage 1, so no full per-query
  * sort funnel ever materializes). Fusion itself touches ≤armK-row-per-query
  * frames — driver-scale, whatever the corpus size.
  *
  * Query-document identity: doc_id (documents) and vec_id (embeddings)
  * index the SAME corpus — each document's embedding carries its doc_id as
  * vec_id. That correspondence is the fixture contract the fusion relies on
  * (asserted in RetrievalSpec, r11 ADVICE), and it is why BOTH arms exclude
  * the query's own id: the query document is the probe, not a candidate.
  * The lexical arm excludes AFTER taking armK+1 — set-identical to
  * excluding before the limit, without forking the shared bm25 face.
  *
  * Determinism-for-oracle: fusion consumes INTEGER ranks only (scores never
  * cross the boundary), so the fused output is hash-stable as long as each
  * arm's rank order is — both arms carry a unique-id tiebreak, and the RRF
  * weight `1/(K+rank)` is one double division of exact small integers,
  * bit-identical across engines. Absent-arm membership is encoded as rank 0
  * (contributing 0.0) instead of NULL, so the rank columns stay int64 under
  * the dtype-strict oracle gate on both engines.
  */
object Retrieval {

  /** The canonical RRF dampening constant (k=60 in the original
    * Cormack/Clarke/Buettcher formulation — large enough that a handful of
    * rank-1 appearances cannot drown broad mid-rank agreement).
    */
  val RrfK: Int = 60

  /** Default face parameters. The q_hybrid_rrf oracle SQL is GENERATED
    * from these same constants (r11 ADVICE: a registration with non-default
    * args can no longer silently diverge from a hardcoded oracle).
    */
  val DefaultTerms: Seq[String] = Seq("vector", "merge")
  val DefaultQueryVecId: Long = 0L
  val DefaultArmK: Int = 50
  val DefaultK: Int = 10

  /** The batch face's query set: 8 (query vec_id, 2-term query) pairs over
    * the corpus vocabulary. Exactly TWO terms per query keeps the
    * fixed-order cross-term sum identical in shape to the single face
    * (s_0 + s_1, never a row-order-dependent float sum) on both engines.
    */
  val BatchQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("vector", "merge"),
    1L -> Seq("hash", "join"),
    2L -> Seq("scan", "filter"),
    3L -> Seq("sort", "merge"),
    4L -> Seq("stream", "window"),
    5L -> Seq("column", "batch"),
    6L -> Seq("group", "agg"),
    7L -> Seq("query", "fast"))

  private def rrfTerm(rank: Column): Column =
    when(rank > 0, lit(1.0) / (lit(RrfK) + rank)).otherwise(lit(0.0))

  def hybridRrf(s: SparkSession, d: String,
      terms: Seq[String] = DefaultTerms,
      queryVecId: Long = DefaultQueryVecId,
      armK: Int = DefaultArmK, k: Int = DefaultK): DataFrame = {
    // lexical arm: BM25 top-(armK+1), drop the query's own document, keep
    // armK — exactly "top armK of everything but the query doc" (the query
    // doc can displace at most one candidate). The rank window runs over
    // the ≤armK+1-row frame the limit already produced (bounded, single
    // partition — same precedent as the bucket-offset frames in Analytics)
    val lex = TextAnalysis.bm25Search(s, d, terms, armK + 1)
      .filter(col("doc_id") =!= queryVecId)
      .withColumn("lex_rank", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("lex_rank") <= armK)
      .select(col("doc_id"), col("lex_rank"))

    // vector arm: one broadcast query vector, map-side cosine, global top-k
    val emb = Tables.embeddings(s, d)
    val qv = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qvec"))
      .withColumn("qn", Similarity.norm(col("qvec")))
    val vec = emb.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        (Similarity.dot(col("qvec"), col("embedding")) /
          (col("qn") * Similarity.norm(col("embedding")))).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id").asc)
      .limit(armK)
      .withColumn("vec_rank", row_number()
        .over(Window.orderBy(col("cosine").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("vec_rank"))

    // fusion: full outer over the two tiny rank frames; a doc absent from
    // an arm carries rank 0 there and that arm contributes exactly 0.0
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .withColumn("rrf", rrfTerm(col("lex_rank")) + rrfTerm(col("vec_rank")))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Exact per-query top-k rank without a per-query sort funnel — the
    * batch-arm sibling of [[Similarity]]'s salted two-stage pattern:
    * stage 1 ranks within (query_id, salt) groups and keeps k each (the
    * only pass that sees the full candidate volume — queries×salts-way
    * parallel), stage 2 ranks the ≤salts×k survivors per query.
    */
  private def perQueryRank(scored: DataFrame, score: String, k: Int,
      rankName: String): DataFrame = {
    val order = Seq(col(score).desc, col("doc_id").asc)
    val w1 = Window.partitionBy(col("query_id"), col("salt")).orderBy(order: _*)
    val w2 = Window.partitionBy(col("query_id")).orderBy(order: _*)
    scored
      .withColumn("salt", pmod(col("doc_id"), lit(Similarity.TopKSalts)))
      .withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= k)
      .withColumn(rankName, row_number().over(w2).cast("long"))
      .filter(col(rankName) <= k)
      .select(col("query_id"), col("doc_id"), col(rankName))
  }

  /** Batch hybrid retrieval (r11 verdict task 5): a production RAG / eval
    * pipeline scores thousands of queries per run, not one — this face runs
    * a broadcast query SET through both arms in the SAME number of corpus
    * passes as the single-query face.
    *
    *  - Lexical arm: ONE pass over the posting list. All queries' terms
    *    filter the postings together; per-(term) BM25 partial scores are
    *    computed once per posting row and then fanned out to the queries
    *    via a broadcast (query_id, ti, term) map — a doc scored for a term
    *    shared by two queries pays one tscore evaluation, not two. The
    *    per-query fixed-order sum and the armK cut ride the salted
    *    two-stage rank, so no per-query sort funnel forms.
    *  - Vector arm: ONE pass over the embeddings. The ≤|queries| (id, vec,
    *    norm) frame broadcasts; cosine is the same codegen'd dot per
    *    (corpus row, query); per-query top-armK via the salted rank.
    *  - Fusion: per-query RRF over ≤2·armK-row-per-query frames, final
    *    per-query top-k window over that bounded union.
    *
    * Per-query results are IDENTICAL to running [[hybridRrf]] once per
    * query (RetrievalSpec pins it): both arms exclude the query's own id,
    * rank on the same (score desc, id asc) order, and fuse the same ranks.
    * The tscore expression tree is copied verbatim from
    * [[TextAnalysis.bm25Search]] — same lit constants, same op order — so
    * the doubles (and therefore the ranks) cannot drift between faces.
    */
  def hybridRrfBatch(s: SparkSession, d: String,
      queries: Seq[(Long, Seq[String])] = BatchQueries,
      armK: Int = DefaultArmK, k: Int = DefaultK,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.length == 2),
      "hybridRrfBatch: every query carries exactly two terms (the fixed-order " +
        "s_0+s_1 sum both engines evaluate)")
    import s.implicits._
    val qids = queries.map(_._1)
    val qtRows = queries.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (t, i) => (q, i.toLong, t) } }
    val qterms = qtRows.toDF("query_id", "ti", "term")
    val allTerms = qtRows.map(_._3).distinct

    // ---- lexical arm: one postings pass, shared across queries
    val docs = Tables.documents(s, d)
    // r21: dl checkpointed once, like the single bm25 face — it feeds the
    // stats aggregate AND the scoring join, which re-ran the full-corpus
    // tokenize pass behind it
    val dl = docs.select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("dl")).localCheckpoint()
    IterCheckpoint.supersede(s, "hybridBatchDocLen", dl)
    val post = TextAnalysis.postings(s, d)
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // tscore: verbatim [[TextAnalysis.bm25Search]] expression tree; df rides
    // the same count window as the single face (r20) instead of a second
    // full postings pass
    val scoredPost = post.filter(col("term").isin(allTerms: _*))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5))
      .withColumn("tscore",
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
    val lexScore = scoredPost
      .join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(when(col("ti") === 0, col("tscore"))).as("s_0"),
        sum(when(col("ti") === 1, col("tscore"))).as("s_1"))
      .withColumn("score",
        coalesce(col("s_0"), lit(0.0)) + coalesce(col("s_1"), lit(0.0)))
    val lex = perQueryRank(lexScore, "score", armK, "lex_rank")

    // ---- vector arm: one embeddings pass, broadcast query vectors
    val emb = Tables.embeddings(s, d)
    val qv = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      .withColumn("qn", Similarity.norm(col("qvec")))
    val vecScore = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .join(broadcast(qv), col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        (Similarity.dot(col("qvec"), col("embedding")) /
          (col("qn") * Similarity.norm(col("embedding")))).as("cosine"))
    val vec = perQueryRank(vecScore, "cosine", armK, "vec_rank")

    // ---- per-query fusion over bounded rank frames
    val wFinal = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .withColumn("rrf", rrfTerm(col("lex_rank")) + rrfTerm(col("vec_rank")))
      .withColumn("rk", row_number().over(wFinal))
      .filter(col("rk") <= k).drop("rk")
      .orderBy(col("query_id"), col("rrf").desc, col("doc_id"))
  }
}
