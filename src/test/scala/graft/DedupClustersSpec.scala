package graft

import graft.operators.Dedup
import org.apache.spark.sql.{functions, Row}

/** Connected-components labeling over near-duplicate pair lists: chains that
  * need label flooding, multiple components, cliques, and convergence.
  */
class DedupClustersSpec extends SparkSpecBase {
  import spark.implicits._

  /** Eagerly collected multiset of a pair frame's rows, so an A-vs-B
    * comparison is a plain `Map` equality (a duplicate emission changes a
    * count and fails it too).
    */
  private def landed(df: org.apache.spark.sql.DataFrame): Map[Row, Int] = {
    val rows = df.collect().toSeq
    rows.groupBy(identity).view.mapValues(_.size).toMap
  }

  test("hot-band cap never changes the simhash pair set") {
    // cap = 2 forces aggressive sub-bucketing of every band group; cap =
    // MaxValue disables splitting entirely. The outputs must be identical —
    // the cap's exactly-once pair-meeting argument, checked adversarially
    // (multiset compare: a duplicate emission would fail too).
    val split = landed(Dedup.simhashPairs(spark, Sf, hotBandCap = 2))
    val whole = landed(Dedup.simhashPairs(spark, Sf, hotBandCap = Int.MaxValue))
    assert(split == whole)
  }

  test("simhashPairStats carries the exact pair mass and real member samples") {
    import org.apache.spark.sql.functions._
    // the bounded production face must agree with the enumerating face it
    // replaces at scale: n_pairs sums to the enumerated pair count, and
    // every (sample_a, sample_b, hamming) row IS an enumerated pair
    val enumerated = landed(Dedup.simhashPairs(spark, Sf)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("long")))
    val stats = Dedup.simhashPairStats(spark, Sf).collect()
    assert(stats.map(_.getAs[Long]("n_pairs")).sum == enumerated.values.sum.toLong,
      "pair mass diverged from the enumerating face")
    val enumSet = enumerated.keySet
    stats.foreach { r =>
      assert(enumSet.contains(Row(r.getAs[Long]("sample_a"),
        r.getAs[Long]("sample_b"), r.getAs[Long]("hamming"))),
        s"sample pair not in the enumerated output: $r")
      assert(r.getAs[Long]("sample_a") < r.getAs[Long]("sample_b"))
      assert(r.getAs[Long]("n_pairs") >= 1L)
    }
    // one row per fingerprint pair — the boundedness that makes it the
    // production face
    val keys = stats.map(r => (r.getAs[String]("sim_a"), r.getAs[String]("sim_b")))
    assert(keys.distinct.length == keys.length)
  }

  test("pair-volume gate: refuses over budget with EXACT sizing, admits at the boundary") {
    // r15 verdict task 3: the enumerating face predicts its output
    // cardinality from group sizes before expanding a row. The prediction
    // must equal the real enumerated count exactly — that's what makes the
    // recorded refusal sizing citable.
    val n = Dedup.simhashPairs(spark, Sf).count()
    assert(n > 0, "degenerate fixture: no near-dup pairs to gate")
    try {
      spark.conf.set(Dedup.PairRowsConfKey, (n - 1).toString)
      val e = intercept[Dedup.PairVolumeBudgetExceeded] {
        Dedup.simhashPairs(spark, Sf).count()
      }
      assert(e.predictedRows === n, "gate prediction diverged from the real count")
      assert(e.budgetRows === n - 1)
      assert(e.nFingerprintPairs > 0 && e.nGroups > 0)
      // the sizing must survive Bench's 300-char error truncation
      val msg = e.toString.take(300)
      assert(msg.contains(s"predicted=$n") && msg.contains(s"budget=${n - 1}"),
        s"sizing truncated out of the artifact line: $msg")
      // boundary: budget == predicted admits (only strictly-over refuses)
      spark.conf.set(Dedup.PairRowsConfKey, n.toString)
      assert(Dedup.simhashPairs(spark, Sf).count() === n)
    } finally spark.conf.unset(Dedup.PairRowsConfKey)
  }

  test("hot-shingle cap never changes the ngram Jaccard pair set") {
    // cap = 2 sub-buckets every (lang, shingle) posting group with df > 2;
    // cap = MaxValue disables splitting. Identical output — including the
    // per-pair shared-shingle COUNTS the Jaccard divides by, which is the
    // stronger property (a pair meeting twice would inflate c, not just
    // duplicate a row).
    val split = landed(Dedup.ngramJaccardPairs(spark, Sf, hotShingleCap = 2))
    val whole = landed(Dedup.ngramJaccardPairs(spark, Sf, hotShingleCap = Int.MaxValue))
    assert(split == whole)
  }

  test("incremental probe equals the cross-side slice of the full pair search") {
    import org.apache.spark.sql.functions._
    // every pair the batch-vs-corpus probe finds must be exactly the
    // batch×corpus restriction of the full all-pairs search (same bands,
    // same threshold) — the equivalence that makes "incremental" a pure
    // work reduction, not a recall trade
    val incr = landed(Dedup.incrementalNearDup(spark, Sf))
    val full = landed(Dedup.minhashLshPairs(spark, Sf)
      .filter((col("doc_a") % 5 === 0) =!= (col("doc_b") % 5 === 0))
      .select(
        when(col("doc_a") % 5 === 0, col("doc_a")).otherwise(col("doc_b")).as("batch_doc"),
        when(col("doc_a") % 5 === 0, col("doc_b")).otherwise(col("doc_a")).as("corpus_doc"),
        col("jaccard")))
    assert(incr == full)
    assert(incr.nonEmpty)
  }

  test("incremental probe: hot-band cap never changes the pair set") {
    val split = landed(Dedup.incrementalNearDup(spark, Sf, hotBandCap = 2))
    val whole = landed(Dedup.incrementalNearDup(spark, Sf, hotBandCap = Int.MaxValue))
    assert(split == whole)
  }

  test("opt-in stop-shingle drop: lossless above max df, exact-valued below") {
    val full = landed(Dedup.ngramJaccardPairs(spark, Sf))
    // a threshold above every real df drops nothing — output identical even
    // though the maxDf path verifies via array sets instead of join counts
    val high = landed(Dedup.ngramJaccardPairs(spark, Sf, maxDf = Some(Long.MaxValue)))
    assert(high == full)
    // an aggressive threshold may lose pairs (overlap entirely in dropped
    // shingles) but every emitted pair must carry the exact full-set Jaccard
    val low = landed(Dedup.ngramJaccardPairs(spark, Sf, maxDf = Some(2L)))
    assert(low.keySet.subsetOf(full.keySet),
      "maxDf output must be a subset with exact values")
  }

  test("rep-graph labels equal member-graph labels on the driver corpus") {
    // r20 task 1: cluster(doc) = label(rep(doc)) must be output-identical
    // to propagating over the full member-pair expansion — on the real
    // corpus, adversarially (multiset compare of every (doc, cluster) row)
    val rep = landed(Dedup.dedupClustersRep(spark, Sf))
    val member = landed(Dedup.dedupClusters(spark, Sf,
      Dedup.minhashLshPairs(spark, Sf)))
    assert(rep == member)
    assert(rep.nonEmpty)
  }

  test("rep-graph labels equal member-graph labels on a hand-built corpus") {
    import org.apache.spark.sql.functions._
    // a corpus exercising every equality-argument branch: an exact-dup set
    // bridged to another exact-dup set by a near-dup edge (the cross-set
    // case), a multi-member set with NO cross edge (intra-only component),
    // a singleton, and a shingle-less doc
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray yankee zulu one two three four"
    val near = base.replace(" four", " nine") // 1 of 28 shingles differs
    val other = "red orange yellow green blue indigo violet black white " +
      "gray pink brown cyan magenta teal maroon navy olive silver gold"
    val docs = Seq(
      (1L, base), (2L, base),        // set A (rep 1)
      (3L, near), (4L, near),        // set B (rep 3), near-dup of A
      (5L, other),                   // singleton set
      (6L, "hi there"),              // < 3 tokens: no shingles
      (7L, "apple banana cherry date elderberry fig grape honeydew"),
      (8L, "apple banana cherry date elderberry fig grape honeydew")) // intra-only set
    val dir = tempDir("handcorpus")
    val df = docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("spec"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    df.coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)
    val d = dir.toString
    val rep = landed(Dedup.dedupClustersRep(spark, d))
    val member = landed(Dedup.dedupClusters(spark, d,
      Dedup.minhashLshPairs(spark, d)))
    assert(rep == member)
    val byDoc = rep.keySet.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 7L, 8L -> 7L),
      s"hand-computed clusters diverged: $byDoc")
    graft.sources.WarmDirs.deleteRecursively(d)
  }

  test("keep-best over rep-graph labels equals the member-graph form") {
    val rep = landed(Dedup.dedupKeepBestRep(spark, Sf))
    val member = landed(Dedup.dedupKeepBest(spark, Sf,
      Dedup.minhashLshPairs(spark, Sf)))
    assert(rep == member)
    assert(rep.nonEmpty)
  }

  test("minhash pair-volume gate: refuses over budget with EXACT sizing, admits at the boundary") {
    // r20 task 2: the enumerating MinHash face predicts Σ m_a·m_b + Σ C(m,2)
    // from the verified rep pairs + member counts BEFORE expanding a row —
    // the same contract its SimHash twin has carried since r15
    val n = Dedup.minhashLshPairs(spark, Sf).count()
    assert(n > 0, "degenerate fixture: no near-dup pairs to gate")
    try {
      spark.conf.set(Dedup.PairRowsConfKey, (n - 1).toString)
      val e = intercept[Dedup.PairVolumeBudgetExceeded] {
        Dedup.minhashLshPairs(spark, Sf).count()
      }
      assert(e.predictedRows === n, "gate prediction diverged from the real count")
      assert(e.budgetRows === n - 1)
      assert(e.pipeline === "minhashLshPairs")
      val msg = e.toString.take(300)
      assert(msg.contains(s"predicted=$n") && msg.contains(s"budget=${n - 1}"),
        s"sizing truncated out of the artifact line: $msg")
      // boundary: budget == predicted admits (only strictly-over refuses)
      spark.conf.set(Dedup.PairRowsConfKey, n.toString)
      assert(Dedup.minhashLshPairs(spark, Sf).count() === n)
    } finally spark.conf.unset(Dedup.PairRowsConfKey)
  }

  private def labelsOf(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.clusterLabels(pairs.toDF("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toMap

  test("a chain floods the minimum to every member") {
    // 10-9, 9-8, ..., 2-1: min label 1 must travel 9 hops
    val out = labelsOf((2L to 10L).map(i => (i - 1, i)))
    (1L to 10L).foreach(i => assert(out(i) == 1L, s"node $i"))
  }

  test("separate components keep separate labels; cliques collapse") {
    val out = labelsOf(Seq(
      (5L, 6L), (6L, 7L), (5L, 7L), // triangle (cycle-safe)
      (20L, 21L)))                  // unrelated pair
    assert(out(5L) == 5L && out(6L) == 5L && out(7L) == 5L)
    assert(out(20L) == 20L && out(21L) == 20L)
    assert(!out.contains(1L))
  }

  test("pair order does not matter (doc_a > doc_b tolerated)") {
    val out = labelsOf(Seq((9L, 3L), (3L, 12L)))
    assert(out == Map(3L -> 3L, 9L -> 3L, 12L -> 3L))
  }

  test("dedupClusters maps every document, singletons to themselves") {
    val pairs = Seq((1L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.dedupClusters(spark, Sf, pairs)
      .as[(Long, Long)].collect().toMap
    val allDocs = Tables.documents(spark, Sf).count()
    assert(out.size == allDocs)
    assert(out(3L) == 1L)
    assert(out(1L) == 1L)
    // every doc not in the single pair is its own cluster
    assert(out.count { case (d, c) => d == c } == allDocs - 1)
  }

  test("dedupKeepBest keeps the longest member per cluster, covers every cluster once") {
    val pairs = Seq((1L, 3L), (3L, 7L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = Dedup.dedupKeepBest(spark, Sf, pairs)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (c, kept, n, m) => c -> ((kept, n, m)) }.toMap
    val allDocs = Tables.documents(spark, Sf).count()
    // one row per cluster; member counts sum back to the corpus
    assert(out.values.map(_._3).sum == allDocs)
    assert(out(1L)._3 == 3L && out(10L)._3 == 2L)
    // the kept doc really is the longest member (ties -> min doc_id)
    val lens = Tables.documents(spark, Sf)
      .select(functions.col("doc_id"),
        functions.size(graft.operators.TextAnalysis.tokens(
          functions.col("text"))).cast("long"))
      .as[(Long, Long)].collect().toMap
    for ((c, members) <- Map(1L -> Seq(1L, 3L, 7L), 10L -> Seq(10L, 11L))) {
      val best: (Long, Long) = members.map(d => (lens(d), -d)).max
      val expect = (-best._2, best._1)
      assert((out(c)._1, out(c)._2) == expect, s"cluster $c")
    }
    // singleton clusters keep themselves with their own length
    assert(out(2L) == ((2L, lens(2L), 1L)))
  }
}
