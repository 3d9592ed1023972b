package graft

import graft.operators.Similarity

/** ANN knob sweep ([[Similarity.annRecallSweep]]): recall@5 across
  * multiprobe flip counts, IVF nprobe, and PQ rerank shortlists.
  *
  * The load-bearing property is PER-QUERY MONOTONICITY: within a knob
  * family a larger knob probes a SUPERSET of candidates (more buckets,
  * more cells, a longer rerank shortlist), so its top-k can only gain
  * exact neighbors — recall is non-decreasing along each family for every
  * query, not just on average. The floor pins are measured at sf0.001
  * (corpus-dependent, so they are deliberately loose: they catch a knob
  * wiring regression — a swept knob that silently stopped reaching the
  * dataflow — not recall drift).
  */
class AnnSweepSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val rows = Similarity.annRecallSweep(spark, Sf)
    .select("method", "query_id", "recall")
    .as[(String, Long, Double)].collect()
  private lazy val byMethod: Map[String, Map[Long, Double]] =
    rows.groupBy(_._1).map { case (m, rs) =>
      m -> rs.map(r => r._2 -> r._3).toMap
    }

  private val families = Seq(
    Seq("multiprobe_f4", "multiprobe_f6", "multiprobe_f8"),
    Seq("ivf_p2", "ivf_p4", "ivf_p8"),
    Seq("pq_rerank_s20", "pq_rerank_s50", "pq_rerank_s100"))

  test("every knob family is per-query monotone (superset candidates)") {
    assert(byMethod.keySet == families.flatten.toSet)
    for (fam <- families; Seq(lo, hi) <- fam.sliding(2); q <- byMethod(lo).keys)
      assert(byMethod(lo)(q) <= byMethod(hi)(q) + 1e-12,
        s"$lo recall ${byMethod(lo)(q)} > $hi ${byMethod(hi)(q)} for query $q")
  }

  test("measured floors: each family's top knob buys real recall") {
    def avg(m: String) = { val v = byMethod(m).values; v.sum / v.size }
    // sf0.001 measured: f4 0.20 -> f6 0.38 -> f8 1.00; p2/p4 0.94 -> p8
    // 0.98; s20 0.48 -> s50 0.70 -> s100 0.90 (loose pins, see scaladoc)
    assert(avg("multiprobe_f8") >= 0.9, s"f8 avg ${avg("multiprobe_f8")}")
    assert(avg("multiprobe_f8") >= avg("multiprobe_f4") + 0.3,
      "flips stopped widening the probe set")
    assert(avg("ivf_p8") >= 0.8, s"p8 avg ${avg("ivf_p8")}")
    assert(avg("pq_rerank_s100") >= 0.7, s"s100 avg ${avg("pq_rerank_s100")}")
    assert(avg("pq_rerank_s100") >= avg("pq_rerank_s20") + 0.2,
      "shortlist stopped reaching the rerank")
  }

  test("spine is total: queries x methods, empty result sets at zero") {
    val counts = rows.groupBy(_._1).map { case (_, rs) => rs.length }.toSet
    assert(counts.size == 1, s"ragged spine: $counts")
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
  }

  test("shared-artifact sweep equals the direct per-knob composition (r19)") {
    // the sweep scores each knob family ONCE at its top knob and derives
    // every swept point as a tag filter; the direct side builds each knob
    // face at its own depth over the same tagged kernels, so this pin
    // proves the tag filter row-for-row (n_hits included, not just the
    // monotonicity the other tests check). Only the DuckDB oracle checks
    // the default knobs against independently written code.
    val direct = Similarity.annRecallSweepDirect(spark, Sf)
      .select("method", "query_id", "n_hits")
      .as[(String, Long, Long)].collect().toSet
    val shared = Similarity.annRecallSweep(spark, Sf)
      .select("method", "query_id", "n_hits")
      .as[(String, Long, Long)].collect().toSet
    assert(shared == direct,
      s"diff: shared-only=${(shared -- direct).take(5)} " +
        s"direct-only=${(direct -- shared).take(5)}")
  }
}
