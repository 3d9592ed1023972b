package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Structural pins on the semantic-contamination recall-vs-cost frontier
  * (r13 verdict task 1 — the sweep that justifies [[Similarity.ContamProbe]]).
  * These hold at ANY corpus geometry, so they run at spec scale; the
  * measured ≥0.9-per-band fact behind the shipped default is re-measured
  * every round by the oracle-checked face itself at sf0.01.
  */
class SemanticContaminationSweepSpec extends SparkSpecBase {

  private lazy val sweep =
    Similarity.semanticContaminationSweep(spark, Sf).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[String]("band"),
        r.getAs[Long]("n_true"), r.getAs[Long]("n_found"),
        r.getAs[Double]("recall"), r.getAs[Long]("n_scored")))

  test("per-band recall is monotone non-decreasing along the swept nprobe family") {
    // a larger nprobe probes a SUPERSET of cells per eval vector, so its
    // found set contains the smaller one's — recall cannot drop
    sweep.groupBy(_._2).foreach { case (band, rows) =>
      val byProbe = rows.sortBy(_._1).map(r => (r._1, r._5))
      byProbe.sliding(2).foreach {
        case Array((p1, r1), (p2, r2)) =>
          assert(r2 >= r1,
            s"band $band recall dropped $r1@$p1 -> $r2@$p2: superset probing violated")
        case _ => ()
      }
    }
  }

  test("nprobe = nlist is brute force: recall exactly 1.0 in every band") {
    val full = sweep.filter(_._1 == Similarity.IvfCentroids)
    assert(full.nonEmpty, "full-probe point missing from the sweep")
    full.foreach { case (_, band, nTrue, nFound, recall, _) =>
      assert(nFound === nTrue && recall === 1.0,
        s"band $band: probing every cell must find every truth pair")
    }
  }

  test("the cost axis is strictly increasing and truth counts are probe-invariant") {
    val costs = sweep.groupBy(_._1).map { case (np, rows) =>
      assert(rows.map(_._6).distinct.size === 1, s"n_scored not constant at nprobe=$np")
      (np, rows.head._6)
    }.toSeq.sortBy(_._1)
    // adjacent points are >= (a marginal probe cell CAN be empty of
    // assigned corpus vectors at spec scale — superset probing only
    // guarantees non-decreasing); end to end the frontier must move
    costs.sliding(2).foreach {
      case Seq((p1, c1), (p2, c2)) =>
        assert(c2 >= c1, s"scored candidates shrank with nprobe: $c1@$p1 vs $c2@$p2")
      case _ => ()
    }
    assert(costs.last._2 > costs.head._2,
      s"the cost axis never moved across the sweep: $costs")
    // truth is a property of the data, not of the screen's knob
    sweep.groupBy(_._2).foreach { case (band, rows) =>
      assert(rows.map(_._3).distinct.size === 1, s"n_true varies with nprobe in $band")
    }
  }

  test("the shipped default is a swept point and dominates the search-face default") {
    assert(Similarity.ContamSweepProbes.contains(Similarity.ContamProbe),
      "ContamProbe must cite a measured frontier point")
    // per band, the shipped screen finds at least what the inherited search
    // default found (the r13 weak: eval-integrity screens don't inherit
    // search-tuned knobs) — superset probing makes this structural too
    sweep.groupBy(_._2).foreach { case (band, rows) =>
      val at = rows.map(r => r._1 -> r._4).toMap
      assert(at(Similarity.ContamProbe) >= at(Similarity.IvfProbe),
        s"band $band: shipped default found fewer pairs than the search default")
    }
  }

  test("the production screen face equals the sweep's found set at the shipped default") {
    // one blocking implementation: the rollup face at ContamProbe must see
    // exactly the pairs the sweep's ContamProbe point counted
    val screen = Similarity.semanticContamination(spark, Sf)
      .agg(sum(col("n_eval_hits"))).collect()(0).getLong(0)
    val sweepFound = sweep.filter(_._1 == Similarity.ContamProbe).map(_._4).sum
    assert(screen === sweepFound,
      "screen hits and sweep found-pairs diverged at the shipped nprobe")
  }

  test("the fused recall face equals the direct truth-joins-screen composition") {
    // r21: recall/sweep ride ONE fused corpus pass (truth cosines + the
    // screen's cell assignment + a probe-rank lookup). This re-runs the
    // pre-r21 composition — brute-force truth left-joined to the production
    // screen's own hit pairs — and pins row-level equality, band by band.
    val thr = 0.2
    val e = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Similarity.norm(col("embedding")))
    val evalV = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("eval_id"), col("embedding").as("qvec"),
        col("nrm").as("qn"))
    val truth = e.filter(col("vec_id") >= 50)
      .join(broadcast(evalV))
      .withColumn("cosine", Similarity.dot(col("qvec"), col("embedding")) /
        (col("qn") * col("nrm")))
      .filter(col("cosine") >= thr)
      .select(col("vec_id"), col("eval_id"), col("cosine"))
    val found = Similarity.screenCandidates(
      Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") >= 50),
      Similarity.trainedCentroids(spark, Sf, iters = 3),
      Similarity.contaminationEvalProbes(spark, Sf))
      .filter(col("cosine") >= thr)
      .select(col("vec_id"), col("eval_id"), lit(1).as("hit"))
    val band = when(col("cosine") >= 0.4, lit("0.40+"))
      .when(col("cosine") >= 0.3, lit("0.30-0.40")).otherwise(lit("0.20-0.30"))
    val direct = truth.join(found, Seq("vec_id", "eval_id"), "left_outer")
      .withColumn("band", band).groupBy(col("band"))
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"),
        (count(col("hit")).cast("double") / count(lit(1))).as("recall"))
      .collect().map(_.toString).sorted.toSeq
    val fused = Similarity.semanticContaminationRecall(spark, Sf)
      .collect().map(_.toString).sorted.toSeq
    assert(fused == direct,
      s"fused recall diverged from the direct composition:\n$fused\nvs\n$direct")
  }

  test("building the sweep face leaves the recall face's eval slice live") {
    // both faces checkpoint an eval slice; one shared supersede key let the
    // second build free the first face's blocks before it ran
    val recall = Similarity.semanticContaminationRecall(spark, Sf)
    Similarity.semanticContaminationSweep(spark, Sf)
    assert(recall.collect().nonEmpty)
  }
}
