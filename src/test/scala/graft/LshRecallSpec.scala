package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import java.nio.file.Path

/** Pins the MEASURED MinHash-LSH recall curve (q_dedup_recall /
  * [[Dedup.lshRecall]]) against the 1-(1-J²)⁸ banding theory on a corpus
  * with CONTROLLED similarity structure. The driver's synthetic documents
  * only contain near-exact duplicates (all 6 true pairs at sf0.01 sit in
  * the 0.90-1.00 band), so the real quality question — how much of the
  * mid-similarity mass the banding misses — needs pairs manufactured at
  * chosen Jaccard levels: two docs sharing a p-word prefix of an L-word
  * all-distinct-token text share exactly p-2 of their 2(L-2) combined
  * 3-shingles, so J = (p-2) / (2(L-2)-(p-2)) is exact by construction.
  *
  * Everything is md5-deterministic, so the measured recalls are exactly
  * reproducible run to run — the floors are tight.
  */
class LshRecallSpec extends SparkSpecBase {

  private var dir: Path = _

  // L=42 words → 40 shingles per doc; shared-prefix length p → c = p-2
  // common shingles, J = c / (80 - c)
  private val PairsPerBand = 400
  private val L = 42
  // target (band, prefix words): J = (p-2)/(80-(p-2))
  private val Targets = Seq(
    ("0.35-0.50", 26), // c=24, J=24/56 ≈ 0.429 → expect ≈ 1-(1-J²)⁸ ≈ 0.80
    ("0.50-0.70", 32), // c=30, J=30/50 = 0.600 → expect ≈ 0.966
    ("0.70-0.90", 38), // c=36, J=36/44 ≈ 0.818 → expect ≈ 0.9998
    ("0.90-1.00", 41)) // c=39, J=39/41 ≈ 0.951 → expect ≈ 1.0

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = tempDir("lsh_recall")
    import spark.implicits._
    val rows = for {
      ((_, p), bi) <- Targets.zipWithIndex
      pair <- 0 until PairsPerBand
      side <- 0 to 1
    } yield {
      val id = ((bi * PairsPerBand + pair) * 2 + side).toLong
      // per-pair vocabulary is globally unique → cross-pair Jaccard is 0;
      // side 1 keeps the p-word prefix and replaces the tail
      val words = (0 until L).map { i =>
        if (i < p || side == 0) s"w${bi}_${pair}_$i" else s"x${bi}_${pair}_$i"
      }
      (id, words.mkString(" "), "en", "synthetic", words.mkString(" ").length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
  }

  test("recall per band matches the 1-(1-J²)⁸ banding theory on controlled pairs") {
    val got = Dedup.lshRecall(spark, dir.toString)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    info(s"measured recall per band: ${got.toSeq.sortBy(_._1)}")
    // every manufactured pair is a true pair (J ≥ 0.35 by construction and
    // within the ±20% length band: equal lengths)
    Targets.foreach { case (band, _) =>
      assert(got.contains(band), s"band $band missing from $got")
      assert(got(band)._1 == PairsPerBand,
        s"band $band expected $PairsPerBand true pairs, got ${got(band)._1}")
    }
    val floors = Map(
      "0.35-0.50" -> 0.65, "0.50-0.70" -> 0.90,
      "0.70-0.90" -> 0.98, "0.90-1.00" -> 0.995)
    floors.foreach { case (band, floor) =>
      assert(got(band)._2 >= floor,
        s"band $band recall ${got(band)._2} below floor $floor")
    }
    // and the curve is monotone: banding must not catch less at higher J
    val order = Targets.map(_._1)
    order.sliding(2).foreach { case Seq(lo, hi) =>
      assert(got(lo)._2 <= got(hi)._2 + 1e-9,
        s"recall not monotone: $lo=${got(lo)._2} > $hi=${got(hi)._2}")
    }
  }

  test("banding sweep: nested tilings order recall and cost; theory holds at both ends") {
    // candidate sets are NESTED along (16,1) ⊇ (8,2) ⊇ (4,4) ⊇ (2,8) — a
    // coarse band key concatenates two finer ones — so per-band found
    // counts and the candidate cost must be non-increasing along the list,
    // EXACTLY (not statistically); the controlled corpus then pins the
    // frontier's two ends: 1-hash bands catch essentially all J≈0.43 pairs
    // (1-(1-J)^16 ≈ 0.9999) at a candidate cost 8-hash bands never pay,
    // and 8-hash bands catch essentially none (≈ 2·J⁸ ≈ 0.002).
    val order = Dedup.BandingSweepConfigs
    assert(order.contains((Dedup.Bands, Dedup.NumHashes / Dedup.Bands)),
      "the shipped banding must be a swept point")
    val rows = Dedup.lshBandingSweep(spark, dir.toString).collect()
    val bykey = rows.map(r => ((r.getAs[Int]("bands"), r.getAs[Int]("rows_per_band")),
      r.getAs[String]("jband")) ->
      (r.getAs[Long]("n_true"), r.getAs[Long]("n_found"),
        r.getAs[Double]("recall"), r.getAs[Long]("n_cand_pairs"))).toMap
    val jbands = rows.map(_.getAs[String]("jband")).distinct
    assert(jbands.toSet == Targets.map(_._1).toSet, s"bands present: $jbands")
    for (jb <- jbands) {
      val byCfg = order.map(c => bykey((c, jb)))
      assert(byCfg.map(_._1).distinct.size === 1,
        s"$jb: n_true must not depend on the banding")
      byCfg.map(_._2).sliding(2).foreach {
        case Seq(coarse, fine) => assert(coarse >= fine,
          s"$jb: nestedness violated — finer tiling found MORE pairs")
        case _ => ()
      }
    }
    val costs = order.map(c => bykey((c, jbands.head))._4)
    costs.sliding(2).foreach {
      case Seq(a, b) => assert(a >= b, s"cost not ordered by tiling: $costs")
      case _ => ()
    }
    assert(costs.head > costs.last,
      s"the frontier must actually trade cost for recall: $costs")
    info(s"candidate cost along ${order.mkString(",")}: ${costs.mkString(",")}")
    assert(bykey(((16, 1), "0.35-0.50"))._3 >= 0.99, "1-hash bands must catch J≈0.43")
    assert(bykey(((2, 8), "0.35-0.50"))._3 <= 0.05, "8-hash bands must miss J≈0.43")
    assert(bykey(((8, 2), "0.35-0.50"))._3 >= 0.65, "shipped banding below its theory floor")
  }

  test("driver-corpus face: every band present is fully recalled (near-exact dups)") {
    val rows = SparkEntry.queries("q_dedup_recall")(spark, Sf).collect()
    // the driver corpus's true pairs are all near-exact — whatever bands
    // exist must be found in full (theory ≈ 1.0 above J=0.9)
    rows.filter(_.getString(0) == "0.90-1.00").foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"missed near-exact pairs: ${r.getLong(2)}/${r.getLong(1)}")
    }
  }
}
