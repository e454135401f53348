package graft.operators

import graft.SparkSpec

/** Recall guards for the approximate similarity paths: the LSH and IVF
  * dials (bands × bits, hamming-2 multiprobe, nprobe) exist to be retuned
  * as the corpus grows — these specs pin the recall they must keep against
  * the exact brute-force baseline, so a retune that silently guts recall
  * fails here instead of in production. Pair-collision probability is
  * corpus-size-independent, so the fixture recall transfers to scale. IVF
  * recall reflects how well the trained quantizer matches the corpus's
  * cluster structure: the one-step k-means (IVF_K=16, NPROBE=4) measures
  * 0.92 on this fixture — the 0.5 floor leaves headroom for dial retunes
  * while still catching a quantizer regression (the untrained
  * corpus-subset quantizer it replaced measured 0.27).
  */
class AnnRecallSpec extends SparkSpec {
  // floors come from the ONE shared per-sf table (Similarity.RecallFloors)
  // that Bench also gates the published sf0.1 numbers against
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private lazy val exactTop3: Map[Long, Set[Long]] =
    Similarity.queries("q48_cosine_knn")(spark, dir)
      .select("p_id", "c_id", "rn").as[(Long, Long, Int)].collect()
      .filter(_._3 <= 3).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("banded hyperplane LSH keeps recall@3 against brute force") {
    val lsh = Similarity.queries("q49_ann_lsh")(spark, dir)
      .select("p_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val probes = exactTop3.keySet
    val recall = probes.toSeq.map { p =>
      val got = lsh.getOrElse(p, Set.empty)
      (exactTop3(p) & got).size.toDouble / exactTop3(p).size
    }.sum / probes.size
    info(f"LSH recall@3 = $recall%.3f over ${probes.size} probes")
    assert(recall >= Similarity.recallFloor("q49_ann_lsh", dir), f"LSH recall collapsed to $recall%.3f — check bands/multiprobe dials")
  }

  test("SQ8 asymmetric scan keeps recall@3 against brute force") {
    // SQ8 visits the whole corpus (no candidate pruning — the dial it
    // buys is 4× memory, not fewer pairs), so any recall loss is pure
    // quantization error flipping a rank at the top-3 boundary; with 256
    // levels per dimension that should be nearly lossless, hence the
    // floor sits far above the LSH/IVF ones
    val sq8 = Similarity.queries("q90_ann_sq8")(spark, dir)
      .select("p_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val probes = exactTop3.keySet
    val recall = probes.toSeq.map { p =>
      val got = sq8.getOrElse(p, Set.empty)
      (exactTop3(p) & got).size.toDouble / exactTop3(p).size
    }.sum / probes.size
    info(f"SQ8 recall@3 = $recall%.3f over ${probes.size} probes")
    assert(recall >= Similarity.recallFloor("q90_ann_sq8", dir), f"SQ8 recall collapsed to $recall%.3f — quantizer regression")
  }

  test("PQ-ADC scan keeps recall@3 against brute force") {
    // PQ also scans the whole corpus, but through an 8-byte code whose
    // accuracy is bounded by codebook resolution. This fixture is PQ's
    // WORST regime — near-random directions with no per-subspace cluster
    // structure (measured: recall stays ~0.3 even at 4× the codebook,
    // M=16 K=64 only reaches 0.5) — so the floor is calibrated to catch a
    // codebook-training regression (empty codebooks, wrong assignment
    // step), not to promise rank fidelity the 32× compression tier
    // cannot deliver on unclusterable data. Deployment composes PQ with
    // an exact refine of its top-R candidates; the tiers' measured
    // recall-per-byte ladder is recorded in SCALE.md.
    val pq = Similarity.queries("q92_ann_pq")(spark, dir)
      .select("p_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val probes = exactTop3.keySet
    val recall = probes.toSeq.map { p =>
      val got = pq.getOrElse(p, Set.empty)
      (exactTop3(p) & got).size.toDouble / exactTop3(p).size
    }.sum / probes.size
    info(f"PQ recall@3 = $recall%.3f over ${probes.size} probes")
    assert(recall >= Similarity.recallFloor("q92_ann_pq", dir), f"PQ recall collapsed to $recall%.3f — codebook regression")
  }

  test("PQ + exact refine recovers recall from the coarse tier") {
    // the deployment composition: ADC prunes to PQ_REFINE candidates
    // (floats touched per probe ∝ that constant, not corpus size), exact
    // cosine re-ranks them — recall must sit far above pure ADC's
    val pqr = Similarity.queries("q94_pq_refine")(spark, dir)
      .select("p_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val probes = exactTop3.keySet
    val recall = probes.toSeq.map { p =>
      val got = pqr.getOrElse(p, Set.empty)
      (exactTop3(p) & got).size.toDouble / exactTop3(p).size
    }.sum / probes.size
    info(f"PQ+refine recall@3 = $recall%.3f over ${probes.size} probes")
    assert(recall >= Similarity.recallFloor("q94_pq_refine", dir), f"PQ+refine recall collapsed to $recall%.3f — refine regression")
  }

  test("IVF-PQ + refine keeps recall@3 against brute force") {
    // the full serving composition (q95): recall is bounded above by the
    // IVF stage's list coverage and below-bounded by what ADC@PQ_REFINE
    // surfaces within the probed lists — between IVF's and PQ+refine's
    val ivfpq = Similarity.queries("q95_ivfpq")(spark, dir)
      .select("p_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // ALL exact probes in the denominator — a probe with zero results
    // scores 0 (intersecting key sets would silently drop it and inflate
    // recall past a candidate-join regression; Bench's artifact recall
    // scores missing probes 0 the same way)
    val probes = exactTop3.keySet
    val recall = probes.toSeq.map { p =>
      (exactTop3(p) & ivfpq.getOrElse(p, Set.empty)).size.toDouble / exactTop3(p).size
    }.sum / probes.size
    info(f"IVF-PQ+refine recall@3 = $recall%.3f over ${probes.size} probes")
    assert(recall >= Similarity.recallFloor("q95_ivfpq", dir), f"IVF-PQ recall collapsed to $recall%.3f — stage regression")
  }

  test("q179 corpus-scale PQ dial keeps near-exact recall; resolution is the lever") {
    // the gated at-scale dial on the fixture: 128-bit codes are
    // near-exact here (floor 0.9; measured 1.000)
    val scaled = Similarity.queries("q179_pq_scaled")(spark, dir)
      .select("p_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val probes = exactTop3.keySet
    val recall = probes.toSeq.map { p =>
      (exactTop3(p) & scaled.getOrElse(p, Set.empty)).size.toDouble / exactTop3(p).size
    }.sum / probes.size
    info(f"q179 (m=${Similarity.PQ_M_SCALE}) recall@3 = $recall%.3f")
    assert(recall >= Similarity.recallFloor("q179_pq_scaled", dir),
      f"corpus-scale PQ recall collapsed to $recall%.3f")
  }

  test("residual IVF-PQ beats the raw-domain composition and keeps its floor") {
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("p_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exactTop3.keySet.toSeq.map { p =>
        (exactTop3(p) & got.getOrElse(p, Set.empty)).size.toDouble / exactTop3(p).size
      }.sum / exactTop3.size
    }
    val resid = recallOf(Similarity.queries("q181_ivfpq_residual")(spark, dir))
    val raw = recallOf(Similarity.queries("q95_ivfpq")(spark, dir))
    info(f"IVF-PQ recall@3: residual $resid%.3f vs raw $raw%.3f")
    assert(resid >= Similarity.recallFloor("q181_ivfpq_residual", dir),
      f"residual IVF-PQ recall collapsed to $resid%.3f")
    // same byte budget, same prune — the residual encoding must not lose
    // to the raw form it exists to replace at occupancy
    assert(resid >= raw - 1e-9,
      f"residual form lost to raw: $resid%.3f vs $raw%.3f")
  }

  test("materialized PQ index serves the SCALED dial (round-trip == inline ADC)") {
    // index-once/serve-many must exist for the q179 configuration too:
    // the loader reads the dials off the recorded meta + codebook shape
    val tmp = java.nio.file.Files.createTempDirectory("pq32_index").toString
    val e = graft.Tables.load(spark, dir, "embeddings")
    Similarity.writePqIndex(e, s"$tmp/pq32", m = Similarity.PQ_M_SCALE)
    val served = Similarity.pqSearchAgainstIndex(
      e.filter(org.apache.spark.sql.functions.col("vec_id") < 20), s"$tmp/pq32")
      .collect().map(_.toSeq).toSet
    val inline = Similarity.pqAdcTopK(e, Similarity.PQ_M_SCALE, Similarity.PQ_K)
      .collect().map(_.toSeq).toSet
    assert(served == inline, "served scaled-dial ADC diverged from inline")
  }

  test("PQ code resolution recovers recall at cluster occupancy (the ladder law in miniature)") {
    // the r15 weak item's mechanism, reproduced at the ladder's smallest
    // rung on its clustered-corpus shape (256 latent clusters, 50k
    // vectors ≈ 195 docs/cluster): the fixture dial's 32-bit codes alias
    // same-cluster vectors and refine-50 re-ranks noise (ladder: 0.65),
    // while the q179 dial's 128-bit codes keep discriminating (ladder:
    // 0.98) — the measured justification for PQ_M_SCALE
    val tmp = java.nio.file.Files.createTempDirectory("pq_occupancy").toString
    graft.Synth.synthEmb(spark, 50000L).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    def top3(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.filter(org.apache.spark.sql.functions.col("rn") <= 3)
        .select("p_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = top3(Similarity.queries("q48_cosine_knn")(spark, tmp))
    def recallOf(m: Int): Double = {
      val got = top3(Similarity.pqRefineTopK(
        graft.Tables.load(spark, tmp, "embeddings"), m, Similarity.PQ_K))
      exact.keySet.toSeq.map { p =>
        (exact(p) & got.getOrElse(p, Set.empty)).size.toDouble / exact(p).size
      }.sum / exact.size
    }
    val rFixture = recallOf(Similarity.PQ_M)
    val rScaled = recallOf(Similarity.PQ_M_SCALE)
    info(f"refine-50 recall@3 at 50k clustered: m=8 $rFixture%.3f, m=32 $rScaled%.3f")
    assert(rScaled >= 0.9, f"scaled dial must hold ≥0.9 at occupancy, got $rScaled%.3f")
    assert(rScaled >= rFixture + 0.15,
      f"resolution must be the measured lever: m=32 $rScaled%.3f vs m=8 $rFixture%.3f")
  }

  test("IVF-Flat keeps recall@3 against brute force") {
    val ivf = Similarity.queries("q57_ann_ivf")(spark, dir)
      .select("p_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // all exact probes count — a zero-result probe scores 0, like Bench
    val probes = exactTop3.keySet
    val recall = probes.toSeq.map { p =>
      (exactTop3(p) & ivf.getOrElse(p, Set.empty)).size.toDouble / exactTop3(p).size
    }.sum / probes.size
    info(f"IVF recall@3 = $recall%.3f over ${probes.size} probes")
    assert(recall >= Similarity.recallFloor("q57_ann_ivf", dir), f"IVF recall collapsed to $recall%.3f — check nprobe/quantizer")
  }

  test("IVF serves a FOREIGN query vector (not a corpus row) exactly") {
    // the q175-style serving contract for vectors: a user query arrives
    // as its own 1-row probe frame with a sentinel id — the index must
    // rank real neighbors for it, and a probe identical to a stored
    // vector must surface that vector at cosine 1 (sanity: self-match)
    val e = graft.Tables.load(spark, dir, "embeddings")
    val tmp = java.nio.file.Files.createTempDirectory("ivffv").toString
    graft.CacheScope.run { Similarity.writeIvfIndex(e, s"$tmp/idx") }
    val v7 = e.filter(org.apache.spark.sql.functions.col("vec_id") === 7L)
      .select("embedding").collect()(0).getSeq[Float](0)
    val probe = Seq((-1L, v7)).toDF("vec_id", "embedding")
    val got = graft.CacheScope.run {
      Similarity.ivfSearchAgainstIndex(probe, s"$tmp/idx")
        .collect().map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("c_id"),
          r.getAs[Double]("cosine"), r.getAs[Int]("rn")))
    }
    assert(got.nonEmpty && got.forall(_._1 == -1L))
    val top = got.minBy(_._4)
    assert(top._2 == 7L && top._3 == 1.0,
      s"identical foreign probe must self-match at cosine 1: $top")
    assert(got.length <= 3 && got.map(_._4).sorted.sameElements(1 to got.length))
  }

  test("probe masks are combinatorial at every permitted band width") {
    // 2^bits enumeration wrapped (Int shift is mod 32) or exploded memory
    // for wide dials; the combinatorial form must hold across the full
    // 1..62 range LshBandSigsExpr permits — incl. the widths that broke
    for (bits <- Seq(1, 2, 12, 24, 31, 32, 48, 62)) {
      val masks = Similarity.probeMasksFor(bits)
      val expected = 1 + bits + bits * (bits - 1) / 2
      assert(masks.size == expected, s"bits=$bits: ${masks.size} != $expected")
      assert(masks.distinct.size == masks.size, s"bits=$bits: duplicate masks")
      assert(masks.forall(m => java.lang.Long.bitCount(m) <= 2),
        s"bits=$bits: mask beyond hamming 2")
      assert(masks.forall(m => m == 0L || java.lang.Long.numberOfTrailingZeros(m)
        < bits && 63 - java.lang.Long.numberOfLeadingZeros(m) < bits),
        s"bits=$bits: mask touches bits outside the band width")
    }
    intercept[IllegalArgumentException](Similarity.probeMasksFor(63))
    intercept[IllegalArgumentException](Similarity.probeMasksFor(0))
  }
}
