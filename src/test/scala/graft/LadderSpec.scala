package graft

/** Every capacity-ladder family through the [[Ladder]] harness at a tiny
  * size on the shared session, no warm-up: rung order, cap skips, recall
  * bounds and the families' own output checks.
  */
class LadderSpec extends SparkSpec {

  private val root = java.nio.file.Files.createTempDirectory("ladder_spec").toString

  private def run(family: String, size: String, only: Option[Set[String]] = None,
                  fam: Option[Ladder.Family] = None): Seq[Ladder.Result] = {
    val out = Seq.newBuilder[Ladder.Result]
    Ladder.run(spark, fam.getOrElse(Ladder.families(family)), Seq(size),
      s"$root/$family", only, warm = false)(out += _)
    out.result()
  }

  private def names(rs: Seq[Ladder.Result]) = rs.map(_.rung)

  /** The family's full rung list, in order (construction is lazy). */
  private def rungNames(family: String, size: String) =
    Ladder.families(family).rungs(spark, s"$root/$family/n$size", size).map(_.name)

  test("ann: rungs in order; a serve rung pulls in its build, recall in [0, 1]") {
    assert(rungNames("ann", "300") == Seq("q48_exact_knn", "q49_lsh_16x12",
      "lsh_build_16x12", "lsh_serve_16x12", "lsh_build_16x16", "lsh_serve_16x16",
      "q57_ivf_k16_np4", "ivf_build_k16", "ivf_serve_k16_np4", "ivf_build_sqrtN",
      "ivf_serve_sqrtN_np8", "ivf_serve_sqrtN_np8_exactprobe", "ivf_build_sqrtN_exact",
      "ivf_serve_sqrtN_exact_np8", "q90_sq8_scan", "q92_pq_adc", "q94_pq_refine50",
      "pq_adc_m16", "pq_refine50_m16", "pq_adc_m32", "pq_refine50_m32",
      "pq_adc_m8_k256", "pq_refine50_m8_k256", "q95_ivfpq", "ivfpq_scaled_sqrtN_m32",
      "ivfpq_resid_fixture_dials", "ivfpq_resid_sqrtN_m32"))
    // the exact baseline is always kept; each serve pulls in its build
    val rs = run("ann", "300", only = Some(Set("lsh_serve_16x12", "ivf_serve_sqrtN_exact")))
    assert(names(rs) == Seq("generate", "q48_exact_knn", "lsh_build_16x12",
      "lsh_serve_16x12", "ivf_build_sqrtN_exact", "ivf_serve_sqrtN_exact_np8"))
    val serve = rs.filter(_.rung.contains("_serve"))
    assert(serve.forall(_.recall.exists(r => r >= 0.0 && r <= 1.0)))
    assert(rs.filter(_.rung.contains("_build")).forall(r => r.recall.isEmpty && r.rows.contains(0L)))
    assert(rs(1).recall.isEmpty)
  }

  test("ivfpq: append vs retrain steps, recall on both serves, retrain conf restored") {
    val rs = run("ivfpq", "1000")
    assert(names(rs) == Seq("generate", "exact_knn", "build_base", "append_1pct",
      "serve_appended", "retrain", "serve_rebuilt"))
    assert(rs.filter(_.rung.startsWith("serve_")).forall(_.recall.exists(r => r >= 0.0 && r <= 1.0)))
    assert(spark.conf.getOption(operators.Similarity.RETRAIN_FRACTION_CONF).isEmpty)
  }

  test("dedup: rungs in order; 16-bit simhash rungs SKIPPED above their cap") {
    assert(rungNames("dedup", "400") == Seq("q44_dedup_exact", "q46_minhash_lsh",
      "q66_dedup_pipeline", "q58_dedup_clusters_sim16", "q77_canonical_best_sim16",
      "q131_dedup_sensitivity_sim16", "cc_simhash48_h3", "cc_simhash48_h1", "cc_minhash"))
    val rs = run("dedup", "400", only = Some(Set("q44", "q58", "cc_minhash")))
    assert(names(rs) == Seq("generate", "q44_dedup_exact", "q58_dedup_clusters_sim16",
      "cc_minhash"))
    assert(rs.forall(_.secs.isDefined))
    val capped = run("dedup", "50001", only = Some(Set("q58", "q77", "q131")))
    assert(names(capped).tail == Seq("q58_dedup_clusters_sim16",
      "q77_canonical_best_sim16", "q131_dedup_sensitivity_sim16"))
    assert(capped.tail.forall(r => r.secs.isEmpty && r.csv.contains("SKIPPED")))
  }

  test("lm and lm-zipf: the type-table rungs in order on both corpora") {
    val want = Seq("q162_zipf_slope", "q128_vocab_growth",
      "q117_ngram_diversity", "q149_good_turing", "q151_kneser_ney", "kn_pruned_min2",
      "kn3_exact", "kn3_pruned_min2", "q152_collocations", "q150_distinct_sketch",
      "q133_heavy_hitters")
    for (f <- Seq("lm", "lm-zipf")) {
      assert(rungNames(f, "200") == want, f)
      val rs = run(f, "200", only = Some(Set("q162", "kn3_pruned")))
      assert(names(rs) == Seq("generate", "q162_zipf_slope", "kn3_pruned_min2"), f)
      assert(rs.tail.forall(_.rows.exists(_ > 0)), f)
    }
  }

  test("star: the astronomy rungs in order") {
    val rs = run("star", "3000")
    assert(names(rs) == Seq("generate", "q50_star_features", "q51_star_classify",
      "q53_star_comparative", "q71_star_probspace", "q137_period_search",
      "q177_period_search_dense"))
  }

  test("cc: both tiers count every component, and a failed check stops the run") {
    assert(rungNames("cc", "40") ==
      Seq("driver", "distributed", "chain100_driver", "chain100_distributed"))
    val rs = run("cc", "40", only = Some(Set("driver", "distributed")))
    assert(names(rs) == Seq("driver", "distributed"))
    assert(rs.map(_.rows.get) == Seq(10L, 10L))
    assert(rs.head.tele.contains("boundary_edges="))
    val cc = Ladder.families("cc")
    val broken = cc.copy(rungs = (s, d, p) => cc.rungs(s, d, p).take(1)
      .map(_.copy(check = c => throw new AssertionError(s"wrong component count: $c"))))
    intercept[AssertionError](run("cc", "40", fam = Some(broken)))
  }

  test("bm25: build, serve and scan before and after compaction; postings unchanged") {
    val rs = run("bm25", "800")
    assert(names(rs) == Seq("generate", "build_8seg", "serve_8seg", "scan_8seg",
      "compact", "serve_1seg", "scan_1seg"))
    val scans = rs.filter(_.rung.startsWith("scan_"))
    assert(scans.map(_.rows) == Seq.fill(2)(scans.head.rows) && scans.head.rows.exists(_ > 0))
    assert(scans.forall(_.bytes.exists(_ > 0)))
    assert(rs.find(_.rung == "build_8seg").map(_.rows) == rs.find(_.rung == "compact").map(_.rows))
  }

  test("ckpt: both mode orders over the barrier queries; mode restored") {
    val dir = "/root/testdata/sf0.001"
    val qs = Seq("q104_corpus_build", "q155_pair_rank", "q71_star_probspace")
    assert(rungNames("ckpt", dir) == Seq("local_", "reliable_", "rev_reliable_", "rev_local_")
      .flatMap(m => qs.map(m + _)))
    val rs = run("ckpt", dir, only = Some(Set("local_q71", "reliable_q71", "rev_local_q71")))
    assert(names(rs) == Seq("local_q71_star_probspace", "reliable_q71_star_probspace",
      "rev_local_q71_star_probspace"))
    assert(rs.map(r => r.tele.contains("mode=reliable")) == Seq(false, true, false))
    assert(rs.forall(_.tele.contains("ckpt ")))
    assert(spark.conf.getOption(GraftCheckpoint.ModeKey).isEmpty)
  }
}
