package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Two-level (coarse-then-fine) IVF assignment: above
  * [[Similarity.IVF_TWOLEVEL_MIN_K]] lists the corpus-assignment pass
  * ranks ~√k coarse cells per vector and runs the exact fine argmax only
  * over the best [[Similarity.IVF_COARSE_W]] cells' members — the fix
  * for the measured r16 build bottleneck (the full N·k·d assignment
  * pass, 117.6 s of the 5M/√N build). These tests pin the contract:
  * fixture-sized list counts assign EXACTLY (gated hashes untouched);
  * the two-level path with w ≥ nCoarse is the exact assignment computed
  * through the two-level code (path equivalence, not luck); and at the
  * default w the end-to-end serve recall stays within 0.02 of the
  * exact-assignment index on the same corpus (the IvfSampleSpec
  * contract, assignment edition).
  */
class IvfTwoLevelSpec extends SparkSpec {
  import spark.implicits._

  private def top3(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.filter(col("rn") <= 3).select("p_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def lists(path: String): Map[Long, Long] =
    spark.read.parquet(s"$path/lists").select("c_id", "list_id")
      .as[(Long, Long)].collect().toMap

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("buildCoarseCells partitions every fine centroid exactly once") {
    val fine = Array.tabulate(50) { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 1.7 + j) + 2.0),
        Array.tabulate(8)(j => math.sin(i * 1.7 + j) + 2.0).map(x => x * x).sum)
    }
    val cells = Similarity.buildCoarseCells(fine, 7)
    val all = cells.members.flatten.sorted
    assert(all.toSeq == (0 until 50), s"members must partition the fine table: ${all.toSeq}")
    assert(cells.cents.length == cells.norms.length &&
      cells.cents.length == cells.members.length)
    assert(cells.members.forall(_.nonEmpty), "empty cells must be dropped")
  }

  test("fixture-sized list counts assign through the exact path") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_exact_gate").toString
    graft.Telemetry.drain()
    Similarity.writeIvfIndex(
      graft.Tables.load(spark, "/root/testdata/sf0.1", "embeddings"), s"$tmp/ivf")
    val evs = graft.Telemetry.drain()
    assert(evs.exists(_.contains("ivf assign=exact k=16")),
      s"IVF_K=16 sits under the two-level gate — assignment must be exact: $evs")
  }

  test("two-level with w >= nCoarse equals exact assignment, list for list") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_2l_eq").toString
    val corpus = graft.Synth.synthEmb(spark, 2000L)
    corpus.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val e = graft.Tables.load(spark, tmp, "embeddings")

    graft.Telemetry.drain()
    withConf(Similarity.TWOLEVEL_MIN_K_CONF -> "1",
             Similarity.COARSE_W_CONF -> "9999") {
      Similarity.writeIvfIndex(e, s"$tmp/twolevel", k = 64)
    }
    assert(graft.Telemetry.drain().exists(_.contains("ivf assign=twolevel k=64")),
      "forced gate must take the two-level path")
    withConf(Similarity.TWOLEVEL_MIN_K_CONF -> Int.MaxValue.toString) {
      Similarity.writeIvfIndex(e, s"$tmp/exact", k = 64)
    }
    val (two, ex) = (lists(s"$tmp/twolevel"), lists(s"$tmp/exact"))
    assert(two == ex,
      s"w >= nCoarse probes every cell — assignment must equal exact; " +
        s"${two.count { case (k, v) => ex(k) != v }} of ${two.size} differ")
  }

  test("a zero-norm vector assigns identically on both paths and builds an IVF-PQ index") {
    // every cosine of a zero vector is NaN: the pickers must still land it
    // on a real list (the lowest cent_id), or the residual encode has no
    // centroid to subtract
    val tmp = java.nio.file.Files.createTempDirectory("ivf_2l_zero").toString
    val corpus = ((0L until 24L).map { i =>
      (i, Seq.tabulate(8)(j => (if ((i + j) % 2 == 0) 1.0 else 0.1 + i * 0.01).toFloat))
    } :+ (99L, Seq.fill(8)(0.0f))).toDF("vec_id", "embedding")
    def codeLists(path: String): Map[Long, Long] =
      spark.read.parquet(s"$path/codes").select("c_id", "list_id")
        .as[(Long, Long)].collect().toMap
    graft.Telemetry.drain()
    withConf(Similarity.TWOLEVEL_MIN_K_CONF -> "2", Similarity.COARSE_W_CONF -> "9999") {
      Similarity.writeIvfPqIndex(corpus, s"$tmp/twolevel")
    }
    assert(graft.Telemetry.drain().exists(_.contains("ivf assign=twolevel")),
      "forced gate must take the two-level path")
    withConf(Similarity.TWOLEVEL_MIN_K_CONF -> Int.MaxValue.toString) {
      Similarity.writeIvfPqIndex(corpus, s"$tmp/exact")
    }
    val (two, ex) = (codeLists(s"$tmp/twolevel"), codeLists(s"$tmp/exact"))
    val cents = spark.read.parquet(s"$tmp/exact/centroids").select("cent_id").as[Long]
      .collect().toSet
    assert(cents.contains(ex(99L)), s"the zero vector landed on list ${ex(99L)}, not a centroid")
    assert(two == ex, s"paths disagree on ${two.count { case (k, v) => ex(k) != v }} vectors")
  }

  test("default-w two-level serve recall within 0.02 of exact assignment") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_2l_rec").toString
    val corpus = graft.Synth.synthEmb(spark, 20000L)
    corpus.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val e = graft.Tables.load(spark, tmp, "embeddings")
    val probes = e.filter(col("vec_id") < 20)
    val k = math.ceil(math.sqrt(20000.0)).toInt // 142 >= gate → auto two-level

    graft.Telemetry.drain()
    Similarity.writeIvfIndex(e, s"$tmp/twolevel", k = k)
    val evs = graft.Telemetry.drain()
    assert(evs.exists(ev => ev.contains("ivf assign=twolevel") && ev.contains(s"k=$k")),
      s"sqrt-N list count must auto-select two-level assignment: $evs")
    withConf(Similarity.TWOLEVEL_MIN_K_CONF -> Int.MaxValue.toString) {
      Similarity.writeIvfIndex(e, s"$tmp/exact", k = k)
    }
    // how much of the corpus actually landed on a different list
    val (two, ex) = (lists(s"$tmp/twolevel"), lists(s"$tmp/exact"))
    val moved = two.count { case (id, l) => ex(id) != l }
    info(f"two-level moved $moved of ${two.size} assignments (${moved * 100.0 / two.size}%.2f%%)")

    val exact = top3(Similarity.queries("q48_cosine_knn")(spark, tmp))
    def recallOf(idx: String): Double = {
      val got = top3(Similarity.ivfSearchAgainstIndex(probes, s"$tmp/$idx", nprobe = 8))
      exact.keySet.toSeq.map { p =>
        (exact(p) & got.getOrElse(p, Set.empty)).size.toDouble / exact(p).size
      }.sum / exact.size
    }
    val (rTwo, rEx) = (recallOf("twolevel"), recallOf("exact"))
    info(f"serve recall@3 at 20k/k=$k/np=8: exact-assign $rEx%.3f, two-level $rTwo%.3f")
    assert(rTwo >= rEx - 0.02,
      f"two-level assignment lost more than 0.02 recall: $rTwo%.3f vs $rEx%.3f")
  }

  // ---- serve-side two-level list ranking (r17 what's-missing #3) ----

  test("serve with w >= nCoarse equals exact probe ranking, row for row") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_2l_serve_eq").toString
    val corpus = graft.Synth.synthEmb(spark, 2000L)
    corpus.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val e = graft.Tables.load(spark, tmp, "embeddings")
    val probes = e.filter(col("vec_id") < 20)
    // one index (assignment held constant) served through both probe paths
    Similarity.writeIvfIndex(e, s"$tmp/ivf", k = 64)

    def serveRows(conf: (String, String)*): Set[(Long, Long, Double, Int)] =
      withConf(conf: _*) {
        Similarity.ivfSearchAgainstIndex(probes, s"$tmp/ivf", nprobe = 8)
          .select("p_id", "c_id", "cosine", "rn")
          .as[(Long, Long, Double, Int)].collect().toSet
      }
    graft.Telemetry.drain()
    val two = serveRows(Similarity.TWOLEVEL_MIN_K_CONF -> "1",
      Similarity.COARSE_W_CONF -> "9999")
    assert(graft.Telemetry.drain().exists(_.contains("ivf probe=twolevel k=64")),
      "forced gate must take the two-level probe path")
    val ex = serveRows(Similarity.TWOLEVEL_MIN_K_CONF -> Int.MaxValue.toString)
    assert(two == ex,
      s"w >= nCoarse probes every cell — served rows must equal exact " +
        s"(${(two diff ex).size} extra, ${(ex diff two).size} missing)")
  }

  test("fixture-sized list counts serve through the exact probe path") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_probe_gate").toString
    val e = graft.Tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    Similarity.writeIvfIndex(e, s"$tmp/ivf")
    graft.Telemetry.drain()
    Similarity.ivfSearchAgainstIndex(e.filter(col("vec_id") < 20), s"$tmp/ivf")
      .write.format("noop").mode("overwrite").save()
    val evs = graft.Telemetry.drain()
    assert(evs.exists(_.contains("ivf probe=exact k=16")),
      s"IVF_K=16 sits under the two-level gate — probe ranking must be exact: $evs")
  }

  test("default-w two-level serve recall within 0.02 of exact probe ranking") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_2l_serve_rec").toString
    val corpus = graft.Synth.synthEmb(spark, 20000L)
    corpus.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val e = graft.Tables.load(spark, tmp, "embeddings")
    val probes = e.filter(col("vec_id") < 20)
    val k = math.ceil(math.sqrt(20000.0)).toInt // 142 >= gate → auto two-level
    Similarity.writeIvfIndex(e, s"$tmp/ivf", k = k)

    val exact = top3(Similarity.queries("q48_cosine_knn")(spark, tmp))
    def recallOf(conf: (String, String)*): Double = withConf(conf: _*) {
      val got = top3(Similarity.ivfSearchAgainstIndex(probes, s"$tmp/ivf", nprobe = 8))
      exact.keySet.toSeq.map { p =>
        (exact(p) & got.getOrElse(p, Set.empty)).size.toDouble / exact(p).size
      }.sum / exact.size
    }
    graft.Telemetry.drain()
    val rTwo = recallOf() // k=142 >= gate → two-level probe ranking by default
    assert(graft.Telemetry.drain().exists(_.contains("ivf probe=twolevel")),
      "sqrt-N list count must auto-select two-level probe ranking")
    val rEx = recallOf(Similarity.TWOLEVEL_MIN_K_CONF -> Int.MaxValue.toString)
    info(f"serve recall@3 at 20k/k=$k/np=8: exact-probe $rEx%.3f, two-level $rTwo%.3f")
    assert(rTwo >= rEx - 0.02,
      f"two-level probe ranking lost more than 0.02 recall: $rTwo%.3f vs $rEx%.3f")
  }
}
