package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sampled IVF centroid training: the quantizer trains on a capped
  * deterministic sample (256·k vectors — the standard k-means budget)
  * while the full corpus is still assigned exactly once. The r15 ladder
  * measured the full-train √N build at 5M as the family's bottleneck
  * (140.5 s, pure N·k·d training distance work); sampling cuts that ~9×.
  * These tests pin the contract: below the cap training is FULL (fixture
  * hashes untouched — the driver oracle on q83 is the end-to-end proof),
  * above it the sample kicks in with serve recall within 0.02 of the
  * full-train index on the same corpus.
  */
class IvfSampleSpec extends SparkSpec {
  import spark.implicits._

  private def top3(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.filter(col("rn") <= 3).select("p_id", "c_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("fixture-scale corpora train FULL; the gate is the corpus size") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_full").toString
    graft.Telemetry.drain()
    Similarity.writeIvfIndex(
      graft.Tables.load(spark, "/root/testdata/sf0.1", "embeddings"),
      s"$tmp/ivf")
    val evs = graft.Telemetry.drain()
    assert(evs.exists(e => e.contains("ivf train=full")),
      s"2000 fixture vectors sit under 256·16 — training must be full: $evs")
  }

  test("above the cap the sample trains; serve recall within 0.02 of full-train") {
    val tmp = java.nio.file.Files.createTempDirectory("ivf_sampled").toString
    val corpus = graft.Synth.synthEmb(spark, 20000L)
    corpus.write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val e = graft.Tables.load(spark, tmp, "embeddings")
    val probes = e.filter(col("vec_id") < 20)

    graft.Telemetry.drain()
    Similarity.writeIvfIndex(e, s"$tmp/sampled", k = 64) // cap 16384 < 20k
    val evs = graft.Telemetry.drain()
    assert(evs.exists(ev => ev.contains("ivf train=sampled") && ev.contains("n=20000")),
      s"20k vectors at k=64 must train on the sample: $evs")
    Similarity.writeIvfIndex(e, s"$tmp/full", k = 64,
      trainPerCentroid = Int.MaxValue)

    val exact = top3(Similarity.queries("q48_cosine_knn")(spark, tmp))
    def recallOf(idx: String): Double = {
      val got = top3(Similarity.ivfSearchAgainstIndex(probes, s"$tmp/$idx", nprobe = 8))
      exact.keySet.toSeq.map { p =>
        (exact(p) & got.getOrElse(p, Set.empty)).size.toDouble / exact(p).size
      }.sum / exact.size
    }
    val (rSampled, rFull) = (recallOf("sampled"), recallOf("full"))
    info(f"serve recall@3 at 20k/k=64/np=8: full-train $rFull%.3f, sampled-train $rSampled%.3f")
    assert(rSampled >= rFull - 0.02,
      f"sampled training lost more than 0.02 recall: $rSampled%.3f vs $rFull%.3f")
  }
}
