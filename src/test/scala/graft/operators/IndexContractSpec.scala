package graft.operators

import graft.{CacheScope, SparkSpec}
import org.apache.spark.sql.functions._

/** Contracts of the materialized similarity indexes: dials recorded and
  * honored at serve time, strict refusal of meta-less (foreign/incomplete)
  * indexes, and seed selection that works on any id space — the failure
  * modes a stale or re-keyed deployment would otherwise hit silently.
  */
class IndexContractSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def emb = graft.Tables.load(spark, dir, "embeddings")

  test("ANN serving signs probes at the dials the index RECORDS") {
    val tmp = java.nio.file.Files.createTempDirectory("annidx").toString
    // non-default dials: if serving guessed the defaults (16 bands × 12
    // bits), probe and corpus signatures would live at different widths
    // and the candidate join would be empty
    Similarity.writeAnnIndex(emb, s"$tmp/idx", bands = 4, bits = 8)
    val hits = Similarity.annAgainstIndex(emb.filter(col("vec_id") < 10), s"$tmp/idx")
    assert(hits.count() > 0, "stored-dial serving must produce candidates")
  }

  test("meta-less index dirs are refused, not served at guessed dials") {
    val tmp = java.nio.file.Files.createTempDirectory("noidx").toString
    intercept[IllegalStateException] {
      Similarity.annAgainstIndex(emb.limit(1), tmp).count()
    }
    intercept[IllegalStateException] {
      Similarity.ivfSearchAgainstIndex(emb.limit(1), tmp).count()
    }
  }

  test("a rebuild invalidates the loaded fingerprint — even at identical dials") {
    // restart-on-rebuild is the streaming serving contract: a running
    // query holds the fingerprint it loaded at start and every micro-batch
    // re-checks it (IndexServingStream.run, StreamingDedup.runAgainstIndex). The
    // fingerprint must change on ANY rebuild — same dials included, since
    // same-dial rebuilds replace the corpus frames too — and the check
    // must fail loudly, not serve the retired build's plan.
    val docs = graft.Tables.load(spark, dir, "documents")
    val tmp = java.nio.file.Files.createTempDirectory("bandidx").toString
    Dedup.writeBandIndex(docs, s"$tmp/idx")
    val fp = IndexMeta.fingerprint(spark, s"$tmp/idx")
    IndexMeta.requireUnchanged(spark, s"$tmp/idx", fp) // loaded build serves
    Thread.sleep(50) // local-FS mtime resolution
    Dedup.writeBandIndex(docs, s"$tmp/idx") // identical dials, new build
    assert(IndexMeta.fingerprint(spark, s"$tmp/idx") != fp)
    val e = intercept[IllegalStateException] {
      IndexMeta.requireUnchanged(spark, s"$tmp/idx", fp)
    }
    assert(e.getMessage.contains("rebuilt"))
    // changed-dial rebuilds differ in content, not just mtime
    Dedup.writeBandIndex(docs, s"$tmp/idx2", k = 32, bands = 8)
    val fp2 = IndexMeta.fingerprint(spark, s"$tmp/idx2")
    assert(fp2.takeWhile(_ != '@') != fp.takeWhile(_ != '@'))
  }

  test("IVF index builds on a re-keyed corpus (ids not starting at 0)") {
    // the documented seed contract is 'the k lowest vec_ids' — an id
    // space starting above IVF_K used to collect zero seeds and crash
    val rekeyed = emb.withColumn("vec_id", col("vec_id") + 1000L)
    val tmp = java.nio.file.Files.createTempDirectory("ivfidx").toString
    Similarity.writeIvfIndex(rekeyed, s"$tmp/idx")
    val res = Similarity.ivfSearchAgainstIndex(
      rekeyed.filter(col("vec_id") < 1020), s"$tmp/idx")
    assert(res.count() > 0, "re-keyed corpus must train and serve")
  }

  test("q81 rebuilds an index whose meta is missing — a rebuild that crashed") {
    // a rebuild that dies after IndexMeta.invalidate leaves the old data
    // tables, bands/_SUCCESS included, with no meta. Meta is the
    // completeness marker, so the next q81 must rebuild instead of
    // reading dials from a meta that is not there
    def q81 = CacheScope.run(Dedup.queries("q81_incremental_index")(spark, dir)
      .collect().map(_.toString).sorted.toSeq)
    val first = q81
    val indexPath = graft.Tables.derivedIndexPath("graft_band_index_v2", dir, "documents")
    IndexMeta.invalidate(spark, indexPath)
    assert(new java.io.File(s"$indexPath/bands/_SUCCESS").exists())
    assert(q81 == first)
    assert(IndexMeta.exists(spark, indexPath))
  }
}
