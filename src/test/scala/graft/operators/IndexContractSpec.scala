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
    // re-checks it (Streams.guard). The
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
    // a rebuild that dies mid-write leaves the old data tables,
    // bands/_SUCCESS included, with no meta: the dir is refused, and
    // since meta is the completeness marker the next q81 must rebuild
    // instead of reading dials from a meta that is not there
    def q81 = CacheScope.run(Dedup.queries("q81_incremental_index")(spark, dir)
      .collect().map(_.toString).sorted.toSeq)
    val first = q81
    val indexPath = graft.Tables.derivedIndexPath("graft_band_index_v2", dir, "documents")
    val crash = intercept[IllegalStateException] {
      IndexMeta.commit(spark, indexPath, "graft band index dials") {
        throw new IllegalStateException("rebuild killed mid-write")
      }
    }
    assert(crash.getMessage == "rebuild killed mid-write")
    assert(new java.io.File(s"$indexPath/bands/_SUCCESS").exists())
    val refused = intercept[IllegalStateException](Dedup.loadBandIndex(spark, indexPath))
    assert(refused.getMessage.contains("no meta.properties"), refused.getMessage)
    assert(q81 == first)
    assert(IndexMeta.exists(spark, indexPath))
  }

  test("ensure builds a directory once, whether named by a file: URI or a bare path") {
    val path = java.nio.file.Files.createTempDirectory("ensurelock").toString + "/idx"
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val bothIn = new java.util.concurrent.CountDownLatch(2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    // each build counts itself, then waits up to 2 s for a second one to
    // start: under one lock the second caller blocks, then sees the meta
    def build(): Unit = {
      builds.incrementAndGet()
      bothIn.countDown()
      bothIn.await(2, java.util.concurrent.TimeUnit.SECONDS)
      IndexMeta.commit(spark, path, "lock test")(Nil)
    }
    val threads = Seq(s"file:$path", path).map { p =>
      new Thread(() =>
        try IndexMeta.ensure(spark, p)(build())
        catch { case t: Throwable => errors.add(t); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"ensure failed: $errors")
    assert(builds.get == 1, s"${builds.get} builds ran into one directory")
  }

  test("no index writer leaves a cached frame behind, even outside any CacheScope") {
    val docs = graft.Tables.load(spark, dir, "documents")
    val events = graft.Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val tmp = java.nio.file.Files.createTempDirectory("writers_nocache").toString
    // a private sf dir holding only `orders`, so the z-order layout is
    // built here rather than found from an earlier run
    val zdir = s"$tmp/zdir"
    graft.Tables.load(spark, dir, "orders").write.parquet(s"$zdir/orders.parquet")
    val oldIds = docs.filter(col("doc_id") % 5 =!= 0)
    val newIds = docs.filter(col("doc_id") % 5 === 0)
    val writers: Seq[(String, () => Unit)] = Seq(
      "writeAnnIndex" -> (() => Similarity.writeAnnIndex(emb, s"$tmp/ann")),
      "writeIvfIndex" -> (() => Similarity.writeIvfIndex(emb, s"$tmp/ivf")),
      "writeSq8Index" -> (() => Similarity.writeSq8Index(emb, s"$tmp/sq8")),
      "writePqIndex" -> (() => Similarity.writePqIndex(emb, s"$tmp/pq")),
      "writeIvfPqIndex" -> (() => Similarity.writeIvfPqIndex(
        emb.filter(col("vec_id") % 10 =!= 0), s"$tmp/ivfpq")),
      "appendIvfPqDelta" -> (() => Similarity.appendIvfPqDelta(
        emb.filter(col("vec_id") % 10 === 0), s"$tmp/ivfpq")),
      "writeClusterPruneIndex" -> (() =>
        Similarity.writeClusterPruneIndex(spark, dir, s"$tmp/prune")),
      "writePhaseIndex" -> (() => TimeSeries.writePhaseIndex(events, s"$tmp/phase")),
      "writeOutlierIndex" -> (() => TimeSeries.writeOutlierIndex(events, s"$tmp/mad")),
      "writeStatsIndex" -> (() => TextAnalysis.writeStatsIndex(docs, s"$tmp/stats")),
      "writeHllIndex" -> (() => TextAnalysis.writeHllIndex(docs, s"$tmp/hll")),
      "writeBandIndex" -> (() => Dedup.writeBandIndex(docs, s"$tmp/band")),
      "writeBm25Index" -> (() => Bm25.writeBm25Index(oldIds, s"$tmp/bm25")),
      "appendBm25Delta" -> (() => Bm25.appendBm25Delta(newIds, s"$tmp/bm25")),
      "compactBm25" -> (() => Bm25.compactBm25(spark, s"$tmp/bm25")),
      "writeBloomIndex" -> (() => BloomGate.writeBloomIndex(
        docs.filter(col("source") === "src0"), s"$tmp/bloom")),
      "writeHotBlockIndex" -> (() => CorpusOps.writeHotBlockIndex(docs, s"$tmp/hot")),
      "writeDsirIndex" -> (() => CorpusOps.writeDsirIndex(spark, dir, s"$tmp/dsir")),
      "writeCcnetIndex" -> (() => CorpusOps.writeCcnetIndex(spark, dir, s"$tmp/ccnet")),
      "the z-order layout" -> (() => Spatial.queries("q105_zrange_box")(spark, zdir)),
      "writeBoundaries" -> (() => graft.streaming.StreamingDecileGate
        .writeBoundaries(spark, dir, s"$tmp/deciles")))
    for ((name, write) <- writers) assertNoCachedFrames(name)(write())
    assert(Bm25.liveSegmentCount(spark, s"$tmp/bm25") == 1, "the compaction ran")
    assert(new java.io.File(graft.Tables.derivedIndexPath(
      "graft_zorder_layout_v1", zdir, "orders"), "meta.properties").exists(),
      "the z-order layout was built")
  }
}
