package graft.streaming

import graft.SparkSpec
import graft.ml._
import graft.model.{LightCurveData, Star}
import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming search drives the trained filter over a file-source star
  * stream; checkpoint resume skips processed files (the reference's
  * `getUnsearchedQuery` semantics).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import StreamingSpec.Served

  private val rng = new scala.util.Random(3)

  private def star(id: String, f: Double => Double): Star = {
    val t = Array.tabulate(200)(i => i * 1.0 + rng.nextDouble() * 0.1)
    val m = t.map(x => f(x) + rng.nextGaussian() * 0.05)
    Star(id, None, Map.empty, Map.empty, Map.empty, None,
      Seq(LightCurveData(t, m, Array.fill(200)(0.01), Map.empty)))
  }

  test("streaming search scores micro-batches and resumes from checkpoint") {
    val searched = (1 to 10).map(i => star(s"cos_$i", x => math.cos(x / 8))).toDF()
    val others = (1 to 10).map(i => star(s"lin_$i", x => x / 50 + rng.nextGaussian())).toDF()
    val model = new StarsFilter(
      Seq(new AbbeValueDescr(Some(80)), new SkewnessDescr()),
      Seq(new LDADec())).learn(searched, others)

    val tmp = java.nio.file.Files.createTempDirectory("stream").toString
    val starDir = s"$tmp/stars"
    // first batch of files
    searched.write.mode("append").parquet(starDir)
    val q1 = StreamingSearch.run(spark, model, starDir,
      s"$tmp/matched", s"$tmp/status", s"$tmp/ckpt")
    q1.awaitTermination()
    val statusAfter1 = spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/status").count()
    assert(statusAfter1 == 10, s"first batch status rows: $statusAfter1")

    // new files arrive; restart with same checkpoint → only new files scored
    others.write.mode("append").parquet(starDir)
    val q2 = StreamingSearch.run(spark, model, starDir,
      s"$tmp/matched", s"$tmp/status", s"$tmp/ckpt")
    q2.awaitTermination()
    val statusAfter2 = spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/status").count()
    assert(statusAfter2 == 20, s"resume processed only the new files: $statusAfter2")

    val matched = spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/matched")
    assert(matched.count() >= 8, "most searched-family stars pass")
  }

  test("streaming search writes a status row for every star, unscorable ones included") {
    val searched = (1 to 10).map(i => star(s"cos_$i", x => math.cos(x / 8))).toDF()
    val others = (1 to 10).map(i => star(s"lin_$i", x => x / 50 + rng.nextGaussian())).toDF()
    val model = new StarsFilter(
      Seq(new AbbeValueDescr(Some(80)), new SkewnessDescr()),
      Seq(new LDADec())).learn(searched, others)

    val tmp = java.nio.file.Files.createTempDirectory("streamall").toString
    // one micro-batch: five scorable stars and one with no light curve
    val noCurve = Star("no_curve", None, Map.empty, Map.empty, Map.empty, None, Seq.empty)
    (Seq(noCurve) ++ (1 to 5).map(i => star(s"cos_new_$i", x => math.cos(x / 8))))
      .toDF().coalesce(1).write.parquet(s"$tmp/stars")
    StreamingSearch.run(spark, model, s"$tmp/stars",
      s"$tmp/matched", s"$tmp/status", s"$tmp/ckpt").awaitTermination()

    val status = spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/status")
    assert(status.count() == 6, s"one status row per streamed star: ${status.count()}")
    assert(status.select("starId").distinct().count() == 6)
    val unscorable = status.filter(col("starId") === "no_curve").collect()
    assert(unscorable.length == 1 && !unscorable.head.getAs[Boolean]("passed") &&
      unscorable.head.isNullAt(unscorable.head.fieldIndex("prob_LDADec")),
      s"the unscorable star is not passed and has no probability: ${unscorable.toSeq}")
    val matched = spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/matched")
    assert(matched.filter(col("starId") === "no_curve").count() == 0,
      "the unscorable star is not matched")
  }

  test("streaming dedup drops exact duplicates across micro-batches") {
    val tmp = java.nio.file.Files.createTempDirectory("dedupstream").toString
    val docs1 = Seq(
      (1L, "alpha beta gamma", "en", "web", 16L),
      (2L, "alpha beta gamma", "en", "web", 16L), // in-batch dup of 1
      (3L, "delta epsilon", "en", "web", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs1.write.mode("append").parquet(s"$tmp/in")
    val q1 = StreamingDedup.run(spark, s"$tmp/in", docs1.schema,
      s"$tmp/clean", s"$tmp/ckpt")
    q1.awaitTermination()
    val clean1 = spark.read.parquet(s"$tmp/clean")
    assert(clean1.count() == 2, "in-batch duplicate dropped")
    assert(clean1.select("content_hash").distinct().count() == 2)

    // second batch: one cross-batch dup (same text as doc 1) + one new doc
    Seq(
      (4L, "alpha beta gamma", "en", "news", 16L), // cross-batch dup
      (5L, "zeta eta theta", "fr", "web", 14L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$tmp/in")
    val q2 = StreamingDedup.run(spark, s"$tmp/in", docs1.schema,
      s"$tmp/clean", s"$tmp/ckpt")
    q2.awaitTermination()
    val clean2 = spark.read.parquet(s"$tmp/clean")
    assert(clean2.count() == 3, "cross-batch duplicate dropped via checkpointed state")
    assert(clean2.filter(col("doc_id") === 4L).count() == 0)
    assert(clean2.filter(col("doc_id") === 5L).count() == 1)
  }

  test("streaming near-dup suppression collapses shingle-identical docs") {
    val tmp = java.nio.file.Files.createTempDirectory("neardupstream").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "web", 30L),
      // same shingle SET as doc 1 (identical text) but different metadata
      (2L, "alpha beta gamma delta epsilon", "en", "news", 30L),
      (3L, "totally different content here now", "en", "web", 34L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$tmp/in")
    val schema = spark.read.parquet(s"$tmp/in").schema
    val q = StreamingDedup.runNearDup(spark, s"$tmp/in", schema,
      s"$tmp/clean", s"$tmp/ckpt")
    q.awaitTermination()
    val clean = spark.read.parquet(s"$tmp/clean")
    assert(clean.count() == 2, "signature-identical docs collapse")
    assert(clean.select("minhash_sig").distinct().count() == 2)
  }

  // ------------------------------------------------ index-serving streams

  private def vf(xs: Double*) = xs.map(_.toFloat)

  /** 24 8-dim vectors in two separated clusters (even ids near axis 0,
    * odd ids near axis 2): dim is a multiple of PQ_M = 8 and there are
    * ≥ 16 vectors for both seed tables (IVF_K and PQ_K), so every family
    * builds on it and its lists and codes have real structure.
    */
  private def vecCorpus = (0L until 24L).map { i =>
    val base = if (i % 2 == 0) vf(1.0, 0.1, 0.0, 0.0, 0.2, 0.0, 0.0, 0.0)
               else vf(0.0, 0.1, 1.0, 0.0, 0.0, 0.2, 0.0, 0.0)
    (i, base.updated(1, (0.1 + i * 0.01).toFloat))
  }.toDF("vec_id", "embedding")

  private def vecProbe(id: Long, v: Seq[Float]) = Seq((id, v)).toDF("vec_id", "embedding")

  private def docs(rows: (Long, String, String, String, Long)*) =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")

  private val sf = "/root/testdata/sf0.001"
  private def sfDocs = Tables.load(spark, sf, "documents")
  private def sfEvents = Tables.load(spark, sf, "events")
    .select(col("user_id"), col("event_id"), col("ts"), col("value"))

  private def served(family: String): Served = {
    import graft.operators._
    import graft.operators.Similarity._
    val nearAxis0 = () => vecProbe(100L, vf(0.95, 0.11, 0.0, 0.0, 0.19, 0.0, 0.0, 0.0))
    family match {
      case "dedup" => Served(Dedup.writeBandIndex(docs(
          (100L, "alpha beta gamma delta epsilon zeta eta theta", "en", "web", 46L),
          (101L, "one two three four five six seven eight nine", "en", "web", 44L)), _),
        () => docs(
          (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "news", 46L),
          (2L, "totally unrelated fresh content right here today", "en", "web", 48L)),
        p => { val idx = Dedup.loadBandIndex(spark, p)
          b => Dedup.incrementalDedupAgainstLoaded(b, idx) })
      case "ann" => Served(writeAnnIndex(vecCorpus, _), nearAxis0,
        p => { val idx = loadAnnIndex(spark, p); b => annSearch(b, idx) })
      case "sq8" => Served(writeSq8Index(vecCorpus, _), nearAxis0,
        p => { val idx = loadSq8Index(spark, p); b => sq8Search(b, idx) })
      case "ivf" => Served(writeIvfIndex(vecCorpus, _), nearAxis0,
        p => { val idx = loadIvfIndex(spark, p); b => ivfSearch(b, idx) })
      case "pq" => Served(writePqIndex(vecCorpus, _), nearAxis0,
        p => { val idx = loadPqIndex(spark, p); b => pqSearch(b, idx) })
      case "ivfpq" => Served(writeIvfPqIndex(vecCorpus, _), nearAxis0,
        p => { val idx = loadIvfPqIndex(spark, p); b => ivfPqSearch(b, idx) })
      case "bloom" => Served(BloomGate.writeBloomIndex(docs(
          (900L, "the quick brown fox jumps over the lazy dog", "en", "src0", 43L)), _),
        () => docs(
          (1L, "he saw the quick brown fox jumps over a fence", "en", "web", 45L),
          (2L, "completely unrelated content with no shared spans", "en", "web", 49L)),
        p => { val idx = BloomGate.loadBloomIndex(spark, p)
          b => BloomGate.decontaminateAgainstLoaded(b, idx) })
      case "ccnet" => Served(CorpusOps.writeCcnetIndex(spark, sf, _),
        () => sfDocs.filter(col("source") =!= "src0"),
        p => { val idx = CorpusOps.loadCcnetIndex(spark, p)
          b => CorpusOps.ccnetAgainstLoaded(b, idx) })
      case "dsir" => Served(CorpusOps.writeDsirIndex(spark, sf, _),
        () => sfDocs.filter(col("source") =!= "src0"),
        p => { val idx = CorpusOps.loadDsirIndex(spark, p)
          b => CorpusOps.dsirAgainstLoaded(b, idx) })
      case "cluster-prune" => Served(writeClusterPruneIndex(spark, sf, _),
        () => sfDocs.select(col("doc_id"), col("text"))
          .join(Tables.load(spark, sf, "embeddings")
            .select(col("vec_id"), col("embedding")), col("doc_id") === col("vec_id"))
          .select(col("doc_id"), col("text"), col("embedding")),
        p => { val idx = loadClusterPruneIndex(spark, p)
          b => clusterPruneAgainstLoaded(b, idx) })
      case "hot-block" => Served(CorpusOps.writeHotBlockIndex(sfDocs, _), () => sfDocs,
        p => { val idx = CorpusOps.loadHotBlockIndex(spark, p)
          b => CorpusOps.hotScrubAgainstLoaded(b, idx) })
      case "outlier" => Served(
        TimeSeries.writeOutlierIndex(sfEvents.select(col("user_id"), col("value")), _),
        () => sfEvents.select(col("user_id"), col("value")),
        p => { val bounds = TimeSeries.loadOutlierBounds(spark, p)
          b => TimeSeries.outliersAgainstBounds(b, bounds) })
      case "phase" => Served(TimeSeries.writePhaseIndex(sfEvents, _), () => sfEvents,
        p => { val (period, template) = TimeSeries.loadPhaseIndex(spark, p)
          b => TimeSeries.phaseResidualsAgainstIndex(b, period, template) })
      case "bm25" => Served(Bm25.writeBm25Index(sfDocs, _),
        () => sfDocs.select(col("doc_id"), col("text")),
        p => { val idx = Bm25.loadBm25Terms(spark, p); b => Bm25.scoreNewDocs(b, idx) })
    }
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** `family`'s serving stream from `$tmp/in` against `$tmp/index`. */
  private def serveStream(family: String, tmp: String,
                          trigger: Trigger = Trigger.AvailableNow()) =
    Streams.serve(spark, s"$tmp/in", spark.read.parquet(s"$tmp/in").schema,
      s"$tmp/index", s"$tmp/out", s"$tmp/ckpt", trigger)(
      served(family).resolve(s"$tmp/index"))

  /** Runs `family`'s stream until its input drains; everything it served. */
  private def drain(family: String, tmp: String): DataFrame = {
    serveStream(family, tmp).awaitTermination()
    spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/out")
  }

  /** Builds `family`'s index, streams `input` (the family's own batch by
    * default) through its serving stream and asserts the output equals
    * the batch serve on the same rows — one kernel definition, zero
    * drift. Returns the tmp dir and the streamed rows for the family's
    * own checks.
    */
  private def checkServe(family: String,
                         input: Option[DataFrame] = None): (String, DataFrame) = {
    val f = served(family)
    val tmp = java.nio.file.Files.createTempDirectory(s"${family}stream").toString
    f.build(s"$tmp/index")
    val in = input.getOrElse(f.input())
    in.write.mode("append").parquet(s"$tmp/in")
    val out = drain(family, tmp)
    val want = graft.CacheScope.run(rows(f.resolve(s"$tmp/index")(in)))
    assert(rows(out) == want, s"$family: streamed and batch results diverged")
    (tmp, out)
  }

  /** The restart-on-rebuild check for `family`: a continuous serving
    * stream serves one batch, the index is rebuilt under it, and the
    * next batch must kill the query.
    */
  private def checkRebuild(family: String): Unit = {
    val f = served(family)
    val tmp = java.nio.file.Files.createTempDirectory(s"${family}rebuild").toString
    f.build(s"$tmp/index")
    val in = f.input()
    in.write.mode("append").parquet(s"$tmp/in")
    val q = serveStream(family, tmp, Trigger.ProcessingTime("50 milliseconds"))
    assertDiesOnRebuild(q, Streams.sink(s"$tmp/out", 0)) {
      f.build(s"$tmp/index")
      in.write.mode("append").parquet(s"$tmp/in")
    }
  }

  test("streaming incremental dedup matches the batch kernel against a stored band index") {
    val (tmp, out1) = checkServe("dedup")
    assert(out1.filter(col("doc_id") === 1L && col("is_dup") &&
      col("dup_of") === 100L).count() == 1, "copy of an indexed doc must flag dup")
    assert(out1.filter(col("doc_id") === 2L && !col("is_dup")).count() == 1)

    // batch 2 resumes from the checkpoint: only the new file processes
    docs((3L, "one two three four five six seven eight nine", "fr", "web", 44L))
      .write.mode("append").parquet(s"$tmp/in")
    val out2 = drain("dedup", tmp)
    assert(out2.count() == 3, "restart must process only the new arrivals")
    assert(out2.filter(col("doc_id") === 3L && col("is_dup") &&
      col("dup_of") === 101L).count() == 1)
  }

  /** Streams two probe batches through `family`'s serving stream: the first
    * must equal the batch search and land in its own cluster, the second
    * must resume from the checkpoint without re-serving the first.
    */
  private def checkVectorServe(family: String): Unit = {
    val (tmp, out1) = checkServe(family)
    val nearest = out1.filter(col("p_id") === 100L && col("rn") === 1)
      .select("c_id").as[Long].collect()
    assert(nearest.length == 1 && nearest.head % 2 == 0,
      s"$family: the probe's nearest neighbor must be in its own cluster: ${nearest.toSeq}")

    // a second batch resumes from the checkpoint
    vecProbe(101L, vf(0.0, 0.05, 0.95, 0.0, 0.0, 0.21, 0.0, 0.0))
      .write.mode("append").parquet(s"$tmp/in")
    val out2 = drain(family, tmp)
    assert(out2.filter(col("p_id") === 101L).count() > 0, s"$family: new probe served")
    assert(out2.filter(col("p_id") === 100L).count() == out1.count(),
      s"$family: restart must not re-serve processed probes")
  }

  test("streaming ANN probes match the batch search against a stored index") {
    checkVectorServe("ann")
  }

  test("streaming SQ8 probes match the batch search against a stored code table") {
    checkVectorServe("sq8")
  }

  test("streaming IVF probes match the batch search against a stored index") {
    checkVectorServe("ivf")
  }

  test("streaming PQ probes match the batch search against a stored code table") {
    checkVectorServe("pq")
  }

  test("streaming residual IVF-PQ probes match the batch search against a stored index") {
    checkVectorServe("ivfpq")
  }

  Seq(
    "dedup" -> "dedup serving fails the running query when the band index is rebuilt",
    "ann" -> "ANN serving fails the running query when the LSH index is rebuilt",
    "sq8" -> "SQ8 serving fails the running query when the index is rebuilt",
    "ivf" -> "IVF serving fails the running query when the index is rebuilt",
    "pq" -> "PQ serving fails the running query when the index is rebuilt",
    "ivfpq" -> "residual IVF-PQ serving fails the running query when the index is rebuilt",
    "bloom" -> "bloom gate fails the running query when the index is rebuilt",
    "ccnet" -> "ccnet gate fails the running query when the LM is rebuilt",
    "dsir" -> "DSIR gate fails the running query when the model is rebuilt",
    "cluster-prune" -> "cluster-prune gate fails the running query when the index is rebuilt",
    "hot-block" -> "hot-block gate fails the running query when the list is rebuilt",
    "outlier" -> "outlier gate fails the running query when the boundaries are rebuilt",
    "phase" -> "phase gate fails the running query when the template is rebuilt",
    "bm25" -> "BM25 gate fails the running query when the index is rebuilt"
  ).foreach { case (family, name) => test(name)(checkRebuild(family)) }

  test("an appended IVF-PQ delta restarts serving, then serves base ∪ delta") {
    val tmp = java.nio.file.Files.createTempDirectory("ivfpqdelta").toString
    val corpus = vecCorpus
    graft.operators.Similarity.writeIvfPqIndex(corpus, s"$tmp/index")
    // a delta in a THIRD direction: its ids can only come from the segment
    val delta = (50L until 56L).map { i =>
      (i, vf(0.0, 0.1, 0.0, 1.0, 0.0, 0.0, 0.25 + i * 0.001, 0.0))
    }.toDF("vec_id", "embedding")
    val probes = Seq((100L, vf(0.95, 0.11, 0.0, 0.0, 0.19, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    probes.write.mode("append").parquet(s"$tmp/in")
    val q = serveStream("ivfpq", tmp, Trigger.ProcessingTime("50 milliseconds"))
    // an append flips the meta fingerprint exactly like a rebuild: the
    // running query must restart rather than serve a base/delta frame mix
    spark.conf.set(graft.operators.Similarity.RETRAIN_FRACTION_CONF, "0")
    spark.conf.set(graft.operators.Similarity.RETRAIN_DRIFT_CONF, "0")
    try {
      assertDiesOnRebuild(q, Streams.sink(s"$tmp/out", 0)) {
        graft.operators.Similarity.appendIvfPqDelta(delta, s"$tmp/index")
        probes.write.mode("append").parquet(s"$tmp/in")
      }
      // a restarted query resolves base ∪ delta: a probe in the delta's
      // direction returns delta ids
      val deltaProbe = Seq((101L, vf(0.0, 0.1, 0.0, 0.98, 0.0, 0.0, 0.26, 0.0)))
        .toDF("vec_id", "embedding")
      deltaProbe.write.mode("append").parquet(s"$tmp/in")
      val out = drain("ivfpq", tmp)
      val served = out.filter(col("p_id") === 101L && col("c_id") >= 50L).count()
      assert(served > 0, "the delta segment must be served after restart")
      val batch = graft.operators.Similarity.ivfPqSearchAgainstIndex(
        deltaProbe, s"$tmp/index")
      assert(out.filter(col("p_id") === 101L).collect().map(_.toSeq).toSet ==
        batch.collect().map(_.toSeq).toSet,
        "streamed and batch results over base ∪ delta diverged")
    } finally {
      spark.conf.unset(graft.operators.Similarity.RETRAIN_FRACTION_CONF)
      spark.conf.unset(graft.operators.Similarity.RETRAIN_DRIFT_CONF)
    }
  }

  test("near-dup suppression keys sub-3-token docs by exact content") {
    // no 3-gram exists for these, so without the exact-hash fallback they
    // would all share the empty signature and collapse onto the first
    val tmp = java.nio.file.Files.createTempDirectory("shortdocs").toString
    Seq(
      (1L, "ok", "en", "web", 2L),
      (2L, "hello world", "en", "web", 11L),
      (3L, "bye", "en", "web", 3L),
      (4L, "hello world", "en", "news", 11L)) // true short dup of 2
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$tmp/in")
    val schema = spark.read.parquet(s"$tmp/in").schema
    val q = StreamingDedup.runNearDup(spark, s"$tmp/in", schema,
      s"$tmp/clean", s"$tmp/ckpt")
    q.awaitTermination()
    val kept = spark.read.parquet(s"$tmp/clean")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.size == 3, s"distinct short docs must all survive, kept $kept")
    assert(Set(1L, 3L).subsetOf(kept), "unrelated short docs are not dups")
    assert(kept.intersect(Set(2L, 4L)).size == 1, "identical short docs still dedup")
  }

  test("mapGroupsWithState star builder accumulates per-user curves with bounded state") {
    val tmp = java.nio.file.Files.createTempDirectory("starstate").toString
    def batch(idOffset: Int, nPerUser: Int) =
      (for (u <- 1L to 3L; i <- 0 until nPerUser) yield
        (u, (idOffset + i) * 86400e9.toLong, 14.0 + (i % 5) * 0.1))
        .toDF("user_id", "ts", "value")

    batch(0, 40).write.mode("append").parquet(s"$tmp/in")
    val schema = spark.read.parquet(s"$tmp/in").schema
    def stream = spark.readStream.schema(schema).parquet(s"$tmp/in")
    val q1 = StreamingStarBuilder.run(stream, s"$tmp/out", s"$tmp/ckpt", maxPoints = 50)
    q1.awaitTermination()
    val after1 = spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/out")
      .groupBy("user_id").agg(max("n_points").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after1 == Map(1L -> 40L, 2L -> 40L, 3L -> 40L))

    // second batch: totals accumulate across the restart via state,
    // and the buffer decimates past maxPoints instead of growing
    batch(40, 40).write.mode("append").parquet(s"$tmp/in")
    val q2 = StreamingStarBuilder.run(stream, s"$tmp/out", s"$tmp/ckpt", maxPoints = 50)
    q2.awaitTermination()
    val after2 = spark.read.option("recursiveFileLookup", "true").parquet(s"$tmp/out")
      .orderBy(col("n_points").desc).collect()
      .groupBy(_.getAs[Long]("user_id")).map { case (u, rs) => u -> rs.head }
    assert(after2(1L).getAs[Long]("n_points") == 80L, "state carries totals across restart")
    assert(after2(1L).getAs[Double]("t_max") > after2(1L).getAs[Double]("t_min"))
    assert(!after2(1L).getAs[Double]("abbe").isNaN)
  }

  test("watermarked windowed aggregation over the events stream") {
    // drive the streaming aggregation with the batch events table via a
    // file stream (schema from the batch read)
    val batch = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val tmp = java.nio.file.Files.createTempDirectory("evstream").toString
    batch.write.parquet(s"$tmp/in")
    val stream = spark.readStream.schema(batch.schema).parquet(s"$tmp/in")
    val agg = StreamingSessionize.windowedEventAgg(stream)
    val q = agg.writeStream
      .outputMode("append")
      .format("memory").queryName("winagg")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode emits only watermark-closed windows; all historical
    // windows close once the (max ts - 10min) watermark passes them
    val n = spark.sql("select * from winagg").count()
    assert(n > 0, "windowed aggregation emitted rows")
    val schema = spark.table("winagg").schema.fieldNames.toSet
    assert(schema == Set("window", "user_id", "n", "mean_v"))
  }

  test("streaming quality gate routes flagged docs to the reject sink") {
    val tmp = java.nio.file.Files.createTempDirectory("qualstream").toString
    val docs1 = Seq(
      (1L, "spam spam spam spam spam", "en", "web", 24L),    // top_tok 1.0
      (2L, "a clean document with varied words", "en", "web", 34L),
      (3L, "go go go go stop", "en", "web", 16L))             // top_tok 0.8
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs1.write.mode("append").parquet(s"$tmp/in")
    val q1 = StreamingQuality.run(spark, s"$tmp/in", docs1.schema,
      s"$tmp/clean", s"$tmp/reject", s"$tmp/ckpt")
    q1.awaitTermination()
    val clean = spark.read.parquet(s"$tmp/clean")
    val reject = spark.read.parquet(s"$tmp/reject")
    assert(clean.select("doc_id").as[Long].collect().toSet == Set(2L))
    assert(reject.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    // the gate must agree with the batch scorer on the same rows
    val batchFlags = graft.operators.CorpusOps.repetitionScored(docs1)
      .select("doc_id", "flagged").as[(Long, Boolean)].collect().toMap
    assert(batchFlags == Map(1L -> true, 2L -> false, 3L -> true))
    // original columns survive into the sinks (gate appends, never projects)
    assert(clean.columns.contains("text") && clean.columns.contains("source"))

    // checkpoint resume: a second batch only processes the new file
    Seq((4L, "another ordinary sentence of words", "fr", "web", 34L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$tmp/in")
    val q2 = StreamingQuality.run(spark, s"$tmp/in", docs1.schema,
      s"$tmp/clean", s"$tmp/reject", s"$tmp/ckpt")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$tmp/clean")
      .select("doc_id").as[Long].collect().toSet == Set(2L, 4L))
    assert(spark.read.parquet(s"$tmp/reject").count() == 2, "no reprocessing")
  }

  test("streaming scrub redacts PII with the batch kernel and audits counts") {
    val tmp = java.nio.file.Files.createTempDirectory("scrubstream").toString
    val docs1 = Seq(
      (1L, "contact me at alice@example.com or 12-345-678-9012 thanks", "en", "web", 57L),
      (2L, "a document with no contact details at all", "en", "web", 41L),
      (3L, "two mails: bob@a.org carol@b.net", "en", "web", 32L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs1.write.mode("append").parquet(s"$tmp/in")
    val q1 = StreamingScrub.run(spark, s"$tmp/in", docs1.schema,
      s"$tmp/scrubbed", s"$tmp/audit", s"$tmp/ckpt")
    q1.awaitTermination()

    val scrubbed = spark.read.parquet(s"$tmp/scrubbed")
    assert(scrubbed.count() == 3, "every row lands scrubbed")
    // no PII survives in the main sink
    assert(scrubbed.filter(col("text").rlike("@[A-Za-z]")).count() == 0)
    assert(scrubbed.filter(col("doc_id") === 1L).select("text").as[String].head() ==
      "contact me at <EMAIL> or <PHONE> thanks")
    // the stream must agree row-for-row with the batch kernel
    val batchRows = graft.operators.TextAnalysis.piiScrubbed(docs1)
      .select("doc_id", "text", "n_emails", "n_phones")
      .as[(Long, String, Int, Int)].collect().toSet
    val streamRows = scrubbed.select("doc_id", "text", "n_emails", "n_phones")
      .as[(Long, String, Int, Int)].collect().toSet
    assert(streamRows == batchRows, "stream/batch kernel parity")
    // audit sink: only rows that had PII, counters kept, text dropped
    val audit = spark.read.parquet(s"$tmp/audit")
    assert(audit.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(!audit.columns.contains("text"), "audit sink retains no text")
    assert(audit.filter(col("doc_id") === 3L).select("n_emails").as[Int].head() == 2)

    // checkpoint resume: a second file only processes the new rows
    Seq((4L, "late arrival 98-765-432-1098", "en", "web", 28L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("append").parquet(s"$tmp/in")
    val q2 = StreamingScrub.run(spark, s"$tmp/in", docs1.schema,
      s"$tmp/scrubbed", s"$tmp/audit", s"$tmp/ckpt")
    q2.awaitTermination()
    assert(spark.read.parquet(s"$tmp/scrubbed").count() == 4, "no reprocessing")
    assert(spark.read.parquet(s"$tmp/audit")
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
  }

  test("streaming decile gate buckets against stored boundaries, batch-parity") {
    val tmp = java.nio.file.Files.createTempDirectory("decilestream").toString
    val dir = "/root/testdata/sf0.01"
    // nightly half: materialize the corpus boundaries
    StreamingDecileGate.writeBoundaries(spark, dir, s"$tmp/bounds")

    // stream the SAME corpus through the gate
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.write.mode("append").parquet(s"$tmp/in")
    StreamingDecileGate.run(spark, s"$tmp/in", docs.schema,
      s"$tmp/bounds", s"$tmp/keep", s"$tmp/rest", s"$tmp/ckpt").awaitTermination()

    val keep = spark.read.parquet(s"$tmp/keep")
    val rest = spark.read.parquet(s"$tmp/rest")
    assert(keep.count() + rest.count() == docs.count(), "every doc routed exactly once")
    // the stream's verdicts must equal the batch query's on the same corpus
    val batch = graft.operators.TextAnalysis
      .queries("q88_quality_deciles")(spark, dir)
      .select("doc_id", "decile").as[(Long, Int)].collect().toMap
    val streamed = keep.select("doc_id", "decile").as[(Long, Int)].collect() ++
      rest.select("doc_id", "decile").as[(Long, Int)].collect()
    streamed.foreach { case (id, d) =>
      assert(batch(id) == d, s"decile drift for doc $id: stream=$d batch=${batch(id)}")
    }
    assert(keep.select(min(col("decile"))).head().getInt(0) >= 9)
  }

  /** END-TO-END enforcement of the restart-on-rebuild contract — not the
    * IndexMeta mechanics (IndexContractSpec covers those) but each gate's
    * own wiring: the per-batch check watches the right path and its
    * failure propagates out of foreachBatch to kill the StreamingQuery.
    * Waits for `firstBatchDir`'s `_SUCCESS` marker (proving the gate
    * served under the loaded fingerprint, and that the batch no longer
    * reads the index the rebuild is about to replace), runs `rebuildAndPush` (re-materialize the index, then
    * push input to force a batch), and asserts the query dies with the
    * rebuilt-index error — not a timeout, not some other failure.
    */
  private def assertDiesOnRebuild(q: org.apache.spark.sql.streaming.StreamingQuery,
                                  firstBatchDir: String)(rebuildAndPush: => Unit): Unit = {
    val first = new java.io.File(firstBatchDir, "_SUCCESS")
    val deadline = System.currentTimeMillis + 60000
    while (!first.exists() && q.exception.isEmpty &&
      System.currentTimeMillis < deadline) Thread.sleep(50)
    assert(first.exists(), s"first batch never drained: ${q.exception}")
    rebuildAndPush
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(60000)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(ex).exists(_.contains("rebuilt under a running streaming query")),
      s"query died for the wrong reason: ${chain(ex)}")
  }

  test("decile gate fails the running query when boundaries are rebuilt") {
    val tmp = java.nio.file.Files.createTempDirectory("decilerebuild").toString
    val dir = "/root/testdata/sf0.001"
    StreamingDecileGate.writeBoundaries(spark, dir, s"$tmp/bounds")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.write.mode("append").parquet(s"$tmp/in")
    // a CONTINUOUS gate (the deployment shape), so it is still alive when
    // the nightly rebuild lands underneath it
    val q = StreamingDecileGate.run(spark, s"$tmp/in", docs.schema,
      s"$tmp/bounds", s"$tmp/keep", s"$tmp/rest", s"$tmp/ckpt",
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    assertDiesOnRebuild(q, Streams.sink(s"$tmp/keep", 0)) {
      StreamingDecileGate.writeBoundaries(spark, dir, s"$tmp/bounds")
      docs.limit(5).write.mode("append").parquet(s"$tmp/in")
    }
  }

  test("ingest pipeline composes: quality gate -> PII scrub -> exact dedup") {
    // The composition the stage scaladocs claim: each gate's sink is the
    // next gate's file-source. Every stage is AvailableNow-triggered, so
    // the chain runs as three drained streams — the same wiring a
    // continuous deployment uses, minus the wall-clock.
    val tmp = java.nio.file.Files.createTempDirectory("ingestchain").toString
    val docs = Seq(
      (1L, "a varied sentence mailing alice@example.com today", "en", "web", 49L),
      (2L, "a varied sentence mailing alice@example.com today", "en", "web", 49L), // dup of 1
      (3L, "junk junk junk junk junk junk", "en", "web", 29L),                     // rejected
      (4L, "different words without any contact info", "en", "web", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("append").parquet(s"$tmp/in")

    StreamingQuality.run(spark, s"$tmp/in", docs.schema,
      s"$tmp/clean", s"$tmp/reject", s"$tmp/ckptQ").awaitTermination()
    // the quality sink nests batch_id=N partition dirs; downstream stages
    // must declare that column or the file source drops it silently
    val gatedSchema = spark.read.parquet(s"$tmp/clean").schema
    StreamingScrub.run(spark, s"$tmp/clean", gatedSchema,
      s"$tmp/scrubbed", s"$tmp/audit", s"$tmp/ckptS").awaitTermination()
    val scrubbedSchema = spark.read.parquet(s"$tmp/scrubbed").schema
    StreamingDedup.run(spark, s"$tmp/scrubbed", scrubbedSchema,
      s"$tmp/final", s"$tmp/ckptD").awaitTermination()

    val fin = spark.read.parquet(s"$tmp/final")
    // doc 3 rejected by the gate; 1/2 are identical so they scrub
    // identically, the content hash still collides, and exactly ONE
    // survives (which one is batch-internal order, deliberately
    // unasserted — the dedup spec's convention); survivors carry
    // redacted text
    val ids = fin.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(4L) && !ids.contains(3L), s"gate/chain routing: $ids")
    assert((ids - 4L).subsetOf(Set(1L, 2L)) && (ids - 4L).size == 1,
      s"exactly one of the twin docs survives: $ids")
    assert(fin.filter(col("doc_id").isin(1L, 2L)).select("text").as[String].head()
      .contains("<EMAIL>"))
    assert(fin.filter(col("text").rlike("@[A-Za-z]")).count() == 0, "no PII survives the chain")
  }

  test("streaming block scrub matches q103 on one batch, drops cross-batch spans via the ledger") {
    def words(from: Int, n: Int) = (from until from + n).map(i => s"w$i").mkString(" ")
    def mkDoc(id: Long, text: String) = (id, text, "en", "web", text.length.toLong)
    val tmp = java.nio.file.Files.createTempDirectory("blockscrub").toString

    // batch 1: doc 2 is an exact copy of doc 1 (two full 64-token blocks
    // + a 2-token tail); doc 3 is unique
    val d1 = words(0, 130)
    val docs1 = Seq(mkDoc(1L, d1), mkDoc(2L, d1), mkDoc(3L, words(1000, 70)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs1.coalesce(1).write.mode("append").parquet(s"$tmp/in")
    StreamingBlockScrub.run(spark, s"$tmp/in", docs1.schema,
      s"$tmp/out", s"$tmp/ledger", s"$tmp/ckpt").awaitTermination()

    // single-batch parity: the stream's verdicts ARE q103's (shared
    // kernels + empty ledger + the same within-batch first-occurrence rule)
    val batchDir = java.nio.file.Files.createTempDirectory("blockscrubref").toString
    docs1.write.mode("overwrite").parquet(s"$batchDir/documents.parquet")
    val expect = graft.operators.CorpusOps.q103DedupScrub(spark, batchDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val got1 = spark.read.parquet(Streams.sink(s"$tmp/out", 0))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got1 == expect, s"single-batch stream diverged from q103: $got1 vs $expect")
    val emptyMd5 = "d41d8cd98f00b204e9800998ecf8427e"
    val v1 = got1.map(t => t._1 -> t).toMap
    assert(v1(1L)._3 == 0L, "doc 1 keeps every block")
    assert(v1(2L)._3 == 3L && v1(2L)._4 == emptyMd5, "twin doc fully scrubbed")

    // batch 2: doc 4 repeats doc 1's FIRST block with a unique tail;
    // doc 5 is unique — the ledger must reach across batches
    Seq(mkDoc(4L, words(0, 64) + " " + words(2000, 40)), mkDoc(5L, words(3000, 50)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    StreamingBlockScrub.run(spark, s"$tmp/in", docs1.schema,
      s"$tmp/out", s"$tmp/ledger", s"$tmp/ckpt").awaitTermination()
    val v2 = spark.read.parquet(Streams.sink(s"$tmp/out", 1))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(v2.keySet == Set(4L, 5L), s"batch 1 verdicts: ${v2.keySet}")
    val (n4, rm4, md4) = v2(4L)
    assert(n4 == 2L && rm4 == 1L, s"doc 4 loses exactly its repeated block: $v2")
    val tail4 = words(2000, 40)
    val tailMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(tail4.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(md4 == tailMd5, "doc 4 reassembles to its unique tail")
    assert(v2(5L)._2 == 0L, "unique doc untouched")

    // a replayed batch must not scrub itself against its own ledger dir
    StreamingBlockScrub.scrubBatch(spark,
      spark.read.parquet(s"$tmp/in").filter(col("doc_id") >= 4L), 1L,
      s"$tmp/out", s"$tmp/ledger")
    val replay = spark.read.parquet(Streams.sink(s"$tmp/out", 1))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(replay == Map(4L -> 1L, 5L -> 0L), s"replay not idempotent: $replay")

    // batch 3 reaches across BOTH ledger segments (doc 6 repeats a
    // batch-0 block, doc 7 a batch-1 block) — exercises the OR-merged
    // multi-segment bloom gate in front of the exact verify
    Seq(mkDoc(6L, words(64, 64)), mkDoc(7L, words(3000, 50)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("append").parquet(s"$tmp/in")
    StreamingBlockScrub.run(spark, s"$tmp/in", docs1.schema,
      s"$tmp/out", s"$tmp/ledger", s"$tmp/ckpt").awaitTermination()
    val v3 = spark.read.parquet(Streams.sink(s"$tmp/out", 2))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(v3 == Map(6L -> ((1L, 1L)), 7L -> ((1L, 1L))),
      s"multi-segment ledger reach: $v3")
  }

  test("streaming CUSUM gate alarms match the batch closed form across batches") {
    val tmp = java.nio.file.Files.createTempDirectory("cusumstream").toString
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    graft.operators.TimeSeries.writeOutlierIndex(
      ev.select(col("user_id"), col("value")), s"$tmp/index")
    // split at the global time median: per-user arrival order across the
    // two micro-batches stays event-time ordered (the gate's contract)
    val cut = ev.agg(expr("percentile(ts, 0.5)")).head().getDouble(0).toLong
    ev.filter(col("ts") <= cut).write.mode("append").parquet(s"$tmp/in")
    val schema = spark.read.parquet(s"$tmp/in").schema
    StreamingCusum.runAgainstIndex(spark, s"$tmp/in", schema,
      s"$tmp/index", s"$tmp/out", s"$tmp/ckpt").awaitTermination()
    // second run restores (runningSum, minPrefix) from the checkpoint —
    // alarms in the tail half depend on state built in the first
    ev.filter(col("ts") > cut).write.mode("append").parquet(s"$tmp/in")
    val q2 = StreamingCusum.runAgainstIndex(spark, s"$tmp/in", schema,
      s"$tmp/index", s"$tmp/out", s"$tmp/ckpt")
    q2.awaitTermination()
    val got = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$tmp/out").collect().map(_.toSeq).toSet
    val want = graft.CacheScope.run {
      graft.operators.TimeSeries.cusumFrame(ev,
        graft.operators.TimeSeries.loadOutlierBounds(spark, s"$tmp/index"))
        .filter(col("alarm"))
        .select(col("user_id"), col("event_id"), col("ts"), col("c"))
        .collect().map(_.toSeq).toSet
    }
    assert(got.nonEmpty, "fixture must produce alarms for the parity to bite")
    assert(got == want, "stream and batch CUSUM alarms diverged")
    // state-size law: two longs per user WITH INCREMENTS (users outside
    // the boundary table never enter the fold), independent of replay
    // length — the O(1)-per-user claim, asserted
    val stateRows = q2.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsTotal).lastOption.getOrElse(-1L)
    val usersWithIncrements = graft.CacheScope.run {
      graft.operators.TimeSeries.cusumIncrements(ev,
        graft.operators.TimeSeries.loadOutlierBounds(spark, s"$tmp/index"))
        .select(col("user_id")).distinct().count()
    }
    assert(stateRows == usersWithIncrements,
      s"cusum state must be one row per incremented user: $stateRows vs $usersWithIncrements")
  }

  test("streaming bloom gate matches the batch kernel against a stored index") {
    val (tmp, out1) = checkServe("bloom")
    assert(out1.filter(col("doc_id") === 1L && col("contaminated")).count() == 1,
      "doc sharing a blocklist 5-gram must flag")
    assert(out1.filter(col("doc_id") === 2L && !col("contaminated")).count() == 1)

    // batch 2 resumes from the checkpoint: only the new file processes
    docs((3L, "fox jumps over the lazy dog and keeps running on", "en", "web", 48L))
      .write.mode("append").parquet(s"$tmp/in")
    val out2 = drain("bloom", tmp)
    assert(out2.count() == 3, "restart must process only the new arrivals")
    assert(out2.filter(col("doc_id") === 3L && col("contaminated")).count() == 1)
  }

  test("streaming cluster-prune gate verdicts docs against the stored index, batch-parity") {
    val (_, out) = checkServe("cluster-prune")
    def verdicts(df: DataFrame) = df.select("doc_id", "cluster", "pruned")
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // the stream's verdicts must also equal the INLINE q114 on the same
    // corpus — certifies the whole stored-state round trip, not just the kernel
    val batch = graft.CacheScope.run {
      verdicts(graft.operators.Similarity.queries("q114_cluster_prune")(spark, sf))
    }
    assert(verdicts(out) == batch, "streamed prune verdicts drifted from inline q114")
  }

  test("streaming ccnet gate buckets against the stored LM, batch-parity") {
    val (_, out) = checkServe("ccnet")
    def buckets(df: DataFrame) = df.select("doc_id", "avg_nll", "bucket")
      .as[(Long, Double, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    // ... and the driver's q109 serve of the same corpus
    val batch = graft.CacheScope.run {
      buckets(graft.operators.CorpusOps.queries("q109_ccnet_index")(spark, sf))
    }
    assert(buckets(out) == batch, "streamed ccnet verdicts drifted from the batch serving")
  }

  test("streaming DSIR gate selects arriving docs against the stored model, batch-parity") {
    val (_, out) = checkServe("dsir")
    assert(out.filter(col("selected")).count() > 0, "the fixture must select docs")
    // ... and the driver's q113 serve of the same corpus
    val batch = graft.CacheScope.run {
      rows(graft.operators.CorpusOps.queries("q113_dsir_index")(spark, sf))
    }
    assert(rows(out) == batch, "streamed DSIR verdicts drifted from the batch serving")
  }

  test("streaming hot-block gate scrubs against the stored list, batch-parity") {
    val (_, out) = checkServe("hot-block")
    // ... and inline q127 on the same corpus — the stored list was built
    // from it, so drop-all membership is identical
    val want = graft.CacheScope.run {
      rows(graft.operators.CorpusOps.q127HotBlockScrub(spark, sf))
    }
    assert(rows(out) == want, "stream and batch hot-block verdicts diverged")
  }

  test("streaming outlier gate censuses against stored boundaries, batch-parity") {
    val (_, out) = checkServe("outlier")
    val want = graft.CacheScope.run {
      rows(graft.operators.TimeSeries.q136RobustOutliers(spark, sf))
    }
    assert(rows(out) == want, "stream and batch censuses diverged")
  }

  test("streaming phase gate censuses residuals against the stored template") {
    val (_, out) = checkServe("phase")
    val want = graft.CacheScope.run {
      rows(graft.operators.TimeSeries.q141PhaseResiduals(spark, sf))
    }
    assert(rows(out) == want, "stream and batch phase censuses diverged")
  }

  test("streaming BM25 gate scores arriving docs against the frozen index, batch-parity") {
    val (tmp, out) = checkServe("bm25")
    // the stream tokenizes arriving docs; this expectation scores the SAME
    // corpus from the STORED postings — equality certifies both the
    // kernel share and the postings round-trip
    val (post, dfT, n, sumDl) =
      graft.operators.Bm25.loadBm25Index(spark, s"$tmp/index")
    val terms = graft.operators.Bm25.queryTerms(dfT)
    val want = graft.CacheScope.run {
      rows(graft.operators.Bm25.scoreMatched(
          post.join(broadcast(terms), Seq("token")), n, sumDl)
        .select(col("doc_id"), round(col("su") / lit(1e6), 6).as("score"),
          col("n_terms")))
    }
    assert(rows(out) == want, "stream and batch BM25 scores diverged")
  }

  test("CUSUM gate fails the running query when the boundaries are rebuilt") {
    val tmp = java.nio.file.Files.createTempDirectory("cusumrebuild").toString
    val bounds = sfEvents.select(col("user_id"), col("value"))
    graft.operators.TimeSeries.writeOutlierIndex(bounds, s"$tmp/index")
    sfEvents.write.mode("append").parquet(s"$tmp/in")
    val q = StreamingCusum.runAgainstIndex(spark, s"$tmp/in",
      spark.read.parquet(s"$tmp/in").schema, s"$tmp/index", s"$tmp/out", s"$tmp/ckpt",
      trigger = Trigger.ProcessingTime("50 milliseconds"))
    assertDiesOnRebuild(q, Streams.sink(s"$tmp/out", 0)) {
      graft.operators.TimeSeries.writeOutlierIndex(bounds, s"$tmp/index")
      sfEvents.limit(5).write.mode("append").parquet(s"$tmp/in")
    }
  }
}

object StreamingSpec {
  /** One stateless index family on [[Streams.serve]]: `build`
    * materializes its index at a path, `input` is an arriving batch, and
    * `resolve` is the load + batch-kernel binding a serving stream hands
    * the scaffold — applied to a frame directly, it is the batch serve
    * the stream must match.
    */
  private final case class Served(build: String => Unit, input: () => DataFrame,
                                  resolve: String => DataFrame => DataFrame)
}
