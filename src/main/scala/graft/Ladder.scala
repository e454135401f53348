package graft

import java.util.concurrent.atomic.AtomicLong

import graft.operators.{Bm25, CorpusOps, Dedup, Similarity}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Capacity ladders (dev tool, run on demand; results recorded in
  * SCALE.md): each family prices a set of production paths at corpus
  * sizes far past the gated fixtures, on a [[Synth]] corpus.
  *
  * A family is a generator, an ordered list of rungs and a telemetry
  * filter; the harness owns everything else. Per run: one session
  * ([[Bench.session]]), one untimed warm-up pass over every selected rung
  * at fixture scale, then per size: generate, and per rung either a
  * `SKIPPED` row (size above the rung's cap) or one timed window —
  * construction (eager index builds, training collects and checkpoints
  * run here) plus the noop-sink materialization, the Bench protocol.
  * The row count runs afterwards, untimed, inside the same CacheScope so
  * caches are reused; frames with the (p_id, c_id, rn) recall contract
  * are collected instead and scored recall@3 against the family's exact
  * baseline. Input bytes are the engine's own task `inputMetrics`
  * summed over the timed window.
  *
  * Output: one CSV line per row —
  * `size,rung,secs,out_rows,recall_at3,input_bytes,telemetry`.
  *
  * Usage: runMain graft.Ladder <family> [sizes ...]
  * (`ckpt` takes sf dirs instead of sizes). Env: SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_SHUFFLE_PARTITIONS (reduce-side width, default CPUS),
  * SPARK_GRAFT_ONLY (comma-separated rung-name prefixes; the exact
  * baseline is always kept and a selected `*_serve` rung pulls in the
  * `*_build` rung that writes its index).
  */
object Ladder {

  /** `run` builds the rung's frame; `check` sees its untimed row count. */
  final case class Rung(name: String, run: () => DataFrame,
                        cap: Long = Long.MaxValue, check: Long => Unit = _ => ())

  /** `gen` = (table, generator) written under each size's dir — without
    * one the rungs read the size argument itself (ckpt's sf dirs) or
    * build their input in memory (cc). `warm` = fixture-scale size,
    * None = the first timed size. `conf` holds for the whole run.
    */
  final case class Family(
      sizes: Seq[String], warm: Option[String],
      gen: Option[(String, (SparkSession, Long) => DataFrame)],
      rungs: (SparkSession, String, String) => Seq[Rung],
      tele: String => Boolean = _ => false,
      baseline: Option[String] = None,
      conf: Seq[(String, String)] = Nil)

  /** One output line; `secs = None` marks a rung skipped by its cap. */
  final case class Result(size: String, rung: String, secs: Option[Double],
                          rows: Option[Long] = None, recall: Option[Double] = None,
                          bytes: Option[Long] = None, tele: String = "") {
    def csv: String = secs.fold(s"$size,$rung,SKIPPED(capacity cap - see scaladoc),,,,") { s =>
      def opt[A](o: Option[A]) = o.fold("")(_.toString)
      f"$size,$rung,$s%.2f,${opt(rows)},${recall.fold("")(r => f"$r%.3f")},${opt(bytes)},$tele"
    }
  }

  private def query(spark: SparkSession, dir: String, q: String, name: String = "",
                    cap: Long = Long.MaxValue) =
    Rung(if (name.isEmpty) q else name, () => SparkEntry.queries(q)(spark, dir), cap)

  private def sqrtCeil(n: Long) = math.ceil(math.sqrt(n.toDouble)).toInt

  /** The ANN serving ladder — exact, LSH, IVF, SQ8, PQ, PQ+refine,
    * IVF-PQ — with recall@3 vs exact at every rung. Gated-query rungs
    * time TRAIN+SERVE in one number (the inline shape); `*_build` /
    * `*_serve` pairs split the two through the materialized-index paths
    * (index-once / serve-many: a scaled quantizer's N·k·d training is
    * amortized build, not serve tax). What it must show: at fixed
    * [[Similarity.IVF_K]] serving scans nprobe/k = 25% of the corpus
    * per probe (linear in N), while √N lists at nprobe 8 scan ~8√N
    * (sublinear); SQ8/PQ stay linear with byte-width constants.
    */
  private def annRungs(spark: SparkSession, dir: String, size: String): Seq[Rung] = {
    def emb = Tables.load(spark, dir, "embeddings")
    def probes = emb.filter(col("vec_id") < 20)
    val sqrtK = sqrtCeil(size.toLong) // the generator writes exactly n vectors
    def q(name: String, query0: String) = query(spark, dir, query0, name)
    def build(name: String)(work: => Unit) = Rung(name, () => { work; spark.emptyDataFrame })
    def exactTwoLevel[A](work: => A): A = {
      spark.conf.set(Similarity.TWOLEVEL_MIN_K_CONF, Int.MaxValue.toString)
      try work finally spark.conf.unset(Similarity.TWOLEVEL_MIN_K_CONF)
    }
    def lsh(name: String, idx: String) =
      Rung(name, () => Similarity.annAgainstIndex(probes, s"$dir/$idx"))
    def ivf(name: String, idx: String, nprobe: Int = Similarity.NPROBE) =
      Rung(name, () => Similarity.ivfSearchAgainstIndex(probes, s"$dir/$idx", nprobe))
    def pq(dials: String, m: Int, k: Int) = Seq(
      Rung(s"pq_adc_$dials", () => Similarity.pqAdcTopK(emb, m, k)),
      Rung(s"pq_refine50_$dials", () => Similarity.pqRefineTopK(emb, m, k)))
    Seq(
      q("q48_exact_knn", "q48_cosine_knn"),
      q("q49_lsh_16x12", "q49_ann_lsh"),
      build("lsh_build_16x12")(Similarity.writeAnnIndex(emb, s"$dir/lsh12")),
      lsh("lsh_serve_16x12", "lsh12"),
      // the LSH scale dial: 2^16 buckets per band trade per-band match
      // probability for occupancy — the clustered-corpus stress case
      build("lsh_build_16x16")(Similarity.writeAnnIndex(emb, s"$dir/lsh16", bits = 16)),
      lsh("lsh_serve_16x16", "lsh16"),
      q("q57_ivf_k16_np4", "q57_ann_ivf"),
      build("ivf_build_k16")(Similarity.writeIvfIndex(emb, s"$dir/ivf16")),
      ivf("ivf_serve_k16_np4", "ivf16"),
      // √N lists: the default two-level assignment vs the exact
      // single-level one forced via conf, and the same A/B for the serve
      // side's probe ranking on one index
      build("ivf_build_sqrtN")(Similarity.writeIvfIndex(emb, s"$dir/ivfsq", k = sqrtK)),
      ivf("ivf_serve_sqrtN_np8", "ivfsq", 8),
      Rung("ivf_serve_sqrtN_np8_exactprobe", () => exactTwoLevel(
        Similarity.ivfSearchAgainstIndex(probes, s"$dir/ivfsq", nprobe = 8))),
      build("ivf_build_sqrtN_exact")(
        exactTwoLevel(Similarity.writeIvfIndex(emb, s"$dir/ivfsqx", k = sqrtK))),
      ivf("ivf_serve_sqrtN_exact_np8", "ivfsqx", 8),
      q("q90_sq8_scan", "q90_ann_sq8"),
      q("q92_pq_adc", "q92_ann_pq"),
      q("q94_pq_refine50", "q94_pq_refine")) ++
      // the PQ code-resolution dials: the shipped m=8 × 4-bit codes
      // collapse to 0.00 recall at occupancy; more subspaces vs deeper
      // codebooks, on the production ADC / refine paths
      pq("m16", 16, Similarity.PQ_K) ++ pq("m32", 32, Similarity.PQ_K) ++
      pq("m8_k256", 8, 256) ++ Seq(
      q("q95_ivfpq", "q95_ivfpq"),
      // the at-occupancy composition: √N-list prune + 128-bit ADC + refine
      Rung("ivfpq_scaled_sqrtN_m32",
        () => Similarity.ivfPqTopK(emb, sqrtK, 8, 32, Similarity.PQ_K)),
      // residual forms (q181's kernel): codes spend their resolution on
      // within-list variation — the collapse the raw-domain rungs show
      Rung("ivfpq_resid_fixture_dials", () => Similarity.ivfPqResidualTopK(emb,
        Similarity.IVF_K, Similarity.NPROBE, Similarity.PQ_M, Similarity.PQ_K)),
      Rung("ivfpq_resid_sqrtN_m32",
        () => Similarity.ivfPqResidualTopK(emb, sqrtK, 8, 32, Similarity.PQ_K)))
  }

  /** Incremental residual IVF-PQ maintenance: a daily batch (delta = 1%
    * of the base) as an append against the frozen quantizer and codebook,
    * vs re-training the whole index, and the serve tax of each (recall
    * of base ∪ delta vs exact). Auto-retrain is off for the run
    * ([[Family.conf]]): firing inside the append would double-bill it.
    */
  private def ivfPqRungs(spark: SparkSession, dir: String, size: String): Seq[Rung] = {
    val n = size.toLong
    def vecs = Tables.load(spark, dir, "embeddings").select("vec_id", "embedding")
    val idx = s"$dir/idx"
    def step(name: String)(work: => Unit) = Rung(name, () => { work; spark.emptyDataFrame })
    def serve(name: String) = Rung(name,
      () => Similarity.ivfPqSearchAgainstIndex(vecs.filter(col("vec_id") < 20), idx, nprobe = 8))
    Seq(
      Rung("exact_knn", () => Similarity.q48CosineKnn(spark, dir)),
      step("build_base")(Similarity.writeIvfPqIndex(
        vecs.filter(col("vec_id") < n), idx, ivfK = sqrtCeil(n))),
      step("append_1pct")(Similarity.appendIvfPqDelta(vecs.filter(col("vec_id") >= n), idx)),
      serve("serve_appended"),
      step("retrain")(Similarity.retrainIvfPq(spark, idx)),
      serve("serve_rebuilt"))
  }

  /** The dedup/CC family. The 16-BIT simhash rungs are capped at 50k
    * docs: 2^16 signatures saturate there and the hamming-≤3 band join
    * goes quadratic in bucket occupancy (q58\@500k measured as a >13-min
    * runaway). The 48-bit rungs are that fix; pigeonhole banding has its
    * own capacity law — h+1 bands of b/(h+1) bits hold n / 2^(b/(h+1))
    * docs each, so h3 is capped at 500k (12-bit bands at 5M filled the
    * disk). `cc_minhash` shows the CC tier crossover by the operator's
    * own runtime decision (telemetry).
    */
  private def dedupRungs(spark: SparkSession, dir: String, size: String): Seq[Rung] = {
    def docs = Tables.load(spark, dir, "documents")
    def cc(pairs: => DataFrame) = () => Dedup.connectedComponents(
      pairs.select(col("a_id"), col("b_id")), docs.select(col("doc_id").as("id")))
    Seq("q44_dedup_exact", "q46_minhash_lsh", "q66_dedup_pipeline")
      .map(query(spark, dir, _)) ++
      Seq("q58_dedup_clusters", "q77_canonical_best", "q131_dedup_sensitivity")
        .map(q => query(spark, dir, q, s"${q}_sim16", cap = 50000L)) ++ Seq(
      Rung("cc_simhash48_h3",
        cc(Dedup.simhashNearDupPairs(docs, bits = 48, maxHamming = 3)), cap = 500000L),
      Rung("cc_simhash48_h1", cc(Dedup.simhashNearDupPairs(docs, bits = 48, maxHamming = 1))),
      Rung("cc_minhash", cc(Dedup.minhashNearDupPairs(docs))))
  }

  /** Language-model statistics: every operator exchanges TYPE tables,
    * so shuffles should grow with the vocabulary, not the token count.
    * Run on two corpora: `lm` (Heaps-worst-case n/5 vocabulary) and
    * `lm-zipf` (one head token at ~10% of occurrences — the corpus that
    * fires the skew-salt gate at scale). The gtmin-pruned KN rungs
    * price hapax pruning against exact KN at orders 2 and 3.
    */
  private def lmRungs(spark: SparkSession, dir: String, size: String): Seq[Rung] = {
    def docs = Tables.load(spark, dir, "documents")
    Seq("q162_zipf_slope", "q128_vocab_growth", "q117_ngram_diversity",
      "q149_good_turing", "q151_kneser_ney").map(query(spark, dir, _)) ++ Seq(
      Rung("kn_pruned_min2", () => CorpusOps.knPerplexityPruned(docs, minCount = 2L)),
      Rung("kn3_exact", () => CorpusOps.knTrigramPerplexity(docs, minCount = 1L)),
      Rung("kn3_pruned_min2", () => CorpusOps.knTrigramPerplexity(docs, minCount = 2L))) ++
      Seq("q152_collocations", "q150_distinct_sketch", "q133_heavy_hitters")
        .map(query(spark, dir, _))
  }

  /** The astronomy surface: descriptor fan-out → train → score (q50,
    * q51, q71), the broadcast-template SAX shape (q53) and the period
    * searches whose grids multiply in-row CPU only (q137, q177).
    */
  private def starRungs(spark: SparkSession, dir: String, size: String): Seq[Rung] =
    Seq("q50_star_features", "q51_star_classify", "q53_star_comparative",
      "q71_star_probspace", "q137_period_search", "q177_period_search_dense")
      .map(query(spark, dir, _))

  /** The CC boundary tiers — driver union-find vs distributed min-label
    * propagation — on the same path graph of n/4 five-node components
    * (~n boundary edges), then a fixed 1000 × 100-node chain graph: the
    * propagation tier pays rounds ∝ log(diameter), the driver tier not.
    * Out rows are the component count, asserted.
    */
  private def ccRungs(spark: SparkSession, dir: String, size: String): Seq[Rung] = {
    def tiers(prefix: String, comps: Long, len: Int) =
      Seq("driver" -> Long.MaxValue, "distributed" -> -1L).map { case (tier, maxE) =>
        Rung(prefix + tier, () => {
          val (edges, nodes) = Synth.pathGraph(spark, comps, len)
          Dedup.connectedComponents(edges, nodes, maxE).select("label").distinct()
        }, check = c => assert(c == comps, s"wrong component count: $c != $comps"))
      }
    tiers("", math.max(size.toLong / 4, 1L), 4) ++ tiers("chain100_", 1000L, 100)
  }

  /** BM25 index maintenance on the wide vocabulary: an 8-segment index
    * (base + 7 appended deltas, the state a real ingest leaves), a
    * 3-term serve and the isolated postings scan against it, the
    * token-sort compaction, then the same serve and scan against the
    * single segment. The scan rungs' input bytes measure row-group
    * pruning; compaction must leave the matched postings unchanged.
    */
  private def bm25Rungs(spark: SparkSession, dir: String, size: String): Seq[Rung] = {
    val n = size.toLong
    val docs = Tables.load(spark, dir, "documents")
    val idx = s"$dir/index"
    val seg = n / 8
    // 3 real terms, picked deterministically from the corpus
    val terms = (0 to 2).map(k => docs.filter(col("doc_id") === k * 1000L % n)
      .select(split(col("text"), " ").getItem(k)).head().getString(0))
    def postings = {
      val p = new org.apache.hadoop.fs.Path(s"$idx/postings")
      spark.read.parquet(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).toSeq.map(_.getPath.toString): _*)
    }
    var matched = -1L
    def serve(name: String) = Rung(name, () => Bm25.bm25TopKForTerms(spark, idx, terms))
    def scan(name: String, check: Long => Unit) =
      Rung(name, () => postings.filter(col("token").isin(terms: _*)).select("token"),
        check = check)
    Seq(
      Rung("build_8seg", () => {
        Bm25.writeBm25Index(docs.filter(col("doc_id") < seg), idx)
        (1 until 8).foreach(k => Bm25.appendBm25Delta(docs.filter(
          col("doc_id") >= k * seg && col("doc_id") < (k + 1) * seg), idx))
        postings.select()
      }),
      serve("serve_8seg"),
      scan("scan_8seg", matched = _),
      Rung("compact", () => { Bm25.compactBm25(spark, idx); postings.select() }),
      serve("serve_1seg"),
      scan("scan_1seg", c => assert(c == matched, "compaction changed the matched postings")))
  }

  /** The cluster-durability tax: every GraftCheckpoint barrier query
    * under `local` (localCheckpoint) and `reliable` (Dataset.checkpoint)
    * mode, in both mode orders — the second mode inherits JIT and page
    * cache, so the pair of orders brackets that advantage.
    */
  private def ckptRungs(spark: SparkSession, dir: String, size: String): Seq[Rung] =
    for {
      (prefix, modes) <- Seq("" -> Seq("local", "reliable"), "rev_" -> Seq("reliable", "local"))
      mode <- modes
      q <- Seq("q104_corpus_build", "q155_pair_rank", "q71_star_probspace")
    } yield Rung(s"$prefix${mode}_$q", () => {
      spark.conf.set(GraftCheckpoint.ModeKey, mode)
      SparkEntry.queries(q)(spark, dir)
    })

  private def sizes(xs: Long*) = xs.map(_.toString)

  val families: Map[String, Family] = {
    val docsTele = (e: String) => e.contains("boundary") || e.contains("tier") || e.contains("cc ")
    val lmTele = (e: String) => Seq("salt", "skew", "tier", "kn ", "kn3 ").exists(e.contains)
    def lm(gen: (SparkSession, Long) => DataFrame) = Family(sizes(50000, 500000, 5000000),
      Some("5000"), Some("documents" -> gen), lmRungs, lmTele)
    Map(
      "ann" -> Family(sizes(50000, 500000, 5000000), Some("2000"),
        Some("embeddings" -> Synth.synthEmb), annRungs, baseline = Some("q48_exact_knn")),
      "ivfpq" -> Family(sizes(500000, 5000000), Some("2000"),
        Some("embeddings" -> ((s, n) => Synth.synthEmb(s, n + n / 100))), ivfPqRungs,
        _.contains("ivf"), Some("exact_knn"),
        Seq(Similarity.RETRAIN_FRACTION_CONF -> "0", Similarity.RETRAIN_DRIFT_CONF -> "0")),
      "dedup" -> Family(sizes(50000, 500000, 5000000), Some("5000"),
        Some("documents" -> Synth.synthDocs), dedupRungs, docsTele),
      "lm" -> lm(Synth.synthDocs),
      "lm-zipf" -> lm(Synth.zipfDocs),
      "star" -> Family(sizes(100000, 1000000, 5000000), Some("10000"),
        Some("events" -> Synth.synthEvents), starRungs, _.startsWith("ckpt ")),
      "cc" -> Family(sizes(1000, 100000, 1000000), Some("400"), None, ccRungs,
        _.contains("boundary_edges=")),
      "bm25" -> Family(sizes(200000), Some("4000"),
        Some("documents" -> Synth.wideVocabDocs), bm25Rungs),
      "ckpt" -> Family(Nil, None, None, ckptRungs, _.startsWith("ckpt "),
        conf = Seq(GraftCheckpoint.ModeKey -> "local")))
  }

  /** Task input bytes off the listener bus; [[settle]] waits until every
    * started task's end event has been delivered and the count is stable.
    */
  private final class InputBytes extends SparkListener {
    private val bytes, started, ended = new AtomicLong
    override def onTaskStart(e: SparkListenerTaskStart): Unit = { started.incrementAndGet(); () }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.inputMetrics.bytesRead))
      ended.incrementAndGet(); ()
    }
    def settle(): Long = {
      var (last, stable, polls) = (-1L, 0, 0)
      while (stable < 3 && polls < 400) {
        Thread.sleep(5)
        val now = ended.get
        if (now == started.get && now == last) stable += 1 else { last = now; stable = 0 }
        polls += 1
      }
      bytes.get
    }
  }

  /** Per-probe top-3 neighbor sets of a (p_id, c_id, rn) result. */
  private def top3(rows: Array[Row], df: DataFrame): Map[Long, Set[Long]] = {
    val Seq(ip, ic, irn) = Seq("p_id", "c_id", "rn").map(df.schema.fieldIndex)
    rows.filter(_.getInt(irn) <= 3).map(r => (r.getLong(ip), r.getLong(ic)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  private def recallVs(exact: Map[Long, Set[Long]], got: Map[Long, Set[Long]]): Double =
    exact.keySet.toSeq.map { p =>
      (exact(p) & got.getOrElse(p, Set.empty)).size.toDouble / exact(p).size
    }.sum / exact.size

  /** The selected rungs: name-prefix matches, the baseline, and the
    * `*_build` rung each selected `*_serve` rung reads (the longest build
    * name prefixing the serve name with `_serve` → `_build`, since serve
    * names carry serve-only dial suffixes).
    */
  private def select(all: Seq[Rung], only: Option[Set[String]],
                     baseline: Option[String]): Seq[Rung] = {
    val names = all.map(_.name)
    def picked(n: String) = baseline.contains(n) || only.forall(_.exists(n.startsWith))
    val builds = names.filter(n => n.contains("_serve") && picked(n))
      .flatMap { s =>
        val b = s.replace("_serve", "_build")
        names.filter(x => x.contains("_build") && b.startsWith(x)).sortBy(-_.length).headOption
      }.toSet
    all.filter(r => picked(r.name) || builds(r.name))
  }

  /** Run `family` at each size under `root`, emitting rows as they land. */
  def run(spark: SparkSession, family: Family, points: Seq[String], root: String,
          only: Option[Set[String]], warm: Boolean)(emit: Result => Unit): Unit = {
    val bytes = new InputBytes
    spark.sparkContext.addSparkListener(bytes)
    val saved = family.conf.map { case (k, v) =>
      val old = spark.conf.getOption(k); spark.conf.set(k, v); k -> old
    }
    def prepare(point: String, dir: String): (String, Option[Double]) = family.gen match {
      case Some((table, gen)) =>
        val t0 = System.nanoTime()
        gen(spark, point.toLong).write.mode("overwrite").parquet(s"$dir/$table.parquet")
        (dir, Some((System.nanoTime() - t0) / 1e9))
      case None => (point, None)
    }
    def rungs(dir: String, point: String) =
      select(family.rungs(spark, dir, point), only, family.baseline)
    try {
      if (warm) {
        val point = family.warm.getOrElse(points.head)
        val (dir, _) = prepare(point, s"$root/warm")
        rungs(dir, point).foreach { r =>
          CacheScope.run(r.run().write.format("noop").mode("overwrite").save())
          spark.catalog.clearCache()
        }
        Telemetry.drain()
      }
      points.foreach { point =>
        val (dir, genSecs) = prepare(point, s"$root/n$point")
        genSecs.foreach(s => emit(Result(point, "generate", Some(s))))
        var exact: Option[Map[Long, Set[Long]]] = None
        rungs(dir, point).foreach { r =>
          if (r.cap < Long.MaxValue && point.toLong > r.cap) emit(Result(point, r.name, None))
          else {
            Telemetry.drain()
            val b0 = bytes.settle()
            val (secs, inBytes, rows, t3) = CacheScope.run {
              val t0 = System.nanoTime()
              val d = r.run()
              d.write.format("noop").mode("overwrite").save()
              val secs = (System.nanoTime() - t0) / 1e9
              val inBytes = bytes.settle() - b0
              if (Seq("p_id", "c_id", "rn").forall(d.columns.contains)) {
                val rows = d.collect()
                (secs, inBytes, rows.length.toLong, Some(top3(rows, d)))
              } else (secs, inBytes, d.count(), None)
            }
            spark.catalog.clearCache()
            r.check(rows)
            if (family.baseline.contains(r.name)) exact = t3
            val recall = for (e <- exact if !family.baseline.contains(r.name); got <- t3)
              yield recallVs(e, got)
            val tele = Telemetry.drain().filter(family.tele).mkString("; ").replace(",", " ")
            emit(Result(point, r.name, Some(secs), Some(rows), recall, Some(inBytes), tele))
          }
        }
      }
    } finally {
      saved.foreach { case (k, old) => old.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      spark.sparkContext.removeSparkListener(bytes)
    }
  }

  def main(args: Array[String]): Unit = {
    val family = args.headOption.flatMap(families.get).getOrElse {
      System.err.println(s"usage: graft.Ladder <${families.keys.toSeq.sorted.mkString("|")}> [sizes ...]")
      sys.exit(2)
    }
    val points = if (args.length > 1) args.toSeq.drop(1) else family.sizes
    require(points.nonEmpty, s"${args.head} needs its sf dirs as arguments")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.session(cpus, sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    val root = java.nio.file.Files.createTempDirectory("ladder").toString
    println("size,rung,secs,out_rows,recall_at3,input_bytes,telemetry")
    run(spark, family, points, root, sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet),
      warm = true)(r => println(r.csv))
    spark.stop()
  }
}
