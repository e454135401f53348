package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: benchmark decontamination, repetition-based
  * quality filtering (the Gopher-rule family), and sequence packing.
  *
  * Scale notes are per-operator; the common theme is that the only wide
  * exchanges are (a) the broadcast of a small eval-set gram table and
  * (b) per-lang windows — nothing global, nothing all-pairs.
  */
object CorpusOps {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Benchmark decontamination: flag every training document sharing at
    * least one token 8-gram with the eval set (`source = 'src0'` stands in
    * for the benchmark corpus). The eval side is tiny by construction, so
    * its distinct gram set BROADCASTS and contamination is a map-side
    * broadcast join on the training side — the 100 TB shape (the training
    * corpus never shuffles; the gram explode pipelines into the join
    * inside one stage). Distinct-per-doc grams keep `n_hits` = number of
    * distinct shared grams.
    */
  /** Per-doc DISTINCT token n-grams of `text` as (doc_id, gram) — the
    * shared gram kernel behind q68 (n = 8) and the bloom gate family
    * (q96/q97, n = [[BloomGate.GRAM_N]]). Pure per-row explode: pipelines
    * out of the scan with no shuffle; `array_distinct` keeps downstream
    * hit counts = number of DISTINCT shared grams.
    */
  private[graft] def tokenGrams(df: DataFrame, n: Int): DataFrame = df
    .withColumn("tokens", split(col("text"), " "))
    .filter(size(col("tokens")) >= n)
    .select(col("doc_id"),
      explode(array_distinct(transform(
        sequence(lit(1), size(col("tokens")) - (n - 1)),
        i => array_join(slice(col("tokens"), i, lit(n)), " ")))).as("gram"))

  def q68Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    def grams(df: DataFrame): DataFrame = tokenGrams(df, 8)
    val evalGrams = grams(d.filter(col("source") === "src0"))
      .select(col("gram")).distinct()
    val hits = grams(Spread.scan(d.filter(col("source") =!= "src0")))
      .join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    d.filter(col("source") =!= "src0")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** SUBSTRING-level decontamination — the second decontamination modality
    * next to q68's token-8-gram overlap: winnowing fingerprints (q78's
    * native `winnow_fps` kernel — content-defined window minima over
    * 20-char gram hashes) catch verbatim eval text that survives token
    * re-segmentation, truncation mid-gram, or punctuation drift, at
    * sub-8-gram granularity. A corpus doc is contaminated when it shares
    * ≥ 2 fingerprints with the eval set (1 can be window-minimum chance;
    * 2 is q78's shared-substring evidence threshold).
    *
    * Scale shape identical to q68: the EVAL fingerprint set (eval suites
    * are small by construction) broadcasts; the corpus side is one
    * per-row kernel pass + a map-side broadcast join + one groupBy — the
    * corpus never shuffles its text.
    */
  def q85DecontaminateSubstr(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.expressions.SignatureExprs.register(spark)
    val d = docs(spark, dir)
    def fps(df: DataFrame): DataFrame =
      df.select(col("doc_id"), explode(expr("winnow_fps(text)")).as("fp"))
    val evalFps = fps(d.filter(col("source") === "src0")).select(col("fp")).distinct()
    val hits = fps(d.filter(col("source") =!= "src0"))
      .join(broadcast(evalFps), Seq("fp"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp_hits"))
    d.filter(col("source") =!= "src0")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_fp_hits"), lit(0L)).as("n_fp_hits"),
        (coalesce(col("n_fp_hits"), lit(0L)) >= 2).as("contaminated"))
  }

  /** q126's dials: a 4-gram repeated across [[BOILER_MIN_SOURCES]]
    * distinct sources is boilerplate (template headers, license banners,
    * SEO footers — text that travels between sites verbatim); a document
    * whose distinct-gram coverage by such grams reaches [[BOILER_FLAG]]
    * is flagged.
    */
  val BOILER_GRAM_N = 4
  val BOILER_MIN_SOURCES = 3
  val BOILER_FLAG = 0.01

  /** Boilerplate n-gram coverage — the cross-source template audit
    * (CCNet/RefinedWeb-style boilerplate detection by repetition ACROSS
    * sites rather than within a page): a 4-gram occurring in ≥
    * [[BOILER_MIN_SOURCES]] distinct sources is boilerplate; each doc
    * reports what fraction of its distinct grams is boilerplate.
    *
    * Scale shape: the gram stream ([[tokenGrams]] — per-row explode) is
    * cached once and feeds (a) the gram-keyed distinct-source aggregate
    * (map-side partials per (gram, source) first is implicit in
    * countDistinct's expand; output is vocabulary-sized) and (b) the
    * gram-keyed join back. Both wide exchanges key on `gram` — high
    * cardinality, no skewed reducer — and the verdict aggregate keys on
    * doc_id. Docs too short to have a gram surface with n_grams = 0 and
    * a NULL coverage via the id-keyed left join.
    */
  def q126BoilerplateCoverage(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // cached: the boilerplate-frequency aggregate and the coverage join
    // both read the gram stream — uncached, the explode runs twice
    val grams = graft.CacheScope.cache(
      tokenGrams(Spread.scan(d), BOILER_GRAM_N)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id")))
    val boiler = grams.groupBy(col("gram"))
      .agg(countDistinct(col("source")).as("n_sources"))
      .filter(col("n_sources") >= BOILER_MIN_SOURCES)
      .select(col("gram"), lit(1L).as("is_boiler"))
    val perDoc = grams.join(boiler, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
    d.select(col("doc_id"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("coverage",
        when(col("n_grams") > 0, round(col("n_boiler") / col("n_grams"), 6)))
      .withColumn("flagged",
        coalesce(col("coverage") >= BOILER_FLAG, lit(false)))
  }

  /** Contamination provenance — the REVERSE of q68's per-train-doc flag:
    * for each EVAL document, how many training documents share a token
    * 8-gram with it and which single training doc is the worst offender
    * (most distinct shared grams, ties to the lower id). q68 answers
    * "which training docs must go"; this answers the auditor's question
    * "which benchmark items are compromised, and by what" — the report
    * attached to a contamination incident.
    *
    * Scale shape: the gram join is q68's exactly (eval side tiny and
    * BROADCAST; the corpus never shuffles text); the per-(eval, train)
    * hit count keys on the pair, and the per-eval rollup reduces with a
    * `min(struct(-n, id))` argmax — map-side combinable, no window. The
    * eval table is benchmark-sized, so the output and every post-join
    * frame are eval-bounded.
    */
  def q135ContaminationProvenance(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    def grams(df: DataFrame): DataFrame = tokenGrams(df, 8)
    val ev = d.filter(col("source") === "src0")
    val hits = grams(Spread.scan(d.filter(col("source") =!= "src0")))
      .withColumnRenamed("doc_id", "train_id")
      .join(broadcast(grams(ev).withColumnRenamed("doc_id", "eval_id")),
        Seq("gram"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .groupBy(col("eval_id"))
      .agg(count(lit(1)).as("n_offenders"),
        min(struct((-col("n_shared")).as("neg"), col("train_id"))).as("_top"))
      .select(col("eval_id"), col("n_offenders"),
        col("_top.train_id").as("top_offender"),
        (-col("_top.neg")).as("top_shared"))
    ev.select(col("doc_id").as("eval_id"))
      .join(hits, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("n_offenders"), lit(0L)).as("n_offenders"),
        col("top_offender"),
        col("top_shared"))
  }

  /** Docs sampled per epoch by q134's apportionment. */
  val EPOCH_BUDGET = 1000L

  /** Epoch-budget apportionment — Hamilton's largest-remainder method
    * over per-source token mass: how many documents each source
    * contributes to a fixed per-epoch sampling budget so that quotas are
    * integers, sum EXACTLY to the budget, and differ from the exact
    * proportional share by less than one. This is the scheduling step
    * between mixture weights (q107/q116) and the shuffled export (q119):
    * training loaders consume integer quotas, not real-valued weights.
    *
    * Determinism: all in 64-bit integer arithmetic — floor share =
    * `(B·toks) div total`, remainders ranked by `(B·toks) mod total`
    * (ties to the lower source) — so no engine's float rounding can
    * move a seat. The only window ranks the #sources-row aggregate (the
    * q107 kind of bounded frame).
    */
  def q134EpochApportion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached: the total collect, the deficit collect and the final plan
    // all read the per-source aggregate — uncached, the corpus token
    // count would run three times
    val perSource = graft.CacheScope.cache(docs(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("w"))
      .groupBy(col("source")).agg(sum(col("w")).as("n_tokens")))
    val total = perSource.agg(sum(col("n_tokens"))).collect()(0).getLong(0)
    val base = perSource
      .withColumn("fl", expr(s"($EPOCH_BUDGET * n_tokens) div $total"))
      .withColumn("rem", expr(s"($EPOCH_BUDGET * n_tokens) % $total"))
    // bounded frame: #sources rows
    val ranked = base.withColumn("r",
      row_number().over(Window.orderBy(col("rem").desc, col("source"))))
    val deficit = EPOCH_BUDGET -
      base.agg(sum(col("fl"))).collect()(0).getLong(0)
    ranked.select(col("source"), col("n_tokens"),
      (col("fl") + when(col("r") <= deficit, 1L).otherwise(0L)).as("quota"))
  }

  // ------------------------------------------------------- hot-block index

  /** Materialize q127's hot list: the (tiny) table of block hashes whose
    * occurrence count reaches `hotMin`, the meta recording the dials
    * (block width especially — a reader blocking at a guessed width would
    * match nothing silently).
    */
  def writeHotBlockIndex(docsDf: DataFrame, path: String,
                         hotMin: Int = HOT_BLOCK_MIN): Unit =
    IndexMeta.commit(docsDf.sparkSession, path, "graft hot block list") {
      scrubBlocks(docsDf)
        .groupBy(md5(col("btxt")).as("h"))
        .agg(count(lit(1)).as("n_occ"))
        .filter(col("n_occ") >= hotMin)
        .select(col("h"))
        .write.mode("overwrite").parquet(s"$path/hot")
      Seq("kind" -> "hot_blocks", "hot_min" -> hotMin.toString,
        "block" -> SCRUB_BLOCK.toString)
    }

  /** A resolved hot-block list (the stored frame stays distributed; it is
    * tiny by construction and BROADCASTS at the join).
    */
  final case class LoadedHotBlocks private[operators] (hotMin: Int, hot: DataFrame)

  def loadHotBlockIndex(spark: SparkSession, path: String): LoadedHotBlocks = {
    val props = IndexMeta.read(spark, path, "writeHotBlockIndex")
    LoadedHotBlocks(props.getProperty("hot_min").toInt,
      spark.read.parquet(s"$path/hot"))
  }

  /** q127's semantics against a PREBUILT hot list: the batch is blocked
    * and each block dropped iff its hash is in the stored list — a
    * map-side broadcast membership test, zero corpus recount. The ONE
    * scrub kernel pair ([[scrubBlocks]]/[[scrubVerdicts]]) serves both
    * halves, so build and serve cannot drift on boundaries.
    */
  def hotScrubAgainstLoaded(docsDf: DataFrame, idx: LoadedHotBlocks): DataFrame =
    scrubVerdicts(
      scrubBlocks(docsDf)
        .withColumn("h", md5(col("btxt")))
        .join(broadcast(idx.hot.withColumn("_hot", lit(true))), Seq("h"), "left")
        .withColumn("keep", col("_hot").isNull))

  def hotScrubAgainstIndex(docsDf: DataFrame, path: String): DataFrame =
    hotScrubAgainstLoaded(docsDf,
      loadHotBlockIndex(docsDf.sparkSession, path))

  /** The serving twin of q127 (the q97/q109/q118 pattern): build-once
    * per (dir, content fingerprint), then scrub the corpus from the
    * store. Identical output contract to q127, so it shares the same
    * oracle SQL — the hash match certifies the store → serve round-trip.
    */
  def q130HotBlockIndex(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val indexPath = Tables.derivedIndexPath("graft_hot_blocks_v1", dir, "documents")
    IndexMeta.ensure(spark, indexPath) { writeHotBlockIndex(d, indexPath) }
    hotScrubAgainstIndex(d, indexPath)
  }

  /** Repetition-based quality scoring (the Gopher-rule family): fraction
    * of the document covered by its most frequent token, and the fraction
    * of duplicate 2-grams. Both are in-row array expressions — a narrow
    * per-row projection with NO shuffle, so the filter pipelines inside
    * the scan's codegen stage at any corpus size. The per-row cost is
    * O(distinct·n) for the mode, bounded by document length.
    */
  /** Per-row repetition metrics APPENDED to the input frame (original
    * columns kept) — the shared kernel behind q69 and the streaming
    * quality gate.
    */
  private[graft] def repetitionScored(df: DataFrame): DataFrame =
    df.withColumn("tokens", split(col("text"), " "))
      .withColumn("n_tok", size(col("tokens")))
      // max token multiplicity = longest run in the SORTED token array:
      // O(n log n) per row where the previous distinct×filter form was
      // O(distinct·n) string comparisons (quadratic on diverse docs —
      // the dominant per-row cost of q69/q100/q104/q122). Identical
      // integer result, so top_tok_frac is bit-identical.
      .withColumn("top_tok_frac", round(expr(
        """aggregate(array_sort(tokens),
          |  struct(CAST(NULL AS STRING) AS prev, 0 AS run, 0 AS best),
          |  (acc, t) -> struct(t,
          |    IF(acc.prev <=> t, acc.run + 1, 1),
          |    GREATEST(acc.best, IF(acc.prev <=> t, acc.run + 1, 1))),
          |  acc -> acc.best)""".stripMargin).cast("double")
          / col("n_tok"), 6))
      // sequence(1, 0) is DESCENDING [1, 0], not empty — guard 1-token docs
      .withColumn("bigrams", expr(
        """CASE WHEN size(tokens) > 1
          |  THEN transform(sequence(1, size(tokens) - 1),
          |         i -> concat_ws(' ', tokens[i - 1], tokens[i]))
          |  ELSE array() END""".stripMargin))
      .withColumn("dup_bigram_frac", round(
        when(size(col("bigrams")) > 0,
          (size(col("bigrams")) - size(array_distinct(col("bigrams")))).cast("double")
            / size(col("bigrams"))).otherwise(lit(0.0)), 6))
      .withColumn("flagged",
        col("top_tok_frac") > 0.3 || col("dup_bigram_frac") > 0.3)
      .drop("tokens", "bigrams")

  /** q69's projection of [[repetitionScored]] — shared by the spec. */
  private[operators] def repetitionScores(df: DataFrame): DataFrame =
    repetitionScored(df).select(col("doc_id"), col("n_tok"),
      col("top_tok_frac"), col("dup_bigram_frac"), col("flagged"))

  def q69Repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionScores(docs(spark, dir))

  /** Parallelism dial for the q70 two-pass cumsum: quantile cuts over the
    * order key → at most PACK_CUTS+1 range buckets. Offsets stay a
    * ≤(langs × buckets) frame; per-(lang, bucket) groups carry ~1/buckets
    * of the corpus — raise the dial with the cluster, q89-style.
    */
  private[graft] val PACK_CUTS = 255

  /** Sequence packing: concat-and-chunk documents into 2048-token training
    * windows WITHIN each language (the monolingual-stream shape). Emits
    * each document's stream offset, window id, and whether it straddles a
    * window boundary (the span that would be attention-masked).
    *
    * Shape: a per-lang running cumsum is ONE sequential reducer per
    * language at corpus scale (a handful of langs ⇒ a handful of
    * reducers, each sorting its whole language). This is q89's two-pass
    * instead: range-bucket the order key (doc_id) by [[PACK_CUTS]]
    * approximate quantile cuts — order-preserving by construction, and
    * the cumsum is EXACT for any monotone bucketing, so the approximation
    * never reaches the output — then (1) local cumsum per (lang, bucket)
    * in parallel, (2) per-bucket token totals rolled into start offsets
    * by a window over the ≤(langs × buckets) offsets frame (the only
    * single-partition window — O(buckets) rows, bounded by the dial, the
    * IVF-centroid kind of small), (3) broadcast the offsets back:
    * cum_end = bucket offset + local cumsum.
    */
  def q70PackSequences(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .withColumn("n_tok", size(split(col("text"), " ")))
      .select(col("doc_id"), col("lang"), col("n_tok"))
    val fracs = array((1 to PACK_CUTS).map(k => lit(k.toDouble / (PACK_CUTS + 1))): _*)
    val cuts = toks.agg(
      percentile_approx(col("doc_id"), fracs, lit(10000)).as("cuts"))
    val bucketed = toks.crossJoin(broadcast(cuts))
      .withColumn("bucket", size(filter(col("cuts"), c => c <= col("doc_id"))))
      .drop("cuts")
    val local = Window.partitionBy(col("lang"), col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byBucket = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n_tok")).as("b_tok"))
      .withColumn("off", coalesce(sum(col("b_tok")).over(byBucket), lit(0L)))
      .select(col("lang"), col("bucket"), col("off"))
    bucketed
      .withColumn("local_cum", sum(col("n_tok")).over(local))
      .join(broadcast(offsets), Seq("lang", "bucket"))
      .withColumn("cum_end", col("off") + col("local_cum"))
      .withColumn("start_off", col("cum_end") - col("n_tok"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        col("start_off"),
        floor(col("start_off") / 2048).as("seq_id"),
        (floor(col("start_off") / 2048) =!=
          floor((col("cum_end") - 1) / 2048)).as("crosses_boundary"))
  }

  /** Count-based LM quality scoring (the CCNet shape): train a bigram
    * language model on the corpus itself (add-1 smoothing over the unigram
    * vocabulary), then score every document by its mean negative
    * log-likelihood — the perplexity proxy a quality-filter thresholds.
    *
    * Scale shape: unigram and bigram count tables are vocabulary-sized, so
    * they stay DISTRIBUTED — doc bigrams reach their counts via shuffle
    * equi-joins on the bigram/unigram keys (both map-side combined
    * aggregates first), never a driver-side model. The per-doc mean is one
    * more hash aggregate. Four shuffles total, all on keys that scale with
    * vocabulary, not corpus size.
    *
    * Skew: `w1` is Zipfian in a real corpus — head tokens put a constant
    * fraction of all doc-bigram rows on a handful of reducers, the classic
    * straggler. The unigram join runs through
    * [[Skew.saltedJoinAdaptive]]: keys whose count crosses the straggler
    * budget (Skew.StragglerFactor × mean per-reducer load, read off `uni`,
    * which the query builds anyway — no extra pass) spread over
    * [[SKEW_SALTS]] reducer slots with a salt hashed from the bigram's
    * (doc_id, pos) identity (deterministic under stage recomputation);
    * when no key crosses the budget — the fixture corpora at local scale,
    * where the head token is ~1.1× the mean reducer load — the join stays
    * PLAIN and pays zero salting overhead. Same query at 100 TB: "the"
    * holds ~5% of all rows, crosses any per-reducer budget, and gets
    * salted. SkewSpec proves both gate decisions and the salted path's
    * partition spread.
    */
  val SKEW_SALTS = 8

  /** Separator for pre-concatenated composite join keys in the LM-scoring
    * family (q73/q151/q180/q182/q185/q186) — never appears inside
    * whitespace-split tokens, so the concatenation is injective.
    */
  private[graft] val KN_SEP = "\u0001"

  /** Exact integer arithmetic for the KN nll ratio forms: decimal(38,0)
    * keeps the products exact far past the 64-bit range (the trigram
    * numerator overflows long around 500k zipf docs), and the final
    * cast-to-double rounds the same exact integer a long cast would -
    * so fixture-scale results are bit-identical while the 100 TB rungs
    * stop overflowing. Cost rides the TYPE table only (the r18
    * restructure), never the occurrence stream.
    *
    * Range bound (the decimal successor of the old long-overflow note):
    * the largest product form is the trigram denominator
    * `16·c12·n1p_mid·t` — with c12 ≤ corpus tokens N, n1p_mid ≤ bigram
    * types and t ≤ bigram types, the form stays under 10^38 while
    * N·types² < ~6·10^36, i.e. ~10 orders of magnitude past the old
    * 2^59 long bound (a 10^12-token corpus with 10^12 bigram types
    * sits at 10^36). Past THAT, ANSI decimal overflow fails loudly —
    * the correct behavior; no silent float degradation is implemented.
    */
  private def dec38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")

  def q73LmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    // NO Spread.scan here (measured −0.7 s to +0.2 s at sf0.1): the
    // tokenize kernel is cheap and the downstream type-table partial
    // aggregation dedups best over few large partitions — the respread
    // traded that for an exchange. The KN family's CPU lives in the
    // type joins, already distributed.
    val toks = graft.CacheScope.cache(docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tokens")))
    // cached: consumed by the vocab count, the gated join's hot-key
    // broadcasts, and both build sides — without it each consumer re-runs
    // the corpus-wide token explode + aggregation
    val uni = graft.CacheScope.cache(toks.select(explode(col("tokens")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1")))
    val vocab = uni.select(count(lit(1)).as("v"))
    // NOTE r19: caching the exploded doc-bigram stream here (so the
    // explode runs once) was A/B'd and REVERTED — min-envelope regressed
    // (q73 1.69→2.05, q116 3.14→3.32): the explode is cheap next to
    // serializing the 2-string-per-occurrence frame into the cache. Same
    // empirical rule as r18's respread reverts.
    val docBigrams = toks
      .filter(size(col("tokens")) > 1)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(tokens) - 1),
          |  i -> struct(tokens[i - 1] AS w1, tokens[i] AS w2))""".stripMargin)).as(Seq("pos", "b")))
      .select(col("doc_id"), col("pos"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val big = docBigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    // r18 restructure (guide §2.3/§8: move the heavy stream once, decide
    // on the light proxy): per-bigram nll depends ONLY on the type's
    // (c12, c1, v), so it is computed ONCE on the TYPE table — the
    // unigram join and the vocab crossJoin now run over type-sized
    // frames — and the occurrence stream pays a SINGLE (skew-gated)
    // join instead of a type join plus a salted unigram join. The
    // per-occurrence _nm long is bit-identical (same expression over the
    // same type-level integers; the DSIR/CCNet micro-unit discipline —
    // 1e-6-unit longs summed exactly — makes the per-doc sum
    // order-independent, which q116 relies on).
    val typeNll = graft.CacheScope.cache(big.join(uni, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll", -log((col("c12") + 1).cast("double") / (col("c1") + col("v"))))
      .withColumn("_nm", round(col("nll") * 1e6, 0).cast("long"))
      .select(concat_ws(KN_SEP, col("w1"), col("w2")).as("_k"),
        col("c12"), col("_nm")))
    val probe = docBigrams
      .withColumn("_uid", concat_ws(":", col("doc_id"), col("pos")))
      .select(col("doc_id"), col("_uid"),
        concat_ws(KN_SEP, col("w1"), col("w2")).as("_k"))
    // gate load measure: c12 IS the probe-occurrence count per type key
    Skew.saltedJoinAdaptive(probe, typeNll, "_k", SKEW_SALTS, "_uid",
      keyCounts = typeNll, cntCol = "c12")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_nm")).as("_nms"))
      .withColumn("avg_nll", round(col("_nms") / col("n_bigrams") / 1e6, 6))
      .drop("_nms")
  }

  /** Token class for the class-based LM surface (q180): tokens of ≤ 5
    * characters collapse into a shared `<short>` class symbol — the
    * class-based-LM / OOV-bucketing normalization (Brown et al. 1992
    * class LMs; the `<unk>`-style bucketing every production tokenizer
    * front-end applies) — and longer tokens stay themselves, so the
    * vocabulary remains corpus-sized. The bucketing CONCENTRATES the
    * Zipfian head: on the fixture corpora the `<short>` class holds ~80%
    * of all token occurrences at every sf, past the straggler budget
    * ([[Skew.StragglerFactor]] × mean per-reducer load — 50% of rows at
    * the 4-partition Verify dial, 6.25% at Bench's 32) at ANY parallelism
    * ≥ 3, so q180 is the query whose salted join path runs — and is
    * hash-verified — end to end in every harness, where q73/q151's
    * natural heads (~3.5%) stay under the gate at local scale.
    */
  private def tokenClass(c: org.apache.spark.sql.Column) =
    when(length(c) <= 5, lit("<short>")).otherwise(c)

  /** Class-bucketed add-1 bigram LM perplexity — q73's exact scoring
    * pipeline over [[tokenClass]]-normalized tokens. Semantically the
    * class-based LM a curation pipeline scores morphology-poor text with;
    * operationally the END-TO-END exercise of the skew machinery: the
    * probe stream's class key is deliberately head-heavy, the gate in
    * [[Skew.saltedJoinAdaptive]] measures it from the class-count table
    * the query builds anyway, and the salted path (hot-key broadcast tag,
    * ×[[SKEW_SALTS]] replicated build, plain cold union) produces the
    * hash-gated result. Telemetry records `path=salted` — SkewSpec forces
    * the path at unit level; this query proves it under the oracle.
    *
    * Scale shape: q73's — both count tables are class-vocabulary-sized
    * and distributed, the doc-bigram stream reaches them via equi-joins,
    * and the head class rides [[SKEW_SALTS]] reducers instead of one.
    */
  def q180SkewedPerplexity(spark: SparkSession, dir: String): DataFrame = {
    // NO Spread.scan here (measured −0.7 s to +0.2 s at sf0.1): the
    // tokenize kernel is cheap and the downstream type-table partial
    // aggregation dedups best over few large partitions — the respread
    // traded that for an exchange. The KN family's CPU lives in the
    // type joins, already distributed.
    val toks = graft.CacheScope.cache(docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tokens")))
    val uni = graft.CacheScope.cache(toks
      .select(explode(col("tokens")).as("w"))
      .select(tokenClass(col("w")).as("cls1"))
      .groupBy(col("cls1")).agg(count(lit(1)).as("c1")))
    val vocab = uni.select(count(lit(1)).as("v"))
    val docBigrams = toks
      .filter(size(col("tokens")) > 1)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(tokens) - 1),
          |  i -> struct(tokens[i - 1] AS w1, tokens[i] AS w2))""".stripMargin)).as(Seq("pos", "b")))
      .select(col("doc_id"), col("pos"),
        tokenClass(col("b.w1")).as("cls1"), tokenClass(col("b.w2")).as("cls2"))
    val big = docBigrams.groupBy(col("cls1"), col("cls2")).agg(count(lit(1)).as("c12"))
    // q73's r18 type-table restructure; the salt gate now reads the
    // composite class-bigram key, whose head (<short>-<short>, ~64% of
    // occurrences) still fires the salted path on the fixture corpora
    val typeNll = graft.CacheScope.cache(big.join(uni, Seq("cls1"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll", -log((col("c12") + 1).cast("double") / (col("c1") + col("v"))))
      .withColumn("_nm", round(col("nll") * 1e6, 0).cast("long"))
      .select(concat_ws(KN_SEP, col("cls1"), col("cls2")).as("_k"),
        col("c12"), col("_nm")))
    val probe = docBigrams
      .withColumn("_uid", concat_ws(":", col("doc_id"), col("pos")))
      .select(col("doc_id"), col("_uid"),
        concat_ws(KN_SEP, col("cls1"), col("cls2")).as("_k"))
    Skew.saltedJoinAdaptive(probe, typeNll, "_k", SKEW_SALTS, "_uid",
      keyCounts = typeNll, cntCol = "c12")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_nm")).as("_nms"))
      .withColumn("avg_nll", round(col("_nms") / col("n_bigrams") / 1e6, 6))
      .drop("_nms")
  }

  /** Good–Turing count-of-counts (the SRILM/KenLM smoothing front-end):
    * bigram type counts r (q73's exact tokenization), the frequency-of-
    * frequencies table N_r, and the adjusted count r* = (r+1)·N_{r+1}/N_r
    * — the quantity every discounting scheme (GT, Katz, and the
    * count-of-count sanity checks behind Kneser–Ney) starts from, and
    * the audit that catches a deduplication pass that was TOO aggressive
    * (scrubbing repeats collapses the high-r tail and inflates N_1).
    *
    * Scale shape: the bigram count is the q73 aggregate (map-side
    * partials on (w1, w2); the only corpus-sized exchange), N_r is a
    * second full aggregate of that table down to ≤ max-count rows, and
    * the r+1 lookup is a broadcast self-join of that tiny frame. r* is
    * one double division of exact integers ((r+1)·N_{r+1} is 64-bit),
    * NULL where N_{r+1} = 0 — Good–Turing leaves the largest r
    * undefined; downstream discounting falls back to the raw count
    * there, and inventing a 0 would corrupt that fallback.
    */
  def q149GoodTuring(spark: SparkSession, dir: String): DataFrame = {
    val big = docs(spark, dir)
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) > 1)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(toks[i - 1] AS w1, toks[i] AS w2))""".stripMargin)).as("b"))
      .groupBy(col("b.w1"), col("b.w2")).agg(count(lit(1)).as("r"))
    val nr = graft.CacheScope.cache(
      big.groupBy(col("r")).agg(count(lit(1)).as("n_r")))
    val next = nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1"))
    nr.join(broadcast(next), Seq("r"), "left")
      .select(col("r"), col("n_r"),
        round((col("r") + 1) * col("n_r1") / col("n_r"), 6).as("r_star"))
  }

  /** Interpolated Kneser–Ney bigram LM perplexity (Kneser & Ney 1995;
    * the smoothing KenLM — and therefore the real CCNet pipeline — uses,
    * next to q73's add-1 and q149's Good–Turing front-end): with absolute
    * discount D = 3/4,
    *
    *   P_KN(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/T
    *
    * where N1+(w1·) / N1+(·w2) are the distinct-continuation /
    * distinct-history TYPE counts and T the total bigram types — the
    * continuation distribution that makes "Francisco" cheap only after
    * "San". Scoring the corpus against its own model means every scored
    * bigram is observed (c12 ≥ 1 > D), so the max() never clips and the
    * probability has an EXACT integer form:
    *
    *   P_KN = ((4·c12 − 3)·T + 3·N1+(w1·)·N1+(·w2)) / (4·c1·T)
    *
    * Per-bigram nll = ln(4·c1·T) − ln(num) over exact 64-bit integers —
    * the only libm exposure is ln of an integer (the q73/q142 class;
    * margins measured in KneserNeySpec) — and per-doc means sum
    * 1e-6-unit longs (order-independent). The numerator stays in range
    * while c12·T < 2^61; at corpora where that bound breaks the integer
    * form degrades to the float expression, trading bit-exactness for
    * range — the fixture corpora sit ~7 orders below it.
    *
    * Scale shape: q73's exactly — the bigram TYPE table is the only
    * corpus-sized exchange (map-side combined); context stats (c1,
    * N1+(w1·)) and history stats (N1+(·w2)) are ONE aggregate each over
    * that table, vocabulary-sized and distributed; the doc-bigram stream
    * reaches them via equi-joins, the Zipfian w1 AND w2 heads both
    * through [[Skew.saltedJoinAdaptive]] (at 100 TB "the" is a straggler
    * on either side of the bigram).
    */
  def q151KneserNey(spark: SparkSession, dir: String): DataFrame = {
    // NO Spread.scan here (measured −0.7 s to +0.2 s at sf0.1): the
    // tokenize kernel is cheap and the downstream type-table partial
    // aggregation dedups best over few large partitions — the respread
    // traded that for an exchange. The KN family's CPU lives in the
    // type joins, already distributed.
    // cached (q73's discipline): the bigram TYPE aggregate and the
    // doc-bigram probe stream both re-run the scan + tokenize otherwise.
    // (r19: moving this cache onto the exploded stream was A/B'd and
    // reverted — flat at best; see q73's note)
    val toks = graft.CacheScope.cache(docs(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("tokens")))
    val docBigrams = toks
      .filter(size(col("tokens")) > 1)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(tokens) - 1),
          |  i -> struct(tokens[i - 1] AS w1, tokens[i] AS w2))""".stripMargin)).as(Seq("pos", "b")))
      .select(col("doc_id"), col("pos"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val big = graft.CacheScope.cache(
      docBigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val ctx = big.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_w1"))
    val hist = big.groupBy(col("w2")).agg(count(lit(1)).as("n1p_w2"))
    val types = big.agg(count(lit(1)).as("t"))
    // r18 type-table restructure (q73's move): P_KN depends only on the
    // type's (c12, c1, n1p_w1, n1p_w2, t), so nll is assembled on the
    // TYPE table — the ctx/hist joins now move type-sized frames (at
    // 100 TB a Zipfian w1/w2 head skews those joins by types-per-token,
    // which AQE's skew-join splits at runtime) — and the occurrence
    // stream pays ONE skew-gated join instead of a type join plus two
    // salted stat joins. Identical _nm longs, identical per-doc sums.
    val typeNll = graft.CacheScope.cache(big
      .join(ctx, Seq("w1")).join(hist, Seq("w2"))
      .crossJoin(broadcast(types))
      // decimal(38,0) for the same overflow-safety as the trigram form
      // (the 64-bit bound c12*t < 2^61 binds around the 50M-doc rung)
      .withColumn("nll",
        log((lit(4L) * dec38(col("c1")) * dec38(col("t"))).cast("double")) -
          log(((lit(4L) * dec38(col("c12")) - 3L) * dec38(col("t")) +
            lit(3L) * dec38(col("n1p_w1")) * dec38(col("n1p_w2"))).cast("double")))
      .withColumn("_nm", round(col("nll") * 1e6, 0).cast("long"))
      .select(concat_ws(KN_SEP, col("w1"), col("w2")).as("_k"),
        col("c12"), col("_nm")))
    val probe = docBigrams
      .withColumn("_uid", concat_ws(":", col("doc_id"), col("pos")))
      .select(col("doc_id"), col("_uid"),
        concat_ws(KN_SEP, col("w1"), col("w2")).as("_k"))
    Skew.saltedJoinAdaptive(probe, typeNll, "_k", SKEW_SALTS, "_uid",
      keyCounts = typeNll, cntCol = "c12")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_nm")).as("_nms"))
      .withColumn("avg_nll", round(col("_nms") / col("n_bigrams") / 1e6, 6))
      .drop("_nms")
  }

  /** Count-thresholded Kneser–Ney (the SRILM-style `-gtmin` prune,
    * priced by the [[graft.Ladder]] lm family before any gate): the
    * bigram TYPE table is thresholded at `minCount` before the probe
    * join, and a scored bigram whose type row was pruned takes the
    * continuation-only backoff — EXACTLY interpolated KN's value for an
    * unseen bigram (max(c12 − D, 0) = 0), i.e.
    * P = D·N1+(w1·)/c1 · N1+(·w2)/T → nll = ln(4·c1·T) − ln(3·N1+(w1·)·N1+(·w2))
    * — so the delta vs exact KN ([[q151KneserNey]]) is ONLY the dropped
    * direct mass (c12 − D)/c1 on types with 1 ≤ c12 < minCount, the
    * standard prune-without-renormalize approximation. Context/history
    * stats and T stay full-table (lower-order stats are never pruned).
    * What pruning can and cannot buy is a measured question: the build
    * side of the probe join shrinks by the hapax-type fraction, but the
    * probe STREAM is unchanged — the ladder prices whether the type
    * table or the stream was the cost.
    */
  private[graft] def knPerplexityPruned(docsDf: DataFrame,
                                        minCount: Long): DataFrame = {
    val spark = docsDf.sparkSession
    val toks = graft.CacheScope.cache(docsDf
      .select(col("doc_id"), split(col("text"), " ").as("tokens")))
    val docBigrams = toks
      .filter(size(col("tokens")) > 1)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(tokens) - 1),
          |  i -> struct(tokens[i - 1] AS w1, tokens[i] AS w2))""".stripMargin)).as(Seq("pos", "b")))
      .select(col("doc_id"), col("pos"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val big = graft.CacheScope.cache(
      docBigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val ctx = big.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_w1"))
    val hist = big.groupBy(col("w2")).agg(count(lit(1)).as("n1p_w2"))
    val types = big.agg(count(lit(1)).as("t"))
    graft.Telemetry.record(s"kn prune min_count=$minCount")
    // q151's r18 type-table restructure; the prune becomes a per-TYPE
    // when() (1 ≤ c12 < minCount → the continuation-only backoff — the
    // exact value the old kept-left-join produced for a pruned type),
    // so the probe stream no longer pays the kept join at all
    val typeNll = graft.CacheScope.cache(big
      .join(ctx, Seq("w1")).join(hist, Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("nll",
        log((lit(4L) * dec38(col("c1")) * dec38(col("t"))).cast("double")) -
          log(when(col("c12") < minCount,
            lit(3L) * dec38(col("n1p_w1")) * dec38(col("n1p_w2")))
            .otherwise((lit(4L) * dec38(col("c12")) - 3L) * dec38(col("t")) +
              lit(3L) * dec38(col("n1p_w1")) * dec38(col("n1p_w2"))).cast("double")))
      .withColumn("_nm", round(col("nll") * 1e6, 0).cast("long"))
      .select(concat_ws(KN_SEP, col("w1"), col("w2")).as("_k"),
        col("c12"), col("_nm")))
    val probe = docBigrams
      .withColumn("_uid", concat_ws(":", col("doc_id"), col("pos")))
      .select(col("doc_id"), col("_uid"),
        concat_ws(KN_SEP, col("w1"), col("w2")).as("_k"))
    Skew.saltedJoinAdaptive(probe, typeNll, "_k", SKEW_SALTS, "_uid",
      keyCounts = typeNll, cntCol = "c12")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_nm")).as("_nms"))
      .withColumn("avg_nll", round(col("_nms") / col("n_bigrams") / 1e6, 6))
      .drop("_nms")
  }

  /** The gated prune dial: [[knPerplexityPruned]] at min_count = 2 (drop
    * hapax bigram types), hash-verified like q151. Measured on the zipf
    * ladder: 13.6 → 8.9 s at 50k docs, 39.0 → 29.8 s at 500k (−25–35%
    * — the probe join's build side loses the hapax-type majority; the
    * probe stream itself is untouched, which bounds what pruning can
    * ever buy).
    */
  def q182KnPruned(spark: SparkSession, dir: String): DataFrame =
    knPerplexityPruned(docs(spark, dir), minCount = 2L)

  /** Interpolated Kneser–Ney TRIGRAM LM perplexity with the SRILM-style
    * `-gtmin` prune at the top order — the order real LM-stats pipelines
    * actually run (3–5), where the type-table explosion the prune
    * attacks is strictly worse than at order 2 (the r16/r17 ladder law:
    * hapax share of the type table GROWS with corpus size — −70% at 5M
    * bigrams; the trigram type table is bigger and more hapax-heavy
    * still). Standard KN hierarchy (Kneser & Ney 1995; Chen & Goodman
    * 1999): raw counts at the top order, continuation TYPE counts below,
    * D = 3/4 at both orders:
    *
    *   P₂(w3|w2) = (N1+(·w2w3) − D)/N1+(·w2·)
    *               + D·N1+(w2·)/N1+(·w2·) · N1+(·w3)/T
    *   P₃(w3|w1w2) = max(c123 − D, 0)/c12 + D·N1+(w1w2·)/c12 · P₂(w3|w2)
    *
    * where c12 = Σ_w3 c123 (the trigram-context count), N1+(w1w2·) the
    * distinct-continuation count, N1+(·w2w3)/N1+(·w2·)/N1+(w2·)/N1+(·w3)
    * the continuation/middle/following/history type counts over the
    * trigram type table, and T the total continuation-bigram types.
    * Scoring the corpus against its own model means every scored trigram
    * is observed (c123 ≥ 1 and N1+(·w2w3) ≥ 1 > D), so neither max()
    * clips and the probability has an EXACT integer form:
    *
    *   P₃ = ((4·c123 − 3)·4·f·T + 3·n₃·((4·e − 3)·T + 3·g·h)) / (16·c12·f·T)
    *
    * (e = N1+(·w2w3), f = N1+(·w2·), g = N1+(w2·), h = N1+(·w3),
    * n₃ = N1+(w1w2·)). Per-trigram nll = ln(16·c12·f·T) − ln(num) over
    * exact 64-bit integers (the only libm exposure is ln of an integer —
    * the q73/q151 class); per-doc means sum 1e-6-unit longs. The
    * numerator stays in range while c123·f·T < 2^57; at corpora where
    * that bound breaks the integer form degrades to the float
    * expression — the fixture corpora sit orders below it.
    *
    * A scored trigram whose TYPE row was pruned (1 ≤ c123 < minCount)
    * takes the continuation-only backoff — exactly interpolated KN's
    * value for an unseen trigram (the max() term is 0):
    * num = 3·n₃·((4·e − 3)·T + 3·g·h). Lower-order stats are NEVER
    * pruned (the SRILM rule the bigram prune already follows).
    *
    * Scale shape: the trigram TYPE table is the only corpus-sized
    * exchange (map-side combined on (w1,w2,w3)); every stat table is ONE
    * aggregate over it, vocabulary-sized and distributed. The doc-
    * trigram probe stream reaches them via ONE equi-join against the
    * pre-assembled per-type nll table (r18 restructure — see the body
    * comment), its Zipfian type-key head through
    * [[Skew.saltedJoinAdaptive]] gated on c123 (exactly the probe
    * occurrences per type key).
    */
  private[graft] def knTrigramPerplexity(docsDf: DataFrame,
                                         minCount: Long): DataFrame = {
    
    // r19: the cache sits on the EXPLODED doc-trigram stream, not the toks
    // frame — both consumers (type aggregation, probe) need docTri, so a
    // toks-level cache re-paid the tokenize + explode kernel twice
    // (guide §5 cache what's reused). Trade: ~3 strings per trigram
    // occurrence at rest vs one token array per doc — measured at sf0.1
    // and the 500k rung (OPTIMIZATION_r19.md) before keeping.
    val docTri = graft.CacheScope.cache(docsDf
      .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      .filter(size(col("tokens")) > 2)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(tokens) - 2),
          |  i -> struct(tokens[i - 1] AS w1, tokens[i] AS w2,
          |              tokens[i + 1] AS w3))""".stripMargin)).as(Seq("pos", "b")))
      .select(col("doc_id"), col("pos"),
        col("b.w1").as("w1"), col("b.w2").as("w2"), col("b.w3").as("w3")))
    val tri = graft.CacheScope.cache(
      docTri.groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("c123")))
    // context stats (c12, N1+(w1w2·))
    val ctx = tri.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c123")).as("c12"), count(lit(1)).as("n1p_ctx"))
    // continuation-bigram types (the middle order's "counts")
    val cont = graft.CacheScope.cache(tri.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("n1p_w2w3")))
    val w2stats = tri.groupBy(col("w2"))
      .agg(count(lit(1)).as("n1p_mid"))
      .join(cont.groupBy(col("w2")).agg(count(lit(1)).as("n1p_fol")),
        Seq("w2"))
    val w3stats = cont.groupBy(col("w3")).agg(count(lit(1)).as("n1p_w3"))
    val t3 = cont.agg(count(lit(1)).as("t"))
    graft.Telemetry.record(s"kn3 prune min_count=$minCount")
    // r18 type-table restructure (q151's move, biggest at order 3): every
    // per-trigram quantity is a function of the TYPE, so the whole KN
    // hierarchy assembles on the trigram type table — four type-sized
    // joins (Zipfian per-w2/per-context heads there skew by TYPES, which
    // AQE's skew-join splits at runtime) — and the occurrence stream pays
    // ONE skew-gated join instead of a kept join plus FOUR salted stat
    // joins. The prune is a per-type when() (the old left-join's NULL
    // branch, value-identical); _nm longs and per-doc sums are
    // bit-identical to the r17 shape.
    val typeNll = graft.CacheScope.cache(tri
      .join(ctx, Seq("w1", "w2"))
      .join(cont, Seq("w2", "w3"))
      .join(w2stats, Seq("w2"))
      .join(w3stats, Seq("w3"))
      .crossJoin(broadcast(t3))
      // exact DECIMAL(38,0) integer arithmetic: the 64-bit form overflows
      // once c123*n1p_mid*t grows past 2^59 (measured: the 500k-doc zipf
      // ladder rung died on ANSI ARITHMETIC_OVERFLOW in r18) - decimal
      // keeps the integer exact to 10^38 and its cast-to-double rounds
      // the same exact integer a long cast would, so every fixture-scale
      // hash is unchanged (oracle-verified)
      .withColumn("p2num",
        (lit(4L) * dec38(col("n1p_w2w3")) - 3L) * dec38(col("t")) +
          lit(3L) * dec38(col("n1p_fol")) * dec38(col("n1p_w3")))
      .withColumn("nll",
        log((lit(16L) * dec38(col("c12")) * dec38(col("n1p_mid")) *
            dec38(col("t"))).cast("double")) -
          log(when(col("c123") < minCount,
            lit(3L) * dec38(col("n1p_ctx")) * col("p2num"))
            .otherwise(
              (lit(4L) * dec38(col("c123")) - 3L) * lit(4L) *
                dec38(col("n1p_mid")) * dec38(col("t")) +
                lit(3L) * dec38(col("n1p_ctx")) * col("p2num")).cast("double")))
      .withColumn("_nm", round(col("nll") * 1e6, 0).cast("long"))
      .select(concat_ws(KN_SEP, col("w1"), col("w2"), col("w3")).as("_k"),
        col("c123"), col("_nm")))
    val probe = docTri
      .withColumn("_uid", concat_ws(":", col("doc_id"), col("pos")))
      .select(col("doc_id"), col("_uid"),
        concat_ws(KN_SEP, col("w1"), col("w2"), col("w3")).as("_k"))
    Skew.saltedJoinAdaptive(probe, typeNll, "_k", SKEW_SALTS, "_uid",
      keyCounts = typeNll, cntCol = "c123")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("_nm")).as("_nms"))
      .withColumn("avg_nll", round(col("_nms") / col("n_trigrams") / 1e6, 6))
      .drop("_nms")
  }

  /** Exact interpolated trigram KN (minCount = 1 keeps every observed
    * type, so the backoff branch never fires), hash-verified like q151.
    */
  def q185KnTrigram(spark: SparkSession, dir: String): DataFrame =
    knTrigramPerplexity(docs(spark, dir), minCount = 1L)

  /** The gated trigram prune dial: hapax trigram types dropped
    * (min_count = 2), hash-verified like q182. The 500k-doc ladder rung
    * prices what the prune buys at order 3 (SCALE.md r18).
    */
  def q186Kn3Pruned(spark: SparkSession, dir: String): DataFrame =
    knTrigramPerplexity(docs(spark, dir), minCount = 2L)

  /** Overlapping document chunking (the RAG / context-window prep stage):
    * 64-token windows at stride 48, short docs yield one chunk, the final
    * partial window is kept. Pure per-row explode — the chunk table
    * pipelines out of the scan with no shuffle; chunk identity is the md5
    * of the joined window so downstream chunk-level dedup composes with
    * q44.
    */
  def q74ChunkDocs(spark: SparkSession, dir: String): DataFrame = {
    val (win, stride) = (64, 48)
    docs(spark, dir)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("n_tok", size(col("tokens")))
      .withColumn("n_chunks",
        when(col("n_tok") > win,
          ceil((col("n_tok") - win).cast("double") / stride).cast("int") + 1)
          .otherwise(lit(1)))
      .select(col("doc_id"), col("n_tok"), col("tokens"),
        posexplode(expr(s"transform(sequence(0, n_chunks - 1), k -> k * $stride)"))
          .as(Seq("chunk_idx", "start")))
      .withColumn("chunk_len", least(lit(win), col("n_tok") - col("start")))
      .withColumn("chunk_hash",
        md5(concat_ws(" ", expr(s"slice(tokens, start + 1, $win)"))))
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        col("chunk_len"), col("chunk_hash"))
  }

  /** Duplicate-span analysis — the corpus-overlap metric (Lee et al.'s
    * "Deduplicating Training Data…" measurement shape) computed at q74's
    * chunk granularity: for every document, the fraction of its 64-token
    * chunks whose content hash also appears in ANOTHER document. This is
    * the diagnostic between exact dedup (q44: whole-doc) and near-dup
    * (q46/q47): it localizes PARTIAL overlap — boilerplate, quoted spans,
    * syndicated paragraphs — that whole-doc hashing misses and
    * signature dedup only scores in aggregate.
    *
    * Scale shape: chunks are q74's shuffle-free per-row explode (ONE
    * shared kernel — this query cannot drift from q74's chunking); the
    * hash frequency table is a map-side-combined aggregate keyed by
    * chunk hash, the join back is hash-keyed (both exchanges scale with
    * DISTINCT chunk volume, not corpus size), and the per-doc rollup is
    * one more hash aggregate. Nothing global, nothing all-pairs —
    * duplicate-span detection without a single pairwise comparison.
    * Cross-doc by definition: a hash repeated only WITHIN one doc is
    * intra-doc repetition (q69's territory), not corpus overlap.
    */
  def q99DupSpans(spark: SparkSession, dir: String): DataFrame = {
    val chunks = q74ChunkDocs(spark, dir)
      .select(col("doc_id"), col("chunk_hash"))
    val freq = chunks
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    chunks
      .join(freq, Seq("chunk_hash"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_chunk_frac",
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 6))
      .withColumn("mostly_duplicated", col("dup_chunk_frac") >= 0.5)
  }

  /** 64-token block size shared by q103 and the streaming scrub. */
  private[graft] val SCRUB_BLOCK = 64

  /** Partition `docs` (doc_id, text, …) into consecutive
    * [[SCRUB_BLOCK]]-token blocks: (doc_id, idx, btxt) — the shared
    * explode of q103 and [[graft.streaming.StreamingBlockScrub]] (one
    * definition, the two surfaces cannot drift on block boundaries).
    */
  private[graft] def scrubBlocks(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, cast(ceil(size(tokens) / $SCRUB_BLOCK.0) as int) - 1)," +
            s" k -> array_join(slice(tokens, k * $SCRUB_BLOCK + 1, $SCRUB_BLOCK), ' '))"))
          .as(Seq("idx", "btxt")))

  /** The kept blocks reassembled in document order — the one assembly
    * expression behind q103's md5 and [[graft.CorpusBuild]]'s
    * materialized text.
    */
  private[graft] def scrubAssembled: org.apache.spark.sql.Column =
    array_join(
      transform(
        array_sort(collect_list(when(col("keep"),
          struct(col("idx"), col("btxt"))))),
        s => s.getField("btxt")),
      " ")

  /** The q103 keep rule — ONE definition for the batch query, the corpus
    * builder and the streaming scrub: `keep` iff this row is the globally
    * first occurrence of its block content (lowest (doc_id, idx)) AND
    * `alsoKeep` holds (the streaming scrub passes its not-in-ledger
    * verdict). Adds `h` when the caller has not already materialized it.
    *
    * Shape: the winner per block hash is a `min(struct(doc_id, idx))`
    * AGGREGATE joined back on the hash — NOT a `row_number` window
    * partitioned by `h`. The hottest block in a real corpus (license
    * boilerplate, repeated 10^6-10^7x — the very thing this operator
    * exists to scrub) is the canonical skew key: a window would sort all
    * its occurrences on ONE reducer with no partial aggregation, while
    * the aggregate combines map-side (each task forwards one candidate
    * winner per hash) and the join back is AQE-skew-splittable. The
    * winner is over ALL occurrences, not just `alsoKeep` rows — same as
    * the original window semantics (rank first, then AND the verdict).
    */
  private[graft] def firstOccurrenceKeep(
      blocks: DataFrame,
      alsoKeep: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    // cached: the winners aggregate and the join back BOTH read this
    // frame — without it the upstream block explode + md5 (and, in the
    // streaming scrub, the seen-hash join) execute twice in one plan.
    // A caller that already cached its blocks re-registers the same
    // plan: cacheQuery is a no-op on an already-cached query
    val withH = graft.CacheScope.cache(
      if (blocks.columns.contains("h")) blocks
      else blocks.withColumn("h", md5(col("btxt"))))
    val winners = withH
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("_first"))
    withH.join(winners, Seq("h"))
      .withColumn("keep", alsoKeep &&
        col("doc_id") === col("_first.doc_id") && col("idx") === col("_first.idx"))
      .drop("_first")
  }

  /** Per-doc scrub verdicts over a keep-marked block frame
    * (doc_id, idx, btxt, keep): block/removed counts + md5 of the
    * reassembled surviving text (in-row `array_sort` by idx — bounded by
    * document length). Shared by q103 and the streaming scrub.
    */
  private[graft] def scrubVerdicts(marked: DataFrame): DataFrame =
    marked
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_removed"),
        md5(scrubAssembled).as("scrubbed_md5"))

  /** Duplicate-span SCRUBBING — the transform counterpart of q99's
    * diagnostic (Lee et al.'s "deduplicating training data" REMOVAL
    * step): partition every document into consecutive 64-token blocks
    * ([[scrubBlocks]]), keep only the globally first occurrence of each
    * block's content ([[firstOccurrenceKeep]]), and reassemble the
    * surviving text in document order ([[scrubVerdicts]]).
    * Non-overlapping blocks, not q74's strided chunks: removal needs a
    * partition of the text (drop a block, the rest still reads), where
    * the overlap that helps q99 DETECT shifted duplicates would make
    * removal ambiguous.
    *
    * Scale shape: block explode is per-row; the only wide exchanges are
    * keyed by block hash and by doc_id (the reassembly aggregate). Docs
    * with nothing removed reassemble to their exact original text
    * (spec-pinned via md5).
    */
  def q103DedupScrub(spark: SparkSession, dir: String): DataFrame =
    scrubVerdicts(firstOccurrenceKeep(scrubBlocks(docs(spark, dir))))

  /** Occurrence count at which a block is "hot" and dropped EVERYWHERE. */
  val HOT_BLOCK_MIN = 3

  /** Hot-block removal — the C4/CCNet drop-ALL rule, the second block
    * scrub modality next to q103's keep-first: a 64-token block whose
    * content occurs ≥ [[HOT_BLOCK_MIN]] times in the corpus is removed
    * from EVERY document, first occurrence included. Keep-first is the
    * dedup stance (one copy of everything survives); drop-all is the
    * boilerplate stance — content repeated that often is template, and no
    * copy belongs in training data. Same [[scrubBlocks]] partition and
    * [[scrubVerdicts]] reassembly, so the two modalities cannot drift on
    * block boundaries.
    *
    * Scale shape: the block frequency is a map-side-combined count keyed
    * by block hash; the hot set it yields is TINY by construction (the
    * rule exists because hot blocks are rare contents with huge counts),
    * so the join back is AQE-broadcastable, and the hottest key never
    * concentrates — unlike a keep-first rank, drop-all needs no winner
    * per hash at all, just membership.
    */
  def q127HotBlockScrub(spark: SparkSession, dir: String): DataFrame = {
    // cached: the frequency aggregate and the join back both read the
    // exploded block stream
    val blocks = graft.CacheScope.cache(
      scrubBlocks(docs(spark, dir)).withColumn("h", md5(col("btxt"))))
    val hot = blocks.groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= HOT_BLOCK_MIN)
      .select(col("h"), lit(true).as("_hot"))
    scrubVerdicts(
      blocks.join(hot, Seq("h"), "left")
        .withColumn("keep", col("_hot").isNull))
  }

  /** The composed ingest pipeline — the three curation stages a corpus
    * batch runs on the way in, as ONE oracled query: repetition-quality
    * gate (q69's kernel) → bloom-gated decontamination of the survivors
    * (q96's kernel at [[BloomGate.GRAM_N]]) → exact content dedup of the
    * clean remainder (q44's min-id rule). Every per-doc verdict is
    * reported with stage SHORT-CIRCUIT semantics: a stage's flag is
    * false for docs eliminated upstream (the stage never saw them), and
    * `kept` marks the docs that exit the pipe.
    *
    * The batch twin of the spec'd streaming chain (quality gate → scrub
    * → dedup, StreamingSpec) — here the composition itself is
    * correctness-gated: the DuckDB oracle states all three stages in one
    * SQL and the hash match certifies the composed result, not just each
    * stage alone. Each stage keeps its own scale shape (per-row quality,
    * map-side bloom + gram-keyed verify, content-hash-keyed dedup); the
    * assembly adds only id-keyed left joins of corpus-bounded verdict
    * tables.
    */
  def q100IngestPipeline(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // stage 1: repetition quality over the corpus (shared q69 kernel);
    // cached — feeds the stage-2 gram pass, the dedup hash, and assembly
    val q1 = graft.CacheScope.cache(
      repetitionScored(Spread.scan(d.filter(col("source") =!= "src0")))
        .select(col("doc_id"), col("text"), col("flagged").as("quality_flagged")))
    // stage 2: bloom-gated decontamination of quality survivors
    // (shared q96 kernels: distributed sketch, map-side gate, exact verify)
    val evalGrams = graft.CacheScope.cache(
      tokenGrams(d.filter(col("source") === "src0"), BloomGate.GRAM_N)
        .select(col("gram")).distinct())
    val bloom = BloomGate.buildBloom(evalGrams)
    val surv1 = q1.filter(!col("quality_flagged"))
    // cached: the gate feeds BOTH stage 3's input filter and the final
    // assembly — uncached, the corpus gram explode + verify join (the
    // pipeline's heaviest stage) runs twice. The cached frame is ids
    // only, corpus-bounded.
    val contaminated = graft.CacheScope.cache(
      BloomGate.bloomGate(tokenGrams(surv1, BloomGate.GRAM_N), bloom)
        .join(evalGrams, Seq("gram"))
        .select(col("doc_id")).distinct()
        .withColumn("c_hit", lit(true)))
    // stage 3: exact dedup (q44's min-id keeper rule) over clean docs;
    // cached for the same reason — keeper derivation and the assembly
    // join both consume it, and it is (doc_id, h) only
    val s2 = graft.CacheScope.cache(surv1.join(contaminated, Seq("doc_id"), "left")
      .filter(col("c_hit").isNull)
      .select(col("doc_id"), md5(col("text")).as("h")))
    val keepers = s2.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    q1.select(col("doc_id"), col("quality_flagged"))
      .join(contaminated, Seq("doc_id"), "left")
      .join(s2.join(keepers, Seq("h")).select(col("doc_id"), col("keeper")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality_flagged"),
        coalesce(col("c_hit"), lit(false)).as("contaminated"),
        (col("keeper").isNotNull && col("doc_id") =!= col("keeper")).as("is_dup"),
        (col("keeper").isNotNull && col("doc_id") === col("keeper")).as("kept"))
  }

  /** Temperature-weighted source mixing (the data-mix stage a multi-source
    * training corpus ends with): per-source quotas ∝ √(source share)
    * — temperature 0.5, the up-sample-the-tail shape — with a target
    * budget of 200 docs, each source contributing its quota's
    * lowest-content-hash documents (reproducible "random" sampling, the
    * q63 trick). The quota table is sources-sized (broadcast).
    *
    * Shape: `source` has a handful of values, so a single ranked-take
    * window over it funnels the whole corpus through #sources reducers —
    * this rides [[Ranked.twoPhaseTopK]] (q86's local-then-global quota)
    * with the source's own quota column as the per-row bound.
    */
  def q75TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val z = counts.agg(sum(sqrt(col("n_s"))).as("z"))
    val quota = counts.crossJoin(broadcast(z))
      .withColumn("w", round(sqrt(col("n_s")) / col("z"), 6))
      .withColumn("quota", floor(col("w") * 200).cast("int"))
      .select(col("source"), col("w"), col("quota"))
    Ranked.twoPhaseTopK(
      d.withColumn("h", md5(col("text"))).join(broadcast(quota), Seq("source")),
      Seq(col("source")), Seq(col("h"), col("doc_id")), col("quota"))
      .select(col("doc_id"), col("source"), col("rk"), col("w"))
  }

  /** Data Selection via Importance Resampling (the DSIR shape, Xie et
    * al. 2023): score every raw document by how much more likely its
    * hashed-bigram features are under a TARGET distribution (here the
    * `src0` slice — the same held-out split the decontamination queries
    * treat as eval) than under the raw-corpus distribution, then select
    * the top-k. Features are word bigrams hashed into [[DSIR_BUCKETS]]
    * buckets; both bucket models are add-1-smoothed unigram-over-buckets
    * distributions, and a document's log importance weight is the sum of
    * its features' log-likelihood ratios.
    *
    * Scale shape: the feature stream is a per-row explode (cached — the
    * two bucket models and the scoring pass all read it); both models
    * aggregate map-side down to ≤ [[DSIR_BUCKETS]] rows and BROADCAST
    * back, so scoring is a map-side join inside the explode's codegen
    * span; the per-doc weight is one hash aggregate keyed by doc_id. The
    * only corpus-wide exchanges are the bucket-count combines (bounded by
    * bucket cardinality) and the doc_id aggregate. Selection of the
    * global top-k rides [[Ranked.twoPhaseTopK]] (no single-reducer global
    * sort), and the k winners broadcast back as the `selected` flag.
    */
  val DSIR_BUCKETS = 4096
  val DSIR_TOP_K = 100

  /** (doc_id [, keep...], b) hashed-bigram feature stream of a
    * (doc_id, text) frame — the shared DSIR kernel (q106 build, q113
    * index build + serve, the streaming gate).
    */
  private[graft] def dsirFeats(df: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val passthru = col("doc_id") +: keep.map(col)
    df.select(passthru :+ split(col("text"), " ").as("toks"): _*)
      .filter(size(col("toks")) > 1)
      .select(passthru :+ explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> concat(toks[i - 1], ' ', toks[i]))""".stripMargin)).as("bg"): _*)
      .select(passthru :+
        pmod(conv(substring(md5(col("bg")), 1, 15), 16, 10).cast("long"),
          lit(DSIR_BUCKETS)).as("b"): _*)
  }

  /** The (b, lr) log-likelihood-ratio table over the raw side's buckets
    * (every bucket the BUILD corpus can score is present in `raw` by
    * construction; target counts fill to 0 — smoothing handles absence).
    */
  private[graft] def dsirModelOf(tgtFeats: DataFrame, rawFeats: DataFrame): DataFrame = {
    val b = DSIR_BUCKETS
    val tgt = tgtFeats.groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val raw = rawFeats.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val totals = tgt.agg(sum(col("ct")).as("tt"))
      .crossJoin(raw.agg(sum(col("cr")).as("tr")))
    raw.join(tgt, Seq("b"), "left").crossJoin(broadcast(totals))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + 1).cast("double") / (col("tt") + b)) -
          log((col("cr") + 1).cast("double") / (col("tr") + b))).as("lr"))
  }

  /** Per-doc (doc_id, n_feats, log_w_micro) under a (b, lr) model —
    * broadcast join inside the feature explode's codegen span. Features in
    * buckets the model never saw (possible only for post-build documents)
    * score the both-unseen smoothed ratio `defaultLr`.
    *
    * The weight is summed in MICRO-UNITS: each feature's lr is rounded
    * once to a 64-bit integer of 1e-6 units and the per-doc sum is exact
    * integer arithmetic — ORDER-INDEPENDENT, so the score is bitwise
    * reproducible across partitionings, build vs serve, and engines
    * (a double `sum` is order-dependent; a doc whose unrounded sum sits
    * within an ulp of a rounding boundary could otherwise flip `selected`
    * at the frozen threshold). `log_w = log_w_micro / 1e6` is derived for
    * display; all comparisons run on the integer.
    */
  private[graft] def dsirWeightsOf(rawFeats: DataFrame, model: DataFrame,
                                   defaultLr: org.apache.spark.sql.Column = lit(null)
                                  ): DataFrame =
    rawFeats
      .join(broadcast(model), Seq("b"), "left")
      .withColumn("_lr", coalesce(col("lr"), defaultLr))
      .filter(col("_lr").isNotNull)
      .withColumn("_lrm", round(col("_lr") * 1e6, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("_lrm")).as("log_w_micro"))

  /** The display weight of a micro-unit sum — ONE definition (and one
    * oracle-mirrored expression) for every DSIR surface.
    */
  private[graft] def dsirLogW(micro: org.apache.spark.sql.Column) =
    round(micro / 1e6, 6)

  def q106DsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val feats = graft.CacheScope.cache(dsirFeats(docs(spark, dir), Seq("source")))
    val rawF = feats.filter(col("source") =!= "src0")
    val model = dsirModelOf(feats.filter(col("source") === "src0"), rawF)
    val weights = dsirWeightsOf(rawF, model)
    val winners = Ranked.twoPhaseTopK(weights, Seq.empty,
      Seq(col("log_w_micro").desc, col("doc_id")), lit(DSIR_TOP_K))
      .select(col("doc_id"), lit(true).as("_sel"))
    weights.join(broadcast(winners), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_feats"), dsirLogW(col("log_w_micro")).as("log_w"),
        coalesce(col("_sel"), lit(false)).as("selected"))
  }

  /** Materialized DSIR index — the serving half of q106 (the q109/q97
    * shape applied to the importance model): the bucket LLR table lands
    * as parquet; the meta freezes the totals (for the both-unseen
    * default ratio) and the SELECTION THRESHOLD — the k-th winner's
    * (log_w_micro, doc_id) under the build corpus's deterministic order,
    * so serving the build corpus reproduces top-k membership EXACTLY
    * (doc_id uniqueness makes the order total; `>` on the pair is
    * membership — and because the weight is an order-independent 64-bit
    * micro-unit sum, the serve-pass recomputation is bitwise identical to
    * the build pass by construction, not by summation-order luck).
    */
  def writeDsirIndex(spark: SparkSession, dir: String, path: String): Unit =
    IndexMeta.commit(spark, path, "graft DSIR importance index") {
      val feats = graft.CacheScope.cache(dsirFeats(docs(spark, dir), Seq("source")))
      val rawF = feats.filter(col("source") =!= "src0")
      val tgtF = feats.filter(col("source") === "src0")
      dsirModelOf(tgtF, rawF).write.mode("overwrite").parquet(s"$path/model")
      val modelR = spark.read.parquet(s"$path/model")
      val weights = dsirWeightsOf(rawF.select(col("doc_id"), col("b")), modelR)
      val kth = Ranked.twoPhaseTopK(weights, Seq.empty,
        Seq(col("log_w_micro").desc, col("doc_id")), lit(DSIR_TOP_K))
        .filter(col("rk") === DSIR_TOP_K)
        .select(col("log_w_micro"), col("doc_id")).collect()
      val (thrM, thrId) =
        if (kth.isEmpty) (Long.MinValue, Long.MaxValue)
        else (kth(0).getLong(0), kth(0).getLong(1))
      val (tt, tr) = (tgtF.count(), rawF.count())
      Seq("kind" -> "dsir_llr", "buckets" -> DSIR_BUCKETS.toString,
        "top_k" -> DSIR_TOP_K.toString,
        "thr_m" -> thrM.toString, "thr_id" -> thrId.toString,
        "tt" -> tt.toString, "tr" -> tr.toString)
    }

  private[graft] final case class LoadedDsirIndex(
      model: DataFrame, thrM: Long, thrId: Long, defaultLr: Double)

  private[graft] def loadDsirIndex(spark: SparkSession, path: String): LoadedDsirIndex = {
    val props = IndexMeta.read(spark, path, rebuildHint = "writeDsirIndex")
    // thr_m replaced thr_w when the weight went micro-unit: an index from
    // the double-sum era must be rebuilt, not NPE'd on a missing key
    def req(k: String): String = {
      val v = props.getProperty(k)
      if (v == null) throw new IllegalStateException(
        s"DSIR index at $path lacks meta key '$k' (pre-micro-unit build?) — " +
          "re-run writeDsirIndex")
      v
    }
    val b = req("buckets").toLong
    val (tt, tr) = (req("tt").toLong, req("tr").toLong)
    LoadedDsirIndex(
      spark.read.parquet(s"$path/model"),
      req("thr_m").toLong,
      req("thr_id").toLong,
      math.log(1.0 / (tt + b)) - math.log(1.0 / (tr + b)))
  }

  /** Score + select a (doc_id, text) frame against a loaded index — the
    * per-batch kernel of the streaming gate and the q113 serve path.
    * `selected` is the FROZEN threshold rule: (log_w_micro, doc_id) beats
    * the stored k-th winner — on the build corpus this IS top-k
    * membership, exactly: both sides of the comparison are 64-bit
    * integers whose value cannot depend on partitioning or summation
    * order.
    */
  private[graft] def dsirAgainstLoaded(docsDf: DataFrame,
                                       idx: LoadedDsirIndex): DataFrame =
    dsirWeightsOf(dsirFeats(docsDf), idx.model, lit(idx.defaultLr))
      .select(col("doc_id"), col("n_feats"), dsirLogW(col("log_w_micro")).as("log_w"),
        (col("log_w_micro") > idx.thrM ||
          (col("log_w_micro") === idx.thrM && col("doc_id") <= idx.thrId)).as("selected"))

  /** q106 served from the materialized importance model: same answer,
    * zero retrain — the serve plan reads the stored LLR table (broadcast)
    * and the frozen threshold, never re-aggregating either corpus side.
    */
  def q113DsirIndex(spark: SparkSession, dir: String): DataFrame = {
    val path = Tables.derivedIndexPath("graft_dsir_llr_v2", dir, "documents")
    IndexMeta.ensure(spark, path) { writeDsirIndex(spark, dir, path) }
    dsirAgainstLoaded(
      docs(spark, dir).filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text")),
      loadDsirIndex(spark, path))
  }

  /** UniMax source mixing (Chung et al. 2023): allocate a fixed token
    * budget across sources as UNIFORMLY as possible subject to a per-source
    * epoch cap — no source is repeated more than [[UNIMAX_EPOCHS]] times,
    * and the budget the capped tail can't absorb spreads evenly over the
    * rest. Budget = half the corpus's total tokens. The greedy
    * (ascending-size water-filling) has a closed form over the sorted
    * per-source counts: source i (1-based, ascending) is CAPPED iff
    * `E·n_i·(m−i+1) ≤ T − E·Σ_{j<i} n_j` — once the inequality fails it
    * fails for every larger source, so the capped set is a prefix — and
    * every uncapped source gets the equal share of what the capped prefix
    * left behind. All comparisons are exact 64-bit integer arithmetic.
    *
    * Scale shape: the ONLY corpus-wide work is the per-source token count
    * (map-side combined); everything after — the sort-order windows, the
    * prefix test, the leftover division — runs on the #sources-row
    * aggregate, a frame of config cardinality, not corpus cardinality.
    */
  val UNIMAX_EPOCHS = 2L

  def q107UnimaxMix(spark: SparkSession, dir: String): DataFrame = {
    val e = UNIMAX_EPOCHS
    val counts = docs(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("n_s"))
    val order = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_s"), col("source"))
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val ranked = counts
      .withColumn("m", count(lit(1)).over(all))
      // `div`, not `/`: Spark's `/` on longs routes through double, which
      // loses exactness past 2^53 total tokens; `div` keeps the budget in
      // 64-bit integer arithmetic (the oracle's `//`) at any corpus size
      .withColumn("_t_total", sum(col("n_s")).over(all))
      .withColumn("t_budget", expr("_t_total div 2"))
      .withColumn("i", row_number().over(order))
      .withColumn("cum_prev",
        coalesce(sum(col("n_s")).over(order.rowsBetween(Long.MinValue, -1)), lit(0L)))
      .withColumn("capped",
        lit(e) * col("n_s") * (col("m") - col("i") + 1) <=
          col("t_budget") - lit(e) * col("cum_prev"))
    val leftover = ranked
      .withColumn("cap_n", when(col("capped"), col("n_s")).otherwise(lit(0L)))
      .withColumn("n_capped", sum(when(col("capped"), 1L).otherwise(0L)).over(all))
      .withColumn("cap_sum", sum(col("cap_n")).over(all))
      .withColumn("share",
        (col("t_budget") - lit(e) * col("cap_sum")).cast("double") /
          (col("m") - col("n_capped")))
    leftover
      .withColumn("alloc_tokens",
        round(when(col("capped"), (lit(e) * col("n_s")).cast("double"))
          .otherwise(col("share")), 6))
      .withColumn("epochs", round(col("alloc_tokens") / col("n_s"), 6))
      .select(col("source"), col("n_s"), col("capped"),
        col("alloc_tokens"), col("epochs"))
  }

  /** Zipf head depth for q162 — the power law lives in the frequency
    * head; a bounded rank cut keeps the fit frame rank-bounded at any
    * vocabulary.
    */
  val ZIPF_TOP = 256

  /** Zipf-slope naturalness audit (q162): per source, the least-squares
    * slope of ln(freq) on ln(rank) over the top-[[ZIPF_TOP]] tokens —
    * natural language sits near −1 (Zipf 1949); machine-generated or
    * template text flattens toward 0, and THIS fixture's synthetic
    * 31-token pool measures exactly that flattening (the audit flagging
    * its own test data as synthetic is the demonstration). Ranks come
    * from the shared two-phase take, NEVER a vocabulary-wide per-source
    * window; ln(rank) and ln(count) are ln of exact integers
    * micro-rounded once, and the slope is
    * (n·Σxy − Σx·Σy)/(n·Σx² − Σx²) over DECIMAL(38,0) sums of exact
    * longs (the q160 rational discipline) — ONE double division at the
    * end, bit-identical on any engine and partitioning.
    */
  def q162ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val counts = docs(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val ranked = Ranked.twoPhaseTopK(counts, Seq(col("source")),
      Seq(col("c").desc, col("w")), lit(ZIPF_TOP))
    val xy = ranked
      .withColumn("x", round(log(col("rk").cast("double")) * 1e6, 0)
        .cast("long").cast("decimal(38,0)"))
      .withColumn("y", round(log(col("c").cast("double")) * 1e6, 0)
        .cast("long").cast("decimal(38,0)"))
    xy.groupBy(col("source"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n").cast("long").as("n_ranks"),
        when(col("n") * col("sxx") =!= col("sx") * col("sx"),
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")))
          .as("zipf_slope"))
  }

  /** Split-drift audit (q173): the Kolmogorov–Smirnov statistic between
    * the train and test token-length distributions under q80's
    * content-hash split — the DISTRIBUTIONAL complement of q102's
    * leakage audit: leakage asks "do the splits share documents?", this
    * asks "do they even look alike?" (a hash split should read D ≈ 0; a
    * time- or source-correlated split would not). D = max_L
    * |F_train(L) − F_test(L)| evaluated EXACTLY: per-length counts,
    * cumulative sums, and the gap compared as |cum_a·n_b − cum_b·n_a|
    * in DECIMAL(38,0) (cross-multiplied CDFs — no division until the
    * single emitted D), argmax ties to the smallest length via
    * min(struct(−gap, L)).
    *
    * Scale shape: ONE map-side (len, split) count; everything after
    * runs on the #distinct-lengths frame — bounded by the max document
    * length (a VALUE bound, not a corpus bound), which is why the
    * cumulative window may run single-partition where a corpus-keyed
    * window could not. Split totals are a 2-row driver scalar.
    */
  def q173SplitDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .select(size(split(col("text"), " ")).cast("long").as("len"),
        when(contentBucket < 90, "train")
          .when(contentBucket < 95, "valid")
          .otherwise("test").as("split"))
      .filter(col("split") =!= "valid")
    val counts = graft.CacheScope.cache(
      d.groupBy(col("len"), col("split")).agg(count(lit(1)).as("c")))
    val totals = counts.groupBy(col("split")).agg(sum(col("c")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (nA, nB) = (totals.getOrElse("train", 0L), totals.getOrElse("test", 0L))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("len")).rowsBetween(Long.MinValue, 0)
    counts.groupBy(col("len"))
      .agg(sum(when(col("split") === "train", col("c")).otherwise(0L)).as("ca"),
        sum(when(col("split") === "test", col("c")).otherwise(0L)).as("cb"))
      .withColumn("cum_a", sum(col("ca")).over(w).cast("decimal(38,0)"))
      .withColumn("cum_b", sum(col("cb")).over(w).cast("decimal(38,0)"))
      .withColumn("gap",
        abs(col("cum_a") * lit(nB) - col("cum_b") * lit(nA)))
      .agg(min(struct((-col("gap")).as("ng"), col("len").as("l"))).as("_m"))
      .select(lit(nA).as("n_train"), lit(nB).as("n_test"),
        col("_m.l").as("at_length"),
        ((-col("_m.ng")).cast("double") /
          (lit(nA).cast("decimal(38,0)") * lit(nB)).cast("double"))
          .as("d_stat"))
  }

  /** Mix-concentration audit (q171): the Gini coefficient of per-source
    * token mass, per language and for the whole corpus ('*' row) — the
    * single number that says whether a mix is balanced (0) or one domain
    * owns it (→1), the quantity q107/q116/q157 exist to push DOWN. Uses
    * the sorted closed form G = Σ(2i−n−1)·x_(i) / (n·Σx): the numerator
    * is an exact 64-bit sum over the ascending (n_s, source) order, the
    * value ONE division of exact integers — bit-identical cross-engine,
    * no rounding at all. Ties are weight-invariant (equal x swaps change
    * nothing), so the order tiebreak is cosmetic.
    *
    * Scale shape: one map-side per-(lang, source) count; ranking windows
    * only the #sources-row frame (config cardinality — the q107/q134
    * pattern); the corpus row reuses the same frame re-keyed, not a
    * second scan.
    */
  def q171MixGini(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.CacheScope.cache(docs(spark, dir)
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("lang"), col("source")).agg(sum(col("n_tok")).as("n_s")))
    def gini(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n_s"), col("source"))
      val all = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).rowsBetween(Long.MinValue, Long.MaxValue)
      df.withColumn("i", row_number().over(w))
        .withColumn("n", count(lit(1)).over(all))
        .withColumn("tot", sum(col("n_s")).over(all))
        .withColumn("_t", (lit(2L) * col("i") - col("n") - 1L) * col("n_s"))
        .groupBy(col("lang"), col("n"), col("tot"))
        .agg(sum(col("_t")).as("_num"))
        .select(col("lang"), col("n").cast("long").as("n_sources"),
          col("tot").as("total_tokens"),
          (col("_num").cast("double") /
            (col("n") * col("tot")).cast("double")).as("gini"))
    }
    gini(counts).unionByName(gini(
      counts.groupBy(col("source")).agg(sum(col("n_s")).as("n_s"))
        .withColumn("lang", lit("*"))))
  }

  /** Source-confusion matrix (q161): cross-entropy of every source's
    * unigram distribution under every other source's add-1-smoothed
    * unigram LM — H(p_s, q_t) = −Σ_w p_s(w)·ln q_t(w) — the
    * domain-similarity matrix a mixing policy (q107/q116/q157) consults
    * before merging or reweighting domains, and the distribution-level
    * sibling of q121's near-dup mirror matrix. Gibbs' inequality puts
    * the diagonal at (essentially) each row's minimum; a far-off-diagonal
    * cell is a domain the target LM finds alien.
    *
    * Determinism: each term is c_s(w) · ln((n_t + V)/(c_t(w) + 1)) — the
    * ln of a ratio of exact integers in RATIO form (the q152 discipline),
    * micro-rounded per TERM and summed as 64-bit integers weighted by
    * exact counts, so H is partitioning-independent; the final mean is
    * one division.
    *
    * Scale shape: per-(source, token) counts aggregate map-side (the
    * only corpus-sized exchange); the matrix build is a token-keyed
    * LEFT join of that vocab-sized frame against its per-target twin —
    * (s, t, w) rows ≤ m²·V with m config-bounded — and the result is an
    * m²-row frame. Absent (s-token, t) cells smooth to count 0 (add-1)
    * through the join's null.
    */
  /** The loud contract behind q161's m² shape: the confusion matrix is
    * O(m²·V) in the source count m, which is fine for the config-bounded
    * source taxonomies it exists for and catastrophic if someone points
    * it at, say, per-domain sources. Callers above the cap should
    * stratify first — group long-tail sources into an "other" bucket or
    * compute the matrix on a sampled source subset — rather than have
    * this operator silently plan a million-cell cross join.
    */
  val MAX_CONFUSION_SOURCES = 64L

  def q161SourceConfusion(spark: SparkSession, dir: String): DataFrame = {
    // NO Spread.scan (r19 same-set repeat-5 A/B, adjudicating the r18
    // verdict's q161 suspicion: 1.46/1.43 respread vs 1.03/0.87 plain —
    // the tokenize+explode is cheap and the (source, w) aggregation's
    // map-side combine dedups best over few large partitions)
    val counts = graft.CacheScope.cache(docs(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c")))
    val totals = graft.CacheScope.cache(counts.groupBy(col("source"))
      .agg(sum(col("c")).as("n_s")))
    // ONE construction job computes both bounded scalars (guide §1 fewer
    // jobs): m = distinct sources = totals' row count, vocab = distinct
    // tokens — a single aggregate over the counts cache, which it also
    // materializes (the totals cache then builds from cached data, so the
    // r18 cache-race storm cannot occur: by the time the cells job's two
    // totals consumers run, counts is already materialized and totals is
    // trivial to compute even if raced).
    val mv = counts.agg(countDistinct(col("source")), countDistinct(col("w"))).head()
    val m = mv.getLong(0) // bounded scalar: #sources
    require(m <= MAX_CONFUSION_SOURCES,
      s"q161 source-confusion is O(m^2 * vocab) in the source count; " +
        s"m=$m exceeds $MAX_CONFUSION_SOURCES — bucket or sample sources first " +
        "(see MAX_CONFUSION_SOURCES)")
    val vocab = mv.getLong(1) // bounded scalar
    val cells = counts
      .select(col("source").as("s"), col("w"), col("c").as("c_s"))
      .join(totals.select(col("source").as("s"), col("n_s")), Seq("s"))
      // m target rows per s-token row — the config-bounded fan-out
      .crossJoin(broadcast(
        totals.select(col("source").as("t"), col("n_s").as("n_t"))))
      .join(counts.select(col("source").as("t"), col("w"),
        col("c").as("c_t")), Seq("t", "w"), "left")
      .withColumn("_term",
        col("c_s") * round(log((col("n_t") + lit(vocab)).cast("double") /
          (coalesce(col("c_t"), lit(0L)) + 1).cast("double")) * 1e6, 0).cast("long"))
    cells.groupBy(col("s").as("source_a"), col("t").as("source_b"),
      col("n_s"))
      .agg(sum(col("_term")).as("_hm"))
      .select(col("source_a"), col("source_b"),
        round(col("_hm") / col("n_s") / 1e6, 6).as("cross_entropy"))
  }

  /** Temperature-scaled mixture weights (q157; the multilingual-sampling
    * law of XLM/mBERT — Conneau & Lample 2019 — and T5's mixing knob):
    * p_s ∝ n_s^α flattens the source-size distribution so small domains
    * are up-sampled and giants down-sampled. α is FIXED at 1/2
    * deliberately: n^(1/2) is `sqrt`, the one power IEEE 754 requires
    * correctly rounded — bit-identical on any engine — where a general
    * `pow(n, 0.3)` is not and would put the whole weight column at the
    * mercy of two libms. sqrt(n_s) rounds once to micro-units, the
    * normalizer is an exact 64-bit sum (q116's softmax discipline), and
    * every emitted ratio is one division of exact operands.
    *
    * Scale shape: ONE map-side-combined per-source token count — the only
    * corpus-wide work — then all mixture math happens on the
    * #sources-row frame with the normalizer broadcast back (no window
    * over the corpus, no second pass). The output pairs with q134: these
    * weights are what Hamilton apportionment turns into integer quotas.
    */
  def q157TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val counts = graft.CacheScope.cache(docs(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("n_s"))
      .withColumn("_sm", round(sqrt(col("n_s")) * 1e6, 0).cast("long")))
    val z = counts.agg(sum(col("_sm")).as("z"), sum(col("n_s")).as("total"))
    counts.crossJoin(broadcast(z))
      .select(col("source"), col("n_s"),
        round(col("n_s") / col("total"), 6).as("p_raw"),
        round(col("_sm") / col("z"), 6).as("weight"),
        // the resampling factor a loader applies: >1 up-samples the tail
        round(col("_sm") / col("z") / (col("n_s") / col("total")), 6)
          .as("sample_factor"))
  }

  /** CCNet-style perplexity bucketing: train a bigram LM on the TARGET
    * slice only (`src0` — the Wikipedia stand-in), score every raw
    * document by mean negative log-likelihood under it, and split the
    * corpus into head/middle/tail by exact terciles — the CCNet
    * head=keep / middle=maybe / tail=drop law. Differs from q73 (the LM
    * there is the corpus itself) exactly where the scale shape differs:
    *
    * Scale shape: the target LM's unigram/bigram count tables are
    * TARGET-sized (a curated reference corpus, small by construction), so
    * both BROADCAST and scoring is a map-side join chain inside the raw
    * side's bigram-explode codegen span — the 100 TB corpus never
    * shuffles its text, unlike q73's corpus-self model whose count tables
    * must stay distributed (and salted). The per-doc mean is one hash
    * aggregate keyed by doc_id; the tercile boundaries are ONE exact
    * percentile aggregate broadcast back (q88's trick — no ntile global
    * sort), and the bucket label is a pure map.
    */
  /** (doc_id, w1, w2) token-bigram stream of a `toks`-array frame — the
    * shared CCNet kernel (q108 build, q109 index build + serve, the
    * streaming gate).
    */
  private[graft] def ccnetBigrams(df: DataFrame): DataFrame = df
    .filter(size(col("toks")) > 1)
    .select(col("doc_id"), explode(expr(
      """transform(sequence(1, size(toks) - 1),
        |  i -> struct(toks[i - 1] AS w1, toks[i] AS w2))""".stripMargin)).as("b"))
    .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  private[graft] def ccnetToks(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("toks"))

  /** (uni, vocab, big) count tables of a target `toks` slice — the ONE
    * target-LM definition behind q108, the q109 index build, and q116's
    * reference distribution; a smoothing or tokenization change lands in
    * all three or none.
    */
  private def ccnetTargetModel(tgt: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val uni = tgt.select(explode(col("toks")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val big = ccnetBigrams(tgt).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    (uni, vocab, big)
  }

  /** Per-doc mean negative log-likelihood of `rawBig` under the target
    * bigram model `(tgtUni, tgtBig, vocab)` — both model tables broadcast
    * (target-sized), the raw side never shuffles before its doc_id
    * aggregate. ONE definition for the inline query, the index build's
    * boundary pass, and index serving.
    *
    * Like [[dsirWeightsOf]], the per-bigram nll is rounded ONCE to a
    * 64-bit integer of 1e-6 units and summed with exact integer
    * arithmetic — order-independent, so a doc's `avg_nll` (and therefore
    * its side of the frozen tercile boundaries) is bitwise reproducible
    * across partitionings and build/serve passes; a double `avg` could
    * drift an ulp with summation order and flip the bucket of a doc
    * sitting exactly on a stored boundary.
    */
  private[graft] def ccnetScores(rawBig: DataFrame, tgtUni: DataFrame,
                                 tgtBig: DataFrame, vocab: DataFrame): DataFrame =
    rawBig
      .join(broadcast(tgtBig), Seq("w1", "w2"), "left")
      .join(broadcast(tgtUni), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("nll", -log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
        (coalesce(col("c1"), lit(0L)) + col("v"))))
      .withColumn("_nm", round(col("nll") * 1e6, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_nm")).as("_nms"))
      .withColumn("avg_nll", round(col("_nms") / col("n_bigrams") / 1e6, 6))
      .drop("_nms")

  /** Head/middle/tail labeling against two boundary columns — the tie
    * rule (`<=`) shared by the inline and stored-boundary paths.
    */
  private[graft] def ccnetBucketed(scored: DataFrame,
      b0: org.apache.spark.sql.Column, b1: org.apache.spark.sql.Column): DataFrame =
    scored.select(col("doc_id"), col("n_bigrams"), col("avg_nll"),
      when(col("avg_nll") <= b0, "head")
        .when(col("avg_nll") <= b1, "middle")
        .otherwise("tail").as("bucket"))

  def q108CcnetBuckets(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.CacheScope.cache(docs(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks")))
    val tgt = toks.filter(col("source") === "src0")
    val (tgtUni, vocab, tgtBig) = ccnetTargetModel(tgt)
    // cached: the tercile aggregate and the bucket projection both read
    // the per-doc scores — uncached, the full scoring pass runs twice
    val perDoc = graft.CacheScope.cache(ccnetScores(
      ccnetBigrams(toks.filter(col("source") =!= "src0")), tgtUni, tgtBig, vocab))
    val bounds = perDoc.agg(expr(
      "percentile(avg_nll, array(double(1)/3, double(2)/3))").as("bs"))
    ccnetBucketed(perDoc.crossJoin(broadcast(bounds)),
      expr("bs[0]"), expr("bs[1]"))
  }

  /** Materialized CCNet LM index — the batch half of the serving pair
    * (q82/q91/q97 shape applied to the q108 model): the target slice's
    * unigram/bigram count tables land as parquet, the vocabulary size and
    * the tercile boundaries (computed over the BUILD corpus through the
    * exact parquet round-trip the serve path will read) land in the meta.
    */
  def writeCcnetIndex(spark: SparkSession, dir: String, path: String): Unit =
    IndexMeta.commit(spark, path, "graft ccnet LM index") {
      val toks = graft.CacheScope.cache(docs(spark, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks")))
      val (tgtUni, _, tgtBig) = ccnetTargetModel(toks.filter(col("source") === "src0"))
      tgtUni.write.mode("overwrite").parquet(s"$path/uni")
      tgtBig.write.mode("overwrite").parquet(s"$path/big")
      // boundaries via the STORED tables (what serving will read), so the
      // frozen thresholds are exactly the serve-path arithmetic's
      val uniR = spark.read.parquet(s"$path/uni")
      val bigR = spark.read.parquet(s"$path/big")
      val v = uniR.count()
      val bs = ccnetScores(
        ccnetBigrams(toks.filter(col("source") =!= "src0")), uniR, bigR,
        spark.range(1).select(lit(v).as("v")))
        .agg(expr("percentile(avg_nll, array(double(1)/3, double(2)/3))").as("bs"))
        .head().getSeq[Double](0)
      Seq("kind" -> "ccnet_lm", "vocab" -> v.toString,
        "b0" -> java.lang.Double.toString(bs(0)),
        "b1" -> java.lang.Double.toString(bs(1)))
    }

  /** The resolved serving state: model frames + the three scalars. */
  private[graft] final case class LoadedCcnetIndex(
      uni: DataFrame, big: DataFrame, vocab: Long, b0: Double, b1: Double)

  private[graft] def loadCcnetIndex(spark: SparkSession,
                                    path: String): LoadedCcnetIndex = {
    val props = IndexMeta.read(spark, path, rebuildHint = "writeCcnetIndex")
    LoadedCcnetIndex(
      spark.read.parquet(s"$path/uni"),
      spark.read.parquet(s"$path/big"),
      props.getProperty("vocab").toLong,
      java.lang.Double.parseDouble(props.getProperty("b0")),
      java.lang.Double.parseDouble(props.getProperty("b1")))
  }

  /** Score + bucket a (doc_id, text) frame against a loaded index — the
    * per-batch kernel of the streaming gate and the q109 serve path.
    * Boundaries come from the meta (frozen at build time): the serve plan
    * holds NO percentile aggregate and never touches the target slice.
    */
  private[graft] def ccnetAgainstLoaded(docsDf: DataFrame,
                                        idx: LoadedCcnetIndex): DataFrame = {
    val spark = docsDf.sparkSession
    ccnetBucketed(
      ccnetScores(ccnetBigrams(ccnetToks(docsDf)), idx.uni, idx.big,
        spark.range(1).select(lit(idx.vocab).as("v"))),
      lit(idx.b0), lit(idx.b1))
  }

  /** q108 served from the materialized LM: same answer, zero retrain —
    * the scoring plan reads the stored count tables (broadcast) and the
    * frozen boundaries, never re-aggregating the target slice or the
    * score distribution.
    */
  def q109CcnetIndex(spark: SparkSession, dir: String): DataFrame = {
    val path = Tables.derivedIndexPath("graft_ccnet_lm_v2", dir, "documents")
    IndexMeta.ensure(spark, path) { writeCcnetIndex(spark, dir, path) }
    ccnetAgainstLoaded(
      docs(spark, dir).filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text")),
      loadCcnetIndex(spark, path))
  }

  /** DoReMi-flavored domain reweighting (Xie et al. 2023,
    * arXiv:2305.10429, operationalized without proxy training): per
    * SOURCE, the excess of its mean NLL under the TARGET LM (q108's
    * src0-trained bigram model — the reference distribution) over its
    * mean NLL under the CORPUS-self LM (q73's model — the domain's
    * intrinsic predictability). A source that the target model finds
    * unusually surprising *relative to how predictable its text
    * inherently is* sits far from the target distribution; mixture
    * weight = softmax(−excess), up-weighting target-aligned domains
    * (the DSIR selection signal lifted to domain granularity, which is
    * exactly the granularity DoReMi's reweighting acts at).
    *
    * Determinism: per-source means aggregate the per-doc scores in
    * micro-units (exact 64-bit sums — the DSIR/CCNet discipline), and
    * the softmax normalizer sums per-source exp terms as nano-unit
    * integers, so the weights are independent of partitioning and
    * summation order end-to-end. exp(−excess)·1e9 stays far inside the
    * long range for any |excess| ≤ 20 nats — a bound the add-1-smoothed
    * bigram NLL difference cannot exceed in practice (scores are means,
    * not sums).
    *
    * Scale shape: the target-LM pass is q108's (model broadcasts, corpus
    * never shuffles text); the self-LM pass is q73's (distributed count
    * tables, Zipfian head salted); everything after the two doc_id-keyed
    * joins reduces to a #sources-row frame — config cardinality, where
    * the softmax aggregate and broadcast are free.
    */
  def q116DomainWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.CacheScope.cache(docs(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks")))
    val (tgtUni, vocab, tgtBig) =
      ccnetTargetModel(toks.filter(col("source") === "src0"))
    val tgtScores = ccnetScores(
      ccnetBigrams(toks.filter(col("source") =!= "src0")), tgtUni, tgtBig, vocab)
      .select(col("doc_id"), col("avg_nll").as("tgt_nll"))
    val selfScores = q73LmPerplexity(spark, dir)
      .select(col("doc_id"), col("avg_nll").as("self_nll"))
    // Cached: both the softmax normalizer `z` and the final projection
    // consume this #sources-row frame, and its lineage carries BOTH LM
    // scoring passes — uncached they would execute twice.
    val perSource = graft.CacheScope.cache(tgtScores
      .join(selfScores, Seq("doc_id"))
      .join(toks.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("_tm", round(col("tgt_nll") * 1e6, 0).cast("long"))
      .withColumn("_sm", round(col("self_nll") * 1e6, 0).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_tm")).as("_tms"), sum(col("_sm")).as("_sms"))
      .withColumn("tgt_nll", round(col("_tms") / col("n_docs") / 1e6, 6))
      .withColumn("self_nll", round(col("_sms") / col("n_docs") / 1e6, 6))
      .withColumn("excess", round(col("tgt_nll") - col("self_nll"), 6))
      .withColumn("_em", round(exp(-col("excess")) * 1e9, 0).cast("long")))
    val z = perSource.agg(sum(col("_em")).as("z"))
    perSource.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("tgt_nll"), col("self_nll"),
        col("excess"), round(col("_em") / col("z"), 6).as("weight"))
  }

  /** PageRank iteration count (fixed — the plan is 8 unrolled
    * join+aggregate rounds, not a convergence loop).
    */
  val PR_ITERS = 8

  /** Barrier cadence: materialize the rank frame every Nth round instead
    * of every round. The trajectory is integer-exact, so checkpoint
    * cadence CANNOT change the answer (PairRankSpec pins this against the
    * plain-Scala recurrence); what it changes is the scheduling floor —
    * 8 eager barriers on a tiny subgraph are pure latency (measured 23 s
    * under driver-box co-tenant load vs 4 s quiet in r13). Every 4 rounds
    * keeps the lazy plan ≤ 4 joins deep — still one whole-stage task in the exchange-free single-partition regime while
    * quartering the barrier count (2 for 8 rounds).
    */
  val PR_CHECKPOINT_EVERY = 4

  /** Target rank rows per loop partition: the per-round frames are
    * (id, rank) pairs, so 512k rows/partition is a few MB — the barrier
    * runs single-digit tasks on a small subgraph and scales the task
    * count linearly with subgraph nodes at 100 TB.
    */
  val PR_ROWS_PER_PART = 512 * 1024L

  /** Barriers taken by the CURRENT thread's last [[pageRankOnPairs]] run
    * (thread-local so parallel suites can't race): PairRankSpec asserts
    * the cadence actually holds (≤ 4 materializations for 8 rounds).
    */
  private[graft] val prBarriersLastRun = new ThreadLocal[Int] {
    override def initialValue: Int = 0
  }

  /** Rank mass scale: ranks live in 1e-9-unit 64-bit integers. */
  val PR_SCALE = 1000000000L

  /** PageRank over the near-duplicate graph (q46's LSH-verified pairs,
    * symmetrized) — graph centrality as a CURATION signal: within a dup
    * cluster the highest-rank node is the most-connected variant (the
    * canonical-document picker that min-id keeper rules approximate),
    * and across the corpus a high rank flags template hubs that connect
    * many near-copies. The classic random-surfer recurrence with
    * damping 0.85, run a FIXED [[PR_ITERS]] rounds in PURE 64-bit
    * integer arithmetic: ranks are 1e-9-unit longs, each node's
    * outbound share is `r div deg`, the damped update is
    * `150000000 div n + (85 · Σ shares) div 100` — no floating point
    * anywhere in the loop, so the fixpoint trajectory is bit-identical
    * on any engine and any partitioning (mass leaks a few nano-units
    * per round to the floor divisions, which is part of the DEFINED
    * algorithm, not error).
    *
    * Scale shape: the edge set is LSH-bounded (band-key equi-join,
    * never all-pairs — q110's subgraph discipline) and CACHED once;
    * each iteration is ONE node-keyed equi-join (rank ⋈ degree), one
    * edge-keyed join, and one map-side-combinable sum — 8 fixed rounds
    * of shuffles that scale with the PAIR subgraph, not the corpus.
    * The subgraph node count is the only driver-side scalar.
    */
  def q155PairRank(spark: SparkSession, dir: String): DataFrame =
    pageRankOnPairs(
      Dedup.minhashNearDupPairs(docs(spark, dir)).select(col("a_id"), col("b_id")))

  /** The rank loop over an arbitrary (a_id, b_id) pair frame — kept
    * separate so specs can drive constructed graphs through the exact
    * production arithmetic.
    */
  private[graft] def pageRankOnPairs(pairFrame: DataFrame): DataFrame = {
    val tStart = System.nanoTime()
    // CHECKPOINT (not cache) the pair frame: the loop takes ~7 more
    // driver-synchronized actions, and with a cache each one re-pays
    // plan canonicalization over the whole upstream LSH tree just to
    // look the cache up (the q104 lesson). A LogicalRDD root makes
    // every downstream plan a few nodes. The seam records wall/run/cpu
    // per barrier and flips to reliable checkpoint under
    // spark.graft.checkpoint.mode on a cluster.
    val pairs = graft.GraftCheckpoint.stage(pairFrame, "q155_pairs")
    val bi = graft.CacheScope.cache(
      pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst"))))
    val deg = graft.CacheScope.cache(
      bi.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .withColumnRenamed("src", "id"))
    // bounded driver scalar (subgraph nodes); max(1) only guards the
    // no-pairs corpus, where every frame below is empty anyway
    val n = deg.count().max(1L)
    val init = PR_SCALE / n
    val teleport = 150000000L / n
    // barrier partition count: sized by the subgraph (n is already a
    // bounded driver scalar), so each materialization is single-digit
    // tasks on a small graph and grows linearly at 100 TB — never the
    // fixed 32-partition shuffle shape regardless of data
    val loopParts = math.max(1L, math.min(
      pairFrame.sparkSession.sessionState.conf.numShufflePartitions.toLong,
      n / PR_ROWS_PER_PART + 1L)).toInt
    // `coalesce(1)` reports SinglePartition — which satisfies ANY
    // clustered distribution, so on a small subgraph every round's join
    // AND aggregate run exchange-free in one whole-stage task. Above the
    // single-partition regime, repartition on the key instead: the
    // HashPartitioning survives cache/checkpoint, so the join still
    // shuffles only what it must.
    def boundParts(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
      if (loopParts == 1) df.coalesce(1) else df.repartition(loopParts, key)
    // the BM25 norm-in-posting move: each edge carries its source's
    // degree, so a round is ONE rank⋈edge join + one aggregate — not a
    // rank⋈degree join first. Cached PRE-PARTITIONED on the join key at
    // the loop's own partition count, so the (much wider) edge frame
    // never re-exchanges across the 8 rounds.
    val edges = graft.CacheScope.cache(boundParts(
      bi.join(deg.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("src"), col("dst"), col("deg").as("src_deg")), col("src")))
    prBarriersLastRun.set(0)
    var r = deg.select(col("id"), lit(init).as("r"))
    for (i <- 1 to PR_ITERS) {
      // shuffle_hash with rank as build: the per-partition rank slice is
      // a few MB by construction (PR_ROWS_PER_PART), while broadcasting
      // the rank frame — what AQE picks unhinted on a small subgraph —
      // is wrong at 100 TB (rank rows = ALL subgraph nodes) and costs a
      // driver round-trip per round locally
      val next = edges.join(r.hint("shuffle_hash"), edges("src") === r("id"))
        .select(col("dst"), expr("r div src_deg").as("share"))
        .groupBy(col("dst")).agg(sum(col("share")).as("s"))
        .select(col("dst").as("id"),
          (lit(teleport) + expr("(85 * s) div 100")).as("r"))
      // eager localCheckpoint every PR_CHECKPOINT_EVERY rounds (and at
      // the last round): without ANY barrier the final action executes
      // one 8-round lazy DAG whose planning + AQE re-optimization
      // dominates the tiny per-round work; with a barrier EVERY round
      // (the r13 shape) 8 synchronous materializations are pure
      // scheduling floor. The cadence keeps the lazy plan shallow;
      // boundParts sizes each barrier's task count by the subgraph.
      r = if (i % PR_CHECKPOINT_EVERY == 0 || i == PR_ITERS) {
        prBarriersLastRun.set(prBarriersLastRun.get + 1)
        graft.GraftCheckpoint.stage(
          boundParts(next, col("id")), s"q155_round$i")
      } else next
    }
    // the loop's wall is attributable from the artifact (the q66/q104
    // probe convention): prologue = pair cache + degree count + edge
    // materialization ordering, loop = the barrier cadence in action
    graft.Telemetry.record {
      val tLoop = (System.nanoTime() - tStart) / 1e9
      f"q155 rankloop nodes=$n parts=$loopParts barriers=${prBarriersLastRun.get} secs=$tLoop%.3f"
    }
    r.join(deg, Seq("id"))
      .select(col("id").as("doc_id"), col("deg"),
        col("r").as("pr_nano"), (col("r") / 1e9).as("pr"))
  }

  /** Split-leakage REPAIR — the transform counterpart of q102's audit:
    * co-split every near-duplicate cluster so no LSH-verified pair
    * straddles train/test. Pairs come from q46's minhash kernel,
    * components from the shared tiered CC, and every member of a
    * component adopts the CONTENT-HASH split of its canonical (min-id)
    * member — the q80 rule applied at cluster granularity, so the repair
    * is reproducible from the data alone and exact dups (already
    * co-split by content hashing) are never moved.
    *
    * Scale shape: the pair set is LSH-bounded (band-key equi-join, never
    * all-pairs); CC runs on the PAIR SUBGRAPH only (nodes = docs in ≥ 1
    * pair — the corpus-complement never enters the loop); the adopt rule
    * is two id-keyed joins; unpaired docs flow through a left join as a
    * pure map. The corpus text is read once for signatures and once for
    * the split projection — it never re-shuffles.
    */
  def q110SplitRepair(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.CacheScope.cache(
      Dedup.minhashNearDupPairs(docs(spark, dir)).select(col("a_id"), col("b_id")))
    val splits = graft.CacheScope.cache(
      q80DatasetSplit(spark, dir).select(col("doc_id"), col("split")))
    val nodes = pairs.select(col("a_id").as("id"))
      .union(pairs.select(col("b_id").as("id"))).distinct()
    val comps = Dedup.connectedComponents(pairs, nodes)
    val canon = comps
      .join(splits.toDF("label", "repaired"), Seq("label"))
      .select(col("id").as("doc_id"), col("repaired"))
    splits.join(canon, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"),
        coalesce(col("repaired"), col("split")).as("repaired_split"),
        (coalesce(col("repaired"), col("split")) =!= col("split")).as("moved"))
  }

  /** Deterministic train/valid/test split by CONTENT hash (90/5/5): the
    * dataset-split stage every training pipeline ends with. Hashing the
    * text — not the id — pins exact duplicates to the SAME split, so a
    * dup surviving upstream dedup can never leak train→test; the split is
    * reproducible from the data alone (no RNG state, no shuffle — a pure
    * per-row projection of built-in codegen'd functions that any engine
    * replays identically).
    */
  /** q80's content-hash bucket — ONE definition for the split query and
    * q132's base/delta partition of the corpus.
    */
  private[graft] def contentBucket: org.apache.spark.sql.Column =
    pmod(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"), lit(100))

  def q80DatasetSplit(spark: SparkSession, dir: String): DataFrame = {
    docs(spark, dir)
      .select(col("doc_id"), col("source"), contentBucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "valid")
          .otherwise("test"))
  }

  /** Deterministic global shuffle + balanced shard export — the stage
    * that turns a curated corpus into training shards: every document
    * gets a stable, GAP-FREE global ordinal in a reproducible
    * pseudo-random order (ordered by md5 of its id — the q14/q63
    * deterministic-shuffle trick, so the "shuffle" is replayable from the
    * data alone) and one of 16 contiguous shards whose sizes differ by at
    * most one row.
    *
    * The naive ordinal — `row_number() OVER (ORDER BY h)` — funnels the
    * whole corpus through ONE reducer; at 100 TB that single partition is
    * the job. This is the two-pass shape instead: bucket by the first
    * two hex chars of the hash (a PREFIX of the sort key, so per-bucket
    * order concatenates to the global order), count per bucket (tiny
    * 256-row aggregate), turn counts into cumulative start offsets with a
    * window over that 256-row frame (the only single-partition window —
    * O(buckets) rows, the IVF-centroid kind of bounded), broadcast the
    * offsets back, and rank WITHIN each bucket in parallel. The corpus
    * exchanges once (the per-bucket ranking shuffle); ordinal =
    * bucket offset + in-bucket rank. At larger scale the bucket width is
    * the parallelism dial: 3 hex chars = 4096-way, still a tiny offsets
    * frame. Shard = floor(ordinal · S / N) keeps shards contiguous in the
    * shuffled order, so a shard is also a valid random sample.
    */
  def q89ShardExport(spark: SparkSession, dir: String): DataFrame =
    shardOrdinals(docs(spark, dir).select(col("doc_id")))

  /** The two-pass ordinal over ANY (doc_id) frame — ONE definition shared
    * by q89, [[graft.CorpusBuild]] and q119 (which passes `parts =
    * Seq("epoch")` and an epoch-salted hash): per `parts` group, every
    * row gets a gap-free ordinal in `hash` order and a contiguous
    * balanced shard. The offsets window runs over a |parts-groups|×256
    * frame (bounded by the dials); shard math is 64-bit integer `div`
    * (r12: exact at ANY corpus size — `floor` over a double division can
    * misround once ordinal·nShards nears 2^53).
    */
  private[graft] def shardOrdinals(ids: DataFrame, nShards: Int = 16,
      parts: Seq[String] = Nil,
      hash: org.apache.spark.sql.Column = md5(col("doc_id").cast("string"))
  ): DataFrame = {
    val pcols = parts.map(col)
    // hash computes BEFORE the projection so it may reference any input
    // column (q123 keys on the quality decile), not just doc_id/parts
    val keyed = ids
      .withColumn("h", hash)
      .select(col("doc_id") +: pcols :+ col("h"): _*)
      .withColumn("bucket", conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
    val byBucket =
      if (parts.isEmpty) Window.orderBy(col("bucket"))
      else Window.partitionBy(pcols: _*).orderBy(col("bucket"))
    val offsets = keyed.groupBy(pcols :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n_b"))
      .withColumn("off", coalesce(
        sum(col("n_b")).over(byBucket.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n", sum(col("n_b")).over(
        byBucket.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(pcols ++ Seq(col("bucket"), col("off"), col("n")): _*)
    val inBucket = Window.partitionBy(pcols :+ col("bucket"): _*)
      .orderBy(col("h"), col("doc_id"))
    keyed
      .withColumn("rk", row_number().over(inBucket))
      .join(broadcast(offsets), parts :+ "bucket")
      .withColumn("ordinal", col("off") + col("rk") - 1)
      .withColumn("shard", expr(s"(ordinal * $nShards) div n").cast("int"))
      .select(col("doc_id") +: pcols ++: Seq(col("ordinal"), col("shard")): _*)
  }

  /** How many training epochs q119 orders, and its shard count — both
    * interpolated into the oracle so a dial change cannot desync it.
    */
  val SHUFFLE_EPOCHS = 2
  val SHUFFLE_SHARDS = 16

  /** Epoch-wise deterministic reshuffle — multi-epoch training order:
    * epoch e's permutation orders by md5(e ":" doc_id), so every epoch
    * sees the corpus in a DIFFERENT but fully reproducible order (no RNG
    * state — any engine, any partitioning, any restart replays it), and
    * epoch-contiguous shards stay valid random samples. This is the
    * multi-epoch generalization of q89's export: same two-pass ordinal,
    * every frame now keyed by (epoch, bucket) — the offsets window runs
    * over an epochs×256-row frame (bounded by the dials), the in-bucket
    * ranking spreads over epochs×256 reducer groups, and the corpus
    * exchanges once per epoch replica. A naive
    * `row_number() OVER (PARTITION BY epoch ORDER BY h)` would funnel
    * each epoch through ONE reducer — the q89 anti-pattern, stated by
    * the oracle, reproduced hash-exactly by the two-pass plan.
    */
  def q119EpochShuffle(spark: SparkSession, dir: String): DataFrame =
    shardOrdinals(
      docs(spark, dir).select(col("doc_id"))
        .withColumn("epoch", explode(expr(s"sequence(0, ${SHUFFLE_EPOCHS - 1})"))),
      SHUFFLE_SHARDS, parts = Seq("epoch"),
      hash = md5(concat_ws(":", col("epoch"), col("doc_id"))))

  /** Filter-ablation report — the overlap matrix of the three ingest
    * gates applied INDEPENDENTLY to the whole raw corpus: per
    * (quality_flagged, contaminated, is_dup) cell, how many documents.
    * q100 answers "what does the short-circuit pipeline keep"; this
    * answers the curation question behind tuning it — what each gate
    * would kill on its own and how much the gates overlap (a gate whose
    * kills are a subset of another's is free to drop; a heavy exclusive
    * cell is the gate doing unique work). Kernels are q100's exactly
    * (q69 repetition, GRAM_N token grams vs the eval slice, q44's
    * min-id dedup) — only the composition differs: no gate conditions
    * on another.
    *
    * Scale shape: the same three corpus passes q100 prices, then one
    * aggregate to ≤ 8 cells. The gram join broadcasts the eval side; the
    * dedup keeper is the aggregate-join shape; nothing new concentrates.
    */
  def q122FilterAblation(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val raw = graft.CacheScope.cache(Spread.scan(d.filter(col("source") =!= "src0"))
      .select(col("doc_id"), col("text")))
    val quality = repetitionScored(raw)
      .select(col("doc_id"), col("flagged").as("quality_flagged"))
    val evalGrams = tokenGrams(d.filter(col("source") === "src0"),
      BloomGate.GRAM_N).select(col("gram")).distinct()
    val cont = tokenGrams(raw, BloomGate.GRAM_N)
      .join(broadcast(evalGrams), Seq("gram"))
      .select(col("doc_id")).distinct()
      .withColumn("c_hit", lit(true))
    val hashed = raw.select(col("doc_id"), md5(col("text")).as("h"))
    val keepers = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("keeper"))
    val dup = hashed.join(keepers, Seq("h"))
      .select(col("doc_id"), (col("doc_id") =!= col("keeper")).as("is_dup"))
    quality
      .join(cont, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"))
      .withColumn("contaminated", coalesce(col("c_hit"), lit(false)))
      .groupBy(col("quality_flagged"), col("contaminated"), col("is_dup"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Padding-efficiency audit — the cost model that motivates q70's
    * packing (Krell et al. 2021, arXiv:2107.02027: padding can waste
    * ~50 % of compute on real corpora): under naive fixed-length
    * batching, every document pads up to the next 64-token bucket;
    * per bucket, how many real vs padded tokens, and the waste ratio.
    * All bucket math is 64-bit integer arithmetic (`div`), exact at any
    * corpus size.
    *
    * Scale shape: ONE map-side-combined aggregate over a per-row
    * projection; the output is #buckets rows (≤ max-doc-len / 64).
    */
  def q120PaddingAudit(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("bucket_len", expr("((n_tok + 63) div 64) * 64"))
      .groupBy(col("bucket_len"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("real_tokens"))
      .withColumn("padded_tokens", col("bucket_len") * col("n_docs"))
      .withColumn("waste_ratio", round(
        (col("padded_tokens") - col("real_tokens")) / col("padded_tokens"), 6))

  /** Curriculum-ordered export — easy-to-hard training order (Bengio et
    * al. 2009 curriculum learning, as production pipelines apply it to
    * LLM data): every document gets a gap-free global ordinal that sorts
    * by quality decile FIRST (q88's exact boundaries — highest-quality
    * decile front) and reproducibly-random within a decile, plus q89's
    * contiguous balanced shards, so shard k of the export is strictly
    * earlier curriculum than shard k+1 and still a valid random sample
    * WITHIN its quality band.
    *
    * The composition rides [[shardOrdinals]] unchanged by construction:
    * the order key is `hex(10 − decile) ++ md5(doc_id)`, so the ordinal's
    * bucket (the key's first two hex chars) is (decile, md5-prefix) — a
    * PREFIX of the sort order, exactly the property the two-pass ordinal
    * needs; buckets number ≤ 10×16, still a bounded offsets frame. No new
    * exchange beyond the one decile-scoring pass (one percentile
    * aggregate broadcast back, q88's trick).
    */
  def q123CurriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    // cached: the ordinal pass and the output join both read the deciles
    // — uncached, the percentile scoring pass runs twice
    val deciled = graft.CacheScope.cache(
      TextAnalysis.q88QualityDeciles(spark, dir)
        .select(col("doc_id"), col("decile")))
    shardOrdinals(deciled,
      hash = concat(lower(hex(lit(10) - col("decile"))),
        md5(col("doc_id").cast("string"))))
      .join(deciled, Seq("doc_id"))
      .select(col("doc_id"), col("decile"), col("ordinal"), col("shard"))
  }

  /** Train/test leakage audit: near-duplicate pairs (the q46 MinHash+LSH
    * kernel at its default dials) whose members landed in DIFFERENT q80
    * splits. Exact duplicates can never appear here — q80 splits by
    * content hash, pinning them to the same split — so every row is a
    * NEAR-dup leaking eval-adjacent text into train, the contamination
    * class hash-splitting alone cannot stop. Scale shape: the pair set is
    * LSH-bounded (candidate growth measured sub-quadratic across sf in
    * CandidateGrowthSpec) and both split joins key on ids only, so the
    * corpus text never re-shuffles after signing.
    */
  def q102SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDupPairs(docs(spark, dir))
    val split = q80DatasetSplit(spark, dir).select(col("doc_id"), col("split"))
    pairs
      .join(split.toDF("a_id", "split_a"), Seq("a_id"))
      .join(split.toDF("b_id", "split_b"), Seq("b_id"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("a_id"), col("b_id"), col("split_a"), col("split_b"),
        col("est_sim"))
  }

  /** Weighted-sample size (interpolated into the oracle). */
  private[graft] val WS_K = 100

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spiliopoulou
    * 2006): each doc draws a deterministic uniform u from a 60-bit md5
    * hash of its id and competes with key ln(u)/w — taking the top
    * WS_K by key is EXACTLY a weighted draw without replacement with
    * inclusion proportional to weight w (here the distinct-token
    * ratio, the q41/q88 quality signal — quality-weighted sampling).
    *
    * The scale point: the textbook algorithm keeps a driver-side
    * reservoir; here the whole draw is one per-row projection + ONE
    * TakeOrderedAndProject — no reservoir, no global sort, no state,
    * and re-running on any partitioning returns the identical sample
    * because u is content-addressed, not RNG state. Keys convert to
    * 1e-6-unit longs before ranking (ln is the only libm op; the spec
    * pins the half-integer margins), ties break by doc_id.
    */
  def q146WeightedSample(spark: SparkSession, dir: String): DataFrame =
    rankReservoir(topKReservoir(weightedKeys(docs(spark, dir)), WS_K))

  /** Per-doc E–S keys — the q146 kernel, shared by the streaming
    * reservoir maintainer ([[graft.streaming.StreamingSample]]) so the
    * live sample can never diverge from the batch draw by construction.
    */
  private[graft] def weightedKeys(d: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val w = size(array_distinct(toks)).cast("double") / size(toks)
    val h = conv(substring(
      md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val u = (h + lit(1L)) / lit(1.152921504606846976e18) // (h+1)/2^60 ∈ (0,1]
    val keyU = floor((log(u) / w) * lit(1e6) + lit(0.5)).cast("long")
    d.select(col("doc_id"), col("source"), round(w, 6).as("w"),
      keyU.as("key_u"))
  }

  /** Top-k of the keyed rows — ONE TakeOrderedAndProject, and the merge
    * law the streaming tier leans on: top-k is associative and
    * IDEMPOTENT over row sets (unlike additive partials), so per-batch
    * reservoirs fold exactly in any order and duplicate rows from a
    * replay cannot shift the result (ties break by doc_id; keys are
    * already 1e-6-unit longs, so equality is exact).
    */
  private[graft] def topKReservoir(keyed: DataFrame, k: Int): DataFrame =
    keyed.orderBy(col("key_u").desc, col("doc_id")).limit(k)

  /** Final presentation: dense rank + the fractional E–S key. */
  private[graft] def rankReservoir(reservoir: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    reservoir
      .withColumn("rank",
        row_number().over(Window.orderBy(col("key_u").desc, col("doc_id"))))
      .select(col("rank"), col("doc_id"), col("source"), col("w"),
        round(col("key_u") / lit(1e6), 6).as("es_key"))
  }

  /** Corpus snapshot diff — the versioning audit between two corpus
    * states: per (source, class) doc counts for added / removed /
    * modified / unchanged, classified by content hash over an id-keyed
    * FULL OUTER join. The snapshots derive deterministically from the
    * fixture (old = ids ∌ 7·k; new = ids ∌ 5·k with every 11·k doc
    * revised), so the oracle replays the same derivation.
    *
    * Scale shape: each side projects to (id, source, md5) BEFORE the
    * join — text never shuffles — and the diff aggregate is map-side
    * partial. This is the delta-detection front of every incremental
    * tier here (q79/q132/q144): what changed, before deciding what to
    * recompute.
    */
  def q147SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val o = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"), col("source").as("src_o"),
        md5(col("text")).as("h_o"))
    val n = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id"), col("source").as("src_n"),
        md5(when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit(" rev2"))).otherwise(col("text"))).as("h_n"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("diff_class",
        when(col("h_n").isNull, lit("removed"))
          .when(col("h_o").isNull, lit("added"))
          .when(col("h_o") =!= col("h_n"), lit("modified"))
          .otherwise(lit("unchanged")))
      .groupBy(coalesce(col("src_o"), col("src_n")).as("source"),
        col("diff_class"))
      .agg(count(lit(1)).as("n_docs"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q146_weighted_sample" -> q146WeightedSample,
    "q147_snapshot_diff" -> q147SnapshotDiff,
    "q68_decontaminate" -> q68Decontaminate,
    "q85_decontaminate_substr" -> q85DecontaminateSubstr,
    "q69_repetition" -> q69Repetition,
    "q70_pack_sequences" -> q70PackSequences,
    "q73_lm_perplexity" -> q73LmPerplexity,
    "q180_skewed_perplexity" -> q180SkewedPerplexity,
    "q149_good_turing" -> q149GoodTuring,
    "q151_kneser_ney" -> q151KneserNey,
    "q182_kn_pruned" -> q182KnPruned,
    "q185_kn_trigram" -> q185KnTrigram,
    "q186_kn3_pruned" -> q186Kn3Pruned,
    "q155_pair_rank" -> q155PairRank,
    "q157_temperature_mix" -> q157TemperatureMix,
    "q161_source_confusion" -> q161SourceConfusion,
    "q162_zipf_slope" -> q162ZipfSlope,
    "q171_mix_gini" -> q171MixGini,
    "q173_split_drift" -> q173SplitDrift,
    "q74_chunk_docs" -> q74ChunkDocs,
    "q75_temperature_mix" -> q75TemperatureMix,
    "q80_dataset_split" -> q80DatasetSplit,
    "q89_shard_export" -> q89ShardExport,
    "q99_dup_spans" -> q99DupSpans,
    "q100_ingest_pipeline" -> q100IngestPipeline,
    "q102_split_leakage" -> q102SplitLeakage,
    "q103_dedup_scrub" -> q103DedupScrub,
    "q126_boilerplate_coverage" -> q126BoilerplateCoverage,
    "q127_hot_block_scrub" -> q127HotBlockScrub,
    "q130_hot_block_index" -> q130HotBlockIndex,
    "q134_epoch_apportion" -> q134EpochApportion,
    "q135_contamination_provenance" -> q135ContaminationProvenance,
    "q106_dsir_select" -> q106DsirSelect,
    "q107_unimax_mix" -> q107UnimaxMix,
    "q108_ccnet_buckets" -> q108CcnetBuckets,
    "q109_ccnet_index" -> q109CcnetIndex,
    "q110_split_repair" -> q110SplitRepair,
    "q113_dsir_index" -> q113DsirIndex,
    "q116_domain_weights" -> q116DomainWeights,
    "q119_epoch_shuffle" -> q119EpochShuffle,
    "q120_padding_audit" -> q120PaddingAudit,
    "q122_filter_ablation" -> q122FilterAblation,
    "q123_curriculum_order" -> q123CurriculumOrder)

  /** q127's oracle — blocks, occurrence counts, the drop-all keep rule,
    * reassembly. q130 (serving the stored hot list) shares it.
    */
  private[graft] lazy val hotBlockScrubSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
      |b0 AS (
      |  SELECT doc_id, tok,
      |    unnest(generate_series(0,
      |      CAST(ceil(len(tok) / 64.0) AS BIGINT) - 1)) AS idx
      |  FROM t),
      |b AS (
      |  SELECT doc_id, idx,
      |    array_to_string(tok[idx*64+1 : idx*64+64], ' ') AS btxt
      |  FROM b0),
      |f AS (SELECT md5(btxt) AS h, count(*) AS c FROM b GROUP BY 1),
      |k AS (
      |  SELECT doc_id, idx, btxt, (f.c < $HOT_BLOCK_MIN) AS keep
      |  FROM b JOIN f ON f.h = md5(b.btxt))
      |SELECT doc_id, count(*) AS n_blocks,
      |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
      |  md5(coalesce(
      |    string_agg(CASE WHEN keep THEN btxt END, ' ' ORDER BY idx), ''))
      |    AS scrubbed_md5
      |FROM k GROUP BY doc_id""".stripMargin

  /** The shared ingest PREFIX (corpus tokens, gram stream, eval grams,
    * q69 quality verdicts) — reused by [[ingestCtes]]' short-circuit
    * chain and by q122's independent-gate ablation.
    */
  private[graft] val ingestBaseCtes: String =
    """tt AS (
      |  SELECT doc_id, source, text, string_split(text, ' ') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, source,
      |    unnest(list_transform(range(1, len(toks) - 3),
      |      i -> array_to_string(toks[i:i+4], ' '))) AS gram
      |  FROM tt WHERE len(toks) >= 5),
      |ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
      |q AS (
      |  SELECT doc_id, text,
      |    ((round(CAST(list_max(list_transform(list_distinct(toks),
      |        x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
      |        / len(toks), 6) > 0.3)
      |     OR ((CASE WHEN len(toks) > 1 THEN round(CAST(len(toks) - 1 -
      |          len(list_distinct(list_transform(range(1, len(toks)),
      |            i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE)
      |          / (len(toks) - 1), 6) ELSE 0.0 END) > 0.3)) AS quality_flagged
      |  FROM tt WHERE source != 'src0')""".stripMargin

  /** The ingest chain (q69 quality gate → bloom-transparent gram
    * decontamination → exact dedup) as CTEs — ONE definition shared by
    * the q100 oracle and q104's corpus-build oracle.
    */
  private[graft] val ingestCtes: String =
    s"""$ingestBaseCtes,
      |cont AS (
      |  SELECT DISTINCT g.doc_id
      |  FROM g
      |  JOIN q ON g.doc_id = q.doc_id AND NOT q.quality_flagged
      |  JOIN ev USING (gram)),
      |s2 AS (
      |  SELECT q.doc_id, md5(q.text) AS h
      |  FROM q LEFT JOIN cont ON q.doc_id = cont.doc_id
      |  WHERE NOT q.quality_flagged AND cont.doc_id IS NULL),
      |k AS (SELECT h, min(doc_id) AS keeper FROM s2 GROUP BY 1),
      |sk AS (SELECT s2.doc_id, k.keeper FROM s2 JOIN k USING (h))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q146_weighted_sample" ->
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |      / len(string_split(text, ' ')) AS w,
         |    ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         |      AS h
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, source, w,
         |    CAST(floor((ln((h + 1) / 1152921504606846976.0) / w) * 1e6 + 0.5)
         |      AS BIGINT) AS key_u
         |  FROM b)
         |SELECT CAST(row_number() OVER (ORDER BY key_u DESC, doc_id) AS INT)
         |    AS rank,
         |  doc_id, source, round(w, 6) AS w, round(key_u / 1e6, 6) AS es_key
         |FROM k ORDER BY key_u DESC, doc_id LIMIT $WS_K""".stripMargin,
    "q147_snapshot_diff" ->
      """WITH o AS (
        |  SELECT doc_id, source, md5(text) AS h
        |  FROM documents WHERE doc_id % 7 <> 0),
        |n AS (
        |  SELECT doc_id, source,
        |    md5(CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END)
        |      AS h
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(o.source, n.source) AS source,
        |  CASE WHEN n.h IS NULL THEN 'removed'
        |       WHEN o.h IS NULL THEN 'added'
        |       WHEN o.h <> n.h THEN 'modified'
        |       ELSE 'unchanged' END AS diff_class,
        |  count(*) AS n_docs
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |GROUP BY 1, 2""".stripMargin,
    // the fps CTEs mirror q78's oracle (same 20-char grams, 10-window
    // minima, first-occurrence-distinct) with q68's eval/corpus split
    "q85_decontaminate_substr" ->
      """WITH g AS (
        |  SELECT doc_id, source, list_transform(range(1, length(text) - 18),
        |    i -> ('0x' || substr(md5(substr(text, i, 20)), 1, 15))::BIGINT) AS hs
        |  FROM documents WHERE length(text) >= 29),
        |f AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(list_transform(range(1, len(hs) - 8), j -> list_min(hs[j:j+9]))) AS fp
        |  FROM g WHERE len(hs) >= 10),
        |ev AS (SELECT DISTINCT fp FROM f WHERE source = 'src0'),
        |hits AS (
        |  SELECT f.doc_id, count(*) AS n_fp_hits
        |  FROM f JOIN ev USING (fp) WHERE f.source != 'src0' GROUP BY 1)
        |SELECT d.doc_id, coalesce(hits.n_fp_hits, 0) AS n_fp_hits,
        |  coalesce(hits.n_fp_hits, 0) >= 2 AS contaminated
        |FROM documents d LEFT JOIN hits USING (doc_id)
        |WHERE d.source != 'src0'""".stripMargin,
    "q68_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' '))) AS gram
        |  FROM t WHERE len(toks) >= 8),
        |ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
        |hits AS (
        |  SELECT g.doc_id, count(*) AS n_hits
        |  FROM g JOIN ev USING (gram) WHERE g.source != 'src0' GROUP BY 1)
        |SELECT t.doc_id, coalesce(hits.n_hits, 0) AS n_hits,
        |  coalesce(hits.n_hits, 0) > 0 AS contaminated
        |FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id
        |WHERE t.source != 'src0'""".stripMargin,
    "q69_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, len(toks) AS n_tok,
        |    round(CAST(list_max(list_transform(list_distinct(toks),
        |      t -> len(list_filter(toks, x -> x = t)))) AS DOUBLE) / len(toks), 6)
        |      AS top_tok_frac,
        |    CASE WHEN len(toks) > 1 THEN round(
        |      CAST(len(toks) - 1 - len(list_distinct(list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]))) AS DOUBLE) / (len(toks) - 1), 6)
        |      ELSE 0.0 END AS dup_bigram_frac
        |  FROM t)
        |SELECT doc_id, CAST(n_tok AS INT) AS n_tok, top_tok_frac, dup_bigram_frac,
        |  (top_tok_frac > 0.3 OR dup_bigram_frac > 0.3) AS flagged
        |FROM s""".stripMargin,
    "q70_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tok,
        |    sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
        |  FROM t)
        |SELECT doc_id, lang, CAST(n_tok AS INT) AS n_tok,
        |  CAST(cum_end - n_tok AS BIGINT) AS start_off,
        |  CAST((cum_end - n_tok) // 2048 AS BIGINT) AS seq_id,
        |  ((cum_end - n_tok) // 2048) != ((cum_end - 1) // 2048) AS crosses_boundary
        |FROM c""".stripMargin,
    "q73_lm_perplexity" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |uni AS (
        |  SELECT w1, count(*) AS c1 FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uni),
        |db AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |    FROM t WHERE len(toks) > 1)),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM db GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(CAST(round(-ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v.v))
        |    * 1e6, 0) AS BIGINT)) / count(*) / 1e6, 6) AS avg_nll
        |FROM db JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
        |GROUP BY doc_id""".stripMargin,
    // q73's oracle with the tokenClass bucketing applied on both the
    // unigram and bigram streams — the class expression is stated twice
    // (Spark when/concat vs SQL CASE/||) and must stay in lockstep
    "q180_skewed_perplexity" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |uni AS (
        |  SELECT cls1, count(*) AS c1 FROM (
        |    SELECT CASE WHEN length(w) <= 5 THEN '<short>'
        |                ELSE w END AS cls1
        |    FROM (SELECT unnest(toks) AS w FROM t)) GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uni),
        |db AS (
        |  SELECT doc_id,
        |    CASE WHEN length(b.w1) <= 5 THEN '<short>'
        |         ELSE b.w1 END AS cls1,
        |    CASE WHEN length(b.w2) <= 5 THEN '<short>'
        |         ELSE b.w2 END AS cls2
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |    FROM t WHERE len(toks) > 1)),
        |big AS (SELECT cls1, cls2, count(*) AS c12 FROM db GROUP BY 1, 2)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(CAST(round(-ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v.v))
        |    * 1e6, 0) AS BIGINT)) / count(*) / 1e6, 6) AS avg_nll
        |FROM db JOIN big USING (cls1, cls2) JOIN uni USING (cls1) CROSS JOIN v
        |GROUP BY doc_id""".stripMargin,
    // 8 unrolled integer-arithmetic rounds over the shared minhash pair
    // CTEs — the iteration count and both mass dials interpolate
    "q155_pair_rank" -> {
      val iters = (1 to PR_ITERS).map { k =>
        s"""r$k AS (
          |  SELECT bi.dst AS id,
          |    CAST(150000000 // (SELECT n FROM nn)
          |      + (85 * sum(p.r // d.deg)) // 100 AS BIGINT) AS r
          |  FROM r${k - 1} p JOIN deg d USING (id)
          |    JOIN bi ON bi.src = p.id
          |  GROUP BY bi.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${Dedup.minhashPairsCte},
        |bi AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |       UNION ALL SELECT b_id, a_id FROM pairs),
        |deg AS (SELECT src AS id, count(*) AS deg FROM bi GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM deg),
        |r0 AS (SELECT id, $PR_SCALE // (SELECT n FROM nn) AS r FROM deg),
        |$iters
        |SELECT r$PR_ITERS.id AS doc_id, deg.deg, r$PR_ITERS.r AS pr_nano,
        |  r$PR_ITERS.r / 1e9 AS pr
        |FROM r$PR_ITERS JOIN deg USING (id)""".stripMargin
    },
    "q173_split_drift" ->
      """WITH d AS (
        |  SELECT len(string_split(text, ' ')) AS len,
        |    CASE WHEN ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 < 90
        |           THEN 'train'
        |         WHEN ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 < 95
        |           THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |c AS (
        |  SELECT len,
        |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS ca,
        |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS cb
        |  FROM d WHERE split != 'valid' GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(ca) AS HUGEINT) AS na,
        |    CAST(sum(cb) AS HUGEINT) AS nb
        |  FROM c),
        |cum AS (
        |  SELECT len,
        |    CAST(sum(ca) OVER (ORDER BY len) AS HUGEINT) AS cum_a,
        |    CAST(sum(cb) OVER (ORDER BY len) AS HUGEINT) AS cum_b
        |  FROM c),
        |g AS (
        |  SELECT len, abs(cum_a * nb - cum_b * na) AS gap
        |  FROM cum CROSS JOIN t),
        |best AS (
        |  SELECT len, gap FROM (
        |    SELECT *, row_number() OVER (ORDER BY gap DESC, len) AS rn
        |    FROM g) WHERE rn = 1)
        |SELECT CAST(t.na AS BIGINT) AS n_train, CAST(t.nb AS BIGINT) AS n_test,
        |  best.len AS at_length,
        |  CAST(best.gap AS DOUBLE) / CAST(t.na * t.nb AS DOUBLE) AS d_stat
        |FROM best CROSS JOIN t""".stripMargin,
    "q171_mix_gini" ->
      """WITH c AS (
        |  SELECT lang, source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_s
        |  FROM documents GROUP BY 1, 2),
        |u AS (
        |  SELECT lang, source, n_s FROM c
        |  UNION ALL
        |  SELECT '*', source, CAST(sum(n_s) AS BIGINT)
        |  FROM c GROUP BY 2),
        |r AS (
        |  SELECT lang, n_s,
        |    row_number() OVER (PARTITION BY lang ORDER BY n_s, source) AS i,
        |    count(*) OVER (PARTITION BY lang) AS n,
        |    CAST(sum(n_s) OVER (PARTITION BY lang) AS BIGINT) AS tot
        |  FROM u)
        |SELECT lang, CAST(n AS BIGINT) AS n_sources, tot AS total_tokens,
        |  CAST(sum((2 * i - n - 1) * n_s) AS DOUBLE)
        |    / CAST(n * tot AS DOUBLE) AS gini
        |FROM r GROUP BY lang, n, tot""".stripMargin,
    "q162_zipf_slope" ->
      s"""WITH cnt AS (
        |  SELECT source, w, count(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT source, c,
        |    row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rk
        |  FROM cnt),
        |h AS (
        |  SELECT source,
        |    CAST(round(ln(CAST(rk AS DOUBLE)) * 1e6, 0) AS HUGEINT) AS x,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * 1e6, 0) AS HUGEINT) AS y
        |  FROM rk WHERE rk <= $ZIPF_TOP),
        |a AS (
        |  SELECT source, CAST(count(*) AS HUGEINT) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM h GROUP BY 1)
        |SELECT source, CAST(n AS BIGINT) AS n_ranks,
        |  CASE WHEN n * sxx != sx * sx THEN
        |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        |  END AS zipf_slope
        |FROM a""".stripMargin,
    "q161_source_confusion" ->
      """WITH cnt AS (
        |  SELECT source, w, count(*) AS c FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS w
        |    FROM documents)
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM cnt GROUP BY 1),
        |voc AS (SELECT count(DISTINCT w) AS v FROM cnt),
        |cells AS (
        |  SELECT s.source AS source_a, t.source AS source_b, st.n_s,
        |    s.c * CAST(round(ln(CAST(t.n_s + voc.v AS DOUBLE)
        |      / CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)) * 1e6, 0) AS BIGINT)
        |      AS term
        |  FROM cnt s
        |  JOIN tot st ON st.source = s.source
        |  CROSS JOIN tot t
        |  CROSS JOIN voc
        |  LEFT JOIN cnt ct ON ct.source = t.source AND ct.w = s.w)
        |SELECT source_a, source_b,
        |  round(sum(term) / n_s / 1e6, 6) AS cross_entropy
        |FROM cells GROUP BY source_a, source_b, n_s""".stripMargin,
    "q157_temperature_mix" ->
      """WITH c AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_s
        |  FROM documents GROUP BY 1),
        |s AS (
        |  SELECT source, n_s,
        |    CAST(round(sqrt(n_s) * 1e6, 0) AS BIGINT) AS sm
        |  FROM c),
        |z AS (
        |  SELECT CAST(sum(sm) AS BIGINT) AS z,
        |    CAST(sum(n_s) AS BIGINT) AS total
        |  FROM s)
        |SELECT source, n_s,
        |  round(n_s / total, 6) AS p_raw,
        |  round(sm / z, 6) AS weight,
        |  round(sm / z / (n_s / total), 6) AS sample_factor
        |FROM s CROSS JOIN z""".stripMargin,
    "q151_kneser_ney" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |db AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |    FROM t WHERE len(toks) > 1)),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM db GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |    count(*) AS n1p_w1 FROM big GROUP BY 1),
        |hist AS (SELECT w2, count(*) AS n1p_w2 FROM big GROUP BY 1),
        |ty AS (SELECT count(*) AS t FROM big)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(CAST(round((ln(CAST(4 * c1 * ty.t AS DOUBLE))
        |      - ln(CAST((4 * c12 - 3) * ty.t + 3 * n1p_w1 * n1p_w2 AS DOUBLE)))
        |    * 1e6, 0) AS BIGINT)) / count(*) / 1e6, 6) AS avg_nll
        |FROM db JOIN big USING (w1, w2) JOIN ctx USING (w1)
        |  JOIN hist USING (w2) CROSS JOIN ty
        |GROUP BY doc_id""".stripMargin,
    // q151's oracle with the type table thresholded at min_count=2 and
    // the continuation-only backoff for pruned bigrams (the max() term
    // clips to 0, so the numerator loses its (4c12-3)T part exactly)
    "q182_kn_pruned" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |db AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |    FROM t WHERE len(toks) > 1)),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM db GROUP BY 1, 2),
        |kept AS (SELECT w1, w2, c12 FROM big WHERE c12 >= 2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |    count(*) AS n1p_w1 FROM big GROUP BY 1),
        |hist AS (SELECT w2, count(*) AS n1p_w2 FROM big GROUP BY 1),
        |ty AS (SELECT count(*) AS t FROM big)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(sum(CAST(round((ln(CAST(4 * c1 * ty.t AS DOUBLE))
        |      - ln(CAST(CASE WHEN k.c12 IS NULL
        |            THEN 3 * n1p_w1 * n1p_w2
        |            ELSE (4 * k.c12 - 3) * ty.t + 3 * n1p_w1 * n1p_w2 END AS DOUBLE)))
        |    * 1e6, 0) AS BIGINT)) / count(*) / 1e6, 6) AS avg_nll
        |FROM db LEFT JOIN kept k USING (w1, w2) JOIN ctx USING (w1)
        |  JOIN hist USING (w2) CROSS JOIN ty
        |GROUP BY doc_id""".stripMargin,
    // trigram KN: raw counts at the top order, continuation TYPE counts
    // below (cont/mid/fol/low all derive from the trigram type table),
    // the same exact-integer numerator/denominator as the Scala kernel.
    // Every CTE MATERIALIZED (the q184 lesson): DuckDB inlines CTEs by
    // default, and re-expanding tri/cont under a 6-way join turns a
    // 1.3 s oracle into a >10-minute planner blowup
    "q185_kn_trigram" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |dt AS MATERIALIZED (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2, b.w3 AS w3 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |      i -> {'w1': toks[i], 'w2': toks[i+1], 'w3': toks[i+2]})) AS b
        |    FROM t WHERE len(toks) > 2)),
        |tri AS MATERIALIZED (
        |  SELECT w1, w2, w3, count(*) AS c123 FROM dt GROUP BY 1, 2, 3),
        |ctx AS MATERIALIZED (
        |  SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12,
        |    count(*) AS n1p_ctx FROM tri GROUP BY 1, 2),
        |cont AS MATERIALIZED (
        |  SELECT w2, w3, count(*) AS n1p_w2w3 FROM tri GROUP BY 1, 2),
        |mid AS MATERIALIZED (SELECT w2, count(*) AS n1p_mid FROM tri GROUP BY 1),
        |fol AS MATERIALIZED (SELECT w2, count(*) AS n1p_fol FROM cont GROUP BY 1),
        |low AS MATERIALIZED (SELECT w3, count(*) AS n1p_w3 FROM cont GROUP BY 1),
        |ty AS MATERIALIZED (SELECT count(*) AS t FROM cont)
        |SELECT doc_id, count(*) AS n_trigrams,
        |  round(sum(CAST(round((ln(CAST(16 * c12 * n1p_mid * ty.t AS DOUBLE))
        |      - ln(CAST((4 * c123 - 3) * 4 * n1p_mid * ty.t
        |          + 3 * n1p_ctx * ((4 * n1p_w2w3 - 3) * ty.t
        |            + 3 * n1p_fol * n1p_w3) AS DOUBLE)))
        |    * 1e6, 0) AS BIGINT)) / count(*) / 1e6, 6) AS avg_nll
        |FROM dt JOIN tri USING (w1, w2, w3) JOIN ctx USING (w1, w2)
        |  JOIN cont USING (w2, w3) JOIN mid USING (w2) JOIN fol USING (w2)
        |  JOIN low USING (w3) CROSS JOIN ty
        |GROUP BY doc_id""".stripMargin,
    // q185's oracle with the TOP-ORDER type table thresholded at
    // min_count=2 and the continuation-only backoff for pruned trigrams
    // (lower-order stats never pruned — the SRILM rule)
    "q186_kn3_pruned" ->
      """WITH t AS MATERIALIZED (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |dt AS MATERIALIZED (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2, b.w3 AS w3 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |      i -> {'w1': toks[i], 'w2': toks[i+1], 'w3': toks[i+2]})) AS b
        |    FROM t WHERE len(toks) > 2)),
        |tri AS MATERIALIZED (
        |  SELECT w1, w2, w3, count(*) AS c123 FROM dt GROUP BY 1, 2, 3),
        |kept AS MATERIALIZED (
        |  SELECT w1, w2, w3, c123 FROM tri WHERE c123 >= 2),
        |ctx AS MATERIALIZED (
        |  SELECT w1, w2, CAST(sum(c123) AS BIGINT) AS c12,
        |    count(*) AS n1p_ctx FROM tri GROUP BY 1, 2),
        |cont AS MATERIALIZED (
        |  SELECT w2, w3, count(*) AS n1p_w2w3 FROM tri GROUP BY 1, 2),
        |mid AS MATERIALIZED (SELECT w2, count(*) AS n1p_mid FROM tri GROUP BY 1),
        |fol AS MATERIALIZED (SELECT w2, count(*) AS n1p_fol FROM cont GROUP BY 1),
        |low AS MATERIALIZED (SELECT w3, count(*) AS n1p_w3 FROM cont GROUP BY 1),
        |ty AS MATERIALIZED (SELECT count(*) AS t FROM cont)
        |SELECT doc_id, count(*) AS n_trigrams,
        |  round(sum(CAST(round((ln(CAST(16 * c12 * n1p_mid * ty.t AS DOUBLE))
        |      - ln(CAST(CASE WHEN k.c123 IS NULL
        |            THEN 3 * n1p_ctx * ((4 * n1p_w2w3 - 3) * ty.t
        |              + 3 * n1p_fol * n1p_w3)
        |            ELSE (4 * k.c123 - 3) * 4 * n1p_mid * ty.t
        |              + 3 * n1p_ctx * ((4 * n1p_w2w3 - 3) * ty.t
        |                + 3 * n1p_fol * n1p_w3) END AS DOUBLE)))
        |    * 1e6, 0) AS BIGINT)) / count(*) / 1e6, 6) AS avg_nll
        |FROM dt LEFT JOIN kept k USING (w1, w2, w3) JOIN ctx USING (w1, w2)
        |  JOIN cont USING (w2, w3) JOIN mid USING (w2) JOIN fol USING (w2)
        |  JOIN low USING (w3) CROSS JOIN ty
        |GROUP BY doc_id""".stripMargin,
    "q149_good_turing" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) > 1),
        |b AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |  FROM t),
        |bc AS (SELECT b.w1, b.w2, count(*) AS r FROM b GROUP BY 1, 2),
        |nr AS (SELECT r, count(*) AS n_r FROM bc GROUP BY 1)
        |SELECT a.r, a.n_r, round((a.r + 1) * x.n_r / a.n_r, 6) AS r_star
        |FROM nr a LEFT JOIN nr x ON x.r = a.r + 1""".stripMargin,
    "q74_chunk_docs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks, n_tok,
        |    CASE WHEN n_tok > 64 THEN CAST(ceil((n_tok - 64) / 48.0) AS INT) + 1
        |         ELSE 1 END AS n_chunks
        |  FROM t),
        |c AS (
        |  SELECT doc_id, n_tok, toks,
        |    unnest(list_transform(range(0, n_chunks), k -> CAST(k AS INT))) AS chunk_idx
        |  FROM n)
        |SELECT doc_id, chunk_idx, chunk_idx * 48 AS start,
        |  CAST(least(64, n_tok - chunk_idx * 48) AS INT) AS chunk_len,
        |  md5(array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' '))
        |    AS chunk_hash
        |FROM c""".stripMargin,
    // all three stages in ONE statement — the hash match certifies the
    // COMPOSITION (short-circuit flag semantics included), not just each
    // stage. CTEs mirror q69 (quality), q96 (5-gram decontamination),
    // q44 (min-id dedup).
    "q100_ingest_pipeline" ->
      s"""WITH $ingestCtes
        |SELECT q.doc_id, q.quality_flagged,
        |  (cont.doc_id IS NOT NULL) AS contaminated,
        |  (sk.keeper IS NOT NULL AND sk.doc_id != sk.keeper) AS is_dup,
        |  (sk.keeper IS NOT NULL AND sk.doc_id = sk.keeper) AS kept
        |FROM q
        |LEFT JOIN cont ON q.doc_id = cont.doc_id
        |LEFT JOIN sk ON q.doc_id = sk.doc_id""".stripMargin,
    // shares q74's chunking CTE text (same window/stride/md5), so the
    // two oracles state the same chunk identity
    "q99_dup_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, toks, n_tok,
        |    CASE WHEN n_tok > 64 THEN CAST(ceil((n_tok - 64) / 48.0) AS INT) + 1
        |         ELSE 1 END AS n_chunks
        |  FROM t),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(list_transform(range(0, n_chunks), k -> CAST(k AS INT))) AS chunk_idx
        |  FROM n),
        |h AS (
        |  SELECT doc_id,
        |    md5(array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' '))
        |      AS chunk_hash
        |  FROM c),
        |f AS (SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs FROM h GROUP BY 1)
        |SELECT h.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
        |  round(CAST(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS dup_chunk_frac,
        |  round(CAST(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) >= 0.5 AS mostly_duplicated
        |FROM h JOIN f USING (chunk_hash)
        |GROUP BY 1""".stripMargin,
    "q75_temperature_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
        |z AS (SELECT sum(sqrt(n_s)) AS z FROM c),
        |q AS (
        |  SELECT source, round(sqrt(n_s) / z.z, 6) AS w,
        |    CAST(floor(round(sqrt(n_s) / z.z, 6) * 200) AS INT) AS quota
        |  FROM c CROSS JOIN z),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source, CAST(rk AS INT) AS rk, w
        |FROM r JOIN q USING (source) WHERE rk <= quota""".stripMargin,
    // the pair CTEs are Dedup.minhashPairsCte VERBATIM (one definition
    // with the q46 oracle); the split CASE mirrors the q80 oracle
    "q102_split_leakage" ->
      s"""WITH ${Dedup.minhashPairsCte},
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN b < 90 THEN 'train'
        |         WHEN b < 95 THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |          ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 AS b
        |        FROM documents))
        |SELECT a_id, b_id, sa.split AS split_a, sb.split AS split_b, est_sim
        |FROM pairs JOIN sp sa ON sa.doc_id = a_id
        |  JOIN sp sb ON sb.doc_id = b_id
        |WHERE sa.split != sb.split""".stripMargin,
    // blocks are 1-based inclusive slices on both engines (DuckDB
    // tok[a:b] / Spark slice(tokens, a, 64) — both clip at the tail);
    // string_agg skips the removed rows' NULLs, coalesced to '' so a
    // fully-scrubbed doc hashes the empty string like Spark's empty join
    "q126_boilerplate_coverage" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(list_transform(range(1, len(toks) - ${BOILER_GRAM_N - 2}),
        |      i -> array_to_string(toks[i:i+${BOILER_GRAM_N - 1}], ' '))) AS gram
        |  FROM t WHERE len(toks) >= $BOILER_GRAM_N),
        |f AS (
        |  SELECT gram FROM g GROUP BY 1
        |  HAVING count(DISTINCT source) >= $BOILER_MIN_SOURCES),
        |c AS (
        |  SELECT g.doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN f.gram IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_boiler
        |  FROM g LEFT JOIN f ON g.gram = f.gram GROUP BY 1)
        |SELECT d.doc_id, d.source,
        |  coalesce(c.n_grams, 0) AS n_grams,
        |  coalesce(c.n_boiler, 0) AS n_boiler,
        |  CASE WHEN c.n_grams > 0
        |       THEN round(c.n_boiler / c.n_grams, 6) END AS coverage,
        |  coalesce(round(c.n_boiler / c.n_grams, 6) >= $BOILER_FLAG, false)
        |    AS flagged
        |FROM documents d LEFT JOIN c USING (doc_id)""".stripMargin,
    "q134_epoch_apportion" ->
      s"""WITH t AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t),
        |base AS (
        |  SELECT source, n_tokens,
        |    ($EPOCH_BUDGET * n_tokens) // total AS fl,
        |    ($EPOCH_BUDGET * n_tokens) % total AS rem
        |  FROM t, tot),
        |rk AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS r
        |  FROM base),
        |d AS (SELECT $EPOCH_BUDGET - CAST(sum(fl) AS BIGINT) AS deficit FROM base)
        |SELECT source, n_tokens,
        |  CAST(fl + CASE WHEN r <= (SELECT deficit FROM d) THEN 1 ELSE 0 END
        |    AS BIGINT) AS quota
        |FROM rk""".stripMargin,
    "q135_contamination_provenance" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(list_transform(range(1, len(toks) - 6),
        |      i -> array_to_string(toks[i:i+7], ' '))) AS gram
        |  FROM t WHERE len(toks) >= 8),
        |h AS (
        |  SELECT e.doc_id AS eval_id, tr.doc_id AS train_id,
        |    count(*) AS n_shared
        |  FROM g e JOIN g tr USING (gram)
        |  WHERE e.source = 'src0' AND tr.source != 'src0'
        |  GROUP BY 1, 2),
        |agg AS (SELECT eval_id, count(*) AS n_offenders FROM h GROUP BY 1),
        |top1 AS (
        |  SELECT eval_id, train_id, n_shared FROM (
        |    SELECT *, row_number() OVER (PARTITION BY eval_id
        |      ORDER BY n_shared DESC, train_id) AS rn
        |    FROM h) WHERE rn = 1)
        |SELECT d.doc_id AS eval_id,
        |  coalesce(agg.n_offenders, 0) AS n_offenders,
        |  top1.train_id AS top_offender,
        |  top1.n_shared AS top_shared
        |FROM documents d
        |LEFT JOIN agg ON agg.eval_id = d.doc_id
        |LEFT JOIN top1 ON top1.eval_id = d.doc_id
        |WHERE d.source = 'src0'""".stripMargin,
    // q130 serves q127 from the stored hot list — ONE oracle for both:
    // the hash match certifies the store → serve round-trip
    "q127_hot_block_scrub" -> hotBlockScrubSql,
    "q130_hot_block_index" -> hotBlockScrubSql,
    "q103_dedup_scrub" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |b0 AS (
        |  SELECT doc_id, tok,
        |    unnest(generate_series(0,
        |      CAST(ceil(len(tok) / 64.0) AS BIGINT) - 1)) AS idx
        |  FROM t),
        |b AS (
        |  SELECT doc_id, idx,
        |    array_to_string(tok[idx*64+1 : idx*64+64], ' ') AS btxt
        |  FROM b0),
        |k AS (
        |  SELECT doc_id, idx, btxt,
        |    row_number() OVER (PARTITION BY md5(btxt) ORDER BY doc_id, idx) AS rn
        |  FROM b)
        |SELECT doc_id, count(*) AS n_blocks,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  md5(coalesce(
        |    string_agg(CASE WHEN rn = 1 THEN btxt END, ' ' ORDER BY idx), ''))
        |    AS scrubbed_md5
        |FROM k GROUP BY doc_id""".stripMargin,
    "q80_dataset_split" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, source, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,
    // the oracle states the LOGICAL spec (one global row_number over the
    // md5 order); the Spark side must reproduce it with the two-pass
    // bucket-offset plan — that equivalence is exactly what the hash
    // compare certifies
    "q89_shard_export" ->
      """WITH o AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
        |      AS ordinal,
        |    count(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, ordinal,
        |  CAST(floor(ordinal * 16 / n) AS INTEGER) AS shard
        |FROM o""".stripMargin,
    // q113 serves the q106 answer from the stored LLR table + frozen
    // threshold — ONE oracle for both
    "q113_dsir_index" -> dsirOracleSql,
    "q106_dsir_select" -> dsirOracleSql,
    "q107_unimax_mix" ->
      """WITH c AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_s
        |  FROM documents GROUP BY 1),
        |p AS (
        |  SELECT source, n_s,
        |    count(*) OVER () AS m,
        |    CAST((sum(n_s) OVER ()) // 2 AS BIGINT) AS t_budget,
        |    row_number() OVER (ORDER BY n_s, source) AS i,
        |    CAST(coalesce(sum(n_s) OVER (ORDER BY n_s, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_prev
        |  FROM c),
        |cp AS (
        |  SELECT *, (2 * n_s * (m - i + 1) <= t_budget - 2 * cum_prev) AS capped
        |  FROM p),
        |agg AS (
        |  SELECT *,
        |    sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS n_capped,
        |    CAST(sum(CASE WHEN capped THEN n_s ELSE 0 END) OVER () AS BIGINT)
        |      AS cap_sum
        |  FROM cp),
        |alloc AS (
        |  SELECT source, n_s, capped,
        |    round(CASE WHEN capped THEN CAST(2 * n_s AS DOUBLE)
        |          ELSE CAST(t_budget - 2 * cap_sum AS DOUBLE) / (m - n_capped)
        |          END, 6) AS alloc_tokens
        |  FROM agg)
        |SELECT source, n_s, capped, alloc_tokens,
        |  round(alloc_tokens / n_s, 6) AS epochs
        |FROM alloc""".stripMargin,
    "q110_split_repair" ->
      (s"""WITH RECURSIVE ${Dedup.minhashPairsCte},
        |nodes AS (SELECT DISTINCT id FROM (
        |  SELECT a_id AS id FROM pairs UNION ALL SELECT b_id FROM pairs)),
        |bi AS (SELECT a_id AS src, b_id AS dst FROM pairs
        |       UNION ALL SELECT b_id, a_id FROM pairs),
        |reach(id, label) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT bi.src, reach.label FROM reach JOIN bi ON bi.dst = reach.id),
        |comp AS (SELECT id, min(label) AS label FROM reach GROUP BY 1),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 < 90
        |           THEN 'train'
        |         WHEN ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 < 95
        |           THEN 'valid'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |canon AS (
        |  SELECT comp.id AS doc_id, sp.split AS repaired
        |  FROM comp JOIN sp ON sp.doc_id = comp.label)
        |SELECT sp.doc_id, sp.split,
        |  coalesce(canon.repaired, sp.split) AS repaired_split,
        |  coalesce(canon.repaired, sp.split) != sp.split AS moved
        |FROM sp LEFT JOIN canon USING (doc_id)""").stripMargin,
    // q109 serves the q108 answer from the stored LM — ONE oracle for
    // both (the hash match certifies build/serve equality cross-engine)
    "q109_ccnet_index" -> ccnetOracleSql,
    "q108_ccnet_buckets" -> ccnetOracleSql,
    // q88's decile CTEs + the naive global curriculum ordinal the
    // two-pass plan replaces — hash match certifies the permutation
    "q123_curriculum_order" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
        |sc AS (SELECT doc_id,
        |  CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens) AS score FROM t),
        |b AS (SELECT quantile_cont(score,
        |  [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM sc),
        |dec AS (
        |  SELECT doc_id,
        |    CAST(1 + len(list_filter(b.bs, x -> score >= x)) AS INT) AS decile
        |  FROM sc CROSS JOIN b),
        |k AS (
        |  SELECT doc_id, decile,
        |    lower(hex(10 - decile)) || md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM dec),
        |n AS (SELECT count(*) AS n FROM k)
        |SELECT doc_id, decile,
        |  row_number() OVER (ORDER BY h, doc_id) - 1 AS ordinal,
        |  CAST(((row_number() OVER (ORDER BY h, doc_id) - 1) * 16) // n.n
        |    AS INT) AS shard
        |FROM k CROSS JOIN n""".stripMargin,
    // the ingest PREFIX + every gate stated independently (contrast the
    // q100 oracle's short-circuit chain) + the 8-cell rollup
    "q122_filter_ablation" ->
      s"""WITH $ingestBaseCtes,
        |cont AS (
        |  SELECT DISTINCT g.doc_id FROM g JOIN ev USING (gram)
        |  WHERE g.source != 'src0'),
        |hashed AS (SELECT doc_id, md5(text) AS h FROM q),
        |k AS (SELECT h, min(doc_id) AS keeper FROM hashed GROUP BY 1),
        |dup AS (
        |  SELECT hashed.doc_id, (hashed.doc_id != k.keeper) AS is_dup
        |  FROM hashed JOIN k USING (h))
        |SELECT q.quality_flagged,
        |  (cont.doc_id IS NOT NULL) AS contaminated,
        |  dup.is_dup, count(*) AS n_docs
        |FROM q LEFT JOIN cont ON q.doc_id = cont.doc_id
        |JOIN dup ON dup.doc_id = q.doc_id
        |GROUP BY 1, 2, 3""".stripMargin,
    "q120_padding_audit" ->
      """WITH t AS (
        |  SELECT len(string_split(text, ' ')) AS n_tok,
        |    ((len(string_split(text, ' ')) + 63) // 64) * 64 AS bucket_len
        |  FROM documents)
        |SELECT bucket_len, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS real_tokens,
        |  bucket_len * count(*) AS padded_tokens,
        |  round((bucket_len * count(*) - CAST(sum(n_tok) AS BIGINT))
        |    / (bucket_len * count(*)), 6) AS waste_ratio
        |FROM t GROUP BY 1""".stripMargin,
    // the naive per-epoch single-reducer ordinal the two-pass plan
    // replaces — the hash match certifies the identical permutations
    "q119_epoch_shuffle" ->
      s"""WITH k AS (
        |  SELECT doc_id, epoch,
        |    md5(epoch || ':' || doc_id) AS h
        |  FROM documents CROSS JOIN (SELECT unnest(
        |    [${(0 until SHUFFLE_EPOCHS).mkString(", ")}]) AS epoch)),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, epoch,
        |  row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) - 1
        |    AS ordinal,
        |  CAST(((row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id)
        |    - 1) * $SHUFFLE_SHARDS) // n.n AS INT) AS shard
        |FROM k CROSS JOIN n""".stripMargin,
    // the q108 target-LM scoring CTEs + the q73 self-LM scoring CTEs,
    // per-source micro-unit means, nano-unit softmax — stated end-to-end
    "q116_domain_weights" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |uni_t AS (
        |  SELECT w1, count(*) AS c1 FROM (
        |    SELECT unnest(toks) AS w1 FROM t WHERE source = 'src0') GROUP BY 1),
        |v_t AS (SELECT count(*) AS v FROM uni_t),
        |big_t AS (
        |  SELECT w1, w2, count(*) AS c12 FROM (
        |    SELECT b.w1 AS w1, b.w2 AS w2 FROM (
        |      SELECT unnest(list_transform(range(1, len(toks)),
        |        i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |      FROM t WHERE source = 'src0' AND len(toks) > 1))
        |  GROUP BY 1, 2),
        |rb AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |    FROM t WHERE source != 'src0' AND len(toks) > 1)),
        |sc_t AS (
        |  SELECT doc_id,
        |    round(sum(CAST(round(-ln(CAST(coalesce(big_t.c12, 0) + 1 AS DOUBLE)
        |      / (coalesce(uni_t.c1, 0) + v_t.v)) * 1e6, 0) AS BIGINT))
        |      / count(*) / 1e6, 6) AS tgt_nll
        |  FROM rb LEFT JOIN big_t USING (w1, w2) LEFT JOIN uni_t USING (w1)
        |  CROSS JOIN v_t GROUP BY 1),
        |uni_s AS (
        |  SELECT w1, count(*) AS c1 FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY 1),
        |v_s AS (SELECT count(*) AS v FROM uni_s),
        |db AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |    FROM t WHERE len(toks) > 1)),
        |big_s AS (SELECT w1, w2, count(*) AS c12 FROM db GROUP BY 1, 2),
        |sc_s AS (
        |  SELECT doc_id,
        |    round(sum(CAST(round(-ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v_s.v))
        |      * 1e6, 0) AS BIGINT)) / count(*) / 1e6, 6) AS self_nll
        |  FROM db JOIN big_s USING (w1, w2) JOIN uni_s USING (w1) CROSS JOIN v_s
        |  GROUP BY doc_id),
        |ps AS (
        |  SELECT ts.source, count(*) AS n_docs,
        |    round(sum(CAST(round(tgt_nll * 1e6, 0) AS BIGINT))
        |      / count(*) / 1e6, 6) AS tgt_nll,
        |    round(sum(CAST(round(self_nll * 1e6, 0) AS BIGINT))
        |      / count(*) / 1e6, 6) AS self_nll
        |  FROM sc_t JOIN sc_s USING (doc_id)
        |  JOIN (SELECT doc_id, source FROM t) ts USING (doc_id)
        |  GROUP BY 1),
        |e AS (
        |  SELECT *, round(tgt_nll - self_nll, 6) AS excess,
        |    CAST(round(exp(-round(tgt_nll - self_nll, 6)) * 1e9, 0) AS BIGINT) AS em
        |  FROM ps),
        |z AS (SELECT sum(em) AS z FROM e)
        |SELECT source, n_docs, tgt_nll, self_nll, excess,
        |  round(em / z.z, 6) AS weight
        |FROM e CROSS JOIN z""".stripMargin)


  private[graft] lazy val dsirOracleSql: String =
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |f AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5(bg), 1, 15))::BIGINT % 4096 AS b
        |  FROM (SELECT doc_id, source,
        |          unnest(list_transform(range(1, len(toks)),
        |            i -> toks[i] || ' ' || toks[i+1])) AS bg
        |        FROM t WHERE len(toks) > 1)),
        |tgt AS (SELECT b, count(*) AS ct FROM f WHERE source = 'src0' GROUP BY 1),
        |raw AS (SELECT b, count(*) AS cr FROM f WHERE source != 'src0' GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS tt,
        |               (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS tr),
        |model AS (
        |  SELECT raw.b,
        |    ln(CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE) / (tot.tt + 4096)) -
        |    ln(CAST(raw.cr + 1 AS DOUBLE) / (tot.tr + 4096)) AS lr
        |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
        |w AS (
        |  SELECT doc_id, count(*) AS n_feats,
        |    sum(CAST(round(lr * 1e6, 0) AS BIGINT)) AS m
        |  FROM f JOIN model ON f.b = model.b
        |  WHERE f.source != 'src0' GROUP BY 1),
        |r AS (SELECT doc_id,
        |        row_number() OVER (ORDER BY m DESC, doc_id) AS rk FROM w)
        |SELECT w.doc_id, n_feats, round(m / 1e6, 6) AS log_w,
        |  (r.rk <= 100) AS selected
        |FROM w JOIN r USING (doc_id)""".stripMargin

  private[graft] lazy val ccnetOracleSql: String =
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |uni AS (
        |  SELECT w1, count(*) AS c1 FROM (
        |    SELECT unnest(toks) AS w1 FROM t WHERE source = 'src0') GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uni),
        |big AS (
        |  SELECT w1, w2, count(*) AS c12 FROM (
        |    SELECT b.w1 AS w1, b.w2 AS w2 FROM (
        |      SELECT unnest(list_transform(range(1, len(toks)),
        |        i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |      FROM t WHERE source = 'src0' AND len(toks) > 1))
        |  GROUP BY 1, 2),
        |rb AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |    FROM t WHERE source != 'src0' AND len(toks) > 1)),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    round(sum(CAST(round(-ln(CAST(coalesce(big.c12, 0) + 1 AS DOUBLE)
        |      / (coalesce(uni.c1, 0) + v.v)) * 1e6, 0) AS BIGINT))
        |      / count(*) / 1e6, 6) AS avg_nll
        |  FROM rb LEFT JOIN big USING (w1, w2) LEFT JOIN uni USING (w1)
        |  CROSS JOIN v GROUP BY 1),
        |b AS (SELECT quantile_cont(avg_nll,
        |        [CAST(1 AS DOUBLE)/3, CAST(2 AS DOUBLE)/3]) AS bs FROM sc)
        |SELECT doc_id, n_bigrams, avg_nll,
        |  CASE WHEN avg_nll <= bs[1] THEN 'head'
        |       WHEN avg_nll <= bs[2] THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM sc CROSS JOIN b""".stripMargin
}
