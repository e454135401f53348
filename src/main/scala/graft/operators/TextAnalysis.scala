package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the training-data-pipeline
  * surface (language ID, quality scoring, token counting, fingerprinting).
  * All token math uses single-space splits, identical on both engines.
  *
  * Scale notes: every query is embarrassingly per-row (narrow projection of
  * `text`), so it pipelines inside one WholeStageCodegen span with no
  * shuffle except final small aggregations.
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Token counting: whitespace tokens + distinct tokens + char length. */
  def q40TokenCount(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        length(col("text")).as("n_chars_computed"),
        size(col("tokens")).as("n_tokens"),
        size(array_distinct(col("tokens"))).as("n_distinct"),
        // BPE-ish subword segmentation proxy: letter runs / digit runs /
        // single other chars (same RE2-compatible pattern in the oracle)
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("n_bpe_tokens"))

  /** Distinct-token ratio over a whitespace-token array — q41's
    * `distinct_ratio` AND q88's quality score, one definition.
    */
  private def distinctRatio(tokens: org.apache.spark.sql.Column) =
    size(array_distinct(tokens)).cast("double") / size(tokens)

  /** The Gopher rule-set document gate (q176; Rae et al. 2021 App. A —
    * the filter battery production corpora actually run, beyond q41's
    * score columns): word-count bounds, mean-word-length band,
    * symbol-to-word ratio ('#' and '…' as '...'), alphabetic-word
    * fraction, ellipsis-/bullet-line fractions, and the ≥2-stopword
    * requirement, plus the composite pass verdict.
    *
    * Exactness: every REPORTED ratio is one IEEE division rounded once,
    * but every VERDICT compares cross-multiplied 64-bit integers
    * (3·wc ≤ Σlen ≤ 10·wc, 10·symbols ≤ wc, 5·alpha ≥ 4·wc,
    * 10·ell_lines ≤ 3·lines, 10·bullets ≤ 9·lines) — the q148/q173
    * discipline, so no rounding can flip a pass.
    *
    * Scale shape: ONE map-only pass, all rules in-row over the split
    * arrays; nothing shuffles.
    */
  def q176GopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherVerdicts(docs(spark, dir))

  /** The Gopher rule columns APPENDED to the caller's frame — the
    * document payload (text/lang/source/…) survives alongside the
    * verdict, so [[graft.streaming.StreamingGopherGate]]'s pass sink
    * carries real documents a downstream dedup/quality stage can
    * consume (the [[graft.streaming.StreamingQuality]] convention: keep
    * the row, drop only helper columns). One definition with the q176
    * audit projection below, so batch and stream cannot drift on a
    * threshold.
    *
    * `stop_hits` counts DISTINCT stopwords present (Rae et al.'s "contain
    * at least two of the following English words" — two occurrences of
    * one word, e.g. "the the", do NOT satisfy the rule).
    */
  private[graft] def gopherScored(d: DataFrame): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    d
      .withColumn("toks", split(col("text"), " "))
      .withColumn("lines", split(col("text"), "\n"))
      .withColumn("wc", size(col("toks")).cast("long"))
      .withColumn("sum_len", aggregate(
        transform(col("toks"), t => length(t).cast("long")),
        lit(0L), (a, x) => a + x))
      .withColumn("n_hash",
        (length(col("text")) - length(regexp_replace(col("text"), "#", ""))).cast("long"))
      .withColumn("n_ell", expr(
        "CAST((length(text) - length(replace(text, '...', ''))) div 3 AS BIGINT)"))
      .withColumn("alpha_words",
        size(filter(col("toks"), t => t.rlike("[A-Za-z]"))).cast("long"))
      .withColumn("nl", size(col("lines")).cast("long"))
      .withColumn("ell_lines",
        size(filter(col("lines"), l => l.endsWith("..."))).cast("long"))
      .withColumn("bullet_lines",
        size(filter(col("lines"),
          l => l.startsWith("- ") || l.startsWith("* "))).cast("long"))
      .withColumn("stop_hits",
        size(array_intersect(
          array_distinct(transform(col("toks"), t => lower(t))),
          typedlit(stop))).cast("long"))
      .withColumn("passes",
        col("wc") >= 50L && col("wc") <= 100000L &&
          col("sum_len") >= lit(3L) * col("wc") &&
          col("sum_len") <= lit(10L) * col("wc") &&
          lit(10L) * (col("n_hash") + col("n_ell")) <= col("wc") &&
          lit(5L) * col("alpha_words") >= lit(4L) * col("wc") &&
          lit(10L) * col("ell_lines") <= lit(3L) * col("nl") &&
          lit(10L) * col("bullet_lines") <= lit(9L) * col("nl") &&
          col("stop_hits") >= 2L)
      .withColumn("word_count", col("wc"))
      .withColumn("mean_word_len", round(col("sum_len") / col("wc"), 6))
      .withColumn("symbol_ratio",
        round((col("n_hash") + col("n_ell")) / col("wc"), 6))
      .withColumn("alpha_frac", round(col("alpha_words") / col("wc"), 6))
      .withColumn("ellipsis_line_frac", round(col("ell_lines") / col("nl"), 6))
      .withColumn("bullet_line_frac", round(col("bullet_lines") / col("nl"), 6))
      .drop("toks", "lines", "wc", "sum_len", "n_hash", "n_ell",
        "alpha_words", "nl", "ell_lines", "bullet_lines")
  }

  /** q176's audit projection over [[gopherScored]] — verdict + metric
    * columns only (the hash-gated surface).
    */
  private[graft] def gopherVerdicts(d: DataFrame): DataFrame =
    gopherScored(d)
      .select(col("doc_id"), col("word_count"), col("mean_word_len"),
        col("symbol_ratio"), col("alpha_frac"), col("ellipsis_line_frac"),
        col("bullet_line_frac"), col("stop_hits"), col("passes"))

  /** Quality scoring (`length / punct / stopword ratios`): single-pass
    * per-row expressions; ratios are single IEEE divisions — identical on
    * both engines without rounding.
    */
  def q41Quality(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "of", "and", "to")
    docs(spark, dir)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("n_tok", size(col("tokens")))
      .withColumn("stop_hits",
        size(filter(col("tokens"), t => t.isInCollection(stop))))
      .withColumn("mean_tok_len",
        (length(col("text")) - (col("n_tok") - 1)).cast("double") / col("n_tok"))
      .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tok"))
      .withColumn("distinct_ratio", distinctRatio(col("tokens")))
      .select(col("doc_id"), col("n_tok"), col("stop_hits"),
        col("mean_tok_len"), col("stop_ratio"), col("distinct_ratio"))
  }

  /** Language ID by marker-token hits (n-gram heuristic, simplified to
    * token markers): per-language score, argmax prediction with
    * deterministic tie order en > de > fr.
    */
  def q42LangId(spark: SparkSession, dir: String): DataFrame = {
    val markers = Map(
      "en" -> Seq("the", "a", "of"),
      "de" -> Seq("der", "die", "und"),
      "fr" -> Seq("le", "la", "et"))
    val base = docs(spark, dir).withColumn("tokens", split(col("text"), " "))
    val scored = markers.foldLeft(base) { case (df, (lang, words)) =>
      df.withColumn(s"score_$lang",
        size(filter(col("tokens"), t => t.isInCollection(words))))
    }
    scored.withColumn("pred_lang",
      when(col("score_en") >= col("score_de") && col("score_en") >= col("score_fr"), "en")
        .when(col("score_de") >= col("score_fr"), "de")
        .otherwise("fr"))
      .select(col("doc_id"), col("score_en"), col("score_de"), col("score_fr"),
        col("pred_lang"))
  }

  /** Document fingerprinting: md5 content hash + a 60-bit numeric
    * fingerprint from the hash prefix (portable across engines).
    */
  def q43Fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("content_hash", md5(col("text")))
      .withColumn("fingerprint",
        conv(substring(col("content_hash"), 1, 15), 16, 10).cast("long"))
      .select(col("doc_id"), col("content_hash"), col("fingerprint"))

  /** Corpus statistics at every (lang, source) hierarchy level in ONE pass —
    * `rollup` computes the per-(lang, source), per-lang, and grand-total
    * aggregates in a single shuffle (vs three separate groupBys); the
    * standard shape for corpus dashboards over 100 TB.
    */
  def q60DocRollup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(sum(col("n_chars")) / 1e6, 6).as("total_mchars"))

  /** Stratified corpus balancing: a deterministic per-language quota (50
    * docs per lang, ranked by content hash) — the data-mixing operation a
    * training corpus build ends with. The hash ranking makes the "random"
    * sample reproducible on any engine and any run.
    *
    * Shape: `lang` has a handful of values, so a single ranked-take
    * window over it ranks the WHOLE corpus through #langs reducers —
    * this rides [[Ranked.twoPhaseTopK]] (q86's local-then-global quota)
    * instead.
    */
  def q63StratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Ranked.twoPhaseTopK(
      docs(spark, dir).withColumn("h", md5(col("text"))),
      Seq(col("lang")), Seq(col("h"), col("doc_id")), lit(50))
      .select(col("doc_id"), col("lang"), col("rk"))

  /** Vocabulary building: global top-100 tokens by DOCUMENT frequency.
    * The explode is the one heavy exchange (docs × tokens); the per-token
    * count is map-side-combined and the final top-k is a TakeOrdered, so
    * nothing beyond the (token → df) aggregate ever concentrates.
    */
  def q64Vocab(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("token"))
      .limit(100)

  /** BPE merge-candidate counting — the per-iteration kernel of BPE
    * tokenizer training (Sennrich et al. 2016): adjacent symbol-pair
    * frequencies weighted by word frequency, over the DISTINCT-WORD
    * table; the top pair is the next merge. Here symbols are characters
    * (iteration 0); each later round runs the same query over the
    * re-segmented symbol table, rounds bounded by the merge budget.
    *
    * Scale shape: the ONLY corpus-wide work is one map-side-combined word
    * count; the pair explode and its aggregate run on the distinct-word
    * table — VOCABULARY-sized, corpus-size-independent — and the top-k
    * plans as TakeOrderedAndProject (per-partition heads, no global
    * sort materialization).
    */
  def q111BpeMerges(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .filter(length(col("w")) >= 2)
      .select(col("n"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("n")).as("merge_count"))
      .orderBy(col("merge_count").desc, col("pair"))
      .limit(20)

  /** TF-IDF keyword extraction: each document's top-scoring token
    * (tf · ln(N/df)). Two shuffles — the (token → df) aggregate (map-side
    * combined over per-doc distinct tokens) and the per-doc argmax — with
    * the document-frequency table broadcast back against the exploded
    * term frequencies. ln and division are single IEEE ops, identical on
    * both engines; rounding to 6 guards the argmax tie edge.
    */
  def q65Tfidf(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val nDocs = d.select(countDistinct(col("doc_id")).as("n"))
    // cached: tf feeds BOTH the document-frequency aggregate (the broadcast
    // side) and the scoring join — uncached, the corpus-wide token explode
    // + aggregation runs twice. Locally neutral (measured 1.27 s cached vs
    // 1.24 s uncached median at sf0.1 — the second subtree ran on idle
    // cores anyway); at 100 TB the duplicated corpus scan is the dominant
    // cost and the cache halves it.
    val tf = graft.CacheScope.cache(d
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    tf.join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") * log(col("n").cast("double") / col("df")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("token").as("top_token"), col("tfidf"))
  }

  /** PII redaction patterns — RE2/Java-compatible by construction (ASCII
    * classes, no lookaround, no backreferences), so the Spark regexes and
    * the DuckDB oracle's behave identically; `\b` is the ASCII word
    * boundary in both engines.
    */
  private[operators] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[operators] val PhoneRe = "\\b\\d{2}-\\d{3}-\\d{3}-\\d{4}\\b"

  /** The two redaction steps, each a single shared definition — composed
    * by [[scrubPii]] (the planted-case spec surface) and by
    * [[piiScrubbed]] (which needs the intermediate email-scrubbed text
    * for redaction-true phone counting), so the spec'd chain and the
    * production chain are the same expressions.
    */
  private def emailScrubbed(text: org.apache.spark.sql.Column) =
    regexp_replace(text, EmailRe, "<EMAIL>")
  private def phoneScrubbed(text: org.apache.spark.sql.Column) =
    regexp_replace(text, PhoneRe, "<PHONE>")

  /** The scrub kernel: emails then phones, each span replaced by its tag. */
  private[operators] def scrubPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    phoneScrubbed(emailScrubbed(text))

  /** Shared scrub stage over a documents frame: replaces `text` with its
    * redacted form and appends per-row redaction counters. The single
    * definition both q84's oracle-gated kernel and
    * [[graft.streaming.StreamingScrub]] compile into, so the batch and
    * ingest-time scrubbers cannot drift — same pattern as
    * `CorpusOps.repetitionScored` backing q69 and the streaming quality
    * gate. Per-row projection, zero shuffle.
    *
    * Counters count REDACTIONS, not raw matches: replacement is
    * sequential (emails first), so `n_phones` is counted on the
    * email-scrubbed text — a phone-shaped span swallowed by an email
    * match (`12-345-678-9012@corp.example.com`) is one email redaction,
    * not a phantom phone the audit could never reconcile.
    */
  def piiScrubbed(df: DataFrame): DataFrame = {
    val es = emailScrubbed(col("text"))
    df.withColumn("n_emails", size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(es, lit(PhoneRe), lit(0))))
      .withColumn("text", phoneScrubbed(es))
  }

  /** PII scrubbing — the redaction stage every training-data curation
    * pipeline runs before packing (no reference analog; pipeline-family
    * operator like q68/q69). The fixture's word-soup documents contain no
    * PII, so the query assembles a deterministic contact-card text per
    * CUSTOMER row (the q50 pattern: reshape a driver table into the shape
    * the operator needs) with real variance — every 5th key has no email,
    * even keys carry a second phone — then counts matches and redacts.
    * The scrubbed text's md5 is the oracle gate: both engines must agree
    * on every redaction SPAN, not just the counts.
    *
    * Scale: per-row regex inside one codegen span, zero shuffle; at
    * 100 TB this is a map-only pass whose cost is the regex automaton,
    * which RE2-class patterns keep linear in text length.
    */
  def q84PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(spark, dir, "customer")
    val emailLocal = lower(regexp_replace(col("c_name"), "#", "."))
    val k = col("c_custkey")
    val phone1 = format_string("%02d-%03d-%03d-%04d",
      k % 90 + 10, k % 900 + 100, (k * 7) % 900 + 100, (k * 13) % 9000 + 1000)
    val phone2 = format_string("%02d-%03d-%03d-%04d",
      k % 80 + 10, (k * 3) % 900 + 100, (k * 11) % 900 + 100, (k * 17) % 9000 + 1000)
    val contact = when(k % 5 === 0, lit("no-contact"))
      .otherwise(concat(lit("<"), emailLocal, lit("@example.com>")))
    val text = concat(col("c_name"), lit(" "), contact, lit(" phone "), phone1,
      when(k % 2 === 0, concat(lit(" alt "), phone2)).otherwise(lit("")),
      lit(" segment "), col("c_mktsegment"))
    piiScrubbed(c.select(col("c_custkey"), text.as("text")))
      .select(col("c_custkey"), col("n_emails"), col("n_phones"),
        md5(col("text")).as("scrubbed_md5"),
        length(col("text")).as("scrubbed_len"))
  }

  /** Quality-decile bucketing + top-quality selection — the "keep the top
    * X% by quality" curation step (FineWeb/DataComp-style) between scoring
    * (q41) and mixing (q75). Score here is q41's distinct-token ratio (its
    * most discriminative single metric on this fixture; composite weights
    * are a deployment choice orthogonal to the operator's shape), kept
    * UNROUNDED — integer-ratio division is correctly-rounded IEEE on both
    * engines, so no rounding layer is needed.
    *
    * Scale shape: score is a pure per-row map; the nine decile boundaries
    * are ONE aggregate reduced to a 9-double row that broadcasts back;
    * bucket assignment is again a pure map (score vs broadcast
    * thresholds). No global sort, no window over a single partition — the
    * trap a `ntile(10) OVER (ORDER BY score)` formulation would hit, where
    * the whole corpus funnels through one reducer. Exact `percentile`
    * buffers a value→count map (bounded by DISTINCT scores — small-int
    * ratios here); at 100 TB swap in `approx_percentile` (a mergeable
    * sketch, map-side combinable) — the plan shape is unchanged.
    *
    * Oracle parity: Spark `percentile` and DuckDB `quantile_cont` both
    * interpolate at p·(n−1) over the sorted values; measured BIT-IDENTICAL
    * boundaries on this column at sf0.01 and sf0.1. Ties at a boundary are
    * counted by the same `score >= t` rule on both engines.
    */
  /** The q88 score: distinct-token ratio, appended as `score`. Shared by
    * the batch query and [[graft.streaming.StreamingDecileGate]].
    */
  def qualityScored(df: DataFrame): DataFrame =
    df.withColumn("score", distinctRatio(split(col("text"), " ")))

  /** The q88 bucket rule over a boundaries array column: 1 + count of
    * thresholds at or below the score. One definition for batch and
    * serving, so the tie rule (`score >= t`) cannot drift.
    */
  def decileOf(score: org.apache.spark.sql.Column,
               bs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (lit(1) + aggregate(bs, lit(0),
      (acc, t) => acc + when(score >= t, 1).otherwise(0))).cast("int")

  /** The nine decile boundaries of `score` as a single-row, single-array
    * frame — q88's aggregate, also what
    * [[graft.streaming.StreamingDecileGate.writeBoundaries]] materializes.
    */
  def decileBoundaries(scored: DataFrame): DataFrame =
    scored.agg(expr(
      "percentile(score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("bs"))

  def q88QualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val scored = qualityScored(docs(spark, dir)).select(col("doc_id"), col("score"))
    scored.crossJoin(broadcast(decileBoundaries(scored)))
      .withColumn("decile", decileOf(col("score"), col("bs")))
      .select(col("doc_id"), col("score"), col("decile"),
        (col("decile") >= 9).as("keep_top20"))
  }

  /** Out-of-vocabulary rate against the q64 top-100 vocabulary — the
    * tokenizer-coverage audit a corpus build runs before committing to a
    * vocab: per document, how many tokens the vocabulary misses. The
    * vocab subtree collapses to 100 rows (TakeOrdered) and is BROADCAST
    * back against the exploded corpus, so the corpus scans once and the
    * only wide exchange is the per-doc count aggregate (map-side
    * combined). At 100 TB the vocab build and the scoring pass share the
    * same explode shape q64/q65 already proved out.
    */
  def q101OovRate(spark: SparkSession, dir: String): DataFrame = {
    val vocab = q64Vocab(spark, dir).select(col("token"), lit(1).as("in_v"))
    docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tok"), 6))
  }

  /** Per-source n-gram diversity audit — the corpus-health metrics a
    * curation pipeline tracks per domain (Gopher/RedPajama-style quality
    * signals at SOURCE granularity): type-token ratio and distinct-over-
    * total trigram ratio. A source whose trigram diversity collapses is
    * template/boilerplate-heavy (mirror sites, SEO farms) even when each
    * individual document passes per-doc repetition gates (q69) — the
    * cross-document repetition only the corpus-level ratio can see.
    *
    * Scale shape: both distinct counts run as TWO-LEVEL aggregates — the
    * first keyed by (source, gram), so a giant source's grams spread over
    * every reducer with map-side partials (a `countDistinct` planned the
    * same way; stated explicitly here), the second a #sources-row rollup
    * of the per-gram counts. No window, nothing driver-side; at 100 TB
    * swap the exact distinct for `approx_count_distinct`'s mergeable HLL
    * sketch without changing the plan shape.
    */
  def q117NgramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val t = docs(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
    val tokStats = t.select(col("source"), explode(col("toks")).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"))
    val triStats = t.filter(size(col("toks")) >= 3)
      .select(col("source"), explode(expr(
        """transform(sequence(1, size(toks) - 2),
          |  i -> concat(toks[i - 1], ' ', toks[i], ' ', toks[i + 1]))"""
          .stripMargin)).as("g"))
      .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_trigrams"),
        count(lit(1)).as("n_distinct_trigrams"))
    t.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(tokStats, Seq("source"))
      .join(triStats, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_types"),
        round(col("n_types") / col("n_tokens"), 6).as("ttr"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_distinct_trigrams"), lit(0L)).as("n_distinct_trigrams"),
        when(coalesce(col("n_trigrams"), lit(0L)) > 0,
          round(col("n_distinct_trigrams") / col("n_trigrams"), 6))
          .as("trigram_diversity"))
  }

  /** Tokenizer fertility audit — the per-domain compression check a
    * pipeline runs before committing a tokenizer to a corpus mix
    * (fertility = subword tokens emitted per whitespace word; high
    * fertility on a domain means the tokenizer fragments it and the
    * domain's effective context shrinks). Subwords use q40's BPE-proxy
    * segmentation (letter runs / digit runs / single other chars) — ONE
    * regex shared with the token-count audit, stated identically in the
    * oracle.
    *
    * Scale shape: per-row regexp counts pipeline inside the scan's
    * codegen stage; the only exchange is the (lang, source) aggregate
    * (map-side combined, #langs×#sources output rows). All ratios are
    * single divisions of exact 64-bit sums — no summation-order hazard.
    */
  def q125TokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("w"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
          .cast("long").as("sw"),
        length(col("text")).cast("long").as("ch"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("n_words"),
        sum(col("sw")).as("n_subwords"),
        sum(col("ch")).as("n_chars"))
      .withColumn("fertility", round(col("n_subwords") / col("n_words"), 6))
      .withColumn("chars_per_subword",
        round(col("n_chars") / col("n_subwords"), 6))

  /** Checkpoints on the q128 growth curve. */
  val VOCAB_CHECKPOINTS = 10

  /** Vocabulary growth curve (Heaps' law audit) — how fast the corpus
    * keeps producing unseen tokens as it is consumed in the
    * deterministic q89 training order: cumulative distinct-token count
    * at [[VOCAB_CHECKPOINTS]] equal slices of the corpus. A curve that
    * stays steep means an OOV-heavy corpus (tokenizer or dedup problem);
    * a flattening curve certifies diminishing novelty — the measurement
    * behind "more data stops adding vocabulary".
    *
    * Scale shape: the order is q89's two-pass gap-free ordinal (no
    * global-sort reducer); a token's first sighting is a MIN aggregate
    * over its checkpoint slice ids (token-keyed, map-side combined —
    * checkpoint is monotone in ordinal so min(checkpoint) = checkpoint
    * of min(ordinal)); the growth table is [[VOCAB_CHECKPOINTS]] rows,
    * and the only windows (the two cumulative sums) run on that bounded
    * frame.
    */
  def q128VocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
    // cached: the per-checkpoint doc counts and the token join both read
    // the ordinal frame — uncached, the two-pass ranking runs twice
    val ords = graft.CacheScope.cache(
      CorpusOps.shardOrdinals(d.select(col("doc_id")), VOCAB_CHECKPOINTS)
        .withColumnRenamed("shard", "checkpoint")
        .select(col("doc_id"), col("checkpoint")))
    val firstSeen = d
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token"))
      .join(ords, Seq("doc_id"))
      .groupBy(col("token")).agg(min(col("checkpoint")).as("checkpoint"))
    val docsPer = ords.groupBy(col("checkpoint")).agg(count(lit(1)).as("n_docs"))
    val toksPer = firstSeen.groupBy(col("checkpoint"))
      .agg(count(lit(1)).as("new_tokens"))
    // bounded frame: VOCAB_CHECKPOINTS rows — the IVF-centroid kind of
    // single-partition window, not a corpus funnel
    val cum = Window.orderBy(col("checkpoint"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsPer.join(toksPer, Seq("checkpoint"), "left")
      .withColumn("new_tokens", coalesce(col("new_tokens"), lit(0L)))
      .withColumn("docs_seen", sum(col("n_docs")).over(cum))
      .withColumn("vocab_size", sum(col("new_tokens")).over(cum))
      .select(col("checkpoint"), col("docs_seen"), col("new_tokens"),
        col("vocab_size"))
  }

  /** q133 dials: a token in ≥ [[HH_FRAC]] of all docs is a heavy hitter;
    * [[HH_SKETCH_K]] Misra–Gries counters per partition. The guarantee
    * needs k + 1 ≥ 1/frac (here 65 ≥ 20, ample): a token below the local
    * bar n_p/(k+1) in EVERY partition sums below N/(k+1) ≤ frac·N
    * globally, so every true heavy hitter survives some partition's
    * sketch.
    */
  val HH_FRAC = 0.05
  val HH_SKETCH_K = 64

  /** Heavy-hitter tokens via per-partition Misra–Gries + exact verify —
    * the bounded-memory alternative to q64's vocabulary-sized aggregate:
    * at 100 TB the (token → doc_freq) map-side hash is vocabulary-sized
    * per task, while the MG sketch holds exactly k counters per
    * partition no matter the vocabulary. The sketch is a SUPERSET filter
    * (no false negatives, by the pigeonhole above); the exact counting
    * pass then runs only over the candidate set — a broadcast membership
    * gate inside the explode's codegen span — so the wide exchange
    * carries candidates×docs rows, not vocabulary×docs.
    *
    * Output is EXACT and partitioning-independent: candidates vary with
    * the partitioning, but every true heavy hitter is always among them
    * and the exact threshold removes the rest — the determinism the
    * oracle (a plain GROUP BY … HAVING) certifies.
    *
    * `mapPartitions` is deliberate (the documented last resort): MG is
    * genuinely per-partition imperative state with a decrement-all step
    * no Column expression or declarative aggregate expresses.
    */
  def q133HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = docs(spark, dir)
    val nDocs = d.count()
    // cached: the sketch pass and the exact verify both read the
    // doc-distinct token stream
    val tk = graft.CacheScope.cache(
      d.select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("token")))
    val candidates: Array[String] = tk.select(col("token")).as[String]
      .mapPartitions { it =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { t =>
          if (counters.contains(t)) counters(t) += 1
          else if (counters.size < HH_SKETCH_K) counters(t) = 1L
          else {
            // decrement-all; drop zeroed counters, the newcomer is not kept
            val dead = counters.iterator.filter(_._2 == 1L).map(_._1).toList
            counters.mapValuesInPlace((_, v) => v - 1)
            dead.foreach(counters.remove)
          }
        }
        counters.keysIterator
      }
      .distinct().collect() // ≤ partitions × k strings — bounded driver state
    val thresh = math.ceil(HH_FRAC * nDocs).toLong
    tk.filter(col("token").isInCollection(candidates))
      .groupBy(col("token")).agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= thresh)
  }

  // ------------------------------------------------ incremental stats view

  /** Merge-able corpus-stats partials per (lang, source): exact 64-bit
    * count and char sums — the associative/commutative form that makes
    * `partial(A) ⊕ partial(B) = partial(A ∪ B)` hold exactly, which is
    * the whole contract of incremental view maintenance. ONE definition
    * for the stored base, every delta, and the streaming maintainer.
    */
  private[graft] def statsPartials(df: DataFrame): DataFrame =
    df.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))

  /** Merge partial frames by key (re-aggregate the sums). */
  private[graft] def mergeStatsPartials(parts: DataFrame): DataFrame =
    parts.groupBy(col("lang"), col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("total_chars")).as("total_chars"))

  /** Finalize partials into the served stats row (the only non-mergeable
    * column, the mean, derives at READ time from exact sums).
    */
  private[graft] def finalizeStats(parts: DataFrame): DataFrame =
    mergeStatsPartials(parts)
      .withColumn("avg_chars", round(col("total_chars") / col("n_docs"), 6))

  /** Materialize the stats base. */
  def writeStatsIndex(df: DataFrame, path: String): Unit =
    IndexMeta.commit(df.sparkSession, path, "graft corpus stats view") {
      statsPartials(df).write.mode("overwrite").parquet(s"$path/partials")
      Seq("kind" -> "stats_view", "keys" -> "lang,source")
    }

  /** Incremental corpus-stats maintenance — the materialized-view shape
    * a 100 TB corpus dashboard actually runs: per-(lang, source) doc and
    * char totals kept as a STORED partial table; a delta batch
    * contributes only its own partials (the historical corpus is never
    * re-read) and the view merges by key at read time. Exactness is
    * structural: the partials are integer sums, so merge order cannot
    * change a digit and `merge(base, delta)` equals the from-scratch
    * aggregate bit-for-bit — which is precisely what the shared oracle
    * (a plain full-corpus GROUP BY) certifies.
    *
    * The query splits the corpus by q80's content-hash rule (buckets
    * < 90 = the "yesterday" base, the rest = today's delta), builds the
    * base index if absent, and serves base ⊕ delta.
    */
  def q132StatsMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val bucket = CorpusOps.contentBucket // q80's rule — one definition
    val path = Tables.derivedIndexPath("graft_stats_view_v1", dir, "documents")
    IndexMeta.ensure(spark, path) { writeStatsIndex(d.filter(bucket < 90), path) }
    IndexMeta.read(spark, path, "writeStatsIndex") // refuse meta-less dirs
    val base = spark.read.parquet(s"$path/partials")
    val delta = statsPartials(d.filter(bucket >= 90))
    finalizeStats(base.unionByName(delta))
  }

  /** Linear-counting bucket width. 16 Ki buckets hold the fixture's
    * trigram cardinalities (1–11 k per source across sfs) in the
    * sketch's accurate load range while staying 3 orders of magnitude
    * under the 100 TB-scale cardinalities the EXACT side would choke on.
    */
  val LC_M = 16384

  /** Per-source distinct-trigram estimate by LINEAR COUNTING (Whang et
    * al. 1990): hash each trigram type into one of LC_M buckets; with V
    * buckets left empty, est = -m·ln(V/m). The deterministic,
    * cross-engine-reproducible alternative to approx_count_distinct —
    * Spark's HLL++ sketch hashes with a private seed and cannot be
    * replayed in another engine, while this sketch is pure md5 column
    * math, so the ESTIMATE ITSELF hash-matches the oracle. Emitted next
    * to the exact count, the row is a self-auditing sketch: the judge of
    * its own error.
    *
    * Scale shape: the trigram TYPE table (groupBy (source, trigram),
    * map-side partials) is the only corpus-sized exchange and already
    * feeds the exact side; the sketch side collapses it to ≤ m rows per
    * source before the final count, so sketch state is m bits per
    * source no matter how the corpus grows — the whole point. At true
    * scale the exact columns drop and only the bucket bitmap (OR-merge-
    * able, the q132 partial discipline) persists.
    */
  /** The (source, trigram-occurrence) stream — ONE definition for both
    * cardinality sketches (q150 linear counting, q153/q154 HLL).
    */
  private[graft] def triStream(df: DataFrame): DataFrame = Spread.scan(df)
    .select(col("source"), split(col("text"), " ").as("toks"))
    .filter(size(col("toks")) > 2)
    .select(col("source"), explode(expr(
      """transform(sequence(0, size(toks) - 3),
        |  i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))""".stripMargin))
      .as("tri"))

  def q150DistinctSketch(spark: SparkSession, dir: String): DataFrame = {
    val perTri = graft.CacheScope.cache(triStream(docs(spark, dir))
      .groupBy(col("source"), col("tri")).agg(count(lit(1)).as("c")))
    val exact = perTri.groupBy(col("source"))
      .agg(count(lit(1)).as("exact_distinct"), sum(col("c")).as("n_trigrams"))
    val occ = perTri
      .select(col("source"),
        pmod(conv(substring(md5(col("tri")), 1, 15), 16, 10).cast("long"),
          lit(LC_M.toLong)).as("bucket"))
      .distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("occupied"))
    exact.join(occ, Seq("source"))
      .select(col("source"), col("n_trigrams"), col("exact_distinct"),
        col("occupied"),
        round(-lit(LC_M.toDouble) *
          log((lit(LC_M) - col("occupied")) / lit(LC_M.toDouble)), 6)
          .as("est_distinct"))
  }

  /** HLL register count (2^8 — 6.5% standard error, 256 longs of state
    * per source at ANY cardinality).
    */
  val HLL_M = 256

  /** α_m·m²·2^53 — the raw-estimate numerator over the exact integer
    * harmonic sum. Computed ONCE here and interpolated into the oracle
    * as its shortest decimal representation (which round-trips to the
    * identical double), so both engines divide the same constant.
    */
  val HLL_NUM: Double =
    0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * 9007199254740992.0

  /** Per-(source, register) max-rho partials from the trigram stream —
    * ONE definition for the inline sketch (q153), the stored base, every
    * delta (q154), and any streaming maintainer. The md5-derived 60-bit
    * value splits into an 8-bit register index and a 52-bit tail whose
    * leading-zero rank is read off `length(bin(w))` — pure string math,
    * identical on both engines. Crucially the input is the OCCURRENCE
    * stream: duplicates land on the same (register, rho), so max-merge
    * needs NO distinct pass and NO type table — per-task state is m
    * counters regardless of corpus size, the property that makes this
    * the 100 TB cardinality path (q150's linear counting still builds
    * the type table and saturates past its bucket range).
    */
  private[graft] def hllPartials(df: DataFrame): DataFrame =
    triStream(df)
      .select(col("source"),
        conv(substring(md5(col("tri")), 1, 15), 16, 10).cast("long").as("v"))
      .select(col("source"), pmod(col("v"), lit(HLL_M.toLong)).as("idx"),
        expr(s"v div $HLL_M").as("w"))
      .select(col("source"), col("idx"),
        when(col("w") === 0, lit(53))
          .otherwise(lit(53) - length(bin(col("w")))).as("rho"))
      .groupBy(col("source"), col("idx")).agg(max(col("rho")).as("m_j"))

  /** Merge register partials (max is associative/commutative/idempotent —
    * the strongest merge algebra of the incremental tier: re-delivered
    * deltas are absorbed, not double-counted).
    */
  private[graft] def mergeHllPartials(parts: DataFrame): DataFrame =
    parts.groupBy(col("source"), col("idx")).agg(max(col("m_j")).as("m_j"))

  /** Finalize registers into the per-source estimate: exact integer
    * harmonic sum Z = Σ 2^(53−M_j) (empty registers contribute 2^53;
    * 256·2^53 = 2^61 stays in range), raw = [[HLL_NUM]]/Z — one IEEE
    * division of bit-identical operands, so the raw path needs NO
    * rounding margin — and the Flajolet small-range correction
    * m·ln(m/zeros) when raw ≤ 2.5·m (the branch condition compares
    * bit-identical doubles; only the correction's ln needs a margin,
    * measured in HllSpec).
    */
  private[graft] def finalizeHll(parts: DataFrame): DataFrame =
    mergeHllPartials(parts)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("occupied"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(53 - m_j AS INT))"))
          .as("_zp"))
      .withColumn("z_int",
        col("_zp") + (lit(HLL_M.toLong) - col("occupied")) *
          lit(9007199254740992L))
      .withColumn("_raw", lit(HLL_NUM) / col("z_int"))
      .withColumn("est_distinct",
        round(when(col("_raw") <= lit(2.5 * HLL_M) &&
          col("occupied") < HLL_M,
          lit(HLL_M.toDouble) *
            log(lit(HLL_M.toDouble) / (lit(HLL_M.toLong) - col("occupied"))))
          .otherwise(col("_raw")), 6))
      .select(col("source"), col("occupied"), col("z_int"),
        col("est_distinct"))

  /** Per-source distinct-trigram estimate by HYPERLOGLOG (Flajolet et
    * al. 2007) over the deterministic md5 hash — q150's linear counting
    * taken to the cardinality range where the type table itself is the
    * bottleneck. Emitted next to the exact count (the self-audit column,
    * which DOES build the type table and drops at true scale — the
    * register math never needs it).
    */
  def q153HllSketch(spark: SparkSession, dir: String): DataFrame = {
    val d = graft.CacheScope.cache(docs(spark, dir)
      .select(col("source"), col("text")))
    val exact = triStream(d)
      .groupBy(col("source")).agg(count_distinct(col("tri")).as("exact_distinct"))
    exact.join(finalizeHll(hllPartials(d)), Seq("source"))
      .select(col("source"), col("exact_distinct"), col("occupied"),
        col("z_int"), col("est_distinct"))
  }

  /** Materialize the HLL register base. */
  def writeHllIndex(df: DataFrame, path: String): Unit =
    IndexMeta.commit(df.sparkSession, path, "graft hll register view") {
      hllPartials(df).write.mode("overwrite").parquet(s"$path/registers")
      Seq("kind" -> "hll_registers", "m" -> HLL_M.toString)
    }

  /** Incremental cardinality maintenance — the q132 materialized-view
    * shape with the MAX merge algebra: the corpus's registers are stored
    * (m rows per source, forever); a delta batch contributes only its
    * own registers and `merge(base, delta)` equals the from-scratch
    * sketch BIT-FOR-BIT because max is associative, commutative, and
    * idempotent — a replayed delta cannot even double-count, which no
    * sum-based partial can claim. Serving never re-reads the base
    * corpus and never builds a type table: this row is the one a
    * 100 TB dedup planner reads to size its hash tables. Oracle:
    * the register CTEs over the full corpus — the hash match IS the
    * merge law.
    */
  def q154HllMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val bucket = CorpusOps.contentBucket // q80's rule — one definition
    val path = Tables.derivedIndexPath("graft_hll_view_v1", dir, "documents")
    IndexMeta.ensure(spark, path) { writeHllIndex(d.filter(bucket < 90), path) }
    IndexMeta.read(spark, path, "writeHllIndex") // refuse meta-less dirs
    val base = spark.read.parquet(s"$path/registers")
    val delta = hllPartials(d.filter(bucket >= 90))
    finalizeHll(base.unionByName(delta))
  }

  /** Count-Min dials: d hash rows × w buckets — 4096 integer cells of
    * sketch state at ANY corpus size.
    */
  val CM_D = 4
  val CM_W = 1024L

  /** Count-Min frequency sketch with exact verify (q158; Cormode &
    * Muthukrishnan 2005) — the third sketch algebra next to q133's
    * Misra–Gries (candidates) and q153's HLL (cardinality): CM answers
    * POINT frequency queries for any key with a one-sided error
    * guarantee, est ≥ exact always, est ≤ exact + εN w.h.p. Counters
    * are md5-salted ([[CM_D]] rows × [[CM_W]] buckets), so the sketch
    * is engine-reproducible and MERGE-ABLE BY + (the q132 sum algebra —
    * a distributed ingest can keep per-partition sketches and add
    * them). The audit emits the head-100 and tail-100 tokens with
    * exact vs estimated counts: the head shows near-zero error, the
    * tail shows the collision overestimates the guarantee prices in.
    *
    * Keys are TRIGRAMS, not tokens — the fixture's token vocabulary is a
    * fixed 31-word pool, which would leave every bucket collision-free
    * and the guarantee untested; the ~16 k trigram types load the 1024
    * buckets ~16 deep, so the emitted overestimates are REAL collisions
    * the oracle hash-certifies.
    *
    * Scale shape: the ONLY corpus-sized work is the map-side-combined
    * trigram count; the sketch builds from the TYPE table (explode ×d,
    * one (j, bucket) aggregate down to d·w cells) and both query sets
    * plan as TakeOrderedAndProject. All arithmetic is 64-bit integer —
    * bit-exact on any engine and partitioning.
    */
  def q158CountMin(spark: SparkSession, dir: String): DataFrame = {
    val tok = graft.CacheScope.cache(
      triStream(docs(spark, dir))
        .groupBy(col("tri")).agg(count(lit(1)).as("c")))
    def buckets(df: DataFrame): DataFrame = df
      .select(col("tri"), col("c"),
        explode(sequence(lit(0), lit(CM_D - 1))).as("j"))
      .withColumn("bucket",
        pmod(conv(substring(md5(concat_ws(":", col("j"), col("tri"))), 1, 15),
          16, 10).cast("long"), lit(CM_W)))
    val counters = buckets(tok)
      .groupBy(col("j"), col("bucket")).agg(sum(col("c")).as("cnt"))
    val qset = graft.CacheScope.cache(
      tok.orderBy(col("c").desc, col("tri")).limit(100)
        .withColumn("which", lit("head"))
        .unionByName(tok.orderBy(col("c").asc, col("tri")).limit(100)
          .withColumn("which", lit("tail"))))
    buckets(qset.select(col("tri"), col("c")).distinct())
      .join(counters, Seq("j", "bucket"))
      .groupBy(col("tri"), col("c"))
      .agg(min(col("cnt")).as("c_est"))
      .join(qset.select(col("tri"), col("which")), Seq("tri"))
      .select(col("which"), col("tri"), col("c").as("c_exact"),
        col("c_est"), (col("c_est") - col("c")).as("overestimate"))
  }

  /** How many collocations q152 surfaces. */
  val G2_TOP = 50

  /** Dunning log-likelihood-ratio collocations (Dunning 1993, "Accurate
    * Methods for the Statistics of Surprise and Coincidence"): for each
    * bigram type, G² = 2·Σ O·ln(O/E) over its 2×2 contingency table
    * (k11 = c12, k12 = c1−c12, k21 = c2−c12, k22 = N−c1−c2+c12;
    * E_ij = row·col/N), the association statistic that — unlike raw
    * frequency or PMI — is calibrated for BOTH common and rare bigrams;
    * the top-[[G2_TOP]] table is the collocation dictionary a phrase
    * miner or tokenizer-merge pass starts from (the statistical cousin
    * of q111's count-based BPE merges).
    *
    * Determinism: every table cell is an exact 64-bit integer, each of
    * the 4 terms is k·ln((k·N)/(row·col)) with 0·ln0 := 0. The ratio
    * form is deliberate: k·N and row·col are exact (< 2^53 while
    * N² < 2^53; the q151 range note applies), IEEE division is
    * correctly rounded so the ratio is BIT-IDENTICAL across engines,
    * and for the O(N)-sized k22 cell the ratio sits near 1 where
    * ulp(ln) is vanishing — the k·(ln a − ln b) form would instead
    * amplify two full-magnitude ln ulps by k ≈ N past the micro-unit
    * rounding margin (measured: the worst-case drift bound crosses the
    * observed minimum margin at sf0.01; with the ratio form it sits
    * ≥ 10× under it — CollocationSpec checks the per-row bound). G²
    * rounds ONCE to micro-units; ranking compares (micro-G² desc, w1,
    * w2), so order is engine- and partitioning-exact.
    *
    * Scale shape: the bigram TYPE aggregate is the only corpus-sized
    * exchange; marginals are two further aggregates OF THE TYPE TABLE
    * (vocabulary-sized, distributed, map-side combined); the marginal
    * joins key on w1/w2 with the Zipfian head through
    * [[Skew.saltedJoinAdaptive]]; the global top-k is the shared
    * two-phase take, so no single reducer ever ranks the full
    * vocabulary² frame.
    */
  def q152Collocations(spark: SparkSession, dir: String): DataFrame = {
    // NO Spread.scan (r19 same-set repeat-5 A/B, adjudicating the r18
    // verdict's q152 suspicion: 2.10/1.73 respread vs 2.05/1.60 plain —
    // same cheap-tokenize-into-type-aggregate rule as q73/q151/q161)
    val big = graft.CacheScope.cache(docs(spark, dir)
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) > 1)
      .select(explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(toks[i - 1] AS w1, toks[i] AS w2))""".stripMargin)).as("b"))
      .groupBy(col("b.w1"), col("b.w2")).agg(count(lit(1)).as("c12")))
    val ctx = graft.CacheScope.cache(
      big.groupBy(col("w1")).agg(sum(col("c12")).as("c1")))
    val hist = graft.CacheScope.cache(
      big.groupBy(col("w2")).agg(sum(col("c12")).as("c2")))
    val n = big.agg(sum(col("c12")).as("n"))
    val j1 = Skew.saltedJoinAdaptive(
      big.withColumn("_uid", concat_ws(" ", col("w1"), col("w2"))),
      ctx, "w1", CorpusOps.SKEW_SALTS, "_uid", keyCounts = ctx, cntCol = "c1")
    val j2 = Skew.saltedJoinAdaptive(
      j1, hist, "w2", CorpusOps.SKEW_SALTS, "_uid",
      keyCounts = hist, cntCol = "c2")
    def term(k: org.apache.spark.sql.Column, row: org.apache.spark.sql.Column,
             c: org.apache.spark.sql.Column) =
      when(k > 0,
        k.cast("double") *
          log((k * col("n")).cast("double") / (row * c).cast("double")))
        .otherwise(lit(0.0))
    val scored = j2.crossJoin(broadcast(n))
      .withColumn("_g2m", round(lit(2.0) * (
        term(col("c12"), col("c1"), col("c2")) +
          term(col("c1") - col("c12"), col("c1"), col("n") - col("c2")) +
          term(col("c2") - col("c12"), col("n") - col("c1"), col("c2")) +
          term(col("n") - col("c1") - col("c2") + col("c12"),
            col("n") - col("c1"), col("n") - col("c2"))) * 1e6, 0).cast("long"))
    Ranked.twoPhaseTopK(scored, Seq.empty,
      Seq(col("_g2m").desc, col("w1"), col("w2")), lit(G2_TOP))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        (col("_g2m") / 1e6).as("g2"), col("rk").cast("int").as("rk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q65_tfidf" -> q65Tfidf,
    "q152_collocations" -> q152Collocations,
    "q150_distinct_sketch" -> q150DistinctSketch,
    "q153_hll_sketch" -> q153HllSketch,
    "q158_count_min" -> q158CountMin,
    "q154_hll_maintenance" -> q154HllMaintenance,
    "q125_tokenizer_fertility" -> q125TokenizerFertility,
    "q128_vocab_growth" -> q128VocabGrowth,
    "q132_stats_maintenance" -> q132StatsMaintenance,
    "q133_heavy_hitters" -> q133HeavyHitters,
    "q117_ngram_diversity" -> q117NgramDiversity,
    "q84_pii_scrub" -> q84PiiScrub,
    "q88_quality_deciles" -> q88QualityDeciles,
    "q40_token_count" -> q40TokenCount,
    "q176_gopher_rules" -> q176GopherRules,
    "q41_quality" -> q41Quality,
    "q42_lang_id" -> q42LangId,
    "q43_fingerprint" -> q43Fingerprint,
    "q60_doc_rollup" -> q60DocRollup,
    "q63_stratified_sample" -> q63StratifiedSample,
    "q64_vocab" -> q64Vocab,
    "q101_oov_rate" -> q101OovRate,
    "q111_bpe_merges" -> q111BpeMerges)

  /** Register CTEs shared by q153/q154 — every dial ([[HLL_M]], 2^53,
    * [[HLL_NUM]], the 2.5·m correction bound) interpolates so a constant
    * change cannot desync the oracle from the implementation.
    */
  private val hllCtes: String =
    s"""t AS (
      |  SELECT source, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) > 2),
      |g AS (
      |  SELECT source,
      |    unnest(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS tri
      |  FROM t),
      |h AS (
      |  SELECT source, ('0x' || substr(md5(tri), 1, 15))::BIGINT AS v FROM g),
      |r AS (
      |  SELECT source, v % $HLL_M AS idx,
      |    CASE WHEN v // $HLL_M = 0 THEN 53
      |         ELSE 53 - length(bin(v // $HLL_M)) END AS rho
      |  FROM h),
      |regs AS (SELECT source, idx, max(rho) AS m_j FROM r GROUP BY 1, 2),
      |agg0 AS (
      |  SELECT source, count(*) AS occupied,
      |    CAST(sum(1::BIGINT << CAST(53 - m_j AS INT)) AS BIGINT)
      |      + ($HLL_M - count(*)) * 9007199254740992::BIGINT AS z_int
      |  FROM regs GROUP BY 1),
      |agg AS (
      |  SELECT source, occupied, z_int,
      |    round(CASE WHEN $HLL_NUM / z_int <= ${2.5 * HLL_M}
      |        AND occupied < $HLL_M
      |      THEN $HLL_M * ln($HLL_M.0 / ($HLL_M - occupied))
      |      ELSE $HLL_NUM / z_int END, 6) AS est_distinct
      |  FROM agg0)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q176_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split(text, ' ') AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS wc,
        |    CAST(list_sum(list_transform(toks, x -> len(x))) AS BIGINT) AS sum_len,
        |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |    CAST((len(text) - len(replace(text, '...', ''))) // 3 AS BIGINT) AS n_ell,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |    CAST(len(lines) AS BIGINT) AS nl,
        |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT) AS ell_lines,
        |    CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS bullet_lines,
        |    CAST(len(list_intersect(list_distinct(list_transform(toks, x -> lower(x))), ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
        |  FROM t)
        |SELECT doc_id, wc AS word_count,
        |  round(sum_len / CAST(wc AS DOUBLE), 6) AS mean_word_len,
        |  round((n_hash + n_ell) / CAST(wc AS DOUBLE), 6) AS symbol_ratio,
        |  round(alpha_words / CAST(wc AS DOUBLE), 6) AS alpha_frac,
        |  round(ell_lines / CAST(nl AS DOUBLE), 6) AS ellipsis_line_frac,
        |  round(bullet_lines / CAST(nl AS DOUBLE), 6) AS bullet_line_frac,
        |  stop_hits,
        |  (wc >= 50 AND wc <= 100000
        |    AND sum_len >= 3 * wc AND sum_len <= 10 * wc
        |    AND 10 * (n_hash + n_ell) <= wc
        |    AND 5 * alpha_words >= 4 * wc
        |    AND 10 * ell_lines <= 3 * nl
        |    AND 10 * bullet_lines <= 9 * nl
        |    AND stop_hits >= 2) AS passes
        |FROM m""".stripMargin,
    "q152_collocations" ->
      s"""WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) > 1),
        |b AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> {'w1': toks[i], 'w2': toks[i+1]})) AS b
        |  FROM t),
        |big AS (SELECT b.w1, b.w2, count(*) AS c12 FROM b GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY 1),
        |hist AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM big GROUP BY 1),
        |nn AS (SELECT CAST(sum(c12) AS BIGINT) AS n FROM big),
        |g AS (
        |  SELECT w1, w2, c12, c1, c2,
        |    CAST(round(2.0 * (
        |      CASE WHEN c12 > 0 THEN c12 * ln(CAST(c12 * n AS DOUBLE)
        |        / CAST(c1 * c2 AS DOUBLE)) ELSE 0.0 END
        |      + CASE WHEN c1 - c12 > 0 THEN (c1 - c12)
        |          * ln(CAST((c1 - c12) * n AS DOUBLE)
        |        / CAST(c1 * (n - c2) AS DOUBLE)) ELSE 0.0 END
        |      + CASE WHEN c2 - c12 > 0 THEN (c2 - c12)
        |          * ln(CAST((c2 - c12) * n AS DOUBLE)
        |        / CAST((n - c1) * c2 AS DOUBLE)) ELSE 0.0 END
        |      + CASE WHEN n - c1 - c2 + c12 > 0 THEN (n - c1 - c2 + c12)
        |          * ln(CAST((n - c1 - c2 + c12) * n AS DOUBLE)
        |        / CAST((n - c1) * (n - c2) AS DOUBLE)) ELSE 0.0 END
        |    ) * 1e6, 0) AS BIGINT) AS g2m
        |  FROM big JOIN ctx USING (w1) JOIN hist USING (w2) CROSS JOIN nn)
        |SELECT w1, w2, c12, c1, c2, g2m / 1e6 AS g2, CAST(rk AS INT) AS rk
        |FROM (SELECT *, row_number() OVER (ORDER BY g2m DESC, w1, w2) AS rk
        |  FROM g) WHERE rk <= $G2_TOP""".stripMargin,
    // the register CTEs are shared verbatim by q153 (full corpus, with
    // the exact audit column) and q154 (served from the stored base ⊕
    // delta) — the q154 hash match against the FULL-corpus SQL is the
    // max-merge law itself
    "q158_count_min" ->
      s"""WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) > 2),
        |tok AS (
        |  SELECT tri, count(*) AS c FROM (
        |    SELECT unnest(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS tri
        |    FROM t)
        |  GROUP BY 1),
        |cells AS (
        |  SELECT tri, c, g.j,
        |    ('0x' || substr(md5(CAST(g.j AS VARCHAR) || ':' || tri), 1, 15))
        |      ::BIGINT % $CM_W AS bucket
        |  FROM tok, generate_series(0, ${CM_D - 1}) g(j)),
        |counters AS (
        |  SELECT j, bucket, CAST(sum(c) AS BIGINT) AS cnt
        |  FROM cells GROUP BY 1, 2),
        |q AS (
        |  SELECT 'head' AS which, tri FROM
        |    (SELECT tri FROM tok ORDER BY c DESC, tri LIMIT 100)
        |  UNION ALL
        |  SELECT 'tail', tri FROM
        |    (SELECT tri FROM tok ORDER BY c ASC, tri LIMIT 100)),
        |est AS (
        |  SELECT ce.tri, ce.c, min(co.cnt) AS c_est
        |  FROM cells ce JOIN counters co USING (j, bucket)
        |  WHERE ce.tri IN (SELECT tri FROM q)
        |  GROUP BY 1, 2)
        |SELECT q.which, q.tri, e.c AS c_exact, e.c_est,
        |  e.c_est - e.c AS overestimate
        |FROM q JOIN est e USING (tri)""".stripMargin,
    "q153_hll_sketch" ->
      s"""WITH $hllCtes,
        |ex AS (
        |  SELECT source, count(DISTINCT tri) AS exact_distinct FROM g
        |  GROUP BY 1)
        |SELECT source, exact_distinct, occupied, z_int, est_distinct
        |FROM ex JOIN agg USING (source)""".stripMargin,
    "q154_hll_maintenance" ->
      s"""WITH $hllCtes
        |SELECT source, occupied, z_int, est_distinct FROM agg""".stripMargin,
    "q150_distinct_sketch" ->
      s"""WITH t AS (
        |  SELECT source, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) > 2),
        |g AS (
        |  SELECT source,
        |    unnest(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS tri
        |  FROM t),
        |pt AS (SELECT source, tri, count(*) AS c FROM g GROUP BY 1, 2),
        |ex AS (
        |  SELECT source, count(*) AS exact_distinct,
        |    CAST(sum(c) AS BIGINT) AS n_trigrams
        |  FROM pt GROUP BY 1),
        |occ AS (
        |  SELECT source, count(*) AS occupied FROM (
        |    SELECT DISTINCT source,
        |      ('0x' || substr(md5(tri), 1, 15))::BIGINT % $LC_M AS bucket
        |    FROM pt) GROUP BY 1)
        |SELECT source, n_trigrams, exact_distinct, occupied,
        |  round(-$LC_M * ln(($LC_M - occupied) / ${LC_M.toDouble}), 6)
        |    AS est_distinct
        |FROM ex JOIN occ USING (source)""".stripMargin,
    // the oracle is the plain exact aggregate — the MG sketch is
    // TRANSPARENT in the answer (superset candidates, exact verify),
    // which is exactly what the hash match certifies
    "q133_heavy_hitters" ->
      s"""WITH tk AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |n AS (SELECT count(*) AS c FROM documents)
        |SELECT token, count(*) AS doc_freq
        |FROM tk GROUP BY 1
        |HAVING count(*) >= ceil($HH_FRAC * (SELECT c FROM n))""".stripMargin,
    // the oracle is the from-scratch full-corpus aggregate: the hash
    // match certifies merge(stored base, delta) == direct, bit-for-bit
    "q132_stats_maintenance" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(CAST(sum(n_chars) AS BIGINT) / count(*), 6) AS avg_chars
        |FROM documents GROUP BY 1, 2""".stripMargin,
    // the oracle states the LOGICAL order (one global row_number); the
    // Spark side reproduces it with q89's two-pass bucket-offset plan —
    // the hash compare certifies that equivalence (same note as q89)
    "q128_vocab_growth" ->
      s"""WITH o AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
        |      - 1 AS ordinal,
        |    count(*) OVER () AS n
        |  FROM documents),
        |ck AS (
        |  SELECT doc_id,
        |    CAST((ordinal * $VOCAB_CHECKPOINTS) // n AS INTEGER) AS checkpoint
        |  FROM o),
        |tk AS (
        |  SELECT unnest(list_distinct(string_split(d.text, ' '))) AS token,
        |    ck.checkpoint
        |  FROM documents d JOIN ck USING (doc_id)),
        |ft AS (SELECT token, min(checkpoint) AS checkpoint FROM tk GROUP BY 1),
        |dp AS (SELECT checkpoint, count(*) AS n_docs FROM ck GROUP BY 1),
        |tp AS (SELECT checkpoint, count(*) AS new_tokens FROM ft GROUP BY 1),
        |j AS (
        |  SELECT dp.checkpoint, dp.n_docs,
        |    coalesce(tp.new_tokens, 0) AS new_tokens
        |  FROM dp LEFT JOIN tp USING (checkpoint))
        |SELECT checkpoint,
        |  CAST(sum(n_docs) OVER (ORDER BY checkpoint) AS BIGINT) AS docs_seen,
        |  CAST(new_tokens AS BIGINT) AS new_tokens,
        |  CAST(sum(new_tokens) OVER (ORDER BY checkpoint) AS BIGINT)
        |    AS vocab_size
        |FROM j""".stripMargin,
    "q125_tokenizer_fertility" ->
      """WITH t AS (
        |  SELECT lang, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |      AS BIGINT) AS sw,
        |    CAST(length(text) AS BIGINT) AS ch
        |  FROM documents)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(sw) AS BIGINT) AS n_subwords,
        |  CAST(sum(ch) AS BIGINT) AS n_chars,
        |  round(CAST(sum(sw) AS BIGINT) / CAST(sum(w) AS BIGINT), 6)
        |    AS fertility,
        |  round(CAST(sum(ch) AS BIGINT) / CAST(sum(sw) AS BIGINT), 6)
        |    AS chars_per_subword
        |FROM t GROUP BY 1, 2""".stripMargin,
    "q117_ngram_diversity" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |ts AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_types FROM (
        |    SELECT source, tok, count(*) AS c FROM (
        |      SELECT source, unnest(toks) AS tok FROM t) GROUP BY 1, 2)
        |  GROUP BY 1),
        |tr AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_trigrams,
        |    count(*) AS n_distinct_trigrams FROM (
        |    SELECT source, g, count(*) AS c FROM (
        |      SELECT source, unnest(list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
        |      FROM t WHERE len(toks) >= 3) GROUP BY 1, 2)
        |  GROUP BY 1),
        |nd AS (SELECT source, count(*) AS n_docs FROM t GROUP BY 1)
        |SELECT nd.source, n_docs, n_tokens, n_types,
        |  round(n_types / n_tokens, 6) AS ttr,
        |  coalesce(n_trigrams, 0) AS n_trigrams,
        |  coalesce(n_distinct_trigrams, 0) AS n_distinct_trigrams,
        |  CASE WHEN coalesce(n_trigrams, 0) > 0
        |       THEN round(n_distinct_trigrams / n_trigrams, 6) END
        |    AS trigram_diversity
        |FROM nd JOIN ts USING (source) LEFT JOIN tr USING (source)""".stripMargin,
    "q84_pii_scrub" ->
      """WITH t AS (
        |  SELECT c_custkey,
        |    c_name || ' ' ||
        |    CASE WHEN c_custkey % 5 = 0 THEN 'no-contact'
        |         ELSE '<' || lower(replace(c_name, '#', '.')) || '@example.com>' END ||
        |    ' phone ' ||
        |    printf('%02d-%03d-%03d-%04d', c_custkey % 90 + 10, c_custkey % 900 + 100,
        |           (c_custkey * 7) % 900 + 100, (c_custkey * 13) % 9000 + 1000) ||
        |    CASE WHEN c_custkey % 2 = 0 THEN ' alt ' ||
        |      printf('%02d-%03d-%03d-%04d', c_custkey % 80 + 10, (c_custkey * 3) % 900 + 100,
        |             (c_custkey * 11) % 900 + 100, (c_custkey * 17) % 9000 + 1000)
        |      ELSE '' END ||
        |    ' segment ' || c_mktsegment AS txt
        |  FROM customer),
        |s AS (
        |  SELECT c_custkey, txt,
        |    regexp_replace(txt,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS escr
        |  FROM t),
        |s2 AS (
        |  SELECT c_custkey, txt, escr,
        |    regexp_replace(escr, '\b\d{2}-\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS scr
        |  FROM s)
        |SELECT c_custkey,
        |  CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(escr, '\b\d{2}-\d{3}-\d{3}-\d{4}\b')) AS INT) AS n_phones,
        |  md5(scr) AS scrubbed_md5,
        |  CAST(length(scr) AS INT) AS scrubbed_len
        |FROM s2""".stripMargin,
    "q65_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |idf AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, token,
        |    round(tf * ln(CAST(n.n AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN idf USING (token) CROSS JOIN n)
        |SELECT doc_id, token AS top_token, tfidf FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, token) AS rk
        |  FROM scored) WHERE rk = 1""".stripMargin,
    "q63_stratified_sample" ->
      """SELECT doc_id, lang, CAST(rk AS INT) AS rk FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS rk
        |  FROM documents) WHERE rk <= 50""".stripMargin,
    "q64_vocab" ->
      """SELECT token, count(*) AS doc_freq FROM (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY doc_freq DESC, token LIMIT 100""".stripMargin,
    "q111_bpe_merges" ->
      """WITH w AS (
        |  SELECT w, count(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1),
        |p AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair, n FROM (
        |    SELECT w, n, unnest(generate_series(1, len(w) - 1)) AS i
        |    FROM w WHERE len(w) >= 2))
        |SELECT pair, CAST(sum(n) AS BIGINT) AS merge_count
        |FROM p GROUP BY 1 ORDER BY merge_count DESC, pair LIMIT 20""".stripMargin,
    "q101_oov_rate" ->
      """WITH v AS (
        |  SELECT token FROM (
        |    SELECT token, count(*) AS doc_freq FROM (
        |      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |    GROUP BY token ORDER BY doc_freq DESC, token LIMIT 100)),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT t.doc_id, count(*) AS n_tok,
        |  CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  round(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
        |    AS oov_rate
        |FROM t LEFT JOIN v ON t.token = v.token
        |GROUP BY t.doc_id""".stripMargin,
    "q60_doc_rollup" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  round(sum(n_chars) / 1e6, 6) AS total_mchars
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,
    "q40_token_count" ->
      """SELECT doc_id, length(text) AS n_chars_computed,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT)
        |    AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "q41_quality" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tokens FROM documents)
        |SELECT doc_id, len(tokens) AS n_tok,
        |  len(list_filter(tokens, t -> t IN ('the','a','of','and','to'))) AS stop_hits,
        |  CAST(length(text) - (len(tokens) - 1) AS DOUBLE) / len(tokens) AS mean_tok_len,
        |  CAST(len(list_filter(tokens, t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
        |    / len(tokens) AS stop_ratio,
        |  CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens) AS distinct_ratio
        |FROM t""".stripMargin,
    "q88_quality_deciles" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
        |sc AS (SELECT doc_id,
        |  CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens) AS score FROM t),
        |b AS (SELECT quantile_cont(score, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM sc)
        |SELECT doc_id, score,
        |  CAST(1 + len(list_filter(b.bs, x -> score >= x)) AS INT) AS decile,
        |  (1 + len(list_filter(b.bs, x -> score >= x))) >= 9 AS keep_top20
        |FROM sc CROSS JOIN b""".stripMargin,
    "q42_lang_id" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_filter(tokens, x -> x IN ('the','a','of'))) AS score_en,
        |    len(list_filter(tokens, x -> x IN ('der','die','und'))) AS score_de,
        |    len(list_filter(tokens, x -> x IN ('le','la','et'))) AS score_fr
        |  FROM t)
        |SELECT doc_id, score_en, score_de, score_fr,
        |  CASE WHEN score_en >= score_de AND score_en >= score_fr THEN 'en'
        |       WHEN score_de >= score_fr THEN 'de' ELSE 'fr' END AS pred_lang
        |FROM s""".stripMargin,
    "q43_fingerprint" ->
      """SELECT doc_id, md5(text) AS content_hash,
        |  ('0x' || substr(md5(text), 1, 15))::BIGINT AS fingerprint
        |FROM documents""".stripMargin)
}
