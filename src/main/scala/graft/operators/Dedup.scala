package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents`: exact (hash-groupBy),
  * MinHash+LSH (shingle → minhash → band → bucket join), word-n-gram
  * Jaccard, and SimHash — the training-data-pipeline dedup suite. All four
  * are fully oracle-checked: hashing is md5-derived so both engines compute
  * identical integers.
  *
  * Scale notes: exact dedup is one shuffle on the content hash. MinHash-LSH
  * is the scale path for near-dup — candidate generation joins on band
  * signature (tiny keys), never all-pairs; the n-gram Jaccard join is
  * bucket-limited (lang, source) and exists as the exact verifier the LSH
  * candidates feed at 100 TB. Nothing here collects to the driver.
  */
object Dedup {

  private[operators] def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Exact dedup: canonical = min doc_id per content hash. */
  def q44DedupExact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** The C4 normalization (Raffel et al. 2020 §2.2's cleanup, as a dedup
    * key): ASCII-lowercase, every non-alphanumeric to a space, space runs
    * collapsed, ends trimmed. Catches the case/punctuation variants exact
    * hashing (q44) is blind to. Pure per-row Column expressions — both
    * regexes are RE2-safe so the oracle replays them verbatim (with
    * DuckDB's explicit 'g' flag; Spark replaces globally by default).
    *
    * Case folding is an explicit A–Z `translate`, NOT `lower()`: the JDK
    * applies full Unicode case mapping (U+0130 'İ' → "i" + combining
    * dot) while DuckDB's utf8proc applies the simple 1:1 mapping — the
    * two can produce different normal forms for non-ASCII letters. The
    * ASCII translate is byte-identical on every engine; non-ASCII
    * letters fall through to the non-alnum rule and become spaces on
    * both (a surrogate pair spaces per-unit in Java vs per-codepoint in
    * RE2, but the run-collapse makes the results equal).
    */
  private[graft] def normalizedText(text: org.apache.spark.sql.Column) =
    trim(regexp_replace(regexp_replace(
      translate(text, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"),
      lit("[^a-z0-9 ]"), lit(" ")), lit(" +"), lit(" ")))

  /** Normalized (fuzzy-exact) dedup — q44's rule applied to the C4
    * normal form: canonical = min doc_id per NORMALIZED content hash,
    * `n_variants` counting how many distinct RAW contents the normal form
    * collapsed (the added-recall-over-exact measure; n_variants > 1 rows
    * are exactly the dups q44 misses).
    *
    * Scale shape: normalization is a pure per-row projection; the group
    * table is ONE map-side-combinable aggregate keyed by the normal hash
    * (min/count/count-distinct all carry partials); the verdict join is
    * co-partitioned on that same hash — no window, no broadcast of
    * anything corpus-sized, the q103 min-struct-and-join discipline.
    */
  def q115NormalizeDedup(spark: SparkSession, dir: String): DataFrame = {
    // cached: both the group aggregate and the verdict side read the
    // normalized frame — uncached, the corpus pays the regex
    // normalization scan twice
    val n = graft.CacheScope.cache(docs(spark, dir).select(col("doc_id"),
      md5(normalizedText(col("text"))).as("norm_hash"),
      md5(col("text")).as("content_hash")))
    val groups = n.groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("content_hash")).as("n_variants"))
    n.select(col("doc_id"), col("norm_hash"))
      .join(groups, Seq("norm_hash"))
      .select(col("doc_id"), col("norm_hash"), col("canonical_id"),
        col("n_copies"), col("n_variants"),
        (col("doc_id") === col("canonical_id")).as("keep"))
  }

  /** N-gram Jaccard near-dup within (lang, source) buckets:
    * jaccard = |∩| / |∪| over distinct word-3-gram sets, threshold 0.5.
    */
  /** Candidate pairs via the PPJoin-style asymmetric prefix filter.
    *
    * For J(A,B) ≥ t a shared element must appear in BOTH docs' rarest-first
    * prefixes (prefix lemma: |A∩B| ≥ α ⟹ the first |X|−α+1 elements of
    * each side hold a common element). With sets processed smaller-first,
    * α ≥ ⌈t·|probe|⌉ bounds the PROBE prefix at n − ⌈t·n⌉ + 1 and
    * α ≥ ⌈2t/(1+t)·|indexed|⌉ bounds the INDEXED (smaller) side at the
    * shorter n − ⌈2t·n/(1+t)⌉ + 1 — computed in exact integer math
    * (t = 0.5 → n − ⌈2n/3⌉ + 1, ~n/3 vs ~n/2). The join therefore demands
    * the smaller doc's shingle to rank inside its SHORT index prefix,
    * cutting candidates vs the symmetric filter with zero false negatives
    * (property-tested against brute force). Shingles rank rarest-first by
    * global document frequency, so join keys are each doc's most selective
    * shingles; a stop-shingle shared by every doc sorts last and never
    * enters a prefix.
    *
    * Skew note: a moderately common shingle that ranks early can still
    * fan out; the worst case is bounded by banded-LSH candidate
    * generation (q46) with this join as the verify stage — that
    * composition is the 100 TB dedup pipeline (q66).
    */
  /** The ranked prefix table (explode → global df → rarest-first rank →
    * probe/index prefix cut) — stage 1 of the candidate join, split out so
    * the q45 stage probe times THE SAME definition the query runs.
    *
    * Shingles travel as their 64-bit xxhash from the explode on: the two
    * shuffles this stage pays (df aggregation keyed by shingle, window
    * keyed by doc_id) move 8-byte longs instead of ~20-byte 3-word
    * strings — the dominant shuffle-byte cost of the heaviest standalone
    * query, and a fixed-width join key downstream. Correctness is
    * unaffected: the prefix lemma needs only a globally CONSISTENT total
    * order (rarest-first is a selectivity heuristic, not a requirement),
    * (df, hash) is exactly as consistent as (df, shingle), a hash
    * collision can only MERGE two shingles' df counts (slightly
    * re-ordering prefixes) or admit a false candidate pair — and the
    * exact-Jaccard verify discards false candidates while the lemma
    * guarantees no true pair is lost under any consistent order
    * (property-tested against brute force in DedupPropertiesSpec).
    */
  private[operators] def ngramPrefixes(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("doc_id"), col("lang"), col("source"),
      size(col("shingles")).as("n_sh"), explode(col("shingles")).as("shingle"))
      .withColumn("sh_h", xxhash64(col("shingle")))
      .drop("shingle")
    // df via an unordered window over sh_h instead of the former
    // groupBy(sh_h) + join-back (r19, guide §2.4 share the exchange):
    // the join shuffled the SAME exploded stream by sh_h anyway (plus the
    // aggregate's partials) and re-ran the explode for its left side —
    // the window computes the identical per-shingle count in that one
    // exchange, one explode pass, zero joins. A/B at sf0.1 (repeat 5):
    // q45 2.83/2.27 → 1.93/1.59 (med/min s), prefix_build stage probe
    // 1.34 → 1.00 s, candidate/verified row counts unchanged.
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("sh_h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("sh_h"))
    ex.withColumn("df", count(lit(1)).over(wDf))
      .withColumn("rk", row_number().over(w))
      // probe prefix: n − ⌈n/2⌉ + 1; index prefix: n − ⌈2n/3⌉ + 1
      .filter(col("rk") <= col("n_sh") - ceil(col("n_sh") * 0.5) + 1)
      .withColumn("in_index",
        col("rk") <= col("n_sh") - expr("(2 * n_sh + 2) div 3") + 1)
      .select(col("doc_id"), col("lang"), col("source"), col("sh_h"),
        col("n_sh"), col("in_index"))
  }

  /** Stage 2: the asymmetric prefix self-join over [[ngramPrefixes]]. */
  private[operators] def ngramPrefixJoin(pref: DataFrame): DataFrame =
    // the smaller set (ties by doc_id) takes the indexed role
    pref.alias("x").join(pref.alias("y"),
      col("x.sh_h") === col("y.sh_h") && col("x.lang") === col("y.lang") &&
        col("x.source") === col("y.source") && col("y.in_index") &&
        (col("y.n_sh") < col("x.n_sh") ||
          (col("y.n_sh") === col("x.n_sh") && col("y.doc_id") < col("x.doc_id"))))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
      .distinct()

  private[operators] def ngramCandidates(sh: DataFrame): DataFrame =
    // the self-join's two prefix subtrees deliberately recompute (x/y
    // sides): caching the prefix table instead was A/B'd at +0.26 s med
    // (serialization costs more than the second window chain at this
    // selectivity), r19
    ngramPrefixJoin(ngramPrefixes(sh))

  /** Exact Jaccard verify on the in-row shingle sets, with the
    * J≥0.5 ⇒ min/max≥0.5 size bound pruning pairs before intersection —
    * shared between q45 and its stage probe so they cannot drift.
    */
  private[operators] def ngramVerify(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sh_a")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sh_b")), Seq("b_id"))
      .filter(least(size(col("sh_a")), size(col("sh_b"))) * 2 >=
        greatest(size(col("sh_a")), size(col("sh_b"))))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("a_id"), col("b_id"), col("inter"), col("jaccard"))

  def q45NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // Cache scope: `sh` backs both the candidate and verify sides of one
    // returned plan, so it must outlive this call; the harness clears
    // per-query caches (Bench/Verify clearCache) once the result is
    // materialized.
    // deliberately NOT Spread.scan'd (unlike the minhash users of
    // shingleArrays): q45's next stage is the shingle-frequency
    // aggregation, whose map-side combine dedups best over few large
    // partitions — the respread measured +0.5 s here while the
    // minhash-kernel siblings gained 30-45%
    val sh = graft.CacheScope.cache(
      shingleArraysOf(docs(spark, dir), Seq("lang", "source")))
    ngramVerify(ngramCandidates(sh), sh)
  }

  /** Containment dials: shingles in more than EXC_DF_CAP docs generate
    * no candidate pairs (boilerplate is not evidence of excerpting — and
    * it is exactly what would make the shingle self-join quadratic);
    * pairs must share at least EXC_MIN_SHARED rare shingles to reach the
    * verify stage.
    */
  val EXC_DF_CAP = 10
  val EXC_MIN_SHARED = 3

  /** Excerpt detection by shingle CONTAINMENT (q159) — the asymmetric
    * dedup modality the resemblance family (q45/q46/q47) structurally
    * misses: a 30-shingle quote inside a 300-shingle article has
    * Jaccard ≈ 0.1, so minhash bands essentially never collide, yet its
    * containment inter/min(|A|,|B|) is ≈ 1 (Broder 1997 distinguishes
    * exactly these two measures). Candidates come from an EXACT
    * df-capped shingle self-join — per-shingle fan-out is bounded by
    * C([[EXC_DF_CAP]], 2) pairs, so hot boilerplate shingles cannot
    * blow the join up — and the verify computes exact intersection on
    * the in-row shingle sets (the q45 ngramVerify shape, id-keyed).
    * Both verdicts are INTEGER-space comparisons (5·inter ≥ 4·min for
    * containment ≥ 0.8; 2·inter < |A|+|B|−inter for Jaccard < 0.5 — the
    * `excerpt` flag separating quotes from plain near-dups), so no
    * division can flip a verdict; the emitted ratios are single IEEE
    * divisions of exact integers, bit-identical cross-engine.
    *
    * Scale shape: the df aggregate and the capped self-join are
    * shingle-keyed with map-side partials; pair volume is
    * ≤ 45·#shingles by the cap; the verify joins are id-keyed against
    * the in-row sets, so no shingle-level frame survives past the
    * candidate stage.
    */
  def q159ExcerptContainment(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.CacheScope.cache(
      shingleArrays(spark, dir).select(col("doc_id"), col("shingles")))
    val ex = sh.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val rare = graft.CacheScope.cache(ex.join(
      ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= EXC_DF_CAP),
      Seq("shingle")).select(col("shingle"), col("doc_id")))
    val cand = rare.select(col("shingle"), col("doc_id").as("a_id"))
      .join(rare.select(col("shingle"), col("doc_id").as("b_id")), Seq("shingle"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("shared_rare"))
      .filter(col("shared_rare") >= EXC_MIN_SHARED)
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sh_a")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sh_b")), Seq("b_id"))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("n_b", size(col("sh_b")).cast("long"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(lit(5) * col("inter") >= lit(4) * least(col("n_a"), col("n_b")))
      .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"), col("inter"),
        (col("inter") / least(col("n_a"), col("n_b"))).as("containment"),
        (col("inter") / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"),
        (lit(2) * col("inter") < col("n_a") + col("n_b") - col("inter"))
          .as("excerpt"))
  }

  /** THE word-3-gram shingle definition — one Column-level helper shared
    * by batch ([[shingleArrays]]) and streaming (`StreamingDedup
    * .runNearDup`), so the two surfaces can never drift apart on
    * tokenization or gram construction.
    *
    * `tok` MUST be a materialized token-array COLUMN (e.g. from
    * `withColumn("tok", split(...))`), never an inline `split(...)`
    * expression: higher-order-function lambdas evaluate INTERPRETED, so
    * an expression passed here replicates into the per-element lambda
    * body — an inline split re-tokenizes the document for every shingle,
    * turning construction quadratic (measured 2× on q66). Callers must
    * also guard `size(tok) >= 3`: `sequence(1, 0)` is the DESCENDING
    * [1, 0] and `element_at(tok, 0)` throws on shorter input.
    */
  private[graft] def wordShingles(tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_distinct(transform(
      sequence(lit(1), size(tok) - 2),
      i => concat_ws(" ", element_at(tok, i),
        element_at(tok, i + 1), element_at(tok, i + 2))))

  /** Per-doc distinct word-3-gram shingle ARRAY (no explode — the shingle
    * set stays in-row; scale axis is documents). Docs with fewer than 3
    * tokens are FILTERED, mirroring the oracle's `generate_series(1,
    * len-2)` which is empty for them.
    */
  private def shingleArraysOf(docsDf: DataFrame, keep: Seq[String] = Nil): DataFrame =
    docsDf
      .withColumn("tok", split(col("text"), " "))
      .filter(size(col("tok")) >= 3)
      .select(col("doc_id") +: keep.map(col) :+
        wordShingles(col("tok")).as("shingles"): _*)

  private[operators] def shingleArrays(spark: SparkSession, dir: String): DataFrame =
    // Spread.scan: the in-row shingle build is a CPU-dense kernel pass;
    // a single-split scan otherwise runs it on one core (see Spread)
    shingleArraysOf(Spread.scan(docs(spark, dir)), Seq("lang", "source"))

  /** MinHash + LSH banding: 4 bands × 4 rows; candidates share a band;
    * estimated similarity = matching minhashes / 16; threshold 0.5.
    *
    * The 16-slot signature is computed per row by one kernel pass over the
    * shingle set (hash family identical to the SQL oracle's md5 ints) —
    * no exploded (doc × k × shingle) shuffle; the only exchanges are the
    * tiny band-key self-join and the candidate-pair verify.
    */
  /** k-slot minhash signature per doc — one kernel pass over the in-row
    * shingle set, via the native codegen'd
    * [[graft.functions.expressions.MinhashKExpr]] (ArrayData straight
    * from Tungsten, no per-row Seq conversion). k = 16 is the reference
    * dial the oracles pin.
    */
  private[operators] def minhashSigs(sh: DataFrame, k: Int = 16): DataFrame = {
    graft.functions.expressions.SignatureExprs.register(sh.sparkSession)
    sh.select(col("doc_id"), expr(s"minhash_k(shingles, $k)").as("sig"))
  }

  /** (doc_id, band, bk) band-key table — band b's key is the signature's
    * b-th k/bands-slot SLICE, joined as an array key. One definition for
    * every width: the inline pipelines, the generalized pairs API, and
    * the materialized index all band identically.
    */
  private def bandKeys(sig: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    require(bands >= 1 && k % bands == 0, "bands must divide k")
    val rows = k / bands
    sig.select(col("doc_id"), explode(transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        slice(col("sig"), b * rows + 1, lit(rows)).as("bk")))).as("b"))
      .select(col("doc_id"), col("b.*"))
  }

  /** Banded candidate pairs: docs sharing any full band slice. */
  private[operators] def bandPairs(sig: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    val bk = bandKeys(sig, k, bands)
    bk.alias("x").join(bk.alias("y"),
      col("x.band") === col("y.band") && col("x.bk") === col("y.bk") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** THE minhash similarity estimator (matching slots / 16), shared by
    * every verify stage via the native codegen'd
    * [[graft.functions.expressions.SigMatchExpr]] — one definition, so
    * q46 / q79 / the band-index path can never drift on the estimator.
    */
  private def estSim(df: DataFrame): org.apache.spark.sql.Column = {
    graft.functions.expressions.SignatureExprs.register(df.sparkSession)
    expr("sig_match16(sig_a, sig_b)")
  }

  /** MinHash near-dup pairs at caller-chosen dials: `k` permutations
    * (estimator std-dev √(J(1−J)/k) — 16 is the reference dial, a
    * production pass runs 64-256 for usable similarity resolution) split
    * into `bands` bands of k/bands rows each (the recall/precision lever:
    * a pair collides in a band with probability J^(k/bands)). Band keys
    * are signature SLICES joined as array keys; the verify estimator is
    * the shared native `sig_match16` kernel, so every width uses the one
    * definition. q46/q79/q81 stay the oracle-pinned (16, 4) twins.
    */
  def minhashNearDupPairs(docsDf: DataFrame, k: Int = 16, bands: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    val maxK = graft.functions.expressions.SignatureExprs.MINHASH_MAX_K
    require(k >= 1 && k <= maxK, s"k must be 1..$maxK")
    require(bands >= 1 && k % bands == 0, "bands must divide k")
    graft.functions.expressions.SignatureExprs.register(docsDf.sparkSession)
    val sig = graft.CacheScope.cache(
      minhashSigs(shingleArraysOf(Spread.scan(docsDf)), k))
    val cand = bandPairs(sig, k, bands)
    val joined = cand
      .join(sig.toDF("a_id", "sig_a"), Seq("a_id"))
      .join(sig.toDF("b_id", "sig_b"), Seq("b_id"))
    joined
      .withColumn("est_sim", estSim(joined))
      .filter(col("est_sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("est_sim"))
  }

  /** Cross-source near-dup matrix — mirror/syndication detection at
    * DOMAIN granularity: for every unordered source pair, how many
    * LSH-verified near-dup pairs straddle it and their mean estimated
    * similarity. A hot off-diagonal cell is a mirror site / content farm
    * syndicating another domain — the corpus-level signal that tells a
    * curation pipeline to drop a whole source rather than fight its
    * duplicates one doc at a time (and the source-granularity complement
    * of q102's split-leakage audit).
    *
    * Scale shape: rides q46's LSH-bounded pair volume (measured
    * sub-quadratic across sf); the two source lookups join by id only,
    * and the matrix aggregate is at most #sources² rows — config
    * cardinality. Mean similarity is a micro-unit integer mean (the r12
    * determinism discipline).
    */
  def q121MirrorMatrix(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashNearDupPairs(docs(spark, dir))
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.toDF("a_id", "src_a"), Seq("a_id"))
      .join(src.toDF("b_id", "src_b"), Seq("b_id"))
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"),
        col("est_sim"))
      .withColumn("_em", round(col("est_sim") * 1e6, 0).cast("long"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("_em")).as("_ems"))
      .withColumn("mean_sim", round(col("_ems") / col("n_pairs") / 1e6, 6))
      .drop("_ems")
  }

  def q46MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sig = graft.CacheScope.cache(minhashSigs(shingleArrays(spark, dir)))
    val cand = bandPairs(sig)
    val joined = cand
      .join(sig.toDF("a_id", "sig_a"), Seq("a_id"))
      .join(sig.toDF("b_id", "sig_b"), Seq("b_id"))
    joined
      .withColumn("est_sim", estSim(joined))
      .filter(col("est_sim") >= 0.5)
      .select(col("a_id"), col("b_id"), col("est_sim"))
  }

  /** Pigeonhole band layout for hamming ≤ `maxHamming` over `bits`-wide
    * hashes: maxHamming+1 contiguous bands (a pair within the hamming
    * budget differs in at most maxHamming bands, so at least one band is
    * bit-identical — zero false negatives), widths as even as bits allows.
    * (bits=16, h=2) → the reference 6|5|5 layout.
    */
  private[operators] def simhashBandDefs(bits: Int, maxHamming: Int): Seq[(Int, Int, Long)] = {
    val nBands = maxHamming + 1
    val base = bits / nBands
    val rem = bits % nBands
    var off = 0
    (0 until nBands).map { b =>
      val w = base + (if (b < rem) 1 else 0)
      val d = (b, off, (1L << w) - 1)
      off += w
      d
    }
  }

  /** Hard ceiling on the candidate pairs a banded dedup run may expand,
    * read from `spark.graft.dedup.candidatePairBudget` (≤ 0 disables).
    * The r15 capacity ladder measured the failure mode this guards: a
    * bits dial too narrow for the corpus (N >> 2^bits) turns every band
    * bucket into a dense collision set and the equi-join goes QUADRATIC —
    * 500k token-soup docs at 16 bits ran >13 minutes before being killed,
    * and h≤3 over 48 bits at 5M docs priced at ~12B pairs of shuffle
    * spill. The default bounds the expansion at ~16 GB of pair shuffle;
    * jobs that genuinely need more raise the conf deliberately instead of
    * discovering the regime as a disk-filling straggler.
    */
  val CANDIDATE_PAIR_BUDGET_CONF = "spark.graft.dedup.candidatePairBudget"
  val DEFAULT_CANDIDATE_PAIR_BUDGET = 1000000000L

  /** The budget refusal as a dedicated type, so the opt-in auto-widen
    * path can catch exactly this condition and nothing else (still an
    * IllegalStateException — existing callers and specs see the same
    * contract).
    */
  final class CandidatePairBudgetExceeded(msg: String)
      extends IllegalStateException(msg)

  /** Opt-in self-healing for the budget refusal
    * (`spark.graft.dedup.autoWiden=true`): instead of throwing,
    * [[simhashNearDupPairs]] re-signs the corpus at the measured-remedy
    * width ([[AUTO_WIDEN_BITS]] — the dial the r15 ladder measured
    * collapsing the collision sets) and retries ONCE. Off by default:
    * widening changes which pairs count as near-dups (wider hashes
    * discriminate more), so silently switching dials is a decision a
    * job must make explicitly; a widened run that still busts the
    * budget refuses as usual.
    */
  val AUTO_WIDEN_CONF = "spark.graft.dedup.autoWiden"
  val AUTO_WIDEN_BITS = 48

  /** Estimated candidate-pair volume of the band equi-join: Σ n·(n−1)/2
    * over (lang, band, bits-value) buckets — exact for the a<b self-join
    * output BEFORE the pair `distinct()` (SimhashBudgetSpec pins the
    * equality), i.e. a safe upper bound on what the join must
    * materialize. Double arithmetic: at
    * guard-worthy magnitudes (10^9+) the estimate's low bits are
    * irrelevant and n·(n−1) overflows long for the bucket sizes a 100 TB
    * corpus can produce.
    */
  private[operators] def estimatedBandPairs(bands: DataFrame): Double =
    bands.groupBy(col("lang"), col("band"), col("bits"))
      .agg(count(lit(1)).cast("double").as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) / 2")), lit(0.0)).as("p"))
      .head().getDouble(0)

  /** Band-equi-join candidate pairs for a (doc_id, lang, simhash) frame.
    *
    * Before expanding the join, ONE cheap aggregate over the band frame
    * (map-side combined on the same key the join shuffles on) prices the
    * expansion; past the configured budget the operator REFUSES with the
    * measured-law remedy — widen `bits` (more bucket values per band) or
    * tighten `maxHamming` (fewer, wider bands) — instead of silently
    * filling the shuffle disks. SimhashBudgetSpec pins the refusal on the
    * token-soup corpus shape the r15 ladder measured the runaway on.
    */
  private[operators] def simhashCandidates(sim: DataFrame, bits: Int,
                                           maxHamming: Int): DataFrame = {
    val bands0 = sim.select(col("doc_id"), col("lang"),
      explode(array(simhashBandDefs(bits, maxHamming).map {
        case (b, off, mask) => struct(lit(b).as("band"),
          shiftright(col("simhash"), off).bitwiseAND(lit(mask)).as("bits"))
      }: _*)).as("bd")).select(col("doc_id"), col("lang"), col("bd.*"))
    val budget = sim.sparkSession.conf
      .getOption(CANDIDATE_PAIR_BUDGET_CONF).map(_.toLong)
      .getOrElse(DEFAULT_CANDIDATE_PAIR_BUDGET)
    // the guard's estimate is an EXTRA pass over the band frame, and the
    // self-join reads it twice more (one scan per alias) — cache it when
    // the guard runs so the corpus simhash+band work happens once, not
    // three times (CacheScope-registered: freed by the caller's scope)
    val bands = if (budget > 0) graft.CacheScope.cache(bands0) else bands0
    if (budget > 0) {
      val est = estimatedBandPairs(bands)
      graft.Telemetry.record(
        s"dedup bits=$bits h=$maxHamming est_pairs=${est.toLong} budget=$budget")
      if (est > budget.toDouble) throw new CandidatePairBudgetExceeded(
        f"banded simhash dedup (bits=$bits, maxHamming=$maxHamming) would expand ~${est}%.3g candidate pairs, over the $CANDIDATE_PAIR_BUDGET_CONF=$budget ceiling: " +
          "the band buckets are saturated for this corpus size (N >> 2^bits goes quadratic — the r15 capacity-ladder law). " +
          "Widen bits (e.g. 48 for 10^6+ docs), tighten maxHamming (fewer, wider pigeonhole bands), or raise the budget deliberately.")
    }
    bands.alias("x").join(bands.alias("y"),
      col("x.lang") === col("y.lang") && col("x.band") === col("y.band") &&
        col("x.bits") === col("y.bits") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** Token-level SimHash near-dup pairs at a caller-chosen hash width:
    * same-lang pairs within `maxHamming`, candidates from the pigeonhole
    * band equi-join (never all-pairs), exact hamming verify after.
    *
    * `bits` is THE simhash scale dial: at corpus size N >> 2^bits random
    * hashes collide constantly (the band buckets go quadratic and the
    * hamming test itself stops discriminating), so a 100 TB deployment
    * runs 48-60 bits (SimhashScaleSpec measures the candidate collapse);
    * 16 is the reference dial q47 is oracled at.
    */
  def simhashNearDupPairs(docsDf: DataFrame, bits: Int = 16,
                          maxHamming: Int = 2): DataFrame = {
    require(bits >= 1 && bits <= graft.functions.expressions.SignatureExprs.SIMHASH_MAX_BITS,
      s"bits must be 1..${graft.functions.expressions.SignatureExprs.SIMHASH_MAX_BITS}")
    require(maxHamming >= 0 && maxHamming < bits, "maxHamming must be in [0, bits)")
    graft.functions.expressions.SignatureExprs.register(docsDf.sparkSession)
    // one kernel pass per doc over its tokens (with multiplicity, matching
    // the oracle's unnest) — the native codegen'd SimhashBitsExpr replaces
    // the earlier (doc × token × bit) explode and the ScalaUDF after it
    def attempt(b: Int): DataFrame = {
      // Spread.scan per DIAL (r19 same-set repeat-5 A/B, adjudicating the
      // r18 verdict's q178 suspicion): at the 16-bit dial the respread
      // keeps its r18 win (q47/q58/q131 unchanged-or-better without it on
      // the 48-bit sibling in the same run), but at 48 bits it LOST
      // outright — q178 2.44/2.13 respread vs 1.68/1.37 plain (med/min s)
      // — the wider signature's band join dominates and the respread only
      // added an exchange. Production inputs hit the no-op path either way.
      val sim = graft.CacheScope.cache(
        (if (b <= 16) Spread.scan(docsDf) else docsDf)
        .select(col("doc_id"), col("lang"),
          expr(s"simhash_bits(split(text, ' '), $b)").as("simhash")))
      simhashCandidates(sim, b, maxHamming)
        .join(sim.select(col("doc_id").as("a_id"), col("simhash").as("ha")), Seq("a_id"))
        .join(sim.select(col("doc_id").as("b_id"), col("simhash").as("hb")), Seq("b_id"))
        .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
        .filter(col("hamming") <= maxHamming)
        .select(col("a_id"), col("b_id"), col("ha"), col("hb"), col("hamming"))
    }
    val autoWiden = docsDf.sparkSession.conf
      .getOption(AUTO_WIDEN_CONF).exists(_.toBoolean)
    if (!autoWiden || bits >= AUTO_WIDEN_BITS) attempt(bits)
    else
      // CacheScope.attempt: a refused first attempt's cached sim/band
      // frames are unpersisted BEFORE the retry registers its own — the
      // two widths' caches were otherwise held simultaneously exactly
      // when the corpus is large enough to bust the budget
      try graft.CacheScope.attempt(attempt(bits))
      catch {
        case _: CandidatePairBudgetExceeded =>
          // the budget guard fires at construction time (the estimate is
          // an eager aggregate), so the retry happens before any join
          // expands; a widened run that still busts the budget refuses
          graft.Telemetry.record(
            s"dedup autowiden bits=$bits->$AUTO_WIDEN_BITS h=$maxHamming")
          attempt(AUTO_WIDEN_BITS)
      }
  }

  /** SimHash near-dup pairs at the 16-bit reference dial (hamming ≤ 2,
    * 6|5|5 pigeonhole bands) — q47's oracle twin, via
    * [[simhashNearDupPairs]].
    */
  def q47Simhash(spark: SparkSession, dir: String): DataFrame =
    simhashNearDupPairs(docs(spark, dir), bits = 16, maxHamming = 2)

  /** Duplicate-cluster assignment: connected components over the simhash
    * near-dup graph (q47 pairs), each document labeled with the min doc_id
    * of its component — the "keep one representative per duplicate group"
    * operator a dedup pipeline ends with.
    *
    * Scale shape: iterative min-label propagation (the standard
    * distributed CC algorithm — GraphX's Pregel does the same joins):
    * each round is ONE Spark action (the eager localCheckpoint) covering
    * the edge-message join, the min-aggregate, and a pointer-jumping hop;
    * convergence is read from an accumulator populated by that same job,
    * so no separate count pass runs. Rounds needed ≈ half the component
    * diameter (jumping doubles hop distance), which for near-dup clusters
    * is tiny (they are clique-ish).
    */
  def q58DedupClusters(spark: SparkSession, dir: String): DataFrame = {
    // edge list materialized once with truncated lineage — every iteration
    // re-reads it, so it must not re-run the simhash pipeline
    val edges = q47Simhash(spark, dir).select(col("a_id"), col("b_id"))
    val nodes = docs(spark, dir).select(col("doc_id").as("id"))
    connectedComponents(edges, nodes)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** q58's cluster assignment at the deployment dial the capacity ladder
    * measured as the corpus-scale configuration (SCALE.md r15 ladder):
    * 48-bit simhash — the 16-bit space saturates by pigeonhole at ~10×
    * the fixture corpus (~8 docs per signature at 500k docs, measured as
    * a >13-minute runaway) — with hamming ≤ 1, i.e. two 24-bit pigeonhole
    * bands, the band-occupancy law that kept the ladder's 5M rung at 31 s
    * where h≤3's 12-bit bands went ~12B candidate pairs. Gating this dial
    * hash-verifies the at-scale configuration itself, not only the
    * fixture dial next to a ladder that prices it.
    */
  def q178DedupClusters48(spark: SparkSession, dir: String): DataFrame = {
    val edges = simhashNearDupPairs(docs(spark, dir), bits = 48, maxHamming = 1)
      .select(col("a_id"), col("b_id"))
    val nodes = docs(spark, dir).select(col("doc_id").as("id"))
    connectedComponents(edges, nodes)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Widest threshold on the q131 sensitivity ladder. */
  val LADDER_MAX_HAMMING = 3

  /** Dedup threshold-sensitivity ladder — "measure, don't guess" for the
    * q47 hamming dial: near-dup pair volume and affected-document count
    * at EVERY threshold 0..[[LADDER_MAX_HAMMING]], from ONE candidate
    * pass at the widest setting. The curve is how the dial is actually
    * tuned (a cliff between h=2 and h=3 means the corpus has a near-dup
    * band right at the boundary); running q47 once per threshold would
    * re-sign the corpus per point.
    *
    * Scale shape: candidates ride the pigeonhole bands at the WIDEST
    * threshold (maxHamming+1 bands — the recall guarantee), so pair
    * volume is the h≤3 volume, paid ONCE. Everything after is
    * pre-aggregated to threshold cardinality BEFORE the ladder touches
    * it: pairs count down to ≤4 (hamming, n) rows map-side, and the
    * affected-doc count reduces per doc_id to its MIN hamming (map-side
    * combinable) then to ≤4 rows — the cumulative ladder is then a
    * tiny-×-tiny inequality join, never an inequality join against the
    * corpus-sized pair frame.
    */
  def q131DedupSensitivity(spark: SparkSession, dir: String): DataFrame = {
    // cached: the pair-count and doc-count aggregates both read the
    // verified pair frame — uncached, the signing + band join runs twice
    val pairs = graft.CacheScope.cache(
      simhashNearDupPairs(docs(spark, dir), bits = 16,
        maxHamming = LADDER_MAX_HAMMING)
        .select(col("a_id"), col("b_id"), col("hamming")))
    val byHd = pairs.groupBy(col("hamming")).agg(count(lit(1)).as("np"))
    val docsByMinHd = pairs
      .select(col("hamming"), explode(array(col("a_id"), col("b_id"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("hamming")).as("hd"))
      .groupBy(col("hd")).agg(count(lit(1)).as("nd"))
    val ladder = spark.range(0, LADDER_MAX_HAMMING + 1)
      .select(col("id").as("max_hamming"))
    ladder.as("l")
      .join(byHd.as("p"), col("p.hamming") <= col("l.max_hamming"), "left")
      .groupBy(col("l.max_hamming").as("max_hamming"))
      .agg(coalesce(sum(col("p.np")), lit(0L)).as("n_pairs"))
      .as("l2")
      .join(docsByMinHd.as("d"), col("d.hd") <= col("l2.max_hamming"), "left")
      .groupBy(col("l2.max_hamming").as("max_hamming"),
        col("l2.n_pairs").as("n_pairs"))
      .agg(coalesce(sum(col("d.nd")), lit(0L)).as("n_dup_docs"))
      .select(col("max_hamming"), col("n_pairs"), col("n_dup_docs"))
  }

  /** Duplicate-cluster size spectrum — the corpus-health histogram a
    * dedup run is judged by (Lee et al. report exactly this curve): how
    * many clusters exist at every size, for BOTH modalities — exact
    * (content-hash groups) and near (q58's simhash connected
    * components). A heavy tail (few giant clusters) means boilerplate
    * explosion; a spectrum hugging size 1 certifies a clean corpus. The
    * two modalities in one frame expose the gap between them — near-dup
    * mass the exact pass cannot see.
    *
    * Scale shape: each modality is a two-level count (corpus → clusters
    * → sizes), both map-side combined; the histogram is
    * max-cluster-size rows. The near modality rides the tiered CC
    * kernel; nothing beyond its boundary graph ever concentrates.
    */
  def q129ClusterSpectrum(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val exact = d.groupBy(md5(col("text")).as("k"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("modality", lit("exact"))
    val near = q58DedupClusters(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("modality", lit("near"))
    exact.unionByName(near)
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .select(col("modality"), col("cluster_size"), col("n_clusters"),
        col("n_docs"))
  }

  /** Min-label connected components over an (a_id, b_id) edge list — the
    * TWO-LEVEL shape: (1) each partition contracts its own edges with an
    * in-memory union-find (union-by-min, path compression), emitting every
    * locally-seen node's local min-root; (2) iterative min-label
    * propagation runs ONLY over the boundary graph — the links between
    * local roots induced by nodes seen in more than one partition. All
    * cross-partition connectivity flows through such shared nodes, so the
    * boundary graph is component-connected and its minima equal the global
    * component minima (the global min node maps to itself in every
    * partition, hence is itself a root). The per-round shuffle therefore
    * scales with the partition-boundary, not the corpus — the difference
    * between O(V+E) and O(cut) per round at 100 TB.
    *
    * The boundary graph then resolves through one of two tiers:
    * below [[DriverCcMaxEdges]] it is COLLECTED and solved by one
    * driver-side union-find pass — the contracted graph is cut-sized, so
    * this is the common case and removes every per-round scheduling
    * latency (zero iterations, one broadcast join back); above the
    * threshold the iterative propagation below takes over, so driver
    * memory stays bounded at any scale. The propagation loop keeps its
    * single-action rounds: the eager `localCheckpoint` materializes
    * (neighbor-min ∪ self) → groupBy-min → pointer jump, with a
    * `LongAccumulator` inside that job carrying the changed-label count
    * (no separate convergence scan; task retries only over-count, never
    * fake convergence). An empty edge set degenerates to every node
    * labeling itself.
    *
    * Contract: edge endpoints must be ⊆ `nodes` (every caller passes the
    * full table's ids) — an endpoint outside `nodes` could become a
    * component label without appearing as an output row.
    */
  /** Boundary graphs at or below this edge count resolve on the driver.
    * Budget the REAL driver footprint, not 16 B/edge: collect() boxes a
    * Tuple2 per edge (~56 B), the union-find map holds up to 2 boxed
    * entries per edge (~80 B each), and the label table materializes once
    * more for the broadcast — roughly 300-400 B/edge transient, so 200k
    * edges ≈ 60-80 MB, safe headroom on any reasonable driver. Larger
    * cuts use distributed propagation.
    */
  private val DriverCcMaxEdges: Long =
    // env-overridable so a bench run can PRICE the distributed tier at
    // will (SPARK_GRAFT_CC_MAXEDGES=0 forces every boundary graph down
    // the propagation path; recorded in SCALE.md) — production keeps the
    // default. Parsed defensively: a bad value inside an object
    // initializer would otherwise surface as an opaque
    // ExceptionInInitializerError on the first dedup call
    sys.env.get("SPARK_GRAFT_CC_MAXEDGES").map { v =>
      try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CC_MAXEDGES must be a long, got '$v'")
      }
    }.getOrElse(200000L)

  /** Min-root union-find with path compression — shared verbatim by the
    * partition-local contraction closure and the driver boundary tier so
    * the two levels can never diverge.
    */
  private final class UnionFind extends Serializable {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Long, b: Long): Unit = {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    def roots: Iterator[(Long, Long)] = parent.keys.toArray.iterator.map(k => (k, find(k)))
  }

  private[graft] def connectedComponents(edges: DataFrame, nodes: DataFrame): DataFrame =
    connectedComponents(edges, nodes, DriverCcMaxEdges)

  /** Threshold-injectable variant: specs force `driverMaxEdges = -1` to
    * exercise the distributed propagation tier at fixture scale.
    */
  private[graft] def connectedComponents(edges: DataFrame, nodes: DataFrame,
                                          driverMaxEdges: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // level 1: partition-local contraction
    val mapping = edges.select(col("a_id"), col("b_id")).as[(Long, Long)]
      .mapPartitions { it =>
        val uf = new UnionFind
        it.foreach { case (a, b) => uf.union(a, b) }
        uf.roots
      }.toDF("id", "lroot").localCheckpoint()
    // boundary edges: a node contracted to different roots in different
    // partitions links those roots (hub at the node's min root)
    val boundary = mapping.groupBy(col("id"))
      .agg(min(col("lroot")).as("r0"), collect_set(col("lroot")).as("rs"))
      .select(col("r0").as("a_id"), explode(col("rs")).as("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .localCheckpoint() // counted AND consumed — don't re-run the groupBy
    val nBoundary = boundary.count()
    val roots = mapping.select(col("lroot").as("id")).distinct()
    val rootLabels = if (nBoundary <= driverMaxEdges) {
      // tier 2a: cut-sized graph → one driver union-find pass, zero rounds
      System.err.println(s"[graft.cc] boundary_edges=$nBoundary tier=driver")
      graft.Telemetry.record(s"cc boundary_edges=$nBoundary tier=driver")
      val uf = new UnionFind
      boundary.select(col("a_id"), col("b_id")).as[(Long, Long)].collect()
        .foreach { case (a, b) => uf.union(a, b) }
      val labelDF = uf.roots.toSeq.toDF("id", "label")
      roots.join(broadcast(labelDF), Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    } else {
      // tier 2b: the cut itself is big — distributed min-label propagation
      System.err.println(s"[graft.cc] boundary_edges=$nBoundary tier=distributed")
      graft.Telemetry.record(s"cc boundary_edges=$nBoundary tier=distributed")
      propagateMinLabels(spark, boundary, roots)
    }
    // stitch: every node inherits its root's label (all of a node's roots
    // carry the same label after propagation — min() is just the dedup);
    // edge-less nodes label themselves
    val nodeLabels = mapping
      .join(rootLabels.select(col("id").as("lroot"), col("label")), Seq("lroot"))
      .groupBy(col("id")).agg(min(col("label")).as("label"))
    nodes.join(nodeLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Single-action-per-round min-label propagation with pointer jumping. */
  private def propagateMinLabels(spark: SparkSession,
                                 edges: DataFrame, nodes: DataFrame): DataFrame = {
    val bi = edges.union(edges.select(col("b_id"), col("a_id")))
      .toDF("src", "dst").localCheckpoint()
    var labels = nodes.select(col("id"), col("id").as("label")).localCheckpoint()
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      val changed = spark.sparkContext.longAccumulator("graft.cc.changed")
      val tally = udf((next: Long, prev: Long) => {
        if (next != prev) changed.add(1L)
        next
      })
      val merged = bi.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("label"),
          lit(null).cast("long").as("self"))
        .union(labels.select(col("id"), col("label"), col("label").as("self")))
        .groupBy(col("id"))
        .agg(min(col("label")).as("lmin"), min(col("self")).as("prev"))
      labels = merged
        .join(labels.select(col("id").as("jid"), col("label").as("jlabel")),
          col("lmin") === col("jid"))
        .select(col("id"),
          tally(least(col("lmin"), col("jlabel")), col("prev")).as("label"))
        .localCheckpoint()
      converged = changed.value == 0L
    }
    // telemetry for the bench artifact: rounds × boundary size is the
    // propagation cost — the number that distinguishes a latency tax from
    // extra rounds when a CC timing moves
    System.err.println(s"[graft.cc] rounds=$rounds")
    graft.Telemetry.record(s"cc rounds=$rounds")
    labels
  }

  /** The END-TO-END near-dup dedup pipeline at 100 TB shape — the
    * composition the standalone stages exist for:
    *   1. candidates from banded MinHash-LSH (equi-join on band keys,
    *      never all-pairs),
    *   2. exact Jaccard verify on the candidate pairs only (in-row
    *      `array_intersect` with the min/max size-bound prune),
    *   3. connected components over the verified near-dup graph,
    *   4. every document labeled with its component's min doc_id as the
    *      canonical representative (`is_canonical` = survives dedup).
    */
  /** q66's Jaccard-verify stage — the ONE definition the pipeline and its
    * bench stage probe ([[q66StageProbe]]) share, so the probe's per-stage
    * timings can never drift from the query they exist to explain:
    * size-ratio prune, exact shingle-set Jaccard ≥ 0.5.
    */
  private def jaccardVerify(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingles").as("sh_a")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingles").as("sh_b")), Seq("b_id"))
      .filter(least(size(col("sh_a")), size(col("sh_b"))) * 2 >=
        greatest(size(col("sh_a")), size(col("sh_b"))))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .filter(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")) >= 0.5)
      .select(col("a_id"), col("b_id"))

  def q66DedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    val sh = graft.CacheScope.cache(shingleArrays(spark, dir))
    val cand = bandPairs(graft.CacheScope.cache(minhashSigs(sh)))
    val edges = jaccardVerify(cand, sh)
    val nodes = docs(spark, dir).select(col("doc_id").as("id"))
    connectedComponents(edges, nodes)
      .select(col("id").as("doc_id"), col("label").as("canonical_id"),
        (col("label") === col("id")).as("is_canonical"))
  }

  /** Quality-aware canonical selection: within each duplicate cluster
    * (q58's simhash components), keep the HIGHEST-QUALITY copy — here the
    * distinct-token ratio, ties by min doc_id — instead of the min-id
    * representative. The real-corpus dedup ending.
    *
    * Shape: the per-cluster winner is a `max(struct(quality, -doc_id))`
    * AGGREGATE joined back on the cluster id — NOT a `row_number` window
    * partitioned by `cluster_id`. Mega-clusters are exactly what dedup
    * produces on boilerplate/empty docs, and a window would sort each one
    * on a single reducer with no partial aggregation; the aggregate
    * combines map-side (one candidate winner per cluster per task) and
    * the join back is AQE-skew-splittable. Negating the id inside the
    * struct makes the lexicographic max = (max quality, min doc_id) —
    * the window's exact (quality DESC, doc_id ASC) rule.
    */
  def q77CanonicalBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = q58DedupClusters(spark, dir)
    val quality = docs(spark, dir)
      .withColumn("tokens", split(col("text"), " "))
      .select(col("doc_id"),
        round(size(array_distinct(col("tokens"))).cast("double") /
          size(col("tokens")), 6).as("quality"))
    // cached: the winners aggregate and the final join BOTH read this
    // frame — uncached, the q58 connected-components run (the query's
    // dominant cost) would execute twice in one plan
    val joined = graft.CacheScope.cache(clusters.join(quality, Seq("doc_id")))
    val winners = joined.groupBy(col("cluster_id"))
      .agg(max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("_best"))
      .select(col("cluster_id"), (-col("_best.nid")).as("_best_doc"))
    joined.join(winners, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("quality"),
        (col("doc_id") === col("_best_doc")).as("keep"))
  }

  /** Winnowing fingerprints (the MOSS/substring-dedup modality): every
    * 20-char gram is hashed, each 10-gram window keeps its MINIMUM hash,
    * and documents sharing ≥ 2 distinct fingerprints are substring-dup
    * candidates. Winnowing's guarantee: any shared substring of length
    * ≥ gram + window − 1 = 29 chars selects the same fingerprint in both
    * documents (content-defined sampling — absolute-position sampling
    * would never align across docs). Fingerprint density is ~2/(w+1) per
    * position, so the explode-and-join exchange carries a small constant
    * fraction of the corpus; gram length and window are the
    * density/sensitivity dials.
    */
  def q78WinnowFingerprint(spark: SparkSession, dir: String): DataFrame = {
    // fingerprints via the native codegen'd WinnowFpsExpr (codepoint-true
    // grams, first-occurrence-distinct window minima — the per-character
    // digest kernel, no per-row String boxing detour); a null text
    // null-propagates and explode drops it, same as the empty gram set
    graft.functions.expressions.SignatureExprs.register(spark)
    // cached: the self-join reads fps on BOTH sides — without this the
    // per-character digest pipeline (the query's dominant cost) runs twice
    val fps = graft.CacheScope.cache(Spread.scan(docs(spark, dir))
      .select(col("doc_id"), explode(expr("winnow_fps(text)")).as("fp")))
    fps.select(col("doc_id").as("a_id"), col("fp"))
      .join(fps.select(col("doc_id").as("b_id"), col("fp")), Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }

  /** INCREMENTAL dedup — the operational mode a 100 TB corpus actually
    * runs: a nightly delta batch (here `doc_id % 10 == 0` stands in for
    * the new arrivals) is checked against the EXISTING corpus without
    * re-clustering anything. Candidates come from joining the delta's
    * minhash band keys against the corpus band index (which a production
    * deployment keeps materialized — here rebuilt from the same table);
    * verified matches (est_sim ≥ 0.5, q46's estimator) rank by
    * (est_sim desc, corpus id) and each delta doc reports its best match.
    *
    * Scale shape: work is |delta| × bucket occupancy — the corpus is
    * touched only through the band-key equi-join, never corpus × corpus,
    * and nothing about the existing clustering is recomputed.
    */
  def q79IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val sig = graft.CacheScope.cache(minhashSigs(shingleArrays(spark, dir)))
    val deltaKeys = bandKeys(sig.filter(col("doc_id") % 10 === 0))
      .withColumnRenamed("doc_id", "a_id")
    val corpusKeys = bandKeys(sig.filter(col("doc_id") % 10 =!= 0))
      .withColumnRenamed("doc_id", "b_id")
    val cand = deltaKeys
      .join(corpusKeys, Seq("band", "bk"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("est_sim").desc, col("b_id"))
    val joined = cand
      .join(sig.toDF("a_id", "sig_a"), Seq("a_id"))
      .join(sig.toDF("b_id", "sig_b"), Seq("b_id"))
    val best = joined
      .withColumn("est_sim", estSim(joined))
      .filter(col("est_sim") >= 0.5)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("a_id").as("doc_id"), col("b_id").as("dup_of"), col("est_sim"))
    docs(spark, dir).select(col("doc_id")).filter(col("doc_id") % 10 === 0)
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("est_sim"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Materialize the corpus minhash band index — the artifact an
    * incremental deployment keeps between batches so a delta run never
    * recomputes the corpus side: the full k-slot signatures (verify
    * stage) and the exploded band-key rows (candidate equi-join side),
    * plus a metadata file recording the (k, bands) dials. `corpusDocs`
    * is any (doc_id, text, …) frame.
    */
  def writeBandIndex(corpusDocs: DataFrame, path: String,
                     k: Int = 16, bands: Int = 4): Unit = {
    // the index RECORDS its dials: a delta reader signs at the stored k
    // and bands at the stored layout, so index and delta can never be
    // compared at mismatched widths (silent zero-candidate failure mode)
    IndexMeta.commit(corpusDocs.sparkSession, path, "graft band index dials") {
      val sig = graft.CacheScope.cache(
        minhashSigs(shingleArraysOf(Spread.scan(corpusDocs)), k))
      sig.write.mode("overwrite").parquet(s"$path/sigs")
      bandKeys(sig, k, bands).write.mode("overwrite").parquet(s"$path/bands")
      Seq("k" -> k.toString, "bands" -> bands.toString)
    }
  }

  /** The (k, bands) dials a stored index was built with. STRICT: a
    * missing meta file is an incomplete or foreign index — guessing a
    * width would zero the candidate join silently, the exact failure the
    * metadata exists to prevent, so raise instead.
    */
  private def readIndexDials(spark: SparkSession, indexPath: String): (Int, Int) = {
    val props = IndexMeta.read(spark, indexPath, "writeBandIndex")
    (props.getProperty("k").toInt, props.getProperty("bands").toInt)
  }

  /** q79's semantics against a PREBUILT index ([[writeBandIndex]]): only
    * the delta batch is shingled and signed — at the dials the index
    * RECORDS, never a caller guess; the corpus participates through its
    * stored band keys (candidate join) and signatures (verify) — the true
    * nightly shape, where corpus work is zero.
    */
  /** A resolved band index — dials + corpus frames loaded ONCE (the index
    * is immutable for the life of a serving query); streaming callers
    * hoist this outside `foreachBatch` instead of re-reading the meta and
    * parquet footers every micro-batch.
    */
  final case class LoadedBandIndex private[operators] (
      k: Int, bands: Int, corpusSigs: DataFrame, corpusBands: DataFrame)

  def loadBandIndex(spark: SparkSession, indexPath: String): LoadedBandIndex = {
    val (k, bands) = readIndexDials(spark, indexPath)
    LoadedBandIndex(k, bands,
      spark.read.parquet(s"$indexPath/sigs")
        .select(col("doc_id").as("b_id"), col("sig").as("sig_b")),
      spark.read.parquet(s"$indexPath/bands")
        .withColumnRenamed("doc_id", "b_id"))
  }

  def incrementalDedupAgainstIndex(deltaDocs: DataFrame, indexPath: String): DataFrame =
    incrementalDedupAgainstLoaded(deltaDocs,
      loadBandIndex(deltaDocs.sparkSession, indexPath))

  def incrementalDedupAgainstLoaded(deltaDocs: DataFrame,
                                    idx: LoadedBandIndex): DataFrame = {
    val (k, bands) = (idx.k, idx.bands)
    val corpusSigs = idx.corpusSigs
    val corpusBands = idx.corpusBands
    val dSig = graft.CacheScope.cache(
      minhashSigs(shingleArraysOf(Spread.scan(deltaDocs)), k))
    val cand = bandKeys(dSig, k, bands).withColumnRenamed("doc_id", "a_id")
      .join(corpusBands, Seq("band", "bk"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a_id")).orderBy(col("est_sim").desc, col("b_id"))
    val joined = cand
      .join(dSig.toDF("a_id", "sig_a"), Seq("a_id"))
      .join(corpusSigs, Seq("b_id"))
    val best = joined
      .withColumn("est_sim", estSim(joined))
      .filter(col("est_sim") >= 0.5)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("a_id").as("doc_id"), col("b_id").as("dup_of"), col("est_sim"))
    deltaDocs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("est_sim"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Diagnostic stage breakdown of [[q66DedupPipeline]] for the bench
    * artifact (r7 adjudication: q66's median doubled with 5× spread in a
    * round that touched its kernels). Runs the pipeline's stages
    * SEQUENTIALLY with the same cache structure as the query, materializing
    * each, and records (stage, secs, rows) telemetry — so a moved q66
    * timing can be attributed to shingling/signatures, the band join, the
    * Jaccard verify, or the CC resolve instead of guessed at. Untimed
    * relative to the headline (Bench calls it AFTER the timed pass).
    */
  def q66StageProbe(spark: SparkSession, dir: String): Unit = graft.CacheScope.run {
    // stage() times a closure that BUILDS AND MATERIALIZES its stage —
    // localCheckpoint() is EAGER, so it must run inside the timed closure
    // or the stage's real work executes between the timers and the probe
    // mis-attributes exactly the regressions it exists to explain
    def stage[A](name: String)(work: => (A, Long)): A = {
      val t0 = System.nanoTime()
      val (out, n) = work
      val secs = (System.nanoTime() - t0) / 1e9
      graft.Telemetry.record(f"q66probe stage=$name secs=$secs%.3f rows=$n")
      out
    }
    val sh = stage("shingle") {
      val d = graft.CacheScope.cache(shingleArrays(spark, dir))
      (d, d.count())
    }
    val sig = stage("minhash") {
      val d = graft.CacheScope.cache(minhashSigs(sh))
      (d, d.count())
    }
    val cand = stage("band_join") {
      val d = bandPairs(sig).localCheckpoint()
      (d, d.count())
    }
    val edges = stage("verify") {
      val d = jaccardVerify(cand, sh).localCheckpoint()
      (d, d.count())
    }
    val nodes = docs(spark, dir).select(col("doc_id").as("id"))
    stage("cc") {
      val d = connectedComponents(edges, nodes)
      (d, d.count())
    }
    ()
  }

  /** Per-stage probe for q45 — the heaviest standalone query: the prefix
    * self-join's candidate volume is its dominant cost, and this
    * attributes a moved median to shingling, the ranked-prefix build
    * (explode + global df + window), the prefix join, or the Jaccard
    * verify. Same contract as [[q66StageProbe]]: stages run the EXACT
    * definitions the query composes ([[ngramPrefixes]]/[[ngramPrefixJoin]]/
    * [[ngramVerify]]), each materialized inside its timer, telemetry into
    * the bench artifact, untimed relative to the headline.
    */
  def q45StageProbe(spark: SparkSession, dir: String): Unit = graft.CacheScope.run {
    def stage[A](name: String)(work: => (A, Long)): A = {
      val t0 = System.nanoTime()
      val (out, n) = work
      val secs = (System.nanoTime() - t0) / 1e9
      graft.Telemetry.record(f"q45probe stage=$name secs=$secs%.3f rows=$n")
      out
    }
    val sh = stage("shingle") {
      // mirrors q45's exact (un-respread) shingle frame - probe fidelity
      val d = graft.CacheScope.cache(
        shingleArraysOf(docs(spark, dir), Seq("lang", "source")))
      (d, d.count())
    }
    val pref = stage("prefix_build") {
      val d = ngramPrefixes(sh).localCheckpoint()
      (d, d.count())
    }
    val cand = stage("prefix_join") {
      val d = ngramPrefixJoin(pref).localCheckpoint()
      (d, d.count())
    }
    stage("verify") {
      val d = ngramVerify(cand, sh)
      (d, d.count())
    }
    ()
  }

  /** q79's semantics through the MATERIALIZED index path: the corpus side
    * ([[writeBandIndex]]) is written to a per-sfdir location once and every
    * subsequent run only shingles/signs the delta and joins the STORED
    * band keys and signatures — the zero-corpus-recompute nightly shape,
    * now exercised end-to-end (parquet round-trip included) by the
    * correctness gate rather than only parity-spec'd. Identical output
    * contract to q79, so it shares q79's oracle SQL.
    */
  def q81IncrementalIndex(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // build-once, keyed by dir AND the source file's fingerprint: a rerun
    // (bench samples, verify after bench) reads the stored index — corpus
    // work amortized to zero — while a REGENERATED fixture changes the key
    // and forces a rebuild instead of silently serving the old corpus.
    // The first run per (dir, content) pays the build inside its sample;
    // the median of later samples reads pure index (visible as a high
    // round-1 max in the bench spread).
    // v2: the stored band layout (array bk keys + meta) — versioning the
    // path retires indexes from the pre-dial m0..m3 layout
    val indexPath = graft.Tables.derivedIndexPath("graft_band_index_v2", dir, "documents")
    IndexMeta.ensure(spark, indexPath) {
      writeBandIndex(d.filter(col("doc_id") % 10 =!= 0), indexPath)
    }
    incrementalDedupAgainstIndex(d.filter(col("doc_id") % 10 === 0), indexPath)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q44_dedup_exact" -> q44DedupExact,
    "q115_normalize_dedup" -> q115NormalizeDedup,
    "q121_mirror_matrix" -> q121MirrorMatrix,
    "q45_ngram_jaccard" -> q45NgramJaccard,
    "q46_minhash_lsh" -> q46MinhashLsh,
    "q47_simhash" -> q47Simhash,
    "q58_dedup_clusters" -> q58DedupClusters,
    "q178_dedup_clusters48" -> q178DedupClusters48,
    "q129_cluster_spectrum" -> q129ClusterSpectrum,
    "q131_dedup_sensitivity" -> q131DedupSensitivity,
    "q66_dedup_pipeline" -> q66DedupPipeline,
    "q77_canonical_best" -> q77CanonicalBest,
    "q78_winnow_fingerprint" -> q78WinnowFingerprint,
    "q79_incremental_dedup" -> q79IncrementalDedup,
    "q81_incremental_index" -> q81IncrementalIndex,
    "q159_excerpt_containment" -> q159ExcerptContainment)

  /** The simhash-edge + min-label reachability CTE chain (th → reach) —
    * ONE definition shared by the q58, q77 and q129 oracles (usage:
    * `WITH RECURSIVE $ccReachCtes, ...`). `reach`'s min-label per id IS
    * the connected-component label the tiered CC kernel computes.
    */
  /** The simhash signature CTEs (th → sim) at a caller-chosen bit width
    * — shared by [[ccReachCtesAt]] and the q131 ladder oracle. The md5
    * 15-hex-char hash carries 60 usable bits, the same construction
    * [[graft.functions.PortableHash.md5Int60]] computes kernel-side, so
    * any width ≤ 60 stays engine-portable.
    */
  private def simhashSigCtesAt(bits: Int) =
    s"""th AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15))::BIGINT AS h
      |  FROM documents),
      |bits AS (
      |  SELECT doc_id, lang, j, sum(((h // CAST(pow(2, j) AS BIGINT)) % 2) * 2 - 1) AS vote
      |  FROM th, generate_series(0, ${bits - 1}) g(j)
      |  GROUP BY doc_id, lang, j),
      |sim AS (
      |  SELECT doc_id, lang,
      |    CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id, lang)""".stripMargin

  /** The 16-bit reference-dial instance (q47/q58/q77/q129/q131 oracles). */
  private val simhashSigCtes = simhashSigCtesAt(16)

  /** Simhash-edge + min-label reachability at caller-chosen dials; the
    * oracle twin of `simhashNearDupPairs(bits, maxHamming)` →
    * `connectedComponents` (the oracle's edge set is the brute-force
    * same-lang pair join, which the pigeonhole band join equals exactly
    * — banding at h+1 bands cannot miss a pair within hamming h).
    */
  private def ccReachCtesAt(bits: Int, maxHamming: Int) =
    s"""${simhashSigCtesAt(bits)},
      |edges AS (
      |  SELECT x.doc_id AS a_id, y.doc_id AS b_id
      |  FROM sim x JOIN sim y ON x.lang = y.lang AND x.doc_id < y.doc_id
      |  WHERE bit_count(xor(x.simhash, y.simhash)) <= $maxHamming),
      |bi AS (SELECT a_id AS src, b_id AS dst FROM edges
      |       UNION ALL SELECT b_id, a_id FROM edges),
      |reach(id, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT bi.src, reach.label FROM reach JOIN bi ON bi.dst = reach.id)""".stripMargin

  private val ccReachCtes = ccReachCtesAt(16, 2)

  private val shingleCte =
    """t AS (SELECT doc_id, lang, source, string_split(text, ' ') AS tok FROM documents),
      |idx AS (
      |  SELECT doc_id, lang, source, tok,
      |    unnest(generate_series(1, len(tok) - 2)) AS i
      |  FROM t),
      |sh AS (
      |  SELECT DISTINCT doc_id, lang, source,
      |    tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2] AS shingle
      |  FROM idx)""".stripMargin

  /** The q46 MinHash+LSH pair kernel as CTEs (shingles → 16-slot
    * signatures → 4-row bands → banded candidates → estimator-filtered
    * pairs) — ONE definition shared by the q46 oracle and q102's
    * cross-split leakage oracle, so the two gates cannot drift.
    */
  private[operators] val minhashPairsCte: String =
    s"""$shingleCte,
      |sig AS (
      |  SELECT doc_id, k,
      |    min(('0x' || substr(md5(k || ':' || shingle), 1, 15))::BIGINT) AS mh
      |  FROM sh, generate_series(0, 15) g(k)
      |  GROUP BY doc_id, k),
      |bands AS (
      |  SELECT doc_id, k // 4 AS band,
      |    max(CASE WHEN k % 4 = 0 THEN mh END) AS m0,
      |    max(CASE WHEN k % 4 = 1 THEN mh END) AS m1,
      |    max(CASE WHEN k % 4 = 2 THEN mh END) AS m2,
      |    max(CASE WHEN k % 4 = 3 THEN mh END) AS m3
      |  FROM sig GROUP BY doc_id, band),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.m0 = y.m0
      |    AND x.m1 = y.m1 AND x.m2 = y.m2 AND x.m3 = y.m3
      |    AND x.doc_id < y.doc_id),
      |pairs AS (
      |  SELECT a_id, b_id,
      |    sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0 AS est_sim
      |  FROM cand JOIN sig sa ON sa.doc_id = a_id JOIN sig sb
      |    ON sb.doc_id = b_id AND sb.k = sa.k
      |  GROUP BY a_id, b_id
      |  HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0 >= 0.5)""".stripMargin

  /** The incremental-dedup oracle (delta = `doc_id % 10 = 0` vs the rest),
    * shared verbatim by q79 (inline corpus recompute) and q81 (the
    * materialized band-index path) — identical semantics by construction.
    */
  private val incrementalSql: String =
    s"""WITH $shingleCte,
      |sig AS (
      |  SELECT doc_id, k,
      |    min(('0x' || substr(md5(k || ':' || shingle), 1, 15))::BIGINT) AS mh
      |  FROM sh, generate_series(0, 15) g(k)
      |  GROUP BY doc_id, k),
      |bands AS (
      |  SELECT doc_id, k // 4 AS band,
      |    max(CASE WHEN k % 4 = 0 THEN mh END) AS m0,
      |    max(CASE WHEN k % 4 = 1 THEN mh END) AS m1,
      |    max(CASE WHEN k % 4 = 2 THEN mh END) AS m2,
      |    max(CASE WHEN k % 4 = 3 THEN mh END) AS m3
      |  FROM sig GROUP BY doc_id, band),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.m0 = y.m0
      |    AND x.m1 = y.m1 AND x.m2 = y.m2 AND x.m3 = y.m3
      |    AND x.doc_id % 10 = 0 AND y.doc_id % 10 != 0),
      |est AS (
      |  SELECT a_id, b_id,
      |    sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0 AS est_sim
      |  FROM cand JOIN sig sa ON sa.doc_id = a_id JOIN sig sb
      |    ON sb.doc_id = b_id AND sb.k = sa.k
      |  GROUP BY a_id, b_id
      |  HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0 >= 0.5),
      |best AS (
      |  SELECT a_id, b_id, est_sim FROM (
      |    SELECT *, row_number() OVER (PARTITION BY a_id
      |      ORDER BY est_sim DESC, b_id) AS rn
      |    FROM est) WHERE rn = 1)
      |SELECT d.doc_id, best.b_id AS dup_of, best.est_sim,
      |  best.b_id IS NOT NULL AS is_dup
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
      |LEFT JOIN best ON best.a_id = d.doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // shared shingle CTEs + the df-capped exact candidate join; both
    // verdicts stated in the same integer space; dials interpolate
    "q159_excerpt_containment" ->
      s"""WITH $shingleCte,
        |sdf AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |rare AS (
        |  SELECT sh.doc_id, sh.shingle FROM sh JOIN sdf USING (shingle)
        |  WHERE df <= $EXC_DF_CAP),
        |cand AS (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id, count(*) AS shared_rare
        |  FROM rare x JOIN rare y ON y.shingle = x.shingle
        |    AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= $EXC_MIN_SHARED),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |ii AS (
        |  SELECT a_id, b_id, count(*) AS inter FROM cand
        |  JOIN sh sa ON sa.doc_id = a_id
        |  JOIN sh sb ON sb.doc_id = b_id AND sb.shingle = sa.shingle
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, na.n AS n_a, nb.n AS n_b, inter,
        |  inter / least(na.n, nb.n) AS containment,
        |  inter / (na.n + nb.n - inter) AS jaccard,
        |  (2 * inter < na.n + nb.n - inter) AS excerpt
        |FROM ii JOIN sizes na ON na.doc_id = a_id
        |  JOIN sizes nb ON nb.doc_id = b_id
        |WHERE 5 * inter >= 4 * least(na.n, nb.n)""".stripMargin,
    "q66_dedup_pipeline" ->
      s"""WITH RECURSIVE $shingleCte,
        |sig AS (
        |  SELECT doc_id, k,
        |    min(('0x' || substr(md5(k || ':' || shingle), 1, 15))::BIGINT) AS mh
        |  FROM sh, generate_series(0, 15) g(k)
        |  GROUP BY doc_id, k),
        |bands AS (
        |  SELECT doc_id, k // 4 AS band,
        |    max(CASE WHEN k % 4 = 0 THEN mh END) AS m0,
        |    max(CASE WHEN k % 4 = 1 THEN mh END) AS m1,
        |    max(CASE WHEN k % 4 = 2 THEN mh END) AS m2,
        |    max(CASE WHEN k % 4 = 3 THEN mh END) AS m3
        |  FROM sig GROUP BY doc_id, band),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |  FROM bands x JOIN bands y ON x.band = y.band AND x.m0 = y.m0
        |    AND x.m1 = y.m1 AND x.m2 = y.m2 AND x.m3 = y.m3
        |    AND x.doc_id < y.doc_id),
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT c.a_id, c.b_id, count(*) AS inter
        |  FROM cand c JOIN sh a ON a.doc_id = c.a_id
        |    JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
        |  GROUP BY 1, 2),
        |edges AS (
        |  SELECT i.a_id, i.b_id FROM inter i
        |  JOIN cnt ca ON i.a_id = ca.doc_id JOIN cnt cb ON i.b_id = cb.doc_id
        |  WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5),
        |bi AS (SELECT a_id AS src, b_id AS dst FROM edges
        |       UNION ALL SELECT b_id, a_id FROM edges),
        |reach(id, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT bi.src, reach.label FROM reach JOIN bi ON bi.dst = reach.id)
        |SELECT id AS doc_id, min(label) AS canonical_id,
        |  (min(label) = id) AS is_canonical
        |FROM reach GROUP BY 1""".stripMargin,
    "q44_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q115_normalize_dedup" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(regexp_replace(
        |      translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
        |                      'abcdefghijklmnopqrstuvwxyz'),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash,
        |    md5(text) AS content_hash
        |  FROM documents),
        |g AS (
        |  SELECT norm_hash, min(doc_id) AS canonical_id,
        |    count(*) AS n_copies, count(DISTINCT content_hash) AS n_variants
        |  FROM n GROUP BY 1)
        |SELECT n.doc_id, n.norm_hash, g.canonical_id, g.n_copies,
        |  g.n_variants, (n.doc_id = g.canonical_id) AS keep
        |FROM n JOIN g USING (norm_hash)""".stripMargin,
    "q79_incremental_dedup" -> incrementalSql,
    // the index path computes the SAME answer, just against stored
    // signatures — one oracle serves both
    "q81_incremental_index" -> incrementalSql,
    "q45_ngram_jaccard" ->
      s"""WITH $shingleCte,
        |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.lang = b.lang
        |    AND a.source = b.source AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, inter,
        |  CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) AS jaccard
        |FROM inter JOIN cnt ca ON a_id = ca.doc_id JOIN cnt cb ON b_id = cb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (ca.n_sh + cb.n_sh - inter) >= 0.5""".stripMargin,
    "q46_minhash_lsh" ->
      s"""WITH $minhashPairsCte
        |SELECT a_id, b_id, est_sim FROM pairs""".stripMargin,
    // q46's pair CTEs + the id-keyed source labels + the micro-unit mean
    "q121_mirror_matrix" ->
      s"""WITH $minhashPairsCte,
        |src AS (SELECT doc_id, source FROM documents),
        |lab AS (
        |  SELECT least(sa.source, sb.source) AS source_a,
        |    greatest(sa.source, sb.source) AS source_b, est_sim
        |  FROM pairs
        |  JOIN src sa ON sa.doc_id = pairs.a_id
        |  JOIN src sb ON sb.doc_id = pairs.b_id)
        |SELECT source_a, source_b, count(*) AS n_pairs,
        |  round(sum(CAST(round(est_sim * 1e6, 0) AS BIGINT))
        |    / count(*) / 1e6, 6) AS mean_sim
        |FROM lab GROUP BY 1, 2""".stripMargin,
    "q58_dedup_clusters" ->
      s"""WITH RECURSIVE $ccReachCtes
        |SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1""".stripMargin,
    "q178_dedup_clusters48" ->
      s"""WITH RECURSIVE ${ccReachCtesAt(48, 1)}
        |SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1""".stripMargin,
    "q131_dedup_sensitivity" ->
      s"""WITH $simhashSigCtes,
        |p AS (
        |  SELECT x.doc_id AS a_id, y.doc_id AS b_id,
        |    bit_count(xor(x.simhash, y.simhash)) AS hd
        |  FROM sim x JOIN sim y ON x.lang = y.lang AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.simhash, y.simhash)) <= $LADDER_MAX_HAMMING),
        |byhd AS (SELECT hd, count(*) AS np FROM p GROUP BY 1),
        |dmin AS (
        |  SELECT doc_id, min(hd) AS hd FROM (
        |    SELECT hd, a_id AS doc_id FROM p
        |    UNION ALL SELECT hd, b_id FROM p)
        |  GROUP BY 1),
        |dbyhd AS (SELECT hd, count(*) AS nd FROM dmin GROUP BY 1),
        |lad AS (
        |  SELECT unnest(generate_series(0, $LADDER_MAX_HAMMING)) AS max_hamming)
        |SELECT l.max_hamming,
        |  coalesce((SELECT CAST(sum(np) AS BIGINT) FROM byhd
        |            WHERE hd <= l.max_hamming), 0) AS n_pairs,
        |  coalesce((SELECT CAST(sum(nd) AS BIGINT) FROM dbyhd
        |            WHERE hd <= l.max_hamming), 0) AS n_dup_docs
        |FROM lad l""".stripMargin,
    "q129_cluster_spectrum" ->
      s"""WITH RECURSIVE $ccReachCtes,
        |clusters AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1),
        |near AS (
        |  SELECT 'near' AS modality, cluster_size, count(*) AS n_clusters
        |  FROM (SELECT cluster_id, count(*) AS cluster_size
        |        FROM clusters GROUP BY 1)
        |  GROUP BY 2),
        |ex AS (
        |  SELECT 'exact' AS modality, cluster_size, count(*) AS n_clusters
        |  FROM (SELECT md5(text) AS k, count(*) AS cluster_size
        |        FROM documents GROUP BY 1)
        |  GROUP BY 2),
        |u AS (SELECT * FROM near UNION ALL SELECT * FROM ex)
        |SELECT modality, cluster_size, n_clusters,
        |  cluster_size * n_clusters AS n_docs
        |FROM u""".stripMargin,
    "q77_canonical_best" ->
      s"""WITH RECURSIVE $ccReachCtes,
        |clusters AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1),
        |quality AS (
        |  SELECT doc_id,
        |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 6) AS quality
        |  FROM documents)
        |SELECT doc_id, cluster_id, quality, rk = 1 AS keep FROM (
        |  SELECT c.doc_id, c.cluster_id, q.quality,
        |    row_number() OVER (PARTITION BY c.cluster_id
        |      ORDER BY q.quality DESC, c.doc_id) AS rk
        |  FROM clusters c JOIN quality q ON q.doc_id = c.doc_id)""".stripMargin,
    "q78_winnow_fingerprint" ->
      """WITH g AS (
        |  SELECT doc_id, list_transform(range(1, length(text) - 18),
        |    i -> ('0x' || substr(md5(substr(text, i, 20)), 1, 15))::BIGINT) AS hs
        |  FROM documents WHERE length(text) >= 29),
        |f AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(hs) - 8), j -> list_min(hs[j:j+9]))) AS fp
        |  FROM g WHERE len(hs) >= 10)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,
    "q47_simhash" ->
      """WITH th AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 15))::BIGINT AS h
        |  FROM documents),
        |bits AS (
        |  SELECT doc_id, lang, j, sum(((h // CAST(pow(2, j) AS BIGINT)) % 2) * 2 - 1) AS vote
        |  FROM th, generate_series(0, 15) g(j)
        |  GROUP BY doc_id, lang, j),
        |sim AS (
        |  SELECT doc_id, lang,
        |    CAST(sum(CASE WHEN vote > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits GROUP BY doc_id, lang)
        |SELECT x.doc_id AS a_id, y.doc_id AS b_id, x.simhash AS ha, y.simhash AS hb,
        |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
        |FROM sim x JOIN sim y ON x.lang = y.lang AND x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.simhash, y.simhash)) <= 2""".stripMargin)
}
