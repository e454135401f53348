package graft.operators

import graft.Tables
import graft.functions.expressions.BloomFns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bloom-gated membership filtering — the decontamination/blocklist shape
  * for when the reference set is too big to broadcast as STRINGS but its
  * ~10-bits-per-item bloom sketch still fits every executor.
  *
  * q68/q85 broadcast the eval set's exact gram table; that is the right
  * plan while the set is benchmark-sized. A production blocklist
  * (copyrighted spans, opt-out domains, eval suites across every
  * benchmark) reaches 10^8–10^9 grams — ~50 B/string makes the exact
  * broadcast tens of GB, but the bloom is `numBits/8` bytes regardless
  * (1 GB of bloom covers ~10^9 items at 1% fp). The composition here
  * keeps the corpus map-side anyway:
  *
  *  1. build the sketch DISTRIBUTED (`bloom_agg`: map-side partial blooms
  *     OR-merged by the aggregate; the driver sees only the final byte
  *     array — never the gram strings);
  *  2. gate every corpus gram with the codegen'd `might_contain` probe
  *     INSIDE the scan's stage — no exchange, no false negatives, so
  *     survivors are a superset of the true hits;
  *  3. exact-verify only the survivors against the reference gram table.
  *     At fixture scale AQE broadcasts that join; at blocklist scale it
  *     is a shuffle join whose corpus side carries only
  *     `true hits + fpp × |corpus grams|` rows instead of every gram —
  *     the bloom is what keeps the big side's exchange ~0.
  *
  * The result is EXACT (the verify join removes every false positive),
  * which is why q96/q97 hash-match the same oracle a plain join would.
  */
object BloomGate {

  /** Gram length for the blocklist gate: 5-token grams (q68's
    * benchmark-decontamination modality uses 8; blocklist matching wants
    * the shorter span — more grams per doc, higher hit sensitivity).
    */
  val GRAM_N = 5

  /** Build dials, recorded in the index meta: 2^17 expected items (10×
    * the sf0.1 eval gram count — headroom, not tuning) over 2^20 bits =
    * a 128 KiB sketch, ≲1% false-positive rate at capacity. Both are
    * under Spark's runtime-filter conf caps, so `bloom_agg` needs no
    * conf changes.
    */
  val EST_ITEMS = 1L << 17
  val NUM_BITS = 1L << 20

  private def docs(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")

  /** Distributed sketch build over a (…, gram) frame. The single
    * collected row is the `numBits/8`-byte sketch — bounded by the DIAL,
    * not the data (the IVF-centroid kind of bounded collect).
    *
    * `bloom_agg` rides Spark's BloomFilterAggregate, which SILENTLY
    * CLAMPS to `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/
    * maxNumBits` (4M items / 2^26 bits by default) — at the 10^8-gram
    * blocklist scale this gate exists for, an unraised conf would
    * saturate the sketch while the caller's dial claimed otherwise. The
    * limits are raised to the requested dial for the build, scoped and
    * restored.
    */
  def buildBloom(grams: DataFrame,
                 estItems: Long = EST_ITEMS, numBits: Long = NUM_BITS): Array[Byte] = {
    val spark = grams.sparkSession
    BloomFns.register(spark)
    withBloomLimits(spark, estItems, numBits) {
      grams
        .select(call_function("bloom_agg",
          xxhash64(col("gram")), lit(estItems), lit(numBits)).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    }
  }

  /** Run `body` with the runtime-bloom-filter limits raised to at least
    * the requested dials, restoring the session values after — the ONE
    * guard every `bloom_agg` build site goes through (BloomGate builds,
    * the streaming-scrub ledger sketches).
    *
    * The raise is `max(current, requested, default)` — a user-raised
    * session value is never LOWERED for the build. The conf mutation is
    * session-wide, so concurrent sketch builds on one session serialize
    * through [[bloomLimitsLock]]; a concurrent UNRELATED query planning a
    * runtime bloom-filter join can still observe the temporarily-raised
    * values, which is benign (raising only widens what the planner may
    * build) precisely because the raise is never a lowering.
    */
  private[this] val bloomLimitsLock = new Object
  private[graft] def withBloomLimits[A](spark: org.apache.spark.sql.SparkSession,
                                        estItems: Long, numBits: Long)(body: => A): A =
    bloomLimitsLock.synchronized {
      val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
      val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
      val prevItems = spark.conf.getOption(itemsKey)
      val prevBits = spark.conf.getOption(bitsKey)
      def current(prev: Option[String]): Long =
        prev.flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(0L)
      spark.conf.set(itemsKey,
        Seq(current(prevItems), estItems, 4000000L).max)
      spark.conf.set(bitsKey,
        Seq(current(prevBits), numBits, 1L << 26).max)
      try body
      finally {
        def restore(key: String, prev: Option[String]): Unit = prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
        restore(itemsKey, prevItems)
        restore(bitsKey, prevBits)
      }
    }

  /** Map-side gate: keep rows whose gram MIGHT be in the sketch. The
    * sketch rides the plan as a binary literal (the form
    * `BloomFilterMightContain` requires — it must be constant-foldable),
    * so the probe stays inside whole-stage codegen with the gram explode.
    */
  def bloomGate(grams: DataFrame, bloomBytes: Array[Byte]): DataFrame = {
    BloomFns.register(grams.sparkSession)
    grams.filter(call_function("might_contain", lit(bloomBytes), xxhash64(col("gram"))))
  }

  /** Survivors → exact verification → per-doc hit counts, left-joined
    * back over `corpusIds` (one `doc_id` column). Shared by the inline
    * query, the index-serving query, and the streaming gate.
    */
  private[graft] def verifyAndCount(corpusIds: DataFrame, survivors: DataFrame,
                                    refGrams: DataFrame): DataFrame = {
    val hits = survivors
      .join(refGrams, Seq("gram"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    corpusIds
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Inline bloom-gated decontamination: eval = `source = 'src0'` (the
    * q68 convention), 5-token grams. Builds the sketch, gates the corpus
    * grams map-side, exact-verifies survivors. Output contract matches
    * the plain-join oracle exactly — the bloom never changes the answer,
    * only the exchange volume.
    */
  def q96BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // cached into the CALLER's scope (the q79 convention — the returned
    // plan's action happens there): the distinct eval gram table feeds
    // BOTH the sketch build (materialized here by `head`) and the verify
    // join (materialized by the caller) — uncached, each consumer re-runs
    // the eval-side explode + distinct
    val evalGrams = graft.CacheScope.cache(
      CorpusOps.tokenGrams(d.filter(col("source") === "src0"), GRAM_N)
        .select(col("gram")).distinct())
    val bloom = buildBloom(evalGrams)
    val corpus = Spread.scan(d.filter(col("source") =!= "src0"))
    val survivors = bloomGate(CorpusOps.tokenGrams(corpus, GRAM_N), bloom)
    verifyAndCount(corpus.select(col("doc_id")), survivors, evalGrams)
  }

  // ---------------------------------------------------------------- index

  /** Materialize the blocklist gate: the exact gram table (verify side)
    * and the 1-row bloom sketch, the meta recording the dials
    * (gram_n especially — a reader gramming at a guessed width would
    * zero the verify join silently).
    */
  def writeBloomIndex(refDocs: DataFrame, path: String,
                      gramN: Int = GRAM_N,
                      estItems: Long = EST_ITEMS, numBits: Long = NUM_BITS): Unit = {
    val spark = refDocs.sparkSession
    BloomFns.register(spark)
    IndexMeta.commit(spark, path, "graft bloom gate") {
      val g = graft.CacheScope.cache(
        CorpusOps.tokenGrams(refDocs, gramN).select(col("gram")).distinct())
      g.write.mode("overwrite").parquet(s"$path/grams")
      withBloomLimits(spark, estItems, numBits) {
        g.select(call_function("bloom_agg",
          xxhash64(col("gram")), lit(estItems), lit(numBits)).as("bf"))
          .write.mode("overwrite").parquet(s"$path/bloom")
      }
      Seq("kind" -> "bloom_gate", "gram_n" -> gramN.toString,
        "est_items" -> estItems.toString, "num_bits" -> numBits.toString)
    }
  }

  /** A resolved bloom index: dials + sketch bytes + the exact gram frame,
    * loaded ONCE (the sketch is `numBits/8` bytes of driver state riding
    * the serving plan as a literal; the gram table stays distributed).
    */
  final case class LoadedBloomIndex private[operators] (
      gramN: Int, bloomBytes: Array[Byte], refGrams: DataFrame)

  def loadBloomIndex(spark: SparkSession, path: String): LoadedBloomIndex = {
    val props = IndexMeta.read(spark, path, "writeBloomIndex")
    LoadedBloomIndex(
      props.getProperty("gram_n").toInt,
      spark.read.parquet(s"$path/bloom").head().getAs[Array[Byte]]("bf"),
      spark.read.parquet(s"$path/grams"))
  }

  /** q96's semantics against a PREBUILT gate: only the corpus batch is
    * grammed — at the width the index RECORDS — and the reference set
    * participates through its stored sketch (map-side) and gram table
    * (verify join). Zero reference-side recompute: the serving plan
    * never touches the eval documents.
    */
  def decontaminateAgainstLoaded(corpusDocs: DataFrame,
                                 idx: LoadedBloomIndex): DataFrame = {
    val survivors = bloomGate(CorpusOps.tokenGrams(corpusDocs, idx.gramN), idx.bloomBytes)
    verifyAndCount(corpusDocs.select(col("doc_id")), survivors, idx.refGrams)
  }

  def decontaminateAgainstIndex(corpusDocs: DataFrame, path: String): DataFrame =
    decontaminateAgainstLoaded(corpusDocs,
      loadBloomIndex(corpusDocs.sparkSession, path))

  /** The serving twin (q81/q82/q83 pattern): build-once per
    * (dir, content fingerprint) — a rerun reads the stored gate, a
    * regenerated fixture forces a rebuild — then serve the corpus batch
    * from the store. Identical output contract to q96, so it shares the
    * same oracle SQL; the hash match certifies the store → serve
    * round-trip end to end.
    */
  def q97BloomIndex(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val indexPath = Tables.derivedIndexPath("graft_bloom_gate_v1", dir, "documents")
    IndexMeta.ensure(spark, indexPath) {
      writeBloomIndex(d.filter(col("source") === "src0"), indexPath)
    }
    decontaminateAgainstIndex(d.filter(col("source") =!= "src0"), indexPath)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q96_bloom_decontaminate" -> q96BloomDecontaminate,
    "q97_bloom_index" -> q97BloomIndex)

  /** The LOGICAL spec is the plain exact join — the bloom is transparent
    * in the answer (no false negatives; false positives removed by the
    * verify join), which is exactly what the hash compare certifies.
    * Mirrors q68's oracle at gram width 5.
    */
  private val bloomSql =
    """WITH t AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id, source,
      |    unnest(list_transform(range(1, len(toks) - 3),
      |      i -> array_to_string(toks[i:i+4], ' '))) AS gram
      |  FROM t WHERE len(toks) >= 5),
      |ev AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
      |hits AS (
      |  SELECT g.doc_id, count(*) AS n_hits
      |  FROM g JOIN ev USING (gram) WHERE g.source != 'src0' GROUP BY 1)
      |SELECT t.doc_id, coalesce(hits.n_hits, 0) AS n_hits,
      |  coalesce(hits.n_hits, 0) > 0 AS contaminated
      |FROM t LEFT JOIN hits ON t.doc_id = hits.doc_id
      |WHERE t.source != 'src0'""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q96_bloom_decontaminate" -> bloomSql,
    "q97_bloom_index" -> bloomSql)
}
