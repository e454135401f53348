package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic inputs for the capacity ladders ([[Ladder]])
  * and the specs that need more structure than the fixtures carry.
  * Every generator hashes (xxhash64) row and slot ids — no RNG state —
  * runs fully distributed, and emits the schema of the fixture table it
  * stands in for, so production queries read its output unmodified.
  */
private[graft] object Synth {

  /** Embedding dims: 64 floats (a multiple of PQ_M=8, as pqModel requires). */
  private val Dim = 64

  /** Latent cluster count. Fixed at 256: same-cluster cosine ≈ 0.8,
    * cross-cluster ≈ 0 (centers uniform [-1,1] per dim — variance 1/3;
    * noise 0.5×uniform — variance 1/12), so every vector's true top-3
    * neighbors are same-cluster and the approximate tiers have genuine
    * structure to find — uniform hash-soup would make recall a
    * coin-flip artifact, PQ's documented worst regime.
    */
  private val Clusters = 256

  /** n clustered vectors as an embeddings-schema frame
    * (vec_id, embedding: array<float>, label).
    */
  def synthEmb(spark: SparkSession, n: Long): DataFrame = {
    def u(c1: Column, c2: Column, salt: Int): Column = // uniform [-1, 1]
      pmod(xxhash64(c1, c2, lit(salt)), lit(2001)).cast("double") / 1000.0 - 1.0
    spark.range(0, n)
      .withColumn("cl", pmod(xxhash64(col("id"), lit(5)), lit(Clusters)))
      .select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(Dim - 1)),
          j => (u(col("cl"), j, 11) + lit(0.5) * u(col("id"), j, 13))
            .cast("float")).as("embedding"),
        col("cl").cast("int").as("label"))
  }

  /** The fixture CORE vocabulary (31 tokens — TESTDATA.md's documents
    * shape); ~30% of slots draw from it, the rest from a content
    * vocabulary that GROWS with the corpus (Heaps-law-ish,
    * max(1000, n/5) hashed ids). The growth matters: pure 31-token soup
    * collapses every document's simhash toward the same signature (a
    * majority vote over the same 31 token hashes) and the pair graph
    * goes quadratic at ANY signature width — a corpus-realism artifact,
    * not a scale property.
    */
  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** 10 + hash(d)%91 token slots per doc, `tok` filling each slot. */
  private def tokenDocs(spark: SparkSession, n: Long)(tok: (Column, Column) => Column) =
    spark.range(0, n)
      .select(col("id").as("doc_id"),
        transform(
          sequence(lit(0), pmod(xxhash64(col("id")), lit(91)).cast("int") + lit(9)),
          j => tok(col("id"), j)).as("toks"))

  /** nBase base docs + planted twins, as a documents-schema frame:
    * 10-100 tokens/doc, ~5% of docs carrying a planted near-dup twin
    * (2 token edits) and ~0.3% an exact twin (the sf0.1 regime: 477
    * near-dup subgraph nodes / 5k docs, 8 exact pairs).
    */
  def synthDocs(spark: SparkSession, nBase: Long): DataFrame = {
    val vocabCol = typedlit(Vocab)
    val contentVocab = math.max(1000L, nBase / 5)
    val base = tokenDocs(spark, nBase) { (d, j) =>
      when(pmod(xxhash64(d, j, lit(1)), lit(10)) < 3,
        element_at(vocabCol, pmod(xxhash64(d, j), lit(31)).cast("int") + 1))
        .otherwise(concat(lit("w"), pmod(xxhash64(d, j), lit(contentVocab))))
    }
    // near-dup twin for ~5% of docs: replace the first two tokens (a
    // 2-token edit on a 10-100-token doc stays inside the q46 jaccard
    // verify threshold for most lengths — the planted pair regime)
    val near = base.filter(pmod(col("doc_id"), lit(20)) === 7)
      .select((col("doc_id") + nBase).as("doc_id"),
        concat(
          transform(slice(col("toks"), 1, 2),
            t => element_at(vocabCol,
              pmod(xxhash64(t, col("doc_id")), lit(31)).cast("int") + 1)),
          slice(col("toks"), 3, 1000000)).as("toks"))
    // exact twin for ~0.3% of docs
    val exact = base.filter(pmod(col("doc_id"), lit(333)) === 11)
      .select((col("doc_id") + 2 * nBase).as("doc_id"), col("toks"))
    base.unionByName(near).unionByName(exact)
      .select(col("doc_id"), concat_ws(" ", col("toks")).as("text"),
        element_at(typedlit(Seq("en", "zh", "es", "fr", "de")),
          pmod(xxhash64(col("doc_id"), lit(7)), lit(5)).cast("int") + 1).as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")))
  }

  /** Zipf-headed corpus: a single head token carries ~10% of ALL token
    * occurrences (the "the" regime English actually has — ~7% per
    * Zipf), the rest draws from a BOUNDED 100k content vocabulary (the
    * realistic Heaps tail [[synthDocs]] deliberately breaks). This is
    * the corpus the skew-salt gate exists for: at 5M docs the head
    * key's probe load crosses `Skew.saltedJoinAdaptive`'s threshold and
    * the gate must CHOOSE the salted path.
    */
  def zipfDocs(spark: SparkSession, nBase: Long): DataFrame =
    tokenDocs(spark, nBase) { (d, j) =>
      when(pmod(xxhash64(d, j, lit(21)), lit(10)) < 1, lit("zz_the"))
        .otherwise(concat(lit("w"), pmod(xxhash64(d, j, lit(22)), lit(100000L))))
    }.select(col("doc_id"), concat_ws(" ", col("toks")).as("text"),
        lit("en").as("lang"),
        concat(lit("src"), pmod(col("doc_id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")))

  /** ~sf0.1 density: 67 events per user. */
  private val EventsPerUser = 67L

  /** nEvents events on the µs grid over the FIXTURE's 30-day span (the
    * long-ns contract `Tables.load` expects; scaling means MORE USERS,
    * not sparser curves — the 1-day variogram bins the descriptors run
    * at need ~2 points/bin). Each user's value carries a genuine
    * periodic signal (sin at a user-specific period from the q137 trial
    * range) plus hash noise, so the period search does real work rather
    * than folding white noise.
    */
  def synthEvents(spark: SparkSession, nEvents: Long): DataFrame = {
    val nUsers = math.max(1L, nEvents / EventsPerUser)
    val spanUs = 30L * 86400L * 1000000L // 30 days on the µs grid
    spark.range(0, nEvents)
      .withColumn("user_id", pmod(xxhash64(col("id"), lit(7)), lit(nUsers)))
      // user-specific true period in the trial range [0.5, 13] days
      .withColumn("p_days",
        lit(0.5) + pmod(xxhash64(col("user_id"), lit(11)), lit(1250)) / lit(100.0))
      .withColumn("t_us", pmod(xxhash64(col("id"), lit(3)), lit(spanUs)))
      .select(
        col("id").as("event_id"),
        (col("t_us") * 1000L).as("ts"), // long ns on the µs grid
        col("user_id"),
        concat(lit("type_"), pmod(xxhash64(col("id"), lit(5)), lit(5))).as("event_type"),
        (sin(col("t_us") / lit(86400e6) / col("p_days") * lit(2 * math.Pi)) * 10.0
          + pmod(xxhash64(col("id"), lit(13)), lit(2001)) / 1000.0 - 1.0).as("value"),
        lit("{}").as("props"))
  }

  /** `comps` path components of `len` edges each (the dedup shape — many
    * small clusters), edges shuffled round-robin over 32 partitions so
    * partition-local contraction leaves ~(len - 1)·comps fragment links:
    * the connected-components boundary graph. Returns (edges, nodes).
    */
  def pathGraph(spark: SparkSession, comps: Long, len: Int): (DataFrame, DataFrame) = {
    val n = len + 1 // nodes per component
    val edges = spark.range(0, comps * n)
      .filter(col("id") % n =!= len)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      .repartition(32) // round-robin: fragments every component
    (edges, spark.range(0, comps * n).select(col("id")))
  }

  /** BM25's 10⁸-term scale model: token j of doc d is a uniform hash of
    * (d, j) into an 8M-id vocabulary, 40 tokens per doc (200k docs →
    * ~6.4M distinct terms).
    */
  def wideVocabDocs(spark: SparkSession, nDocs: Long): DataFrame =
    spark.range(0, nDocs)
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(39)),
          j => concat(lit("t"), pmod(xxhash64(col("id"), j), lit(8000000L))))).as("text"))
}
