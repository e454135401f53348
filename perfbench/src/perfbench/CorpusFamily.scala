package perfbench

import java.io.File

import graft.{CacheScope, CorpusBuild}
import graft.operators.{CorpusOps, Dedup}
import org.apache.spark.sql.SparkSession

/** The corpus build over seeded documents with planted truths: the
  * materialize op (ingest → scrub → split → shard → parquet + manifest)
  * and the near-duplicate op (q66's minhash + connected components,
  * written to parquet).
  */
final class CorpusFamily(spark: SparkSession, work: File, seed: Long, docs: Int) extends Family {
  import spark.implicits._

  val name = "corpus"
  val primary = "materialize"
  val secondary = "neardup"
  val cycle = 2
  val corpus: Gen.Corpus = Gen.corpus(seed, docs)
  def info: Map[String, Double] = corpus.info + ("input_bytes" -> inputBytes.toDouble)
  private val dir = new File(work, "corpus").getPath
  private val inputBytes: Long = {
    corpus.docs.map(d => (d.id, d.text, d.lang, d.source, d.text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    Gen.bytesUnder(new File(s"$dir/documents.parquet"))
  }
  private var opNo = 0

  private def materialize(rec: Recorder): Unit = {
    opNo += 1
    val out = new File(work, s"out/$opNo")
    rec.op("materialize")(CorpusBuild.materialize(spark, dir, out.getPath)) { manifest =>
      val ids = spark.read.parquet(s"${out.getPath}/corpus").select("doc_id").as[Long].collect()
      CorpusFamily.checkBuild(corpus, manifest, ids)
      rec.note("bytes_written", Gen.bytesUnder(out))
    }
    if (rec.traced) {
      rec.layer("operators.CorpusOps.ingest")(CacheScope.run(Noop(CorpusOps.q100IngestPipeline(spark, dir))))
      rec.layer("CorpusBuild.curate")(CacheScope.run(Noop(CorpusBuild.q104CorpusBuild(spark, dir))))
    }
    Gen.deleteTree(out)
  }

  private def nearDup(rec: Recorder): Unit = {
    opNo += 1
    val out = new File(work, s"out/$opNo").getPath
    rec.op("neardup")(CacheScope.run(Dedup.q66DedupPipeline(spark, dir).write.parquet(out))) { _ =>
      val canon = spark.read.parquet(out).select("doc_id", "canonical_id").as[(Long, Long)]
        .collect().toMap
      rec.note("pair_recall", CorpusFamily.checkNearDup(corpus, canon))
    }
    if (rec.traced) rec.layer("operators.Dedup.pairs")(CacheScope.run(Noop(
      Dedup.minhashNearDupPairs(spark.read.parquet(s"$dir/documents.parquet")))))
    Gen.deleteTree(new File(out))
  }

  def step(rec: Recorder, i: Int): Unit = if (i % cycle == 0) nearDup(rec) else materialize(rec)

  def report(rec: Recorder): Report = {
    val docsPerS = docs * rec.times("materialize").length / rec.total("materialize")
    val recall = Stats.median(rec.times("pair_recall"))
    val e2e = Map("items_per_s" -> docsPerS, "output_quality" -> recall,
      "write_bytes_per_input_byte" ->
        rec.total("bytes_written") / (inputBytes * rec.times("materialize").length))
    val named = Map("docs_per_s" -> docsPerS, "neardup_p50_s" -> Stats.median(rec.times("neardup")))
    val build = rec.spansOf("materialize")
    val layers = if (build.isEmpty) Map.empty[String, Double] else {
      def med(n: String) = Stats.median(rec.spansOf(n).map(_.wallS))
      val barriers = build.map(_.events.filter(_.startsWith("ckpt ")))
      val q66 = rec.spansOf("neardup")
      Map(
        "operators.CorpusOps.ingest_s" -> med("operators.CorpusOps.ingest"),
        "CorpusBuild.curate_s" -> med("CorpusBuild.curate"),
        "CorpusBuild.write_s" -> (med("materialize") - med("CorpusBuild.curate")),
        "GraftCheckpoint.barriers" -> Stats.median(barriers.map(_.length.toDouble)),
        "GraftCheckpoint.barrier_wall_s" -> Stats.median(barriers.map(_.map(e =>
          CorpusFamily.field(e, "wall")).sum)),
        "operators.Dedup.pairs_s" -> med("operators.Dedup.pairs"),
        "operators.Dedup.cc_s" -> (med("neardup") - med("operators.Dedup.pairs")),
        "operators.Dedup.cc_rounds" -> Stats.median(q66.map(_.events
          .filter(_.startsWith("cc rounds=")).map(CorpusFamily.field(_, "rounds")).sum)),
        "operators.Dedup.planted_pair_recall" -> recall)
    }
    Report(e2e, named, layers)
  }
}

object CorpusFamily {
  /** `key=<number>` out of a Telemetry event. */
  def field(event: String, key: String): Double =
    event.split(" ").find(_.startsWith(key + "=")).map(_.drop(key.length + 1).toDouble)
      .getOrElse(0.0)

  /** Output check of one materialize op. The manifest must conserve
    * documents across stages and match the generated input; the written
    * rows must number `n_curated`; every planted exact duplicate must be
    * dropped and its keeper (the lowest id with that text) written.
    */
  def checkBuild(c: Gen.Corpus, m: Map[String, Long], written: Seq[Long]): Unit = {
    val nonEval = c.docs.count(_.source != "src0").toLong
    Check(m("n_input") == nonEval, s"manifest n_input ${m("n_input")} != $nonEval non-eval docs")
    Check(m("n_quality_flagged") + m("n_contaminated") + m("n_dups") + m("n_kept") == m("n_input"),
      s"manifest stages do not add up to n_input: $m")
    Check(m("n_kept") == m("n_curated") + m("n_fully_scrubbed_dropped"),
      s"manifest kept != curated + fully scrubbed: $m")
    Check(written.length == m("n_curated") && written.distinct.length == written.length,
      s"${written.length} rows written for n_curated ${m("n_curated")}")
    val ids = written.toSet
    val leaked = c.dupIds.filter(ids)
    Check(leaked.isEmpty, s"${leaked.size} planted duplicates written, e.g. ${leaked.take(3)}")
    val lost = c.exactDups.values.toSet.filterNot(ids)
    Check(lost.isEmpty, s"${lost.size} duplicate keepers missing, e.g. ${lost.take(3)}")
  }

  /** Output check of one near-duplicate op: every document gets a
    * canonical id and each planted exact duplicate shares its keeper's.
    * Returns the share of planted near-duplicate pairs put in one cluster.
    */
  def checkNearDup(c: Gen.Corpus, canonical: Map[Long, Long]): Double = {
    Check(canonical.size == c.docs.length,
      s"${canonical.size} canonical rows for ${c.docs.length} documents")
    val split = c.exactDups.filter { case (d, k) => canonical(d) != canonical(k) }
    Check(split.isEmpty, s"${split.size} exact duplicates outside their keeper's cluster")
    c.nearDups.count { case (a, b) => canonical(a) == canonical(b) }.toDouble /
      math.max(1, c.nearDups.length)
  }
}
