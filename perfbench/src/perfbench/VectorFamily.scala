package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.operators.Similarity
import org.apache.spark.sql.SparkSession

/** Writes beside reads on one residual IVF-PQ index: one full build per
  * run, then cycles of one delta append plus reload and several probe
  * batches served from the loaded index. The first append carries
  * `firstDelta` vectors, later ones `deltaSize`.
  */
final class VectorFamily(spark: SparkSession, work: File, seed: Long, baseSize: Int,
                         firstDelta: Int, deltaSize: Int, probeBatch: Int,
                         probesPerAppend: Int) extends Family {
  import spark.implicits._

  val name = "vector"
  val primary = "probe"
  val secondary = "append"
  val cycle: Int = 1 + probesPerAppend
  /** Result depth of `ivfPqSearch`. */
  val K = 3
  /** Lowest recall@K against the exact top-K that a probe batch must reach. */
  val RecallFloor = 0.5

  private val space = new Gen.VecSpace(seed)
  private val dir = new File(work, "vectors")
  private val stored = ArrayBuffer.empty[Gen.Vec]
  private val basePath = write(space.base(baseSize).toSeq, "base.parquet")
  private var inputBytes = 0L
  val info: Map[String, Double] = Map("base_vectors" -> baseSize, "dim" -> Gen.Dim,
    "first_delta_vectors" -> firstDelta, "delta_vectors" -> deltaSize, "probe_batch" -> probeBatch)
    .map { case (k, v) => k -> v.toDouble } + ("input_bytes" -> Gen.bytesUnder(new File(basePath)).toDouble)
  private val indexPath = new File(dir, "index").getPath
  private var index: Similarity.LoadedIvfPqIndex = _
  private var deltas, probeBatches, retrains = 0
  private var buildS = Double.NaN

  private def write(vs: Seq[Gen.Vec], file: String): String = {
    val path = new File(dir, file).getPath
    vs.map(v => (v.id, v.v.toSeq, 0)).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(path)
    path
  }

  /** The run's full index build; every later op serves and appends to it. */
  override def start(rec: Recorder): Unit = {
    val t0 = System.nanoTime()
    rec.op("build")(Similarity.writeIvfPqIndex(spark.read.parquet(basePath), indexPath)) { _ =>
      buildS = (System.nanoTime() - t0) / 1e9
      index = Similarity.loadIvfPqIndex(spark, indexPath)
      stored ++= space.base(baseSize)
      inputBytes = Gen.bytesUnder(new File(basePath))
    }
  }

  private def append(rec: Recorder): Unit = {
    val batch = space.delta(deltas, if (deltas == 0) firstDelta else deltaSize)
    val file = write(batch.toSeq, s"delta-$deltas.parquet")
    deltas += 1
    rec.op("append") {
      val retrained = Similarity.appendIvfPqDelta(spark.read.parquet(file), indexPath)
      (retrained, rec.layer("operators.Similarity.load")(Similarity.loadIvfPqIndex(spark, indexPath)))
    } { case (retrained, loaded) =>
      if (retrained) retrains += 1
      index = loaded
      stored ++= batch
      inputBytes += Gen.bytesUnder(new File(file))
    }
  }

  private def probe(rec: Recorder): Unit = {
    val probes = space.probes(probeBatches % 16, probeBatch)
    probeBatches += 1
    val df = probes.toSeq.map(v => (v.id, v.v.toSeq)).toDF("vec_id", "embedding")
    val idx = index
    rec.op("probe") {
      Similarity.ivfPqSearch(df, idx).select("p_id", "c_id").as[(Long, Long)].collect()
    } { got =>
      rec.note("hits", VectorFamily.checkServe(probes.toSeq, got.toSeq, stored.toVector, K, RecallFloor))
      rec.note("probes", probes.length)
    }
    if (rec.traced) {
      rec.layer("operators.Similarity.serve")(Noop(Similarity.ivfPqSearch(df, idx)))
      rec.note("candidates", candidatesPerProbe(probes.toSeq))
    }
  }

  private var lists: (Similarity.LoadedIvfPqIndex, VectorFamily.Lists) = _

  /** List sizes and centroids change only when the index is reloaded. */
  private def candidatesPerProbe(probes: Seq[Gen.Vec]): Double = {
    if (lists == null || !(lists._1 eq index)) lists = (index, VectorFamily.lists(spark, indexPath))
    lists._2.candidatesPerProbe(probes)
  }

  def step(rec: Recorder, i: Int): Unit = if (i % cycle == 0) append(rec) else probe(rec)

  def report(rec: Recorder): Report = {
    val probesPerS = rec.total("probes") / rec.total("probe")
    val recall = rec.total("hits") / (rec.total("probes") * K)
    val e2e = Map("items_per_s" -> probesPerS, "output_quality" -> recall,
      "write_bytes_per_input_byte" -> Gen.bytesUnder(new File(indexPath)).toDouble / inputBytes)
    val named = Map("probes_per_s" -> probesPerS, "build_s" -> buildS,
      "append_p50_s" -> Stats.median(rec.times("append")), "recall_at_k" -> recall)
    val layers = if (rec.spansOf("probe").isEmpty) Map.empty[String, Double] else {
      val meta = VectorFamily.meta(indexPath)
      Map(
        "operators.Similarity.build_s" -> buildS,
        "operators.Similarity.load_s" -> Stats.median(rec.spansOf("operators.Similarity.load").map(_.wallS)),
        "operators.Similarity.serve_s" -> Stats.median(rec.spansOf("operators.Similarity.serve").map(_.wallS)),
        "operators.Similarity.candidates_per_probe" -> Stats.median(rec.times("candidates")),
        "operators.Similarity.segments" -> meta.getProperty("deltas", "0").toDouble,
        "operators.Similarity.retrains" -> retrains.toDouble,
        "operators.Similarity.index_bytes_per_vector" ->
          Gen.bytesUnder(new File(indexPath)).toDouble / stored.length)
    }
    Report(e2e, named, layers)
  }
}

object VectorFamily {
  def meta(indexPath: String): java.util.Properties = {
    val p = new java.util.Properties
    val in = new java.io.FileInputStream(new File(indexPath, "meta.properties"))
    try p.load(in) finally in.close()
    p
  }

  private def norm(v: Array[Float]): Double = math.sqrt(v.map(x => x.toDouble * x).sum)

  private def cosine(a: Array[Float], b: Array[Float]): Double = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k stored ids per probe by cosine, ties by lower id. */
  def exactTopK(probes: Seq[Gen.Vec], stored: Seq[Gen.Vec], k: Int): Map[Long, Set[Long]] = {
    val vs = stored.toArray
    val norms = vs.map(s => norm(s.v))
    probes.map { p =>
      val pn = norm(p.v)
      // insertion into a k-slot best list: k is tiny, the stored set is not
      val best = Array.fill(k)((Double.NegativeInfinity, Long.MaxValue))
      for (i <- vs.indices) {
        val c = (dot(p.v, vs(i).v) / (pn * norms(i)), vs(i).id)
        def better(a: (Double, Long), b: (Double, Long)) = a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
        if (better(c, best(k - 1))) {
          var j = k - 1
          while (j > 0 && better(c, best(j - 1))) { best(j) = best(j - 1); j -= 1 }
          best(j) = c
        }
      }
      p.id -> best.map(_._2).toSet
    }.toMap
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** Output check of one probe batch: every probe gets exactly k results
    * and the batch's recall@k against the exact top-k clears `floor`.
    * Returns the number of exact neighbours found.
    */
  def checkServe(probes: Seq[Gen.Vec], got: Seq[(Long, Long)], stored: Seq[Gen.Vec],
                 k: Int, floor: Double): Long = {
    val byProbe = got.groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2).toSet }
    val short = probes.filter(p => byProbe.get(p.id).forall(_.size != k))
    Check(short.isEmpty && got.length == probes.length * k,
      s"${short.length} of ${probes.length} probes did not get $k results")
    val exact = exactTopK(probes, stored, k)
    val found = probes.map(p => (byProbe(p.id) intersect exact(p.id)).size.toLong).sum
    val recall = found.toDouble / (probes.length * k)
    Check(recall >= floor, f"recall@$k $recall%.3f below its floor $floor")
    found
  }

  /** An index's centroids and stored list sizes, read from its files. */
  final case class Lists(centroids: Array[(Long, Array[Float])], sizes: Map[Long, Long]) {
    /** Stored list sizes summed over each probe's NPROBE nearest centroids
      * (by cosine, as the serve picks them), averaged over the probes.
      */
    def candidatesPerProbe(probes: Seq[Gen.Vec]): Double =
      probes.map { p =>
        centroids.map { case (id, c) => (-cosine(p.v, c), id) }.sorted.take(Similarity.NPROBE)
          .map(c => sizes.getOrElse(c._2, 0L)).sum
      }.sum.toDouble / probes.length
  }

  def lists(spark: SparkSession, indexPath: String): Lists = {
    import spark.implicits._
    val deltas = meta(indexPath).getProperty("deltas", "0").toInt
    val codes = s"$indexPath/codes" +: (0 until deltas).map(d => s"$indexPath/delta_$d/codes")
    val sizes = spark.read.parquet(codes: _*).groupBy("list_id").count()
      .as[(Long, Long)].collect().toMap
    val cents = spark.read.parquet(s"$indexPath/centroids").select("cent_id", "centroid")
      .as[(Long, Seq[Double])].collect().map { case (id, c) => (id, c.map(_.toFloat).toArray) }
    Lists(cents, sizes)
  }
}
