package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Seeded input generators. The same seed and sizes give byte-identical
  * inputs; each family salts the seed so the three input sets are
  * independent. Every generator reports its parameters, row counts and
  * bytes through `info`.
  */
object Gen {

  // ---- light curves -------------------------------------------------------

  final case class Curve(time: Array[Double], mag: Array[Double], err: Array[Double])

  /** Planted classes: searched stars vary smoothly and periodically (period
    * 40-160 d, amplitude 0.4-1 mag); the others are white noise, except a
    * share of slow random walks that are also smooth and so make the
    * search imperfect.
    */
  def curve(rng: Random, searched: Boolean, points: Int): Curve = {
    val t = new Array[Double](points)
    var acc = rng.nextDouble() * 5
    for (i <- 0 until points) { acc += 0.2 + -math.log(1 - rng.nextDouble()) * 2.8; t(i) = acc }
    val m = new Array[Double](points)
    if (searched) {
      val (amp, period) = (0.4 + 0.6 * rng.nextDouble(), 40 + 120 * rng.nextDouble())
      val (ph1, ph2) = (rng.nextDouble() * 6.283, rng.nextDouble() * 6.283)
      for (i <- 0 until points)
        m(i) = 15 + amp * math.sin(6.283185307 * t(i) / period + ph1) +
          0.3 * amp * math.sin(12.56637 * t(i) / period + ph2) + 0.04 * rng.nextGaussian()
    } else if (rng.nextDouble() < 0.15) {
      var w = 15.0
      for (i <- 0 until points) { w += 0.05 * rng.nextGaussian(); m(i) = w + 0.03 * rng.nextGaussian() }
    } else {
      val sd = 0.2 + 0.3 * rng.nextDouble()
      for (i <- 0 until points) m(i) = 15 + sd * rng.nextGaussian()
    }
    Curve(t, m, Array.fill(points)(0.02 + math.abs(0.01 * rng.nextGaussian())))
  }

  private def fixed(sb: java.lang.StringBuilder, v: Double, digits: Int): Unit = {
    val scale = math.pow(10, digits)
    val r = math.round(math.abs(v) * scale)
    if (v < 0 && r != 0) sb.append('-')
    sb.append(r / scale.toLong).append('.')
    val frac = (r % scale.toLong).toString
    var pad = digits - frac.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(frac)
  }

  /** `.dat` text: comment header, `time mag err` rows, and about 2% bad
    * rows in four forms. Two forms ("-99", "N/A") are dropped by the text
    * parser and two ("NaN", "-99.000") reach the cleaning kernel.
    */
  def datText(c: Curve, rng: Random): String = {
    val sb = new java.lang.StringBuilder(c.time.length * 24 + 64)
    sb.append("# perfbench synthetic light curve\n# time mag err\n")
    for (i <- c.time.indices) {
      if (rng.nextDouble() < 0.02) {
        fixed(sb, c.time(i), 5)
        sb.append(rng.nextInt(4) match {
          case 0 => " -99 0.050\n"
          case 1 => " 15.000 N/A\n"
          case 2 => " NaN 0.050\n"
          case _ => " -99.000 0.050\n"
        })
      }
      fixed(sb, c.time(i), 5); sb.append(' ')
      fixed(sb, c.mag(i), 3); sb.append(' ')
      fixed(sb, c.err(i), 3); sb.append('\n')
    }
    sb.toString
  }

  final case class Archive(dir: String, names: IndexedSeq[String],
                           searched: IndexedSeq[Boolean], bytes: IndexedSeq[Long],
                           templates: Seq[(Array[Double], Array[Double])],
                           info: Map[String, Double]) {
    def nameIndex: Map[String, Int] = names.zipWithIndex.toMap
  }

  /** A `.dat` archive of `n` stars with about 35% of them searched; the
    * first three searched stars double as the comparative templates.
    */
  def archive(dir: File, seed: Long, n: Int, points: Int): Archive = {
    dir.mkdirs()
    val rng = new Random(seed * 31 + 1)
    val names = (0 until n).map(i => f"star_$i%06d")
    val searched = (0 until n).map(_ => rng.nextDouble() < 0.35)
    val curves = searched.map(s => curve(rng, s, points))
    val bytes = names.indices.map { i =>
      val data = datText(curves(i), rng).getBytes(StandardCharsets.UTF_8)
      Files.write(new File(dir, names(i) + ".dat").toPath, data)
      data.length.toLong
    }
    val templates = names.indices.filter(searched).take(3)
      .map(i => (curves(i).time, curves(i).mag))
    Archive(dir.getPath, names, searched, bytes, templates, Map(
      "stars" -> n.toDouble, "points_per_curve" -> points.toDouble,
      "searched_stars" -> searched.count(identity).toDouble, "input_bytes" -> bytes.sum.toDouble))
  }

  // ---- documents ----------------------------------------------------------

  final case class Doc(id: Long, text: String, lang: String, source: String)

  final case class Corpus(docs: IndexedSeq[Doc], contaminated: Set[Long],
                          flagged: Set[Long], exactDups: Map[Long, Long],
                          nearDups: Seq[(Long, Long)], info: Map[String, Double]) {
    /** Ids whose text is exactly that of a lower id: the ids ingest drops. */
    def dupIds: Set[Long] = exactDups.keySet
  }

  private def word(i: Int): String = "w" + Integer.toString(i, 36)

  /** Documents with the fixture schema and planted truths:
    *  - `src0` is the eval set (3%); 3% of the rest embed a 12-token span
    *    of an eval document (contamination);
    *  - 2% are repetitive (one token is 45% of the text), which the
    *    quality gate flags;
    *  - 15% start with one of four shared 64-token boilerplate blocks,
    *    aligned to the scrub's 64-token block grid;
    *  - 4% are exact copies and 4% near copies (3% of tokens replaced) of
    *    an earlier clean document.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val rng = new Random(seed * 31 + 2)
    val vocab = 6000
    def tokens(len: Int): Array[String] = Array.fill(len)(word(rng.nextInt(vocab)))
    val boiler = Array.fill(4)(tokens(64))
    val langs = Array("en", "de", "es", "fr")
    val docs = new ArrayBuffer[Doc](n)
    val src0 = ArrayBuffer.empty[Long]
    val contaminated = ArrayBuffer.empty[Long]
    val flagged = ArrayBuffer.empty[Long]
    val clean = ArrayBuffer.empty[Int] // indices eligible as copy originals
    val exact = Map.newBuilder[Long, Long]
    val near = ArrayBuffer.empty[(Long, Long)]
    for (i <- 0 until n) {
      val id = i.toLong
      val lang = langs(rng.nextInt(langs.length))
      val src = "src" + (1 + rng.nextInt(4))
      val u = rng.nextDouble()
      if (i < 8 || u < 0.03) {
        src0 += id
        docs += Doc(id, tokens(60 + rng.nextInt(120)).mkString(" "), lang, "src0")
      } else if (u < 0.05) {
        flagged += id
        val len = 60 + rng.nextInt(120)
        val hot = word(rng.nextInt(vocab))
        docs += Doc(id, Array.tabulate(len)(k =>
          if (k % 20 < 9) hot else word(rng.nextInt(vocab))).mkString(" "), lang, src)
      } else if (u < 0.08) {
        contaminated += id
        val body = tokens(60 + rng.nextInt(120))
        val eval = docs(src0(rng.nextInt(src0.length)).toInt).text.split(" ")
        val from = rng.nextInt(eval.length - 12)
        val at = rng.nextInt(body.length - 12)
        Array.copy(eval, from, body, at, 12)
        docs += Doc(id, body.mkString(" "), lang, src)
      } else if (u < 0.12 && clean.nonEmpty) {
        val orig = docs(clean(rng.nextInt(clean.length)))
        exact += id -> orig.id
        docs += Doc(id, orig.text, lang, src)
      } else if (u < 0.16 && clean.nonEmpty) {
        val orig = docs(clean(rng.nextInt(clean.length)))
        val t = orig.text.split(" ")
        for (k <- t.indices if rng.nextDouble() < 0.03) t(k) = word(rng.nextInt(vocab))
        near += ((orig.id, id))
        docs += Doc(id, t.mkString(" "), lang, src)
      } else {
        val body = tokens(60 + rng.nextInt(120))
        val text =
          if (rng.nextDouble() < 0.15) (boiler(rng.nextInt(4)) ++ body).mkString(" ")
          else body.mkString(" ")
        clean += i
        docs += Doc(id, text, lang, src)
      }
    }
    val e = exact.result()
    Corpus(docs.toIndexedSeq, contaminated.toSet, flagged.toSet, e, near.toSeq,
      Map("docs" -> n, "eval_docs" -> src0.length, "contaminated" -> contaminated.length,
        "repetitive" -> flagged.length, "exact_dups" -> e.size, "near_dups" -> near.length)
        .map { case (k, v) => k -> v.toDouble } +
        ("text_bytes" -> docs.map(_.text.length.toLong).sum.toDouble))
  }

  // ---- embeddings ---------------------------------------------------------

  val Dim = 64
  /** Id ranges: corpus ids from 0, delta ids from DeltaBase, probe ids from
    * ProbeBase, so probes and deltas never collide with stored ids.
    */
  val DeltaBase = 1000000000L
  val ProbeBase = 2000000000L

  final case class Vec(id: Long, v: Array[Float])

  /** Clustered unit-scale vectors: 24 random centres, each vector a centre
    * plus isotropic noise. Streams are independent per (seed, kind, batch).
    */
  final class VecSpace(seed: Long) {
    private val centres = {
      val r = new Random(seed * 31 + 3)
      Array.fill(24)(Array.fill(Dim)(r.nextGaussian().toFloat))
    }
    def batch(kind: Int, index: Int, size: Int, firstId: Long): Array[Vec] = {
      val r = new Random(((seed * 31 + 3) * 1000003L + kind) * 1000003L + index)
      Array.tabulate(size) { i =>
        val c = centres(r.nextInt(centres.length))
        Vec(firstId + i, Array.tabulate(Dim)(j => c(j) + 0.6f * r.nextGaussian().toFloat))
      }
    }
    def base(n: Int): Array[Vec] = batch(0, 0, n, 0L)
    /** Batch i's ids start at i million, so batches of any size never overlap. */
    def delta(i: Int, size: Int): Array[Vec] = batch(1, i, size, DeltaBase + i * 1000000L)
    def probes(i: Int, size: Int): Array[Vec] = batch(2, i, size, ProbeBase + i * 1000000L)
  }

  /** Bytes of every regular file under `f`. */
  def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
