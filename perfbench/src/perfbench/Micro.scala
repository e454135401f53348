package perfbench

import scala.util.Random

import graft.functions.{Comparative, Kernels}
import graft.functions.expressions.{DotProductExpr, SignatureExprs}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Direct calls into the `graft.functions` kernels on generated arrays, no
  * Spark. Each kernel is warmed, then timed in three rounds; the median
  * round gives ns per point (light curves), per token (signatures) or per
  * dimension (dot product).
  */
object Micro {
  @volatile private var sink = 0.0

  /** ns per unit of `body`, which processes `units` units per call. */
  def nsPer(units: Double, roundS: Double = 0.15)(body: => Double): Double = {
    def round(): Double = {
      val t0 = System.nanoTime()
      var calls = 0L
      var acc = 0.0
      while (System.nanoTime() - t0 < roundS * 1e9) { acc += body; calls += 1 }
      sink += acc
      (System.nanoTime() - t0).toDouble / (calls * units)
    }
    round() // warm-up
    Stats.median(Seq.fill(3)(round()))
  }

  def run(seed: Long): Map[String, Double] = {
    val rng = new Random(seed * 31 + 7)
    val points = 300
    val curves = Array.tabulate(16)(i => Gen.curve(rng, i % 2 == 0, points))
    val templates = curves.take(3).map(c => (c.time, c.mag)).toSeq
    var ci = 0
    def next(): Gen.Curve = { ci = (ci + 1) % curves.length; curves(ci) }

    val corpus = Gen.corpus(seed, 64)
    val docs = corpus.docs.map(_.text.split(" "))
    val tokenArrays = docs.map(t => new GenericArrayData(t.map(w => UTF8String.fromString(w): Any)))
    val shingleArrays = docs.map(t => new GenericArrayData(t.sliding(3).map(s =>
      UTF8String.fromString(s.mkString(" ")): Any).toArray))
    val meanTokens = docs.map(_.length).sum.toDouble / docs.length
    val meanShingles = shingleArrays.map(_.numElements()).sum.toDouble / docs.length
    var di = 0
    def nextDoc[A](xs: IndexedSeq[A]): A = { di = (di + 1) % xs.length; xs(di) }

    val vecs = new Gen.VecSpace(seed).probes(0, 64).map(v => UnsafeArrayData.fromPrimitiveArray(v.v): ArrayData)
    var vi = 0

    Map(
      "functions.clean_ns_per_point" -> nsPer(points) {
        val c = next(); Kernels.cleanLc(c.time, c.mag, c.err)._1.length
      },
      "functions.abbe_ns_per_point" -> nsPer(points) {
        val c = next(); Kernels.curveAbbe(c.time, c.mag, Some(50))
      },
      "functions.variogram_ns_per_point" -> nsPer(points) {
        val c = next(); Kernels.variogramSlope(c.time, c.mag, 20.0)
      },
      "functions.moments_ns_per_point" -> nsPer(points) {
        val c = next(); Kernels.skewness(c.mag) + Kernels.kurtosis(c.mag)
      },
      "functions.sax_ns_per_point" -> nsPer(points) {
        val c = next()
        Comparative.feature(c.time, c.mag, templates, "average")((st, sm, ct, cm) =>
          Comparative.histShapePair(st, sm, ct, cm, 10, 7))
      },
      "functions.minhash_ns_per_token" -> nsPer(meanShingles) {
        SignatureExprs.minhashK(nextDoc(shingleArrays), 16).numElements()
      },
      "functions.simhash_ns_per_token" -> nsPer(meanTokens) {
        SignatureExprs.simhash16(nextDoc(tokenArrays)).toDouble
      },
      "functions.dot_ns_per_dim" -> nsPer(Gen.Dim) {
        vi = (vi + 1) % vecs.length
        DotProductExpr.compute(vecs(vi), vecs((vi + 7) % vecs.length))
      })
  }
}
