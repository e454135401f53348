package graft.operators

import graft.{SparkSpec, Tables}
import graft.streaming.Streams
import org.apache.spark.sql.functions._

/** q153/q154 HyperLogLog: plain-Scala register replay, the max-merge law
  * (including delta-replay idempotence — the property no sum-based
  * partial has), accuracy within the sketch's error budget, the
  * small-range-correction rounding margin, and stored-vs-inline parity.
  */
class HllSpec extends SparkSpec {

  private val m = TextAnalysis.HLL_M

  private def hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.map(b => f"$b%02x").mkString.substring(0, 15), 16)
  }

  private def replayRegisters(dir: String): Map[String, Map[Long, Int]] =
    Tables.load(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .flatMap { r =>
        val toks = r.getString(1).split(" ", -1)
        toks.sliding(3).withFilter(_.length == 3)
          .map(w => (r.getString(0), hash60(w.mkString(" "))))
      }
      .groupBy(_._1).map { case (src, vs) =>
        src -> vs.map(_._2).map { v =>
          val w = v / m
          val rho = if (w == 0) 53 else 53 - java.lang.Long.toBinaryString(w).length
          (v % m, rho)
        }.groupBy(_._1).map { case (idx, g) => idx -> g.map(_._2).max }
      }

  private def estimate(regs: Map[Long, Int]): (Long, Long, Double) = {
    val occupied = regs.size.toLong
    val z = regs.values.map(r => 1L << (53 - r)).sum +
      (m - occupied) * 9007199254740992L
    val raw = TextAnalysis.HLL_NUM / z
    val est =
      if (raw <= 2.5 * m && occupied < m)
        m.toDouble * math.log(m.toDouble / (m - occupied))
      else raw
    (occupied, z, math.floor(est * 1e6 + 0.5) / 1e6)
  }

  test("q153 matches the plain-Scala register replay (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val want = replayRegisters(dir).map { case (s, regs) =>
      s -> estimate(regs)
    }
    val got = TextAnalysis.queries("q153_hll_sketch")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("occupied"), r.getAs[Long]("z_int"),
          r.getAs[Double]("est_distinct"))).toMap
    assert(got == want, s"diverged: got ${got.toSeq.sortBy(_._1).take(3)} " +
      s"want ${want.toSeq.sortBy(_._1).take(3)}")
  }

  test("max-merge law: any split of the corpus merges to the full registers") {
    val dir = "/root/testdata/sf0.001"
    val d = Tables.load(spark, dir, "documents")
    val full = TextAnalysis.mergeHllPartials(TextAnalysis.hllPartials(d))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    // a 3-way arbitrary split, one part delivered TWICE (replay): max
    // absorbs the duplicate — merge(a, b, c, b) == from-scratch
    val parts = Seq(
      TextAnalysis.hllPartials(d.filter(col("doc_id") % 3 === 0)),
      TextAnalysis.hllPartials(d.filter(col("doc_id") % 3 === 1)),
      TextAnalysis.hllPartials(d.filter(col("doc_id") % 3 === 2)),
      TextAnalysis.hllPartials(d.filter(col("doc_id") % 3 === 1)))
    val merged = TextAnalysis.mergeHllPartials(
      parts.reduce(_ unionByName _))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(merged == full, "split-merge diverged from from-scratch registers")
  }

  test("accuracy within the sketch's error budget (sf0.001 + sf0.01)") {
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val regs = replayRegisters(s"/root/testdata/$sf")
      val exact = Tables.load(spark, s"/root/testdata/$sf", "documents")
        .select(col("source"), col("text")).collect()
        .flatMap { r =>
          val toks = r.getString(1).split(" ", -1)
          toks.sliding(3).withFilter(_.length == 3)
            .map(w => (r.getString(0), w.mkString(" ")))
        }.distinct.groupBy(_._1).map { case (s, g) => s -> g.length.toLong }
      regs.foreach { case (src, rg) =>
        val (occupied, z, est) = estimate(rg)
        assert(math.abs(est - exact(src)) <= 0.25 * exact(src),
          s"$sf/$src: est $est vs exact ${exact(src)}")
        // the fixture loads sit in the raw-estimator range — the
        // correction branch is exercised on the constructed corpus below
        val raw = TextAnalysis.HLL_NUM / z
        assert(raw > 2.5 * m, s"$sf/$src unexpectedly in correction range")
      }
    }
  }

  test("small-range correction branch: constructed low-cardinality corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("hll").toString
    // "lo": ~60 distinct trigrams → raw ≲ 640 → linear-counting
    // correction. "hi": ~2000 → raw path. Both in one corpus so one query
    // exercises both branches end-to-end.
    val lo = (1 to 20).map(i => s"a$i b$i c$i a$i b$i")
    val hi = (1 to 500).map(i => s"x$i y$i z$i w$i v$i u$i")
    val docsSeq = lo.zipWithIndex.map { case (t, i) => (i.toLong, t, "lo") } ++
      hi.zipWithIndex.map { case (t, i) => (1000L + i, t, "hi") }
    docsSeq.map { case (i, t, s) => (i, t, "en", s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val regs = replayRegisters(tmp)
    val (loOcc, loZ, _) = estimate(regs("lo"))
    val (_, hiZ, _) = estimate(regs("hi"))
    assert(TextAnalysis.HLL_NUM / loZ <= 2.5 * m && loOcc < m,
      "lo source must land in the correction range")
    assert(TextAnalysis.HLL_NUM / hiZ > 2.5 * m,
      "hi source must land in the raw range")
    // the correction is the only ln in the estimator; its scaled value
    // must sit far from a rounding boundary (ln ulp moves it ≲ 1e-8)
    val y = m.toDouble * math.log(m.toDouble / (m - loOcc)) * 1e6
    val margin = math.abs(y - math.floor(y) - 0.5)
    assert(margin > 1e-3, s"correction*1e6 sits $margin from a boundary")
    // and the query agrees with the replay on both branches end-to-end
    val got = TextAnalysis.queries("q153_hll_sketch")(spark, tmp)
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("occupied"), r.getAs[Long]("z_int"),
          r.getAs[Double]("est_distinct"))).toMap
    val want = regs.map { case (s, rg) => s -> estimate(rg) }
    assert(got == want, s"got $got want $want")
  }

  test("streaming maintainer: merge-on-read equals direct; cross-id replay absorbed") {
    val dir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("hllstream").toString
    val d = Tables.load(spark, dir, "documents")
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("occupied"), r.getAs[Long]("z_int"),
          r.getAs[Double]("est_distinct"))).toMap
    d.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(s"$tmp/in")
    graft.streaming.StreamingHll.run(spark, s"$tmp/in", d.schema,
      s"$tmp/hll", s"$tmp/ckpt").awaitTermination()
    d.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(s"$tmp/in")
    graft.streaming.StreamingHll.run(spark, s"$tmp/in", d.schema,
      s"$tmp/hll", s"$tmp/ckpt").awaitTermination()
    val direct = collect(TextAnalysis.finalizeHll(TextAnalysis.hllPartials(d)))
    assert(collect(graft.streaming.StreamingHll
      .readEstimates(spark, s"$tmp/hll")) == direct,
      "merge-on-read view drifted from direct")
    // max is IDEMPOTENT: a batch re-delivered under a NEW id — the
    // failure the sum-based stats view cannot absorb — changes nothing
    TextAnalysis.hllPartials(d.filter(col("doc_id") % 2 === 0))
      .write.mode("overwrite").parquet(Streams.sink(s"$tmp/hll", 7))
    assert(collect(graft.streaming.StreamingHll
      .readEstimates(spark, s"$tmp/hll")) == direct,
      "cross-id replay moved a register")
    // compaction folds registers exactly; the view does not move
    graft.streaming.StreamingHll.compactRegisters(spark, s"$tmp/hll")
    assert(collect(graft.streaming.StreamingHll
      .readEstimates(spark, s"$tmp/hll")) == direct,
      "compaction changed the view")
  }

  test("q154 serves the identical estimate from the stored base") {
    val dir = "/root/testdata/sf0.001"
    val inline = TextAnalysis.queries("q153_hll_sketch")(spark, dir)
      .select(col("source"), col("occupied"), col("z_int"),
        col("est_distinct"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val served = TextAnalysis.queries("q154_hll_maintenance")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(served == inline, "stored-base serve diverged from inline sketch")
  }
}
