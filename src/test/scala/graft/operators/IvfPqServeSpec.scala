package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

/** The residual IVF-PQ serve's cost contract: one probe batch is one
  * uncached plan of at most 4 Spark jobs (probe-row broadcast, ADC
  * shuffle, vector broadcast, result), and a load reads the index's four
  * tables with the schemas the writer wrote, so it runs only its two
  * bounded model collects. Every index family's serve (ann, ivf, sq8,
  * pq, ivfpq) registers no cache.
  */
class IvfPqServeSpec extends SparkSpec {
  import spark.implicits._

  /** 2000 base vectors plus one 200-vector delta segment (below both
    * re-train triggers), so the serve reads base ∪ delta.
    */
  private lazy val indexPath: String = {
    val path = java.nio.file.Files.createTempDirectory("ivfpq_serve").toString + "/idx"
    Similarity.writeIvfPqIndex(graft.Synth.synthEmb(spark, 2000L).select("vec_id", "embedding"), path)
    assert(!Similarity.appendIvfPqDelta(graft.Synth.synthEmb(spark, 2200L)
      .filter(col("vec_id") >= 2000).select("vec_id", "embedding"), path))
    path
  }

  /** 50 unseen probes as a local frame, the shape a serving client sends. */
  private lazy val probes: DataFrame = graft.Synth.synthEmb(spark, 2250L)
    .filter(col("vec_id") >= 2200).select("vec_id", "embedding")
    .as[(Long, Seq[Float])].collect().toSeq.toDF("vec_id", "embedding")

  test("a load reads the written schemas and runs at most 2 Spark jobs") {
    indexPath // built outside the counted group
    var idx: Similarity.LoadedIvfPqIndex = null
    val jobs = jobsFor("ivfpq-load") { idx = Similarity.loadIvfPqIndex(spark, indexPath) }
    info(s"load: $jobs jobs")
    assert(jobs <= 2, s"a load ran $jobs jobs; the two model collects are all it needs")
    // the declared schemas are the ones on disk, for base and delta alike
    for (seg <- Seq("", "delta_0/"); (table, df) <- Seq("codes" -> idx.codes,
        "vectors" -> idx.vecs.toDF("vec_id", "embedding", "nn"))) {
      assert(spark.read.parquet(s"$indexPath/$seg$table").schema.catalogString ==
        df.schema.catalogString, s"$seg$table")
    }
    assert(idx.codes.count() == 2200 && idx.vecs.count() == 2200)
  }

  test("one ivfPqSearch batch runs at most 4 Spark jobs") {
    val idx = Similarity.loadIvfPqIndex(spark, indexPath)
    probes // collected outside the counted group
    var rows = 0
    val jobs = jobsFor("ivfpq-serve") {
      rows = Similarity.ivfPqSearch(probes, idx).collect().length
    }
    info(s"one batch of 50 probes: $jobs jobs")
    assert(rows == 150, "50 probes x top-3")
    assert(jobs <= 4, s"one probe batch ran $jobs jobs")
  }

  test("the serve caches nothing, even outside any CacheScope") {
    // every index family's serve, over one 2000-vector corpus; ivfpq
    // serves the spec's base ∪ delta index
    val tmp = java.nio.file.Files.createTempDirectory("serve_nocache").toString
    val corpus = graft.Synth.synthEmb(spark, 2000L).select("vec_id", "embedding")
    Similarity.writeAnnIndex(corpus, s"$tmp/ann")
    Similarity.writeIvfIndex(corpus, s"$tmp/ivf")
    Similarity.writeSq8Index(corpus, s"$tmp/sq8")
    Similarity.writePqIndex(corpus, s"$tmp/pq")
    val serves: Seq[(String, () => DataFrame)] = Seq(
      "ann" -> (() => Similarity.annSearch(probes, Similarity.loadAnnIndex(spark, s"$tmp/ann"))),
      "ivf" -> (() => Similarity.ivfSearch(probes, Similarity.loadIvfIndex(spark, s"$tmp/ivf"))),
      "sq8" -> (() => Similarity.sq8Search(probes, Similarity.loadSq8Index(spark, s"$tmp/sq8"))),
      "pq" -> (() => Similarity.pqSearch(probes, Similarity.loadPqIndex(spark, s"$tmp/pq"))),
      "ivfpq" -> (() => Similarity.ivfPqSearch(probes, Similarity.loadIvfPqIndex(spark, indexPath))))
    for ((family, serve) <- serves) assertNoCachedFrames(s"a $family serve") {
      val served = serve()
      assert(served.queryExecution.optimizedPlan.collect { case r: InMemoryRelation => r }.isEmpty,
        s"$family: ${served.queryExecution.optimizedPlan.treeString}")
      assert(served.collect().nonEmpty, s"$family: the serve found no neighbors")
    }
  }
}
