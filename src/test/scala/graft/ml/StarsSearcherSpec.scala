package graft.ml

import java.nio.file.{Files, Path}

import graft.SparkSpec
import graft.model.Star
import org.apache.spark.sql.{DataFrame, Row}
import graft.sources.v2.DatScan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types.StructType

/** The searcher over a `.dat` directory: exact sink rows and schemas for a
  * batch of edge cases, the job count and shuffle-free fetch of a plain
  * batch, sink file counts, and resume over a missing, empty or unreadable
  * status sink.
  */
class StarsSearcherSpec extends SparkSpec {
  import spark.implicits._

  /** `s_01` … `s_24`: odd ids are smooth (Abbe value near 0, they pass the
    * filter), even ids are noise (Abbe value near 1, they fail). `empty`
    * holds no usable point.
    */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("searcher")
    val rng = new scala.util.Random(3)
    (1 to 24).foreach { i =>
      val body = new StringBuilder("#t m e\n")
      (0 until 60).foreach { j =>
        val m = if (i % 2 == 1) 14.0 + math.cos(j / 10.0) else 14.0 + rng.nextDouble()
        body ++= f"$j.0 $m%.3f 0.01\n"
      }
      Files.writeString(d.resolve(f"s_$i%02d.dat"), body.toString)
    }
    Files.writeString(d.resolve("empty.dat"), "# no points\n-99 -99 -99\n")
    d.toString
  }

  /** Passes a star whose Abbe value is below 0.5. */
  private val model = new StarsFilterModel(Seq(new AbbeValueDescr()),
    Seq(new CustomDecider(Seq((None, Some(0.5)))).model), Seq("abbe_value"))

  private def run(todo: Seq[(String, Map[String, String])]): Path = {
    val sinks = Files.createTempDirectory("sinks")
    new StarsSearcher(model, "FileManager", sinks.resolve("matched").toString,
      sinks.resolve("status").toString).queryStars(spark, todo.toDF("query_id", "params"))
    sinks
  }

  private def parts(sink: Path): Int =
    sink.toFile.listFiles().count(_.getName.endsWith(".parquet"))

  /** Column names and types, nullability aside (parquet reads all nullable). */
  private def shape(s: StructType): Seq[(String, String)] =
    s.map(f => f.name -> f.dataType.simpleString)

  private def q(id: String, kv: (String, String)*) = id -> (Map("path" -> dir) ++ kv)

  test("an edge-case batch writes exactly the expected status and matched rows") {
    val sinks = run(Seq(
      q("qa", "files_to_load" -> "s_01;s_03;s_05;s_07", "files_limit" -> "3",
        "star_class" -> "qso", "db_ident" -> "ogle"),
      q("qb", "files_to_load" -> (1 to 10).map(i => f"s_$i%02d").mkString(";"),
        "star_class" -> "be%0.5"),
      q("qc", "files_to_load" -> "s_06;s_07;s_08", "star_class" -> "x:2", "load_lc" -> "false"),
      q("qd", "files_to_load" -> "nope_1;nope_2"),
      q("qe", "object_file_name" -> "s_09.dat"),
      q("qf", "files_to_load" -> "s_02;s_02;s_11"),
      q("qg", "object_file_name" -> "empty")))

    val status = spark.read.parquet(sinks.resolve("status").toString)
    assert(shape(status.schema) == Seq("query_id" -> "string", "starId" -> "string",
      "found" -> "boolean", "lc" -> "boolean", "abbe_value" -> "double",
      "prob_CustomDecider" -> "double", "passed_CustomDecider" -> "boolean",
      "passed" -> "boolean"))
    // (query, star, found, lc, features scored, passed)
    val got = status.collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
      r.getBoolean(3), !r.isNullAt(4) && !r.isNullAt(5), r.getBoolean(6) && r.getBoolean(7)))
      .sortBy(r => (r._1, r._2)).toSeq
    def scored(qid: String, ids: Int*) =
      ids.map(i => (qid, f"s_$i%02d", true, true, true, i % 2 == 1))
    assert(got ==
      scored("qa", 1, 3, 5) ++ scored("qb", 1, 2, 3, 4, 5) ++
      Seq(("qc", "s_06", true, false, false, false), ("qc", "s_07", true, false, false, false),
        ("qd", "Noname", false, false, false, false)) ++
      scored("qe", 9) ++ scored("qf", 2, 11) ++
      Seq(("qg", "empty", true, false, false, false)))
    assert(status.filter("passed").collect().forall(_.getDouble(5) == 1.0))

    val matched = spark.read.parquet(sinks.resolve("matched").toString)
    assert(shape(matched.schema) == shape(Star.schema) :+ ("query_id" -> "string"))
    val rows = matched.collect().map(r => (r.getAs[String]("query_id"), r.getAs[String]("starId"),
      Option(r.getAs[String]("starClass")), r.getAs[Map[String, String]]("identNames"),
      r.getAs[Seq[Row]]("lightCurves").length)).sortBy(r => (r._1, r._2)).toSeq
    def hits(qid: String, cls: Option[String], db: Option[String], ids: Int*) = ids.map { i =>
      val id = f"s_$i%02d"
      (qid, id, cls, db.map(_ -> id).toMap, 1)
    }
    assert(rows == hits("qa", Some("qso"), Some("ogle"), 1, 3, 5) ++
      hits("qb", Some("be"), None, 1, 3, 5) ++ hits("qe", None, None, 9) ++
      hits("qf", None, None, 11))
  }

  private val batch = Seq(
    q("q0", "files_to_load" -> (1 to 10).map(i => f"s_$i%02d").mkString(";")),
    q("q1", "files_to_load" -> (11 to 20).map(i => f"s_$i%02d").mkString(";")))

  test("a 2 x 10 batch runs 3 jobs over a fetch with no exchange or window") {
    val fetch = new graft.sources.FileManagerConnector()
      .fetch(spark, batch.map { case (qid, p) => qid -> graft.sources.QuerySpec(p) })
    fetch.collect()
    val plan = fetch.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect { case e: Exchange => e }.isEmpty, plan.toString)
    assert(plan.collect { case w: WindowExec => w }.isEmpty, plan.toString)

    run(batch) // warm the session so the count is the op's steady state
    var sinks: Path = null
    val jobs = jobsFor("search-2x10") { sinks = run(batch) }
    // fill the scored cache + read back the hit queries, then one append per sink
    assert(jobs <= 3, s"the search ran $jobs jobs")
    assert(spark.read.parquet(sinks.resolve("status").toString).count() == 20)
  }

  test("the returned status frame reads the written rows back in one job, without a fetch") {
    val sinks = Files.createTempDirectory("sinks")
    val status = new StarsSearcher(model, "FileManager", sinks.resolve("matched").toString,
      sinks.resolve("status").toString).queryStars(spark, batch.toDF("query_id", "params"))
    var rows: Array[Row] = null
    val jobs = jobsFor("status-collect") { rows = status.collect() }
    assert(jobs <= 1, s"collecting the returned frame ran $jobs jobs")
    val plan = status.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect { case b: BatchScanExec if b.scan.isInstanceOf[DatScan] => b }.isEmpty,
      plan.toString)
    // the rows the sink holds, which are the scores of the fetched stars
    val written = spark.read.parquet(sinks.resolve("status").toString)
    assert(shape(status.schema) == shape(written.schema))
    assert(rows.map(_.toString).sorted.toSeq == written.collect().map(_.toString).sorted.toSeq)
    val fetched = new graft.sources.FileManagerConnector()
      .fetch(spark, batch.map { case (qid, p) => qid -> graft.sources.QuerySpec(p) })
    val cols = Seq("query_id", "starId", "abbe_value", "prob_CustomDecider", "passed")
    def keyed(df: DataFrame) = df.select(cols.head, cols.tail: _*).collect()
      .map(_.toString).sorted.toSeq
    assert(keyed(status) == keyed(model.scoreEveryRow(fetched)))
    assert(rows.length == 20)
  }

  /** Every staged `_pending-*` directory left under a sink. */
  private def pending(sink: Path): Seq[String] =
    Option(sink.toFile.listFiles()).toSeq.flatten.map(_.getName).filter(_.startsWith("_pending-"))

  test("a small batch writes one parquet file per sink") {
    val sinks = run(batch)
    assert(parts(sinks.resolve("matched")) == 1)
    assert(parts(sinks.resolve("status")) == 1)
    assert(pending(sinks.resolve("status")).isEmpty)
  }

  test("a failed matched append leaves the status sink without rows, so resume re-runs the batch") {
    val queries: DataFrame = batch.toDF("query_id", "params")
    val sinks = Files.createTempDirectory("failed")
    val matched = Files.writeString(sinks.resolve("matched"), "a file, not a directory")
    val status = sinks.resolve("status")
    val searcher = new StarsSearcher(model, "FileManager", matched.toString, status.toString)
    intercept[Exception](searcher.queryStars(spark, queries))
    val left = Option(status.toFile.listFiles()).toSeq.flatten
    assert(left.forall(f => !f.getName.endsWith(".parquet")), left.mkString(", "))
    assert(pending(status).isEmpty)
    assert(searcher.unsearchedQueries(spark, queries).select("query_id").as[String]
      .collect().sorted.toSeq == Seq("q0", "q1"))
  }

  test("resume: a missing or empty status sink means nothing was searched") {
    val queries: DataFrame = batch.toDF("query_id", "params")
    val sinks = Files.createTempDirectory("resume")
    val status = sinks.resolve("status")
    val searcher = new StarsSearcher(model, "FileManager",
      sinks.resolve("matched").toString, status.toString)
    assert(searcher.unsearchedQueries(spark, queries).count() == 2)
    Files.createDirectories(status)
    Files.writeString(status.resolve("_SUCCESS"), "")
    assert(searcher.unsearchedQueries(spark, queries).count() == 2)
    searcher.queryStars(spark, queries.limit(1))
    assert(searcher.unsearchedQueries(spark, queries)
      .select("query_id").as[String].collect().toSeq == Seq("q1"))
  }

  test("resume: an unreadable status sink raises instead of re-running every query") {
    val status = Files.createTempDirectory("corrupt")
    Files.writeString(status.resolve("part-0.parquet"), "not parquet")
    val searcher = new StarsSearcher(model, "FileManager", status.resolveSibling("m").toString,
      status.toString)
    intercept[Exception](searcher.unsearchedQueries(spark, batch.toDF("query_id", "params")))
  }
}
