package graft.sources

import graft.SparkSpec
import graft.model.Star
import graft.sources.v2.DatPartition
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** DataSource V2 dat source: correctness vs the FileManager path, the
  * REAL pushdown (starId predicates prune to matching files at planning
  * time, projections prune the read schema), split packing, and Hadoop FS
  * paths.
  */
class DatDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private val fmt = "graft.sources.v2.DatDataSource"

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("datv2")
    (1 to 20).foreach { i =>
      val body = new StringBuilder("#t m e\n")
      (0 until 50).foreach(j => body ++= s"$j.0 ${14.0 + (i + j) % 5 * 0.1} 0.3\n")
      java.nio.file.Files.writeString(d.resolve(f"star_$i%02d.dat"), body.toString)
    }
    d.toString
  }

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))

  /** Files the scan plans, summed over its packed splits. */
  private def filesPlanned(scan: BatchScanExec): Int =
    scan.inputPartitions.map { case p: DatPartition => p.files.length }.sum

  private def scanFiles(df: DataFrame): Int = filesPlanned(scanOf(df))

  test("v2 source reads the same stars as the FileManager connector") {
    val v2 = spark.read.format(fmt).load(dir).as[Star].collect().sortBy(_.starId)
    val fm = StarsProvider.getProvider("FileManager")
      .getStars(spark, Seq(QuerySpec(Map("path" -> dir, "suffix" -> "dat"))))
      .collect().sortBy(_.starId)
    assert(v2.length == 20 && fm.length == 20)
    v2.zip(fm).foreach { case (a, b) =>
      assert(a.starId == b.starId)
      assert(a.lightCurves.head.mag.sameElements(b.lightCurves.head.mag))
    }
  }

  test("starId equality prunes to ONE file at planning time") {
    val one = spark.read.format(fmt).load(dir).filter(col("starId") === "star_07")
    assert(scanFiles(one) == 1, "equality must prune to one file")
    assert(one.as[Star].collect().map(_.starId).toSeq == Seq("star_07"))

    val in = spark.read.format(fmt).load(dir)
      .filter(col("starId").isin("star_01", "star_02", "star_19"))
    assert(scanFiles(in) == 3, "IN must prune to the member files")
    assert(in.count() == 3)

    val prefix = spark.read.format(fmt).load(dir)
      .filter(col("starId").startsWith("star_1"))
    assert(scanFiles(prefix) == 10, "prefix must prune to matching files")
  }

  test("searcher dat batch routes through ONE pruned scan, matches the per-query path") {
    val fm = StarsProvider.getProvider("FileManager").asInstanceOf[FileManagerConnector]
    // mixed batch: list+limit, single object, fraction mark, metadata-only
    val todo = Seq(
      ("qa", Map("path" -> dir, "files_to_load" -> "star_01;star_03;star_05;star_07",
        "files_limit" -> "3", "star_class" -> "qso", "db_ident" -> "ogle")),
      ("qb", Map("path" -> dir, "object_file_name" -> "star_12.dat")),
      ("qc", Map("path" -> dir, "files_to_load" -> (1 to 10).map(i => f"star_$i%02d").mkString(";"),
        "star_class" -> "be%0.5")),
      ("qd", Map("path" -> dir, "object_file_name" -> "star_19", "load_lc" -> "false")),
      // duplicate names must dedup like the per-query path's Set — no
      // doubled rows through the join, no inflated %f window count
      ("qe", Map("path" -> dir, "files_to_load" -> "star_02;star_02;star_04")))

    val joined = fm.fetch(spark, todo.map { case (qid, p) => qid -> QuerySpec(p) })
    // unwrap AQE in case the plan is adaptive
    val plan = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = plan.collect { case b: BatchScanExec => b }
    assert(scans.length == 1, "one DatScan, not a per-query union")
    assert(!plan.toString.contains("Union"), "no N-way union in the joined fetch plan")
    // each query's selection runs on the driver, so only the 7 selected
    // stars' files are opened (qa keeps 3 of its 4, qc 5 of its 10)
    assert(filesPlanned(scans.head) == 7)

    // loop-path reference: per query getStars + union (the replaced plan)
    val expected = todo.flatMap { case (qid, params) =>
      fm.getStars(spark, Seq(QuerySpec(params))).collect()
        .map(s => (qid, s.starId, s.starClass, s.identNames, s.lightCurves.isEmpty))
    }.sortBy(r => (r._1, r._2))
    val got = joined.collect().map(r => (
      r.getAs[String]("query_id"), r.getAs[String]("starId"),
      Option(r.getAs[String]("starClass")),
      Option(r.getAs[Map[String, String]]("identNames")).getOrElse(Map.empty),
      r.getAs[Seq[Any]]("lightCurves").isEmpty)).sortBy(r => (r._1, r._2))
    assert(got.length == expected.length, s"${got.length} vs ${expected.length}")
    got.zip(expected).foreach { case (g, e) => assert(g == e, s"$g != $e") }
    // sanity on the per-query semantics: qa limited to 3, qc keeps floor(10*0.5)
    val byQ = got.groupBy(_._1).view.mapValues(_.length).toMap
    assert(byQ == Map("qa" -> 3, "qb" -> 1, "qc" -> 5, "qd" -> 1, "qe" -> 2))
  }

  private lazy val dir2 = {
    val d = java.nio.file.Files.createTempDirectory("datv2b")
    (1 to 6).foreach { i =>
      java.nio.file.Files.writeString(d.resolve(f"other_$i%02d.dat"),
        (0 until 30).map(j => s"$j.5 ${12.0 + (i * j) % 7 * 0.2} 0.05\n").mkString)
    }
    d.toString
  }

  /** Every column of a row, arrays spelled out, for exact comparisons. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.select((Star.schema.fieldNames :+ "query_id").map(col).toSeq: _*)
      .collect().map(_.toString).sorted.toSeq

  test("a whole-directory query pushes no starId filter and reads every star unfiltered") {
    val fm = StarsProvider.getProvider("FileManager").asInstanceOf[FileManagerConnector]
    val whole = fm.getStars(spark, Seq(QuerySpec(Map("path" -> dir,
      "star_class" -> "be", "db_ident" -> "ogle")))).toDF()
    val scan = scanOf(whole)
    assert(scan.scan.description().contains("pushedFilters=[]"), scan.scan.description())
    assert(!whole.queryExecution.optimizedPlan.toString.contains("starId IN"))
    assert(filesPlanned(scan) == 20)
    // the unfiltered scan with the query's class and ident columns
    val unfiltered = spark.read.format(fmt).load(dir)
      .withColumn("starClass", lit("be"))
      .withColumn("identNames", map(lit("ogle"), col("starId")))
    assert(rowsOf(whole.withColumn("query_id", lit(""))) ==
      rowsOf(unfiltered.withColumn("query_id", lit(""))))
  }

  test("a mixed batch fetch plans one DatScan per directory and equals per-query getStars") {
    val fm = StarsProvider.getProvider("FileManager").asInstanceOf[FileManagerConnector]
    val pq = java.nio.file.Files.createTempDirectory("datpq").resolve("stars").toString
    fm.getStars(spark, Seq(QuerySpec(Map("path" -> dir2)))).write.parquet(pq)
    val todo = Seq(
      "whole" -> Map("path" -> dir, "star_class" -> "all"),
      "limit" -> Map("path" -> dir, "files_to_load" -> "star_04;star_02;star_09;star_15",
        "files_limit" -> "2", "db_ident" -> "ogle"),
      "frac" -> Map("path" -> dir2, "star_class" -> "x%0.5"),
      "nolc" -> Map("path" -> dir2, "object_file_name" -> "other_03.dat", "load_lc" -> "false"),
      "pq" -> Map("path" -> pq, "suffix" -> "parquet", "files_to_load" -> "other_01;other_05"))
      .map { case (qid, p) => qid -> QuerySpec(p) }
    val fetched = fm.fetch(spark, todo)
    val plan = fetched.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val dirs = plan.collect { case b: BatchScanExec => b.scan.description() }
      .map(d => d.substring(d.indexOf("path=") + 5, d.indexOf(",")))
    assert(dirs.sorted == Seq(dir, dir2).sorted, "one DatScan per directory")

    val expected = todo.flatMap { case (qid, q) =>
      rowsOf(fm.getStars(spark, Seq(q)).toDF().withColumn("query_id", lit(qid)))
    }.sorted
    assert(rowsOf(fetched) == expected)
    val byQ = fetched.groupBy("query_id").count().as[(String, Long)].collect().toMap
    assert(byQ == Map("whole" -> 20L, "limit" -> 2L, "frac" -> 3L, "nolc" -> 1L, "pq" -> 2L))
  }

  test("dat ':N' and '%f' sampling prune the listing — one job, no count pass") {
    val fm = StarsProvider.getProvider("FileManager").asInstanceOf[FileManagerConnector]
    var frac: Seq[String] = Nil
    val nFrac = jobsFor("dat-frac") {
      frac = fm.getStars(spark, Seq(QuerySpec(Map(
        "path" -> dir, "star_class" -> "c%0.25")))).collect().map(_.starId).toSeq
    }
    assert(frac.sorted == (1 to 5).map(i => f"star_$i%02d"), "floor(20*0.25) first by id")
    assert(nFrac == 1, s"fraction sampling must not run a count job (ran $nFrac jobs)")

    var firstN: Seq[String] = Nil
    val nLim = jobsFor("dat-limit") {
      firstN = fm.getStars(spark, Seq(QuerySpec(Map(
        "path" -> dir, "star_class" -> "c:3")))).collect().map(_.starId).toSeq
    }
    assert(firstN.sorted == Seq("star_01", "star_02", "star_03"))
    assert(nLim == 1, s"':N' must not run a global sort+limit job chain (ran $nLim jobs)")
  }

  test("column pruning reaches the scan (no curve parse for id-only reads)") {
    val ids = spark.read.format(fmt).load(dir).select("starId")
    val plan = ids.queryExecution.executedPlan.toString
    assert(!plan.contains("lightCurves"), "pruned scan must not carry lightCurves:\n" + plan)
    assert(ids.as[String].collect().length == 20)
    // residual (non-starId) filters still evaluated by Spark post-scan
    val residual = spark.read.format(fmt).load(dir)
      .filter(col("starId") === "star_03" && size(col("lightCurves")) > 0)
    assert(residual.count() == 1)
  }

  test("small files pack into at most defaultParallelism splits, read back identically") {
    val df = spark.read.format(fmt).load(dir)
    val scan = scanOf(df)
    assert(filesPlanned(scan) == 20)
    assert(scan.inputPartitions.length <= spark.sparkContext.defaultParallelism,
      s"${scan.inputPartitions.length} splits for 20 small files")
    // every file once, in name order across the splits
    assert(scan.inputPartitions.flatMap { case p: DatPartition => p.files }
      .map(DatFile.starName) == (1 to 20).map(i => f"star_$i%02d"))
    val packed = df.as[Star].collect().sortBy(_.starId)
    val single = (1 to 20).map(i => f"star_$i%02d").map(id =>
      spark.read.format(fmt).load(dir).filter(col("starId") === id).as[Star].head())
    assert(packed.length == 20)
    packed.zip(single).foreach { case (a, b) =>
      assert(a.starId == b.starId)
      assert(a.lightCurves.head.time.sameElements(b.lightCurves.head.time))
      assert(a.lightCurves.head.mag.sameElements(b.lightCurves.head.mag))
      assert(a.lightCurves.head.err.sameElements(b.lightCurves.head.err))
    }
  }

  test("split packing follows Spark's file-source rule, in file order") {
    val mb = 1L << 20
    // target = min(max, max(open, total / minPartitions)) = min(128, max(4, 60/3)) = 20 MB
    val files = (1 to 6).map(i => s"f$i" -> 6 * mb)
    assert(v2.DatScan.pack(files, 128 * mb, 4 * mb, 3) ==
      Seq(Seq("f1", "f2"), Seq("f3", "f4"), Seq("f5", "f6")))
    // open cost floors the target; maxBytes caps it; a big file is never cut
    assert(v2.DatScan.pack(Seq("a" -> 1L, "b" -> 1L), 128 * mb, 4 * mb, 100) ==
      Seq(Seq("a"), Seq("b")))
    assert(v2.DatScan.pack(Seq("a" -> 1L, "big" -> 50 * mb, "c" -> 1L), 8 * mb, 4 * mb, 1) ==
      Seq(Seq("a"), Seq("big"), Seq("c")))
    assert(v2.DatScan.pack(Nil, 128 * mb, 4 * mb, 4).isEmpty)
  }

  test("files_limit picks by star id, not by file name") {
    // "a-b.dat" sorts before "a.dat", but star "a" sorts before "a-b"
    val d = java.nio.file.Files.createTempDirectory("datorder").toString
    Seq("a.dat", "a-b.dat").foreach(n =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, n), "1.0 13.0 0.1\n"))
    val fm = StarsProvider.getProvider("FileManager").asInstanceOf[FileManagerConnector]
    assert(fm.getStars(spark, Seq(QuerySpec(Map("path" -> d, "files_limit" -> "1"))))
      .collect().map(_.starId).toSeq == Seq("a"))
    assert(fm.fetch(spark, Seq("q" -> QuerySpec(Map("path" -> d,
      "files_to_load" -> "a-b;a", "files_limit" -> "1"))))
      .select("starId").as[String].collect().toSeq == Seq("a"))
  }

  test("hidden files are skipped like Spark's file index") {
    val d = java.nio.file.Files.createTempDirectory("dathidden")
    Seq("a.dat", "_b.dat", ".c.dat", "d.txt").foreach(n =>
      java.nio.file.Files.writeString(d.resolve(n), "1.0 13.0 0.1\n"))
    assert(spark.read.format(fmt).load(d.toString).select("starId").as[String]
      .collect().toSeq == Seq("a"))
  }

  test("file: URI paths read the same stars as plain paths") {
    val fm = StarsProvider.getProvider("FileManager").asInstanceOf[FileManagerConnector]
    val uri = new java.io.File(dir).toURI.toString
    assert(uri.startsWith("file:"))
    def ids(p: String) = fm.getStars(spark, Seq(QuerySpec(Map("path" -> p,
      "files_to_load" -> "star_02;star_05;star_11")))).collect().map(_.starId).sorted.toSeq
    assert(ids(uri) == Seq("star_02", "star_05", "star_11"))
    assert(ids(uri) == ids(dir))
    def joined(p: String) = fm.fetch(spark, Seq(
      "q" -> QuerySpec(Map("path" -> p, "files_to_load" -> "star_02;star_05;star_11"))))
      .select("starId").as[String].collect().sorted.toSeq
    assert(joined(uri) == Seq("star_02", "star_05", "star_11"))
    assert(joined(uri) == joined(dir))
  }

  test("a missing directory raises") {
    val fm = StarsProvider.getProvider("FileManager").asInstanceOf[FileManagerConnector]
    val missing = new java.io.File(dir, "no_such_dir").getPath
    intercept[java.io.FileNotFoundException](fm.getStars(spark, Seq(QuerySpec(Map(
      "path" -> missing, "files_to_load" -> "star_02")))).collect())
    intercept[java.io.FileNotFoundException](fm.fetch(spark, Seq(
      "q" -> QuerySpec(Map("path" -> missing, "files_to_load" -> "star_02")))).collect())
  }
}
