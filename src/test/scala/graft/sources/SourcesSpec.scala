package graft.sources

import graft.SparkSpec
import graft.ml._
import graft.model.Star
import org.apache.spark.sql.functions._

/** Ingestion + searcher e2e against the reference's bundled FITS samples
  * (read-only at /root/reference/sample), mirroring
  * `test/db_tier/test_connectors.py` and `test/cli/test_cli.py`.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val qsoPath = "/root/reference/sample/qso"
  private val bePath = "/root/reference/sample/be_stars"

  private def load(path: String, cls: String) =
    StarsProvider.getProvider("FileManager")
      .getStars(spark, Seq(QuerySpec(Map(
        "path" -> path, "suffix" -> "fits", "star_class" -> cls))))

  test("FITS connector reads the qso sample corpus") {
    val qso = load(qsoPath, "quasar").cache()
    assert(qso.count() == 18)
    val first = qso.orderBy("starId").head()
    assert(first.lightCurves.nonEmpty, "no light curve parsed")
    val lc = first.lightCurves.head
    assert(lc.time.length > 100 && lc.time.length == lc.mag.length)
    // sample headers carry IDENT + HIERARCH MACHO_name (no RA/DEC)
    assert(first.identNames.contains("MACHO"))
    assert(first.starId == first.identNames("MACHO"))
  }

  test("star parquet round-trip preserves the schema") {
    val qso = load(qsoPath, "quasar")
    val out = java.nio.file.Files.createTempDirectory("stars").toString + "/stars"
    qso.write.parquet(out)
    val back = spark.read.parquet(out).as[Star]
    assert(back.count() == 18)
    val a = qso.orderBy("starId").head()
    val b = back.orderBy("starId").head()
    assert(a.starId == b.starId && a.lightCurves.head.mag.sameElements(b.lightCurves.head.mag))
  }

  test("dat connector parses 3-column text curves") {
    val dir = java.nio.file.Files.createTempDirectory("dat")
    val f = dir.resolve("star_x.dat")
    java.nio.file.Files.writeString(f,
      "#time mag err\n12.0 13.45 0.38\n13.1 13.47 0.36\n-99 1 1\n14.2 13.50 0.33\n")
    val stars = StarsProvider.getProvider("FileManager")
      .getStars(spark, Seq(QuerySpec(Map(
        "path" -> dir.toString, "suffix" -> "dat", "star_class" -> "test")))).collect()
    assert(stars.length == 1)
    assert(stars.head.starId == "star_x")
    assert(stars.head.lightCurves.head.time.sameElements(Array(12.0, 13.1, 14.2)))
  }

  test("dat connector preserves line order on large files under tiny split sizes") {
    // Regression for the textFile+collect_list design: a splittable text
    // source would interleave lines across partitions and scramble the time
    // series. The whole-file read must return file order even when
    // maxPartitionBytes is far below the file size.
    val dir = java.nio.file.Files.createTempDirectory("datbig")
    val n = 20000
    val body = new StringBuilder("#time mag err\n")
    (0 until n).foreach(i => body ++= s"$i.0 ${13.0 + (i % 7) * 0.01} 0.3\n")
    java.nio.file.Files.writeString(dir.resolve("big_star.dat"), body.toString)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try {
      val stars = StarsProvider.getProvider("FileManager")
        .getStars(spark, Seq(QuerySpec(Map(
          "path" -> dir.toString, "suffix" -> "dat")))).collect()
      assert(stars.length == 1)
      val t = stars.head.lightCurves.head.time
      assert(t.length == n)
      assert(t.sameElements((0 until n).map(_.toDouble)), "time order scrambled")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("files_to_load / object_file_name / load_lc query keys") {
    val dir = java.nio.file.Files.createTempDirectory("datsel")
    Seq("aa", "bb", "cc").foreach(n => java.nio.file.Files.writeString(
      dir.resolve(s"$n.dat"), "1.0 13.0 0.1\n2.0 13.1 0.1\n"))
    val fm = StarsProvider.getProvider("FileManager")
    // explicit file list (`file_manager.py` files_to_load)
    val two = fm.getStars(spark, Seq(QuerySpec(Map(
      "path" -> dir.toString, "suffix" -> "dat",
      "files_to_load" -> "aa.dat;cc.dat")))).collect()
    assert(two.map(_.starId).sorted.toSeq == Seq("aa", "cc"))
    // single object (`object_file_name`)
    val one = fm.getStars(spark, Seq(QuerySpec(Map(
      "path" -> dir.toString, "suffix" -> "dat",
      "object_file_name" -> "bb.dat")))).collect()
    assert(one.map(_.starId).toSeq == Seq("bb"))
    // load_lc=false: star metadata without curves (`base_query.py:13-36`)
    val noLc = fm.getStars(spark, Seq(QuerySpec(Map(
      "path" -> dir.toString, "suffix" -> "dat", "load_lc" -> "false")))).collect()
    assert(noLc.length == 3 && noLc.forall(_.lightCurves.isEmpty))
    // fits path: file-name selection over the reference sample corpus
    val oneFits = fm.getStars(spark, Seq(QuerySpec(Map(
      "path" -> qsoPath, "suffix" -> "fits", "files_to_load" -> "1.4418.1930.fits")))
    ).collect()
    assert(oneFits.length == 1, "named sample file must load alone")
  }

  test("star_class sample marks: 'name:N' first-N and 'name%f' fraction") {
    // `_check_sample_name` + `_split_stars` (`cli/stars_handling.py:124-170`)
    val fm = StarsProvider.getProvider("FileManager").asInstanceOf[FileManagerConnector]
    assert(fm.parseSampleName("qso") == ("qso", None))
    assert(fm.parseSampleName("qso:10") == ("qso", Some(Left(10))))
    assert(fm.parseSampleName("qso%0.5") == ("qso", Some(Right(0.5))))
    intercept[IllegalArgumentException](fm.parseSampleName("qso%x"))
    intercept[IllegalArgumentException](fm.parseSampleName("a:b:c"))

    val limited = fm.getStars(spark, Seq(QuerySpec(Map(
      "path" -> qsoPath, "suffix" -> "fits", "star_class" -> "quasar:5")))).collect()
    assert(limited.length == 5)
    assert(limited.forall(_.starClass.contains("quasar")), "sample mark must not leak into the class")
    // 18 qso fixtures * 0.5 -> exactly floor(9) stars
    val frac = fm.getStars(spark, Seq(QuerySpec(Map(
      "path" -> qsoPath, "suffix" -> "fits", "star_class" -> "quasar%0.5")))).collect()
    assert(frac.length == 9)
  }

  test("Catalina connector parses dataSet0 responses, id + cone queries") {
    // raw CRTS response shape (`catalina.py:107-148`): JS object with bare
    // keys + the ID= URL parameter; one response carries a coo comment
    val dir = java.nio.file.Files.createTempDirectory("crts")
    java.nio.file.Files.writeString(dir.resolve("star1.html"),
      """<html><script>var dataSet0 = {label: "CSS_J170.8113+34.1737", color: "V",
        |data: [[53464.45, 17.52, 0.08], [53486.41, 17.69, 0.09], [53500.1, 17.61]]};
        |</script><!--coo 170.8113 34.1737-->
        |<img src="x.cgi?ID=1135051006365&PLOT=plot"></html>""".stripMargin)
    java.nio.file.Files.writeString(dir.resolve("star2.html"),
      """<html><script>var dataSet0 = {label: "CSS_J005.0000-10.0000", color: "V",
        |data: [[53464.45, 15.2, 0.05]]};
        |</script><!--coo 5.0 -10.0-->
        |<img src="x.cgi?ID=2005123456789&PLOT=plot"></html>""".stripMargin)
    java.nio.file.Files.writeString(dir.resolve("empty.html"),
      "<html>No rows returned</html>")

    val conn = StarsProvider.getProvider("Catalina")
    val all = conn.getStars(spark, Seq(QuerySpec(Map(
      "path" -> dir.toString)))).collect()
    assert(all.length == 2, "empty response must yield no star")
    val s1 = all.find(_.starId == "CSS_J170.8113+34.1737").get
    assert(s1.identNames("CRST") == "1135051006365")
    assert(s1.lightCurves.head.time.sameElements(Array(53464.45, 53486.41, 53500.1)))
    assert(s1.lightCurves.head.err.sameElements(Array(0.08, 0.09, 0.0)))
    assert(s1.lightCurves.head.meta("origin") == "CRTS")

    val byId = conn.getStars(spark, Seq(QuerySpec(Map(
      "path" -> dir.toString, "id" -> "2005123456789")))).collect()
    assert(byId.map(_.starId).toSeq == Seq("CSS_J005.0000-10.0000"))

    val cone = conn.getStars(spark, Seq(QuerySpec(Map(
      "path" -> dir.toString, "ra" -> "170.8", "dec" -> "34.17",
      "delta" -> "3600", "nearest" -> "true")))).collect()
    assert(cone.map(_.starId).toSeq == Seq("CSS_J170.8113+34.1737"))
  }

  test("Catalina quoting touches only key positions; capture stops at dataSet0") {
    // a label CONTAINING the key words + JS trailing after the object's
    // closing brace: whole-body String.replace or a greedy capture would
    // corrupt the JSON and lose the star
    val html =
      """<html><script>var dataSet0 = {label: "color data label star", color: "V",
        |data: [[53464.45, 17.52, 0.08]]};
        |function plot() { return {}; }
        |</script><img src="x.cgi?ID=42&PLOT=plot"></html>""".stripMargin
    val star = CatalinaConnector.parseRawStar(html)
    assert(star.isDefined, "star must survive key-in-value quoting")
    assert(star.get.starId == "color data label star")
    assert(star.get.identNames("CRST") == "42")
    assert(star.get.lightCurves.head.mag.sameElements(Array(17.52)))
  }

  test("cone search filters and nearest picks top-1") {
    import graft.model.{Coordinates, Star}
    val stars = Seq(
      Star("near", Some(Coordinates(10.0, 20.0)), Map.empty, Map.empty, Map.empty, None, Nil),
      Star("mid", Some(Coordinates(10.5, 20.5)), Map.empty, Map.empty, Map.empty, None, Nil),
      Star("far", Some(Coordinates(50.0, -30.0)), Map.empty, Map.empty, Map.empty, None, Nil),
      Star("nocoo", None, Map.empty, Map.empty, Map.empty, None, Nil)).toDF()
    val hits = ConeSearch(stars, 10.0, 20.0, 1.0)
    // near + mid within 1 deg; far excluded; nocoo passes (reference: dist=inf passes)
    assert(hits.select("starId").as[String].collect().toSet == Set("near", "mid", "nocoo"))
    val nearest = ConeSearch(stars, 10.4, 20.4, 180.0, nearest = true)
      .select("starId").as[String].collect()
    assert(nearest.sameElements(Array("mid")))
    val boxed = ConeSearch.boxFilter(stars, 10.0, 20.0, 1.0)
    assert(boxed.count() == 2) // box prefilter drops coordinate-less rows
  }

  test("flagship slice: train on qso vs be_stars, search via the searcher job") {
    val qso = load(qsoPath, "quasar").toDF().cache()
    val be = load(bePath, "be_star").toDF().cache()
    val model = new StarsFilter(
      Seq(new AbbeValueDescr(Some(100)), new HistShapeDescr(
        templates = qso.limit(3).as[Star].collect().toSeq
          .map(s => (s.lightCurves.head.time, s.lightCurves.head.mag)),
        bins = 10, alphabetSize = 7)),
      Seq(new QDADec())).learn(qso, be)

    val stats = model.getStatistic(qso, be)
    val precision = stats.filter(col("decider") === "mean").head().getAs[Double]("precision")
    assert(precision > 0.7, s"flagship precision $precision")

    // searcher: two queries over the fixture dirs, status + matched sinks
    val tmp = java.nio.file.Files.createTempDirectory("search").toString
    val searcher = new StarsSearcher(model, "FileManager",
      s"$tmp/matched", s"$tmp/status")
    val emptyDir = java.nio.file.Files.createTempDirectory("nostars").toString
    val queries = Seq(
      ("q_qso", Map("path" -> qsoPath, "suffix" -> "fits", "star_class" -> "quasar")),
      ("q_be", Map("path" -> bePath, "suffix" -> "fits", "star_class" -> "be_star")),
      ("q_empty", Map("path" -> emptyDir, "suffix" -> "fits", "star_class" -> "none")))
      .toDF("query_id", "params")
    val status = searcher.queryStars(spark, queries)
    assert(status.count() == 37, "status row per fetched star + Noname zero-hit row")
    // zero-hit query records completion like the reference
    // (`stars_searcher.py:100-105`): found=false "Noname" row
    val empty = status.filter(col("query_id") === "q_empty").collect()
    assert(empty.length == 1 && empty.head.getAs[String]("starId") == "Noname" &&
      !empty.head.getAs[Boolean]("found") && !empty.head.getAs[Boolean]("passed"))
    val matched = spark.read.parquet(s"$tmp/matched")
    assert(matched.count() >= 10, "most qso should pass")
    // resume: all queries already done -> nothing left, INCLUDING the
    // zero-hit one (it must not be re-run forever)
    assert(searcher.unsearchedQueries(spark, queries).count() == 0)
  }
}
