package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Archive connectors: pushdown, config maps, ra scaling, band splitting,
  * target fan-out, read-time downsampling, ADQL rendering.
  */
class ArchiveConnectorSpec extends SparkSpec {
  import spark.implicits._

  private lazy val machoDir = {
    val dir = java.nio.file.Files.createTempDirectory("macho").toString
    Seq(
      ("1.33.10", 10.0, 20.0, "qso",
        Seq(1.0, 2.0, 3.0), Seq(14.1, 14.2, 14.3), Seq(0.1, 0.1, 0.1),
        Seq(1.0, 2.0), Seq(15.1, 15.2), Seq(0.2, 0.2)),
      ("1.33.11", 10.2, 20.2, "be",
        Seq(1.0, 2.0), Seq(13.0, 13.1), Seq(0.1, 0.1),
        Seq(1.0, 2.0), Seq(14.0, 14.1), Seq(0.1, 0.1)),
      ("2.40.5", 80.0, -30.0, "qso",
        Seq(1.0, 2.0), Seq(12.0, 12.1), Seq(0.1, 0.1),
        Seq(1.0, 2.0), Seq(12.5, 12.6), Seq(0.1, 0.1)))
      .toDF("MACHO", "RAJ2000", "DEJ2000", "Class",
        "r_time", "r_mag", "r_err", "b_time", "b_mag", "b_err")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("macho config: two-band split, ident/more maps, cone + nearest") {
    val conn = new ArchiveConnector(ArchiveConfigs.macho(machoDir))
    val all = conn.getStars(spark, Seq(QuerySpec(Map.empty))).collect()
    assert(all.length == 3)
    val s = all.find(_.starId == "1.33.10").get
    assert(s.lightCurves.map(_.meta("color")) == Seq("R", "B"))
    assert(s.lightCurves.head.mag.length == 3)
    assert(s.more("var_type") == "qso")
    assert(s.identNames == Map("macho" -> "1.33.10"))

    val cone = conn.getStars(spark, Seq(QuerySpec(Map(
      "ra" -> "10.0", "dec" -> "20.0", "delta" -> "3600")))).collect()
    assert(cone.map(_.starId).toSet == Set("1.33.10", "1.33.11"))
    val nearest = conn.getStars(spark, Seq(QuerySpec(Map(
      "ra" -> "10.1", "dec" -> "20.1", "delta" -> "7200", "nearest" -> "true")))).collect()
    assert(nearest.length == 1)
  }

  test("cone box predicates reach the parquet scan (pushdown)") {
    val conn = new ArchiveConnector(ArchiveConfigs.macho(machoDir))
    val ds = conn.getStars(spark, Seq(QuerySpec(Map(
      "ra" -> "10.0", "dec" -> "20.0", "delta" -> "3600"))))
    val plan = ds.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(RAJ2000"), "box filter not pushed:\n" + plan)
  }

  test("ogleII config: ra hours -> degrees, target fan-out") {
    val dir = java.nio.file.Files.createTempDirectory("ogle").toString
    Seq(
      ("lmc_sc1_100", 0.7, -69.0, "lmc", 0.98, 14.5,
        Seq(1.0, 2.0), Seq(14.5, 14.6), Seq(0.1, 0.1)),
      ("smc_sc2_200", 0.8, -73.0, "smc", 0.97, 15.0,
        Seq(1.0, 2.0), Seq(15.0, 15.1), Seq(0.1, 0.1)))
      .toDF("starcat", "ra", "decl", "target", "pgood", "i_median",
        "lc_time", "lc_mag", "lc_err")
      .write.mode("overwrite").parquet(dir)
    val conn = new ArchiveConnector(ArchiveConfigs.ogleII(dir))
    // coordinate query with no target fans out over lmc/smc/bul and unions
    val found = conn.getStars(spark, Seq(QuerySpec(Map(
      "ra" -> "10.5", "dec" -> "-69.0", "delta" -> "7200")))).collect()
    assert(found.length == 1 && found.head.starId == "lmc_sc1_100")
    // ra stored in hours: 0.7h * 15 = 10.5 deg
    assert(math.abs(found.head.coo.get.ra - 10.5) < 1e-9)
  }

  test("corot config: read-time downsample bounds curve length") {
    val dir = java.nio.file.Files.createTempDirectory("corot").toString
    val n = 5000
    Seq(("c1", 100.0, 0.0, 12.0,
      (1 to n).map(_.toDouble), (1 to n).map(i => 12.0 + (i % 7) * 0.01),
      (1 to n).map(_ => 0.01)))
      .toDF("CoRoT", "RAJ2000", "DEJ2000", "Vmag", "lc_time", "lc_mag", "lc_err")
      .write.mode("overwrite").parquet(dir)
    val conn = new ArchiveConnector(ArchiveConfigs.corotBright(dir))
    val s = conn.getStars(spark, Seq(QuerySpec(Map.empty))).head()
    assert(s.lightCurves.head.mag.length == 1000, // max_bins
      s"expected 1000 bins, got ${s.lightCurves.head.mag.length}")
  }

  test("max_bins query key overrides the config downsample target") {
    val dir = java.nio.file.Files.createTempDirectory("corotmb").toString
    val n = 5000
    Seq(("c1", 100.0, 0.0, 12.0,
      (1 to n).map(_.toDouble), (1 to n).map(i => 12.0 + (i % 7) * 0.01),
      (1 to n).map(_ => 0.01)))
      .toDF("CoRoT", "RAJ2000", "DEJ2000", "Vmag", "lc_time", "lc_mag", "lc_err")
      .write.mode("overwrite").parquet(dir)
    val conn = new ArchiveConnector(ArchiveConfigs.corotBright(dir))
    // reference: client.getStars(max_bins=...) (`corot.py` examples)
    val s = conn.getStars(spark, Seq(QuerySpec(Map("max_bins" -> "200")))).head()
    assert(s.lightCurves.head.mag.length == 200,
      s"expected 200 bins, got ${s.lightCurves.head.mag.length}")
  }

  test("corotFaint config: ERR_MAG_RATIO=16 divides errors on read") {
    val dir = java.nio.file.Files.createTempDirectory("corotf").toString
    Seq(("102706554", 100.94235, -0.89651, "G2V", 12.0,
      Seq(1.0, 2.0, 3.0), Seq(5000.0, 5010.0, 5020.0), Seq(32.0, 48.0, 64.0)))
      .toDF("CoRoT", "RAJ2000", "DEJ2000", "SpT", "Vmag",
        "lc_time", "lc_mag", "lc_err")
      .write.mode("overwrite").parquet(dir)
    val conn = new ArchiveConnector(ArchiveConfigs.corotFaint(dir))
    val s = conn.getStars(spark, Seq(QuerySpec(Map.empty))).head()
    assert(s.identNames == Map("CorotFaint" -> "102706554"))
    assert(s.more("spectral_type") == "G2V")
    // raw errors 32/48/64 divided by ERR_MAG_RATIO=16 -> 2/3/4
    assert(s.lightCurves.head.err.sameElements(Array(2.0, 3.0, 4.0)))
    assert(s.lightCurves.head.meta("color") == "R")
  }

  private lazy val keplerDir = {
    val dir = java.nio.file.Files.createTempDirectory("kepler").toString
    Seq(
      ("757076", "757076", "J19243302+3645350", 291.13757, 36.75975, 5164.0, 13.0,
        Seq(1.0, 2.0), Seq(1000.0, 1001.0), Seq(1.0, 1.0)),
      ("757099", "757099", "J19244432+3645408", 291.18467, 36.76147, 5521.0, 12.5,
        Seq(1.0, 2.0), Seq(900.0, 901.0), Seq(1.0, 1.0)),
      ("892376", "892376", "J19245541+3650304", 292.0, 40.0, 6200.0, 11.9,
        Seq(1.0, 2.0), Seq(800.0, 801.0), Seq(1.0, 1.0)))
      .toDF("_name", "kic_kepler_id", "kic_2mass_id", "kic_degree_ra", "kic_dec",
        "kic_teff", "kic_gmag", "lc_time", "lc_mag", "lc_err")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("kepler config: kic_num point lookup, KIC_ name, 2MASS cross-ident") {
    // mirrors test/db_tier/test_connectors.py kepler cases: a kic_num query
    // resolves exactly one star with idents and more populated
    val conn = new ArchiveConnector(ArchiveConfigs.kepler(keplerDir))
    val stars = conn.getStars(spark, Seq(QuerySpec(Map("kic_num" -> "757076")))).collect()
    assert(stars.length == 1)
    val s = stars.head
    assert(s.starId == "KIC_757076")
    assert(s.identNames("kepler") == "757076")
    assert(s.identNames("2mass") == "J19243302+3645350")
    assert(s.more("teff") == "5164.0")
    assert(s.lightCurves.head.mag.sameElements(Array(1000.0, 1001.0)))
  }

  test("kepler config: ra/dec box cone and 'a..b' range values") {
    val conn = new ArchiveConnector(ArchiveConfigs.kepler(keplerDir))
    // delta arcsec -> deg box around (291.15, 36.76): catches the two close stars
    val cone = conn.getStars(spark, Seq(QuerySpec(Map(
      "ra" -> "291.15", "dec" -> "36.76", "delta" -> "360")))).collect()
    assert(cone.map(_.starId).toSet == Set("KIC_757076", "KIC_757099"))
    // kepler.py:129-137 "a..b" range syntax on an arbitrary column
    val ranged = conn.getStars(spark, Seq(QuerySpec(Map(
      "kic_teff" -> "5400..6300")))).collect()
    assert(ranged.map(_.starId).toSet == Set("KIC_757099", "KIC_892376"))
  }

  private lazy val ogle3Dir = {
    val dir = java.nio.file.Files.createTempDirectory("ogle3").toString
    Seq(
      ("OGLE-LMC-CEP-0001", "LMC100.1", "12345", 4.62, -69.5, "Cep", "F",
        3.2, 0.1, 15.2, 14.8, "1.3310.45", "000000-0000.0", "LMC_SC1_152382", "\u00a0", "rem",
        Seq(1.0, 2.0), Seq(15.2, 15.3), Seq(0.01, 0.01)),
      ("OGLE-LMC-RRLYR-0002", "LMC100.2", "23456", 4.70, -69.6, "RRLyr", "RRab",
        0.57, 0.3, 18.9, 18.5, "\u00a0", "\u00a0", "\u00a0", "\u00a0", "\u00a0",
        Seq(1.0, 2.0), Seq(18.9, 19.0), Seq(0.05, 0.05)),
      ("OGLE-LMC-LPV-0003", "LMC100.3", "34567", 4.80, -69.7, "LPV", "Mira",
        120.0, 1.0, 13.0, 12.5, "\u00a0", "\u00a0", "\u00a0", "\u00a0", "\u00a0",
        Seq(1.0, 2.0), Seq(13.0, 13.1), Seq(0.02, 0.02)))
      .toDF("ID", "Field", "StarID", "RA", "Decl", "Type", "Subtype",
        "P_1", "A_1", "V", "I", "ID_MACHO", "ID_ASAS", "ID_OGLE_II", "ID_GCVS", "Remarks",
        "lc_time", "lc_mag", "lc_err")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("ogleIII config: cross-ID idents parsed into query identifiers") {
    val conn = new ArchiveConnector(ArchiveConfigs.ogleIII(ogle3Dir))
    val s = conn.getStars(spark, Seq(QuerySpec(Map("starid" -> "12345"))))
      .collect().head
    assert(s.starId == "OGLE-LMC-CEP-0001")
    assert(s.starClass.contains("Cep"))
    // ra stored in hours: 4.62h * 15 = 69.3 deg
    assert(math.abs(s.coo.get.ra - 69.3) < 1e-9)
    // cross-ID names survive; empty \xa0 cells are dropped
    assert(s.identNames("Macho") == "1.3310.45")
    assert(s.identNames("OgleII") == "LMC_SC1_152382")
    assert(!s.identNames.contains("GCVS"))
    // db_ident query identifiers: catalog's own Field/StarID + parsed names
    assert(s.identIds("OgleIII:field") == "LMC100.1")
    assert(s.identIds("OgleIII:starid") == "12345")
    assert(s.identIds("Macho:Field") == "1")
    assert(s.identIds("Macho:Tile") == "3310")
    assert(s.identIds("Macho:Seqn") == "45")
    assert(s.identIds("OgleII:field") == "LMC_SC1")
    assert(s.identIds("OgleII:starid") == "152382")
    assert(s.more("period") == "3.2")
  }

  test("ogleIII config: types membership validated, mag/period ranges") {
    val conn = new ArchiveConnector(ArchiveConfigs.ogleIII(ogle3Dir))
    val typed = conn.getStars(spark, Seq(QuerySpec(Map("types" -> "Cep;RRLyr"))))
      .collect()
    assert(typed.map(_.starId).toSet ==
      Set("OGLE-LMC-CEP-0001", "OGLE-LMC-RRLYR-0002"))
    intercept[IllegalArgumentException] {
      conn.getStars(spark, Seq(QuerySpec(Map("types" -> "NotAType")))).collect()
    }
    val bright = conn.getStars(spark, Seq(QuerySpec(Map(
      "mag_i_max" -> "15.0", "p1_min" -> "10.0")))).collect()
    assert(bright.map(_.starId).toSet == Set("OGLE-LMC-LPV-0003"))
    val adql = conn.toAdql(QuerySpec(Map("types" -> "Cep;RRLyr", "mag_i_min" -> "10",
      "mag_i_max" -> "15")))
    assert(adql.contains("(I BETWEEN 10.0 AND 15.0)"))
    assert(adql.contains("(Type IN ('Cep', 'RRLyr'))"))
  }

  test("joined query-table fetch matches per-query semantics with no N-way union") {
    val conn = new ArchiveConnector(ArchiveConfigs.macho(machoDir))
    val todo = Seq(
      ("q1", Map("ra" -> "10.0", "dec" -> "20.0", "delta" -> "3600")),
      ("q2", Map("ra" -> "80.0", "dec" -> "-30.0", "delta" -> "3600", "nearest" -> "true")),
      ("q3", Map("Class" -> "qso")))
    val queries = todo.toDF("query_id", "params")
    assert(conn.supportsJoinedFetch(Set("ra", "dec", "delta", "nearest", "Class")))
    assert(!conn.supportsJoinedFetch(Set("types")))
    val joined = conn.fetch(spark, todo.map { case (qid, p) => qid -> QuerySpec(p) })
    val plan = joined.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Union"), "joined fetch must not build an N-way union:\n" + plan)
    val got = joined.select("query_id", "starId").as[(String, String)].collect().toSet
    // q1 cone: both nearby stars; q2 nearest: exactly the one close star;
    // q3 equality: both qso — same rows the per-query loop fetches
    assert(got == Set(
      ("q1", "1.33.10"), ("q1", "1.33.11"),
      ("q2", "2.40.5"),
      ("q3", "1.33.10"), ("q3", "2.40.5")))
    // the searcher takes the joined branch end to end for archive connectors
    StarsProvider.register("MachoJoined", conn)
    val model = new graft.ml.StarsFilterModel(
      Seq(new graft.ml.AbbeValueDescr()),
      Seq(new graft.ml.CustomDecider(Seq((None, None))).model), Seq("abbe_value"))
    val tmp = java.nio.file.Files.createTempDirectory("joinsearch").toString
    val searcher = new graft.ml.StarsSearcher(model, "MachoJoined",
      s"$tmp/matched", s"$tmp/status")
    var status: org.apache.spark.sql.DataFrame = null
    val jobs = jobsFor("archive-search") { status = searcher.queryStars(spark, queries) }
    // the batch's keys and ids come from the collected query table, so no
    // job reads them before the fetch (reading them with Spark jobs made 11)
    assert(jobs <= 7, s"the archive search ran $jobs jobs")
    assert(status.select("query_id", "starId").as[(String, String)].collect().toSet == got)
  }

  test("joined fetch refuses config-override and target-fan-out queries") {
    val macho = new ArchiveConnector(ArchiveConfigs.macho(machoDir))
    // max_bins is a read-time CONFIG override, not a column — joined eqCond
    // would treat it as a predicate on a nonexistent column
    assert(!macho.supportsJoinedFetch(Set("Class", "max_bins")))

    val dir = java.nio.file.Files.createTempDirectory("oglejf").toString
    Seq(("lmc_sc1_100", 0.7, -69.0, "lmc", 0.98, 14.5,
      Seq(1.0, 2.0), Seq(14.5, 14.6), Seq(0.1, 0.1)))
      .toDF("starcat", "ra", "decl", "target", "pgood", "i_median",
        "lc_time", "lc_mag", "lc_err")
      .write.mode("overwrite").parquet(dir)
    val ogle2 = new ArchiveConnector(ArchiveConfigs.ogleII(dir))
    // cone queries fan out per target on the loop path (per-target nearest)
    assert(!ogle2.supportsJoinedFetch(Set("ra", "dec", "delta", "nearest")))
    // non-cone queries cannot fan out -> joined fetch stays available
    assert(ogle2.supportsJoinedFetch(Set("target", "starcat")))
    // base_dir rebinds the archive path per query -> loop path only
    assert(!ogle2.supportsJoinedFetch(Set("starcat", "base_dir")))

    // numeric-column equality coerces like the per-query path: "0.98"
    // must match the double column (not compare "0.98" to "0.98" cast
    // through a double's string form)
    val viaJoin = ogle2.fetch(spark, Seq("qn" -> QuerySpec(Map("pgood" -> "0.98"))))
      .select("starId").as[String].collect().toSet
    val viaLoop = ogle2.getStars(spark, Seq(QuerySpec(Map("pgood" -> "0.98"))))
      .toDF().select("starId").as[String].collect().toSet
    assert(viaJoin == viaLoop && viaJoin.nonEmpty)

    // searcher end-to-end: a max_bins query routes to the loop path and
    // still applies the override instead of throwing AnalysisException
    val cdir = java.nio.file.Files.createTempDirectory("corotjf").toString
    Seq(("c1", 100.0, 0.0, 12.0,
      (1 to 5000).map(_.toDouble), (1 to 5000).map(i => 12.0 + (i % 7) * 0.01),
      (1 to 5000).map(_ => 0.01)))
      .toDF("CoRoT", "RAJ2000", "DEJ2000", "Vmag", "lc_time", "lc_mag", "lc_err")
      .write.mode("overwrite").parquet(cdir)
    StarsProvider.register("CorotJf", new ArchiveConnector(ArchiveConfigs.corotBright(cdir)))
    val model = new graft.ml.StarsFilterModel(
      Seq(new graft.ml.AbbeValueDescr()),
      Seq(new graft.ml.CustomDecider(Seq((None, None))).model), Seq("abbe_value"))
    val tmp = java.nio.file.Files.createTempDirectory("mbsearch").toString
    val searcher = new graft.ml.StarsSearcher(model, "CorotJf",
      s"$tmp/matched", s"$tmp/status")
    val status = searcher.queryStars(spark,
      Seq(("q1", Map("max_bins" -> "200"))).toDF("query_id", "params"))
    assert(status.select("query_id").as[String].collect().toSeq == Seq("q1"))
  }

  test("archive robustness: empty query list, LC-less tables, null LC cells") {
    import spark.implicits._
    // empty query list is a valid no-op fetch, not empty.reduce
    val macho = new ArchiveConnector(ArchiveConfigs.macho(machoDir))
    assert(macho.getStars(spark, Nil).count() == 0)

    // metadata-only archive table (no lc_* columns at all): stars build
    // without curves instead of crashing on fieldIndex
    val metaDir = java.nio.file.Files.createTempDirectory("nolc").toString
    Seq(("a1", 10.0, 20.0)).toDF("ASAS", "RAJ2000", "DEJ2000")
      .write.mode("overwrite").parquet(metaDir)
    val metaStars = new ArchiveConnector(ArchiveConfigs.asas(metaDir))
      .getStars(spark, Seq(QuerySpec(Map.empty))).collect()
    assert(metaStars.length == 1 && metaStars.head.lightCurves.isEmpty)

    // null mag cell: that band is skipped, not an NPE; missing err column
    // degrades to zeros like a 2-field FITS table
    val nulDir = java.nio.file.Files.createTempDirectory("nullc").toString
    Seq(
      ("ok", 1.0, 2.0, Some(Seq(1.0, 2.0)), Some(Seq(13.0, 13.1))),
      ("nul", 1.5, 2.5, Some(Seq(1.0)), None: Option[Seq[Double]]))
      .toDF("ASAS", "RAJ2000", "DEJ2000", "lc_time", "lc_mag")
      .write.mode("overwrite").parquet(nulDir)
    val byId = new ArchiveConnector(ArchiveConfigs.asas(nulDir))
      .getStars(spark, Seq(QuerySpec(Map.empty)))
      .collect().map(s => s.starId -> s).toMap
    assert(byId("ok").lightCurves.head.err.forall(_ == 0.0))
    assert(byId("nul").lightCurves.isEmpty)
  }

  test("ADQL rendering of the pushed predicates") {
    val conn = new ArchiveConnector(ArchiveConfigs.asas(machoDir))
    val adql = conn.toAdql(QuerySpec(Map(
      "ra" -> "10.0", "dec" -> "20.0", "delta" -> "3600", "Class" -> "qso")))
    assert(adql.startsWith("SELECT "))
    assert(adql.contains("FROM asas"))
    assert(adql.contains("(RAJ2000 BETWEEN 9.0 AND 11.0)"))
    assert(adql.contains("(DEJ2000 BETWEEN 19.0 AND 21.0)"))
    assert(adql.contains("(Class = qso)"))
  }
}
