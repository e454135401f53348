package graft.sources

import graft.functions.Kernels
import graft.model.{Coordinates, LightCurveData, Star}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Config-driven archive connector (SURVEY §2.1): the offline stand-in for
  * the reference's VizierTapBase/OGLE family (`vizier_tap_base.py:60-120`,
  * `ogleII.py`, `corot.py`). One implementation + per-archive
  * [[ArchiveConfig]] instances, exactly like the reference's config-only
  * subclasses (Asas/Macho/CorotBright are data, not code).
  *
  * The archive table is parquet (the remote TAP table's local stand-in);
  * query predicates become Catalyst filters — the SAME predicates
  * [[QueryCompiler]] renders as ADQL for a remote DataSource V2 scan, so
  * pushdown is exercised end to end: equality/range/cone-box reach
  * the parquet scan (PushedFilters), the SELECT set from
  * IDENT_MAP ∪ MORE_MAP ∪ {RA, DEC, LC} prunes the read schema
  * (`vizier_tap_base.py:170-179`), and the exact cone refine runs
  * post-scan (`base_query.py:38-83`).
  */
final case class ArchiveConfig(
    name: String,
    path: String => String,              // sfDir/base dir → parquet path
    raCol: String, decCol: String,
    identMap: Map[String, String],       // db → name column
    moreMap: Map[String, String],        // archive column → `more` key
    lcBands: Seq[(String, String, String, String)], // (timeCol, magCol, errCol, bandName)
    raScale: Double = 1.0,               // OGLE: ra stored in hours → ×15 (`ogleII.py:270`)
    errMagRatio: Double = 1.0,           // CorotFaint: err = raw/ratio (`corot.py:154`)
    maxBins: Option[Int] = None,         // CoRoT read-time downsample (`corot.py:107-112`)
    targets: Seq[String] = Nil,          // OGLE target fan-out (`ogleII.py:172-183`)
    targetCol: String = "target",
    queryAliases: Map[String, String] = Map.empty, // query key → archive column (kic_num, `kepler.py:110-114`)
    rangeValueSyntax: Boolean = false,   // "a..b" values → BETWEEN (`kepler.py:129-137`)
    rangeKeys: Map[String, String] = Map.empty, // `<k>_min`/`<k>_max` pair → column (`ogleIII.py:129-143`)
    allowedTypes: Seq[String] = Nil,     // `types` whitelist; value list → IN (`ogleIII.py:69,158-166,210-211`)
    typesCol: String = "Type",
    nameCol: Option[String] = None,      // starId column (else first ident name)
    namePrefix: String = "",             // "KIC_" (`kepler.py:163`)
    starClassCol: Option[String] = None, // OgleIII Type → starClass (`ogleIII.py:308`)
    identIdCols: Map[String, String] = Map.empty, // "db:key" → column (`ogleIII.py:281-283`)
    parseIdentIds: Boolean = false)      // derive identIds from ident names (`ogleIII.py:285-290,341-350`)

class ArchiveConnector(config: ArchiveConfig) extends StarsConnector {

  /** Per-query `max_bins` override (`corot.py getStars(max_bins=...)`). */
  private def effectiveConfig(q: QuerySpec): ArchiveConfig =
    q.get("max_bins").flatMap(_.toIntOption) match {
      case Some(mb) => config.copy(maxBins = Some(mb))
      case None     => config
    }

  /** OGLE-style query rewrite (`_parseQueries`, `ogleII.py:159-199`): a
    * coordinate query without a target fans out to one query per target.
    */
  private def rewrite(q: QuerySpec): Seq[QuerySpec] =
    if (config.targets.nonEmpty && q.get("ra").isDefined && q.get(config.targetCol).isEmpty)
      config.targets.map(t => QuerySpec(q.params + (config.targetCol -> t)))
    else Seq(q)

  /** The ADQL this query would send to the remote TAP endpoint — the
    * pushdown seam made visible (`TAP_query.py:32-80`).
    */
  def toAdql(q: QuerySpec): String = {
    val select = (config.identMap.values ++ config.moreMap.keys ++
      Seq(config.raCol, config.decCol)).toSeq
    QueryCompiler.compile(config.name, select, conditions(q))
  }

  private def conditions(q: QuerySpec): Seq[QueryCompiler.Condition] = {
    val cone = for {
      ra <- q.double("ra")
      dec <- q.double("dec")
      delta <- q.double("delta")
    } yield QueryCompiler.coneToBox(config.raCol, config.decCol,
      ra / config.raScale, dec, delta) // ranges divided back like ogleII.py:109-111
    // `<k>_min`/`<k>_max` pairs → BETWEEN (both) or theta (one side),
    // like OgleIII's valmin/valmax form fields (`ogleIII.py:129-143`)
    val ranges = config.rangeKeys.toSeq.flatMap { case (key, column) =>
      (q.double(s"${key}_min"), q.double(s"${key}_max")) match {
        case (Some(lo), Some(hi)) => Seq(QueryCompiler.Between(column, lo, hi))
        case (Some(lo), None)     => Seq(QueryCompiler.Theta(column, s">=$lo"))
        case (None, Some(hi))     => Seq(QueryCompiler.Theta(column, s"<=$hi"))
        case _                    => Nil
      }
    }
    // star-type checkbox set, validated against the archive's TYPES list
    // (`ogleIII.py:210-211` raises QueryInputError on unknown types)
    val types = q.get("types").toSeq.map { raw =>
      val ts = raw.split("[;,]").map(_.trim).filter(_.nonEmpty).toSeq
      val bad = ts.filterNot(config.allowedTypes.contains)
      require(config.allowedTypes.nonEmpty && bad.isEmpty,
        s"Invalid star type in the query: ${bad.mkString(",")}; " +
          s"available types: ${config.allowedTypes.mkString(", ")}")
      QueryCompiler.In(config.typesCol, ts)
    }
    val consumed = Set("ra", "dec", "delta", "nearest", "types", "base_dir", "max_bins") ++
      config.rangeKeys.keysIterator.flatMap(k => Seq(s"${k}_min", s"${k}_max"))
    val eq = q.params.collect {
      case (k, v) if !consumed.contains(k) =>
        val column = config.queryAliases.getOrElse(k, k)
        if (config.rangeValueSyntax) ConfigParsers.parseKeplerValue(column, v)
        else QueryCompiler.Eq(column, v)
    }.toSeq
    cone.getOrElse(Nil) ++ ranges ++ types ++ eq
  }

  /** One query's stars; an OGLE-style cone query without a target reads
    * once per target [[rewrite]] fans it out to.
    */
  override protected def read(spark: SparkSession, q0: QuerySpec): Dataset[Star] = {
    import spark.implicits._
    rewrite(q0).map { q =>
      var df = spark.read.parquet(config.path(q.get("base_dir").getOrElse("")))
      // predicate pushdown: the same conditions the ADQL would carry
      conditions(q).foreach {
        case QueryCompiler.Between(c, lo, hi) => df = df.filter(col(c).between(lo, hi))
        case QueryCompiler.Eq(c, v)           => df = df.filter(col(c) === v)
        case QueryCompiler.Theta(c, e)        => df = df.filter(expr(s"$c $e"))
        case QueryCompiler.In(c, vs)          => df = df.filter(col(c).isin(vs: _*))
      }
      val stars = toStars(project(df), effectiveConfig(q))
      // exact cone refine + nearest on the materialized stars
      (q.double("ra"), q.double("dec"), q.double("delta")) match {
        case (Some(ra), Some(dec), Some(delta)) =>
          ConeSearch(stars.toDF(), ra, dec, delta / 3600.0,
            nearest = q.get("nearest").contains("true")).drop("dist_deg").as[Star]
        case _ => stars
      }
    }.reduce(_ unionByName _)
  }

  /** Projection pushdown: IDENT ∪ MORE ∪ RA/DEC ∪ name/class/identId ∪ LC
    * columns, plus `extra`. Optional config columns absent from this
    * archive table are skipped, like the reference's header-driven
    * `_parseHeader` (`ogleIII.py:317-323`).
    */
  private def project(df: DataFrame, extra: Iterable[String] = Nil): DataFrame = {
    val present = df.schema.fieldNames.toSet
    df.select((config.identMap.values ++ config.moreMap.keys ++
      Seq(config.raCol, config.decCol) ++ config.nameCol ++
      config.starClassCol ++ config.identIdCols.values ++ extra ++
      config.lcBands.flatMap(b => Seq(b._1, b._2, b._3)))
      .toSeq.distinct.filter(present).map(col): _*)
  }

  private def toStars(df: DataFrame, cfg: ArchiveConfig = config): Dataset[Star] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.map(row => ArchiveConnector.buildStar(cfg, row))
  }

  /** A batch whose keys [[supportsJoinedFetch]] accepts is ONE archive scan
    * joined against the broadcast query table instead of a per-query
    * union — the searcher's scale path (survey §3.1); any other batch
    * keeps the per-query union.
    *
    * Shape at 100 TB: the query table is tiny (broadcast), the archive scan
    * happens once, each source row is tested against all queries in the
    * broadcast nested-loop join (vs N pruned scans + an N-way union plan
    * whose analysis cost alone is quadratic-ish in N). The exact cone
    * refine and per-query `nearest` run post-join as window ops.
    */
  override def fetch(spark: SparkSession, todo: Seq[(String, QuerySpec)]): DataFrame = {
    val keys = todo.flatMap(_._2.params.keysIterator).toSet
    if (todo.nonEmpty && supportsJoinedFetch(keys)) joinedFetch(spark, todo, keys)
    else super.fetch(spark, todo)
  }

  /** Query keys the joined fetch expresses: cone (ra/dec/delta/nearest)
    * and plain equality params.
    */
  private[sources] def supportsJoinedFetch(keys: Set[String]): Boolean = {
    // `base_dir` rebinds the archive path per query (`config.path`), which a
    // single joined scan cannot express — those batches keep the loop path
    if (keys.contains("base_dir")) return false
    val special = Set("ra", "dec", "delta", "nearest")
    // `max_bins` is a per-query CONFIG override (read-time downsample), not
    // a column predicate, and OGLE-style target fan-out rewrites a cone
    // query into one per target — both change per-query semantics the
    // joined fetch cannot express, so they keep the loop path. Range-pair /
    // range-value / types syntaxes likewise.
    !keys.contains("max_bins") &&
      !(config.targets.nonEmpty && keys.contains("ra")) &&
      !config.rangeValueSyntax &&
      (keys -- special).forall(k => !k.contains("..") && k != "types" &&
        !config.rangeKeys.keysIterator.exists(rk => k == s"${rk}_min" || k == s"${rk}_max"))
  }

  private def joinedFetch(spark: SparkSession, todo: Seq[(String, QuerySpec)],
                          keys: Set[String]): DataFrame = {
    import spark.implicits._
    val cfg = config
    val queries = todo.map { case (id, q) => (id, q.params) }.toDF("query_id", "params")
    val eqKeys = keys -- Set("ra", "dec", "delta", "nearest")
    val src = project(spark.read.parquet(cfg.path("")),
      eqKeys.map(k => cfg.queryAliases.getOrElse(k, k)))

    def p(k: String): Column = col("params").getItem(k)
    val d = p("delta").cast("double") / 3600.0
    val boxCond: Column = when(p("ra").isNull || p("dec").isNull || p("delta").isNull, lit(true))
      .otherwise(
        col(cfg.raCol).between(p("ra").cast("double") / cfg.raScale - d,
          p("ra").cast("double") / cfg.raScale + d) &&
          col(cfg.decCol).between(p("dec").cast("double") - d, p("dec").cast("double") + d))
    val eqCond: Column = eqKeys
      .map { k =>
        val c = cfg.queryAliases.getOrElse(k, k)
        // cast the PARAM to the column's type — the same coercion
        // `col(c) === v` applies on the per-query path, so a numeric
        // column matches "123" instead of comparing "123.0" to "123"
        p(k).isNull || col(c) === p(k).cast(src.schema(c).dataType)
      }.foldLeft(lit(true))(_ && _)

    val joined = src.join(broadcast(queries), boxCond && eqCond)
    val stars = joined
      .map(row => (row.getAs[String]("query_id"),
        row.getAs[Map[String, String]]("params"),
        ArchiveConnector.buildStar(cfg, row)))
      .toDF("query_id", "params", "star")
      .select(col("query_id"), col("params"), col("star.*"))

    // exact cone refine + per-query nearest (`base_query.py:38-83`)
    val ra = p("ra").cast("double")
    val withDist = stars.withColumn("_dist",
      when(ra.isNull, lit(null)).otherwise(ConeSearch.distance(ra, p("dec").cast("double"))))
    val refined = withDist.filter(col("_dist").isNull ||
      col("_dist") < p("delta").cast("double") / 3600.0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("_dist").asc_nulls_last)
    refined
      .withColumn("_rn", row_number().over(w))
      .filter(p("nearest").isNull || p("nearest") =!= "true" || col("_rn") === 1)
      .drop("_dist", "_rn", "params")
  }
}

object ArchiveConnector {
  import org.apache.spark.sql.Row

  /** One archive row → [[Star]]; shared by the per-query and joined paths. */
  private[sources] def buildStar(cfg: ArchiveConfig, row: Row): Star = {
    {
      def str(c: String): Option[String] =
        if (row.schema.fieldNames.contains(c) && !row.isNullAt(row.fieldIndex(c)))
          Some(row.get(row.fieldIndex(c)).toString)
        else None
      // "\xa0" marks empty cross-ID cells in the archive table (`ogleIII.py:286`)
      val identNames = cfg.identMap.flatMap { case (db, c) =>
        str(c).filter(v => v.nonEmpty && v != "\u00a0").map(db -> _)
      }
      // query-identifier map: explicit columns ("OgleIII:field" → Field) plus
      // idents whose archive names encode query ids (`ogleIII.py:341-350`)
      val identIds = cfg.identIdCols.flatMap { case (key, c) => str(c).map(key -> _) } ++
        (if (cfg.parseIdentIds) identNames.flatMap { case (db, nm) =>
          ConfigParsers.parseDbName(db, nm).map { case (k, v) => s"$db:$k" -> v }
        } else Map.empty[String, String])
      val more = cfg.moreMap.flatMap { case (c, key) => str(c).map(key -> _) }
      val coo = for {
        ra <- str(cfg.raCol).flatMap(_.toDoubleOption)
        dec <- str(cfg.decCol).flatMap(_.toDoubleOption)
      } yield Coordinates(ra * cfg.raScale, dec)
      // LC columns are optional like every other configured column: the
      // projection skips names absent from this archive table, so presence
      // (and null cells) must be guarded here too. A missing/null err
      // column degrades to zeros, like the FITS reader's 2-field tables.
      def arr(c: String): Option[Array[Double]] =
        if (row.schema.fieldNames.contains(c) && !row.isNullAt(row.fieldIndex(c)))
          Some(row.getSeq[Double](row.fieldIndex(c)).toArray)
        else None
      val lcs = cfg.lcBands.flatMap { case (tc, mc, ec, band) =>
        (arr(tc), arr(mc)) match {
          case (Some(t0), Some(m0)) =>
            var t = t0
            var m = m0
            var e = arr(ec).getOrElse(new Array[Double](t0.length))
              .map(_ / cfg.errMagRatio)
            // source-side dimension reduction (`corot.py:107-112`)
            cfg.maxBins.filter(_ < t.length).foreach { mb =>
              val (tr, mr) = Kernels.ekviPaa(t, m, Some(mb.toDouble))
              val (_, er) = Kernels.ekviPaa(t, e, Some(mb.toDouble))
              t = tr; m = mr; e = er
            }
            val (ct, cm, ce) = Kernels.cleanLc(t, m, e)
            Some(LightCurveData(ct, cm, ce, Map("color" -> band, "origin" -> cfg.name)))
          case _ => None
        }
      }
      val baseName = cfg.nameCol.flatMap(str)
        .orElse(identNames.values.headOption).getOrElse("unknown")
      Star(cfg.namePrefix + baseName,
        coo, identNames, identIds, more, cfg.starClassCol.flatMap(str), lcs)
    }
  }
}

/** Per-archive config instances — the offline analogs of the reference's
  * connector subclasses.
  */
object ArchiveConfigs {
  /** ASAS (`asas.py:8-69`): single V-band LC, period/var_type/JHK `more`. */
  def asas(base: String): ArchiveConfig = ArchiveConfig(
    name = "asas", path = _ => base,
    raCol = "RAJ2000", decCol = "DEJ2000",
    identMap = Map("asas" -> "ASAS"),
    moreMap = Map("Per" -> "period", "Class" -> "var_type", "Jmag" -> "j_mag"),
    lcBands = Seq(("lc_time", "lc_mag", "lc_err", "V")))

  /** MACHO (`macho.py:7-40`): two bands (R/B) per star. */
  def macho(base: String): ArchiveConfig = ArchiveConfig(
    name = "macho", path = _ => base,
    raCol = "RAJ2000", decCol = "DEJ2000",
    identMap = Map("macho" -> "MACHO"),
    moreMap = Map("Class" -> "var_type"),
    lcBands = Seq(("r_time", "r_mag", "r_err", "R"), ("b_time", "b_mag", "b_err", "B")))

  /** OGLE-II (`ogleII.py`): ra stored in hours (×15 on read), target
    * fan-out lmc/smc/bul for coordinate queries.
    */
  def ogleII(base: String): ArchiveConfig = ArchiveConfig(
    name = "ogleII", path = _ => base,
    raCol = "ra", decCol = "decl",
    identMap = Map("ogle" -> "starcat"),
    moreMap = Map("pgood" -> "pgood", "i_median" -> "i_mag"),
    lcBands = Seq(("lc_time", "lc_mag", "lc_err", "I")),
    raScale = 15.0,
    targets = Seq("lmc", "smc", "bul"))

  /** CoRoT bright (`corot.py:18-113`): read-time ekvi-PAA downsample to
    * max_bins = 1000.
    */
  def corotBright(base: String): ArchiveConfig = ArchiveConfig(
    name = "corot", path = _ => base,
    raCol = "RAJ2000", decCol = "DEJ2000",
    identMap = Map("corot" -> "CoRoT"),
    moreMap = Map("Vmag" -> "v_mag"),
    lcBands = Seq(("lc_time", "lc_mag", "lc_err", "white")),
    errMagRatio = 1.0,
    maxBins = Some(1000))

  /** CoRoT faint (`corot.py:121-154`): same engine as bright with the
    * faint-star table's column maps and `ERR_MAG_RATIO = 16` — raw flux
    * errors are divided by 16 on read.
    */
  def corotFaint(base: String): ArchiveConfig = ArchiveConfig(
    name = "corotFaint", path = _ => base,
    raCol = "RAJ2000", decCol = "DEJ2000",
    identMap = Map("CorotFaint" -> "CoRoT"),
    moreMap = Map("SpT" -> "spectral_type", "Vmag" -> "v_mag", "Rmag" -> "r_mag",
      "Bmag" -> "b_mag", "Imag" -> "i_mag", "Gmean" -> "g_mag"),
    lcBands = Seq(("lc_time", "lc_mag", "lc_err", "R")),
    errMagRatio = 16.0,
    maxBins = Some(1000))

  /** Kepler (`kepler.py:25-205`): kic_num point lookup (→ kic_kepler_id
    * equality), ra/dec/delta cone → "a..b" box ranges on
    * kic_degree_ra/kic_dec, and generic "a..b" range values on any column;
    * star named "KIC_<name>"; 2MASS cross-ident.
    */
  def kepler(base: String): ArchiveConfig = ArchiveConfig(
    name = "kepler", path = _ => base,
    raCol = "kic_degree_ra", decCol = "kic_dec",
    identMap = Map("kepler" -> "_name", "2mass" -> "kic_2mass_id"),
    moreMap = Map("kic_zmag" -> "z_mag", "kic_umag" -> "u_mag",
      "kic_kmag" -> "k_mag", "kic_jmag" -> "j_mag", "kic_hmag" -> "h_mag",
      "kic_imag" -> "i_mag", "kic_gmag" -> "g_mag", "kic_teff" -> "teff"),
    lcBands = Seq(("lc_time", "lc_mag", "lc_err", "N/A")),
    queryAliases = Map("kic_num" -> "kic_kepler_id"),
    rangeValueSyntax = true,
    nameCol = Some("_name"),
    namePrefix = "KIC_")

  /** OGLE-III catalog of variable stars (`ogleIII.py:28-360`): ra stored in
    * hours (×15 on read), TYPES-validated star-type membership, mag/period
    * valmin/valmax ranges, and cross-ID idents — Macho "f.t.s" and OgleII
    * "FIELD_PART_ID" names are parsed into query identifiers, and the
    * catalog's own Field/StarID become the OgleIII query id.
    */
  def ogleIII(base: String): ArchiveConfig = ArchiveConfig(
    name = "ogleIII", path = _ => base,
    raCol = "RA", decCol = "Decl",
    identMap = Map("OgleIII" -> "ID", "Macho" -> "ID_MACHO", "Asas" -> "ID_ASAS",
      "OgleII" -> "ID_OGLE_II", "GCVS" -> "ID_GCVS"),
    moreMap = Map("I" -> "i_mag", "V" -> "v_mag", "Type" -> "type",
      "Subtype" -> "subtype", "P_1" -> "period", "A_1" -> "i_ampl",
      "Remarks" -> "remarks"),
    lcBands = Seq(("lc_time", "lc_mag", "lc_err", "I")),
    raScale = 15.0,
    queryAliases = Map("field" -> "Field", "starid" -> "StarID",
      "macho_id" -> "ID_MACHO", "asas_id" -> "ID_ASAS",
      "ogleii_id" -> "ID_OGLE_II", "gvcs_id" -> "ID_GCVS", "remarks" -> "Remarks"),
    rangeKeys = Map("mag_i" -> "I", "mag_v" -> "V", "p1" -> "P_1"),
    allowedTypes = Seq("Cep", "ACep", "LPV", "T2Cep", "RRLyr", "RCB", "DSCT", "DPV"),
    typesCol = "Type",
    nameCol = Some("ID"),
    starClassCol = Some("Type"),
    identIdCols = Map("OgleIII:field" -> "Field", "OgleIII:starid" -> "StarID"),
    parseIdentIds = true)
}
