package graft.sources

import graft.functions.Kernels
import graft.model.{Coordinates, LightCurveData, Star}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Query spec (SURVEY §1.1): the reference's query dict
  * (`db_tier/base_query.py:33-35`) — equality, (lo, hi) ranges, and cone
  * parameters — as a typed map.
  */
final case class QuerySpec(params: Map[String, String]) {
  def get(key: String): Option[String] = params.get(key)
  def double(key: String): Option[Double] = params.get(key).flatMap(_.toDoubleOption)
  def range(key: String): Option[(Double, Double)] =
    for {
      lo <- double(s"${key}_min")
      hi <- double(s"${key}_max")
    } yield (lo, hi)
}

/** Connector contract (`db_tier/base_query.py:13-36`): queries → star
  * DataFrame. Offline connectors read local fixtures; the remote-archive
  * pushdown seam (DataSource V2 `SupportsPushDownFilters` emitting ADQL,
  * SURVEY §2.1 TapClient) is the designed extension point, not implemented
  * in the zero-egress build.
  */
trait StarsConnector extends Serializable {
  def getStars(spark: SparkSession, queries: Seq[QuerySpec]): Dataset[Star]
}

/** Registry (`db_tier/stars_provider.py:17-44` PackageReader replacement —
  * an explicit Scala map instead of reflection scanning).
  */
object StarsProvider {
  private var registry: Map[String, StarsConnector] = Map(
    "FileManager" -> new FileManagerConnector,
    "Catalina" -> new CatalinaConnector)

  def register(name: String, connector: StarsConnector): Unit =
    synchronized { registry += name -> connector }

  def getProvider(name: String): StarsConnector =
    registry.getOrElse(name,
      throw new IllegalArgumentException(
        s"Unresolved connector $name; available: ${registry.keys.mkString(", ")}"))
}

/** `FileManager` (`db_tier/connectors/file_manager.py:16-107`): loads stars
  * from a directory of `.dat` 3-column text light curves, FITS files, or a
  * parquet dataset of the star schema. Query keys: `path`, `suffix`
  * (dat|fits|parquet), `files_limit`, `star_class`, `db_ident`.
  *
  * Scale: no driver loop over files. `.dat` reads through the
  * [[graft.sources.v2.DatDataSource]] scan (name-pruned listing, whole
  * files packed into splits); FITS arrives via the `binaryFile` source.
  */
class FileManagerConnector extends StarsConnector {

  /** `_check_sample_name` (`cli/stars_handling.py:136-170`): a star-class of
    * "name:N" keeps N stars, "name%f" keeps an f-fraction — returned as the
    * cleaned class name plus the restriction.
    */
  def parseSampleName(starClass: String): (String, Option[Either[Int, Double]]) =
    if (starClass.contains("%")) {
      starClass.split("%") match {
        case Array(name, ratio) => (name, Some(Right(ratio.toDoubleOption.getOrElse(
          throw new IllegalArgumentException(s"Invalid float number after '%' $ratio")))))
        case _ => throw new IllegalArgumentException(
          s"There have to be just one '%' special mark in the star class name. Got $starClass")
      }
    } else if (starClass.contains(":")) {
      starClass.split(":") match {
        case Array(name, num) => (name, Some(Left(num.toIntOption.getOrElse(
          throw new IllegalArgumentException(s"Invalid integer after ':' $num")))))
        case _ => throw new IllegalArgumentException(
          s"There have to be just one ':' special mark in the star class name. Got $starClass")
      }
    } else (starClass, None)

  override def getStars(spark: SparkSession, queries: Seq[QuerySpec]): Dataset[Star] = {
    import spark.implicits._
    val dfs = queries.map { q0 =>
      // star_class may carry a ":N" / "%f" sample restriction
      val (q, restr) = q0.get("star_class").map(parseSampleName) match {
        case Some((clean, r)) => (QuerySpec(q0.params + ("star_class" -> clean)), r)
        case None             => (q0, None)
      }
      val path = q.get("path").getOrElse(
        throw new IllegalArgumentException("FileManager needs 'path'"))
      val suffix = q.get("suffix").getOrElse("dat")
      // explicit file selection (`file_manager.py:16-107`): `files_to_load`
      // is a ;-separated name list, `object_file_name` a single name —
      // matched on the FILE name stem (filters before parsing)
      val wanted: Option[Set[String]] =
        q.get("object_file_name").map(n => Set(strip(n)))
          .orElse(q.get("files_to_load").map(
            _.split(";").map(n => strip(n.trim)).toSet))
      val limit = q.get("files_limit").flatMap(_.toIntOption)
        .orElse(restr.flatMap(_.left.toOption))
      val frac = if (limit.isDefined) None else restr.flatMap(_.toOption)
      // .dat stars ARE files (starId = file stem), so "files_limit" / ":N" /
      // "%f" prune the driver-side LISTING — the same planning-time seam the
      // DSv2 source uses — instead of a global sort+limit job, and "%f"
      // needs no separate count() pass. FITS star ids come from headers
      // (stem != starId in general) so fits/parquet keep the generic path.
      val listPruned = (limit.isDefined || frac.isDefined) && suffix == "dat"
      val effWanted: Option[Set[String]] =
        if (listPruned) {
          val names = DatFile.list(spark, path).toSeq
            .map(f => DatFile.starName(f.getPath.getName))
            .filter(n => wanted.forall(_.contains(n)))
          val keep = limit match {
            case Some(n) => names.take(n)
            case None    => names.take((names.size * frac.get).toInt)
          }
          Some(keep.toSet)
        } else wanted
      val ds1 = suffix match {
        case "dat"     => readDat(spark, path, q, effWanted)
        case "fits"    => readFits(spark, path, q, effWanted)
        case "parquet" =>
          val base = spark.read.parquet(path).as[Star]
          effWanted match { // parquet rows have no file identity; match starId
            case Some(names) => base.filter(col("starId").isin(names.toSeq: _*)).as[Star]
            case None        => base
          }
        case other => throw new IllegalArgumentException(s"Unknown suffix $other")
      }
      // `load_lc=false` fetches star metadata without curves
      // (`base_query.py:13-36` getStars(load_lc)); curve-bearing sources
      // honor it by stripping the parsed curves
      val ds = if (q.get("load_lc").contains("false"))
        ds1.map(_.copy(lightCurves = Nil)) else ds1
      val limited =
        if (listPruned) ds // sample already consumed by the listing
        else limit match {
          case Some(n) => ds.orderBy("starId").limit(n) // deterministic "first N"
          case None => frac match {
            // fraction keeps exactly floor(n·f) stars (`_split_stars`,
            // `stars_handling.py:124-133`), deterministically by starId
            case Some(f) => ds.orderBy("starId").limit((ds.count() * f).toInt)
            case None    => ds
          }
        }
      limited
    }
    if (dfs.isEmpty) spark.emptyDataset[Star] else dfs.reduce(_ unionByName _)
  }

  private def strip(name: String): String =
    name.stripSuffix(".dat").stripSuffix(".fits").stripSuffix(".parquet")

  /** Systematic-search fetch over a `.dat` directory (SURVEY §2.10): ONE
    * DataSource V2 scan with the union of all queries' star names pushed
    * down as `starId IN (...)` — [[graft.sources.v2.DatDataSource]] prunes
    * the listing to the matching FILES at planning time — joined to the
    * broadcast (query_id, starId) pair table. Per-query `star_class` /
    * `db_ident` / `load_lc` / `files_limit` / `:N` / `%f` semantics apply
    * post-join; limits and fractions become per-query `row_number` windows
    * over the same starId ordering the per-query path sorts by, so results
    * are identical. One scan + one broadcast join: no N-way union plan, no
    * driver loop over queries, and `%f` needs no second counting job (the
    * per-query count is a window over the already-scanned rows).
    */
  def getStarsDatJoined(spark: SparkSession,
                        todo: Seq[(String, Map[String, String])]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(FileManagerConnector.datRoutable(todo), "not a dat-routable query batch")
    val path = todo.head._2("path")
    val pairRows = todo.flatMap { case (qid, params) =>
      val q = QuerySpec(params)
      val (cls, restr) = q.get("star_class") match {
        case Some(sc) => val (c, r) = parseSampleName(sc); (Some(c), r)
        case None     => (None, None)
      }
      // dedup like the per-query path's Set — "a;a;b" must not double
      // star rows through the join or inflate the `%f` window count
      val wanted: Seq[String] = q.get("object_file_name").map(n => Seq(strip(n)))
        .orElse(q.get("files_to_load").map(_.split(";").map(n => strip(n.trim)).toSeq))
        .getOrElse(Seq.empty)
        .distinct
      val limit = q.get("files_limit").flatMap(_.toIntOption)
        .orElse(restr.flatMap(_.left.toOption))
      // the per-query path gives `files_limit`/`:N` precedence over `%f`
      val frac = if (limit.isDefined) None else restr.flatMap(_.toOption)
      wanted.map(w => (qid, w, cls, q.get("db_ident"),
        q.get("load_lc").contains("false"), limit.map(_.toLong), frac))
    }
    val pairs = pairRows
      .toDF("query_id", "starId", "q_class", "q_db", "q_no_lc", "q_limit", "q_frac")
    val allWanted = pairRows.map(_._2).distinct
    val wOrd = Window.partitionBy(col("query_id")).orderBy(col("starId"))
    val starCols = graft.model.Star.schema.fieldNames.map(col).toSeq
    spark.read.format("graft.sources.v2.DatDataSource").load(path)
      .filter(col("starId").isin(allWanted: _*))
      .join(broadcast(pairs), Seq("starId"))
      .withColumn("starClass", col("q_class"))
      .withColumn("identNames",
        when(col("q_db").isNotNull, map(col("q_db"), col("starId")))
          .otherwise(col("identNames")))
      .withColumn("lightCurves",
        when(col("q_no_lc"), array().cast(graft.model.Star.schema("lightCurves").dataType))
          .otherwise(col("lightCurves")))
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy(col("query_id"))))
      .filter(
        (col("q_limit").isNull && col("q_frac").isNull) ||
          (col("q_limit").isNotNull && col("_rn") <= col("q_limit")) ||
          (col("q_frac").isNotNull &&
            col("_rn") <= (col("_cnt") * col("q_frac")).cast("int")))
      .select(starCols :+ col("query_id"): _*)
  }

  /** `.dat`: whitespace-separated `time mag err` with optional comment
    * lines; bad values scrubbed and rounded 5/3/3 by the cleaning kernel
    * (`file_manager.py:194-233` + `light_curve.py:196-204`); star name from
    * the file name (`parseFileName`, `file_manager.py:247-253`).
    *
    * Read through the [[graft.sources.v2.DatDataSource]] scan, with the
    * wanted names pushed down as `starId IN (...)` so only those files are
    * listed into splits and opened. Each file is parsed whole by one task
    * rather than via `textFile` + `groupBy(file)` + `collect_list`:
    * `collect_list` after a shuffle has no ordering contract, and a
    * splittable text file would interleave lines and silently scramble the
    * time series every order-sensitive kernel (SAX, Abbe, variogram)
    * depends on. Whole-file reads make line order structural, however
    * many files a split packs.
    */
  private def readDat(spark: SparkSession, path: String, q: QuerySpec,
                      wanted: Option[Set[String]]): Dataset[Star] = {
    import spark.implicits._
    val stars = spark.read.format("graft.sources.v2.DatDataSource").load(path)
    val selected = wanted match {
      case Some(names) => stars.filter(col("starId").isin(names.toSeq: _*))
      case None        => stars
    }
    selected
      .withColumn("starClass", lit(q.get("star_class").orNull).cast("string"))
      .withColumn("identNames", q.get("db_ident")
        .map(d => map(lit(d), col("starId"))).getOrElse(col("identNames")))
      .as[Star]
  }

  /** FITS via the `binaryFile` source + the pure [[Fits]] parser. */
  private def readFits(spark: SparkSession, path: String, q: QuerySpec,
                       wanted: Option[Set[String]]): Dataset[Star] = {
    import spark.implicits._
    val starClass = q.get("star_class")
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.fits")
      .load(path)
    val selected = wanted match {
      case Some(names) => files.filter( // prune before parsing
        element_at(split(col("path"), "/"), -1).isin(names.map(_ + ".fits").toSeq: _*))
      case None => files
    }
    selected
      .select("content")
      .as[Array[Byte]]
      .map { bytes =>
        val s = Fits.readStar(bytes)
        starClass.map(c => s.copy(starClass = Some(c))).getOrElse(s)
      }
  }
}

object FileManagerConnector {
  /** True when every query targets the SAME `.dat` directory with an
    * explicit star list (`object_file_name` / `files_to_load`) — the shape
    * [[FileManagerConnector.getStarsDatJoined]] serves with one pruned
    * DataSource V2 scan. Queries without explicit star lists are whole-dir
    * scans and keep the per-query path.
    */
  def datRoutable(todo: Seq[(String, Map[String, String])]): Boolean =
    todo.nonEmpty &&
      todo.map(_._2.get("path")).distinct.size == 1 &&
      todo.forall { case (_, p) =>
        p.contains("path") && p.getOrElse("suffix", "dat") == "dat" &&
          (p.contains("object_file_name") || p.contains("files_to_load"))
      }
}

/** Shared `.dat` file access (`file_manager.py:194-253`): the one listing
  * and the one text parser behind the DataSource V2
  * `graft.sources.v2.DatDataSource`, which the FileManager connector reads
  * through. Parsing: whitespace `time mag err` rows, comment/BAD_VALUES
  * scrub, 5/3/3 python-rounding via the cleaning kernel, star name from the
  * file name.
  */
private[sources] object DatFile {
  private val BadValues = Set("-99", "-99.0", "99", "N/A")

  def starName(file: String): String = file.split("/").last.stripSuffix(".dat")

  /** The `.dat` files directly under `dir`, sorted by name, through the
    * session's Hadoop `FileSystem` (so `file:`, `hdfs:`, `s3a:` paths
    * work). Names starting with `_` or `.` are hidden, as in Spark's file
    * index. A missing directory raises `FileNotFoundException`. Name order
    * is starId order, so a planning-time `take(n)` equals the per-row
    * `orderBy(starId).limit(n)`.
    */
  def list(spark: SparkSession, dir: String): Array[FileStatus] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && n.endsWith(".dat") && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getPath.getName)
  }

  /** A whole file as lossy UTF-8: malformed bytes become U+FFFD instead of
    * failing the read.
    */
  def read(file: String, conf: Configuration): String = {
    val p = new Path(file)
    val in = p.getFileSystem(conf).open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  def parse(file: String, content: String): Star = {
    val rows = content.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+"))
      .filter(_.length >= 2)
      .flatMap { a =>
        if (a.take(3).exists(BadValues)) None
        else for {
          t <- a(0).toDoubleOption
          m <- a(1).toDoubleOption
          e <- if (a.length > 2) a(2).toDoubleOption else Some(0.0)
        } yield (t, m, e)
      }.toArray
    val (t, m, e) = Kernels.cleanLc(rows.map(_._1), rows.map(_._2), rows.map(_._3))
    Star(starName(file), None, Map.empty, Map.empty, Map.empty, None,
      Seq(LightCurveData(t, m, e, Map.empty)))
  }
}

/** Cone search post-filter (`db_tier/base_query.py:38-83`): exact spherical
  * separation < delta (stars without coordinates pass, dist = ∞ in the
  * reference → here null distance passes); `nearest` → global top-1.
  */
object ConeSearch {
  def apply(stars: DataFrame, ra: Double, dec: Double, deltaDeg: Double,
            nearest: Boolean = false): DataFrame = {
    val d = lit(2.0) * asin(sqrt(
      pow(sin(radians(col("coo.dec") - dec) / 2), 2) +
        cos(radians(col("coo.dec"))) * cos(lit(math.toRadians(dec))) *
        pow(sin(radians(col("coo.ra") - ra) / 2), 2)))
    val withDist = stars.withColumn("dist_deg", degrees(d))
    val filtered = withDist.filter(col("dist_deg").isNull || col("dist_deg") < deltaDeg)
    if (nearest) filtered.orderBy(col("dist_deg").asc_nulls_last).limit(1)
    else filtered
  }

  /** Cone → box rewrite (`_getRanges`, `base_query.py:85-91`): the sargable
    * prefilter pushed to the source; faithfully does NOT scale ra by
    * cos(dec).
    */
  def boxFilter(stars: DataFrame, ra: Double, dec: Double, deltaDeg: Double): DataFrame =
    stars.filter(
      col("coo.ra").between(ra - deltaDeg, ra + deltaDeg) &&
        col("coo.dec").between(dec - deltaDeg, dec + deltaDeg))
}
