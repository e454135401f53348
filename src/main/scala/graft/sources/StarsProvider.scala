package graft.sources

import graft.functions.Kernels
import graft.model.{Coordinates, LightCurveData, Star}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
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
  * rows. A connector implements one query's [[read]]; the trait owns the
  * one per-query union behind [[getStars]] and [[fetch]]. A connector that
  * serves a whole batch with fewer scans overrides [[fetch]] and hands the
  * queries it cannot batch back to `super.fetch`. Offline connectors read
  * local fixtures; predicate pushdown is real where the layout allows it
  * ([[graft.sources.v2.DatDataSource]] prunes `.dat` files by star id,
  * [[ArchiveConnector]] pushes its predicates into the parquet scan).
  */
trait StarsConnector extends Serializable {

  /** One query's stars. */
  protected def read(spark: SparkSession, q: QuerySpec): Dataset[Star]

  def getStars(spark: SparkSession, queries: Seq[QuerySpec]): Dataset[Star] = {
    import spark.implicits._
    union(spark, queries.map("" -> _)).drop("query_id").as[Star]
  }

  /** The searcher's fetch: each `(query_id, query)`'s stars, as star
    * columns plus `query_id`. A star selected by several queries appears
    * once per query.
    */
  def fetch(spark: SparkSession, todo: Seq[(String, QuerySpec)]): DataFrame =
    union(spark, todo)

  /** Each query's [[read]], tagged with its id; an empty batch is an empty
    * fetch, not an `empty.reduce` crash.
    */
  private def union(spark: SparkSession, todo: Seq[(String, QuerySpec)]): DataFrame = {
    import spark.implicits._
    todo.map { case (id, q) => read(spark, q).toDF().withColumn("query_id", lit(id)) }
      .reduceOption(_ unionByName _)
      .getOrElse(spark.emptyDataset[Star].toDF().withColumn("query_id", lit(null).cast("string")))
  }
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
  * Scale: no driver loop over files. Every `.dat` read is [[scanDat]]:
  * one [[graft.sources.v2.DatDataSource]] scan per directory for a whole
  * query batch (name-pruned listing, whole files packed into splits);
  * FITS arrives via the `binaryFile` source.
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

  /** `.dat` queries are served by one [[scanDat]] per directory; FITS and
    * parquet queries keep the per-query union.
    */
  override def fetch(spark: SparkSession, todo: Seq[(String, QuerySpec)]): DataFrame = {
    val (dat, rest) = todo.partition { case (_, q) => suffix(q) == "dat" }
    val scans = dat.map(t => path(t._2)).distinct
      .map(dir => scanDat(spark, dir, dat.filter(t => path(t._2) == dir)))
    (scans ++ Option.when(rest.nonEmpty || dat.isEmpty)(super.fetch(spark, rest)))
      .reduce(_ unionByName _)
  }

  override protected def read(spark: SparkSession, q: QuerySpec): Dataset[Star] = {
    import spark.implicits._
    suffix(q) match {
      case "dat" => scanDat(spark, path(q), Seq("" -> q)).drop("query_id").as[Star]
      case sfx   => readFile(spark, q, sfx)
    }
  }

  /** A FITS or parquet query, sampled by a global sort + limit (FITS star
    * ids come from headers, so they are not known before the read).
    */
  private def readFile(spark: SparkSession, q0: QuerySpec, sfx: String): Dataset[Star] = {
    import spark.implicits._
    val sel = selection(q0)
    // star_class cleaned of its ":N" / "%f" sample mark
    val q = sel.starClass.fold(q0)(c => QuerySpec(q0.params + ("star_class" -> c)))
    val ds1 = sfx match {
      case "fits"    => readFits(spark, path(q), q, sel.wanted)
      case "parquet" =>
        val base = spark.read.parquet(path(q)).as[Star]
        sel.wanted match { // parquet rows have no file identity; match starId
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
    sel.limit match {
      case Some(n) => ds.orderBy("starId").limit(n) // deterministic "first N"
      case None => sel.frac match {
        // fraction keeps exactly floor(n·f) stars (`_split_stars`,
        // `stars_handling.py:124-133`), deterministically by starId
        case Some(f) => ds.orderBy("starId").limit((ds.count() * f).toInt)
        case None    => ds
      }
    }
  }

  private def path(q: QuerySpec): String = q.get("path").getOrElse(
    throw new IllegalArgumentException("FileManager needs 'path'"))

  private def suffix(q: QuerySpec): String = q.get("suffix").getOrElse("dat")

  /** A query's star selection: the `star_class` cleaned of its sample
    * mark, the explicit file selection (`files_to_load` is a ;-separated
    * name list, `object_file_name` a single name, both matched on the FILE
    * name stem — `file_manager.py:16-107`), and its first-N or fraction
    * sample (`files_limit` / ":N" take precedence over "%f").
    */
  private def selection(q: QuerySpec): DatSelection = {
    val (cls, restr) = q.get("star_class").map(parseSampleName) match {
      case Some((c, r)) => (Some(c), r)
      case None         => (None, None)
    }
    val limit = q.get("files_limit").flatMap(_.toIntOption)
      .orElse(restr.flatMap(_.left.toOption))
    DatSelection(cls,
      q.get("object_file_name").map(n => Set(strip(n)))
        .orElse(q.get("files_to_load").map(_.split(";").map(n => strip(n.trim)).toSet)),
      limit,
      if (limit.isDefined) None else restr.flatMap(_.toOption))
  }

  private def strip(name: String): String =
    name.stripSuffix(".dat").stripSuffix(".fits").stripSuffix(".parquet")

  /** The one `.dat` read (SURVEY §2.10), for a batch of queries on one
    * directory. Each sampled query's `files_limit` / `:N` / `%f` selection
    * runs on the driver against ONE listing of the directory, in starId
    * order ([[DatSelection.pick]]). ONE DataSource V2 scan reads the selected
    * stars, their names pushed down as `starId IN (...)` so
    * [[graft.sources.v2.DatDataSource]] plans only those FILES, and each
    * star row fans out to the queries that selected it through a
    * driver-built starId lookup, which also applies each query's
    * `star_class` / `db_ident` / `load_lc`. A whole-directory query (no
    * names, no sample) matches every row instead: the scan then plans every
    * file, and no id travels in the pushdown or in the lookup, which ships
    * in the closure to every task. No N-way union plan, no join and no
    * shuffle: the fetch is one narrow stage, and `%f` needs no counting job.
    *
    * Each file is parsed whole by one task rather than via `textFile` +
    * `groupBy(file)` + `collect_list`: `collect_list` after a shuffle has
    * no ordering contract, and a splittable text file would interleave
    * lines and silently scramble the time series every order-sensitive
    * kernel (SAX, Abbe, variogram) depends on.
    */
  private def scanDat(spark: SparkSession, dir: String,
                      todo: Seq[(String, QuerySpec)]): DataFrame = {
    lazy val listed = DatFile.starIds(spark, dir)
    // (query_id, star_class, db_ident, load_lc=false) per query, with the
    // ids it selects (None: every star); only a sample needs the listing
    val tagged = todo.map { case (qid, q) =>
      val sel = selection(q)
      val tag = (qid, sel.starClass.orNull, q.get("db_ident").orNull,
        q.get("load_lc").contains("false"))
      (if (sel.sampled) Some(sel.pick(listed)) else sel.wanted, tag)
    }
    val everyStar = tagged.collect { case (None, tag) => tag }
    val queriesOf = tagged.flatMap { case (ids, tag) => ids.toSeq.flatten.map(_ -> tag) }
      .groupMap(_._1)(_._2)
    val fanOut = udf((id: String) => queriesOf.getOrElse(id, Nil) ++ everyStar)
    val stars = spark.read.format("graft.sources.v2.DatDataSource").load(dir)
    val starCols = graft.model.Star.schema.fieldNames.map(col).toSeq
    (if (everyStar.isEmpty) stars.filter(col("starId").isin(queriesOf.keys.toSeq: _*)) else stars)
      .withColumn("_q", explode(fanOut(col("starId"))))
      .withColumn("starClass", col("_q._2"))
      .withColumn("identNames",
        when(col("_q._3").isNotNull, map(col("_q._3"), col("starId")))
          .otherwise(col("identNames")))
      .withColumn("lightCurves",
        when(col("_q._4"), array().cast(graft.model.Star.schema("lightCurves").dataType))
          .otherwise(col("lightCurves")))
      .select(starCols :+ col("_q._1").as("query_id"): _*)
  }

  /** The [[fetch]] of a `.dat` batch given as raw params. */
  def getStarsDatJoined(spark: SparkSession,
                        todo: Seq[(String, Map[String, String])]): DataFrame =
    fetch(spark, todo.map { case (qid, params) => qid -> QuerySpec(params) })

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

/** One FileManager query's star selection (see `FileManagerConnector.selection`). */
private final case class DatSelection(starClass: Option[String], wanted: Option[Set[String]],
                                      limit: Option[Int], frac: Option[Double]) {
  def sampled: Boolean = limit.isDefined || frac.isDefined

  /** The selected ids among `listed` (a directory's star ids, sorted): the
    * wanted names that exist (every listed star when none are named), in
    * starId order, cut to the first `limit` or to floor(n·frac) — what
    * `orderBy(starId).limit` keeps of the fetched rows.
    */
  def pick(listed: collection.SortedSet[String]): Seq[String] = {
    val names = wanted.fold(listed.toSeq)(_.filter(listed).toSeq.sorted)
    limit match {
      case Some(n) => names.take(n)
      case None    => frac.fold(names)(f => names.take((names.size * f).toInt))
    }
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

  /** The `.dat` files directly under `dir`, sorted by star id, through the
    * session's Hadoop `FileSystem` (so `file:`, `hdfs:`, `s3a:` paths
    * work). Names starting with `_` or `.` are hidden, as in Spark's file
    * index. A missing directory raises `FileNotFoundException`. Sorting by
    * star id, not by file name (`a-b.dat` < `a.dat` but `a` < `a-b`), makes
    * a planning-time `take(n)` equal the per-row `orderBy(starId).limit(n)`.
    */
  def list(spark: SparkSession, dir: String): Array[FileStatus] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      .filter { f =>
        val n = f.getPath.getName
        f.isFile && n.endsWith(".dat") && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(f => starName(f.getPath.getName))
  }

  /** The star ids of [[list]]. */
  def starIds(spark: SparkSession, dir: String): collection.immutable.SortedSet[String] =
    collection.immutable.TreeSet.from(list(spark, dir).iterator.map(f => starName(f.getPath.getName)))

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
    val withDist = stars.withColumn("dist_deg", distance(lit(ra), lit(dec)))
    val filtered = withDist.filter(col("dist_deg").isNull || col("dist_deg") < deltaDeg)
    if (nearest) filtered.orderBy(col("dist_deg").asc_nulls_last).limit(1)
    else filtered
  }

  /** Exact spherical separation in degrees of each star's `coo` from
    * (ra, dec); null for a star without coordinates.
    */
  def distance(ra: Column, dec: Column): Column =
    degrees(lit(2.0) * asin(sqrt(
      pow(sin(radians(col("coo.dec") - dec) / 2), 2) +
        cos(radians(col("coo.dec"))) * cos(radians(dec)) *
        pow(sin(radians(col("coo.ra") - ra) / 2), 2))))

  /** Cone → box rewrite (`_getRanges`, `base_query.py:85-91`): the sargable
    * prefilter pushed to the source; faithfully does NOT scale ra by
    * cos(dec).
    */
  def boxFilter(stars: DataFrame, ra: Double, dec: Double, deltaDeg: Double): DataFrame =
    stars.filter(
      col("coo.ra").between(ra - deltaDeg, ra + deltaDeg) &&
        col("coo.dec").between(dec - deltaDeg, dec + deltaDeg))
}
