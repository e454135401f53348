package graft.sources

import graft.model.{Coordinates, LightCurveData, Star}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Catalina / CRTS connector (`db_tier/connectors/catalina.py:12-200`):
  * the survey returns an HTML page embedding a JS object
  * `var dataSet0 = {label: ..., color: ..., data: [[mjd, mag, err], ...]}`;
  * the reference regex-extracts it, quotes the bare keys, evals, and builds
  * one star named by `label` with a CRST ident taken from the `ID=` URL
  * parameter (`catalina.py:107-148`).
  *
  * Offline stand-in: queries carry `path` pointing at a directory of raw
  * response files; each file is parsed per-partition with the same
  * extraction semantics (regex → key quoting → JSON). Query keys mirror
  * `QUERY_OPTIONS = [ra, dec, delta, nearest, id]`: `id` filters on the
  * CRST ident, the cone triple applies the exact spherical refine. Scale:
  * one task per response file via the `binaryFile` source, no driver loop.
  */
class CatalinaConnector extends StarsConnector {

  override protected def read(spark: SparkSession, q: QuerySpec): Dataset[Star] = {
    import spark.implicits._
    val path = q.get("path").getOrElse(
      throw new IllegalArgumentException("Catalina offline connector needs 'path'"))
    val stars = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.html")
      .load(path)
      .select("content")
      .as[Array[Byte]]
      .flatMap(bytes => CatalinaConnector.parseRawStar(
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)))
    val byId = q.get("id") match {
      case Some(id) => stars.filter(s => s.identNames.get("CRST").contains(id))
      case None     => stars
    }
    (q.double("ra"), q.double("dec"), q.double("delta")) match {
      case (Some(ra), Some(dec), Some(delta)) =>
        ConeSearch(byId.toDF(), ra, dec, delta / 3600.0,
          nearest = q.get("nearest").contains("true")).drop("dist_deg").as[Star]
      case _ => byId
    }
  }
}

object CatalinaConnector {
  private val DataSet = "(?s)var dataSet0 = \\{(.*?)\\}".r.unanchored
  private val StarId = "ID=(.*)&PLOT=plot".r.unanchored
  private val ToQuo = Seq("label", "color", "data") // catalina.py TO_QUO

  /** `parseRawStar` (`catalina.py:107-148`): extract dataSet0, quote bare
    * keys, JSON-parse, build the star. Returns none when the page carries
    * no data (the reference returns []).
    */
  def parseRawStar(rawHtml: String): Option[Star] = {
    val jsonBody = rawHtml match {
      case DataSet(body) => body
      case _             => return None
    }
    // quote only KEY positions (word boundary + lookahead for ':'), so a
    // key name occurring inside a string value is left alone
    val quoted = ToQuo.foldLeft(jsonBody)((s, k) =>
      s.replaceAll("\\b" + k + "\\b(?=\\s*:)", "\"" + k + "\""))
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // malformed mirrors (e.g. JS single-quoted strings jackson rejects)
    // yield no star, like the reference's no-data return — they must not
    // fail the whole fetch job
    val parsed = scala.util.Try(JsonMethods.parse("{" + quoted + "}"))
      .getOrElse(return None)
    val label = parsed \ "label" match {
      case JString(s) => s
      case _          => return None
    }
    val starId = rawHtml match {
      case StarId(id) => id
      case _          => label
    }
    val triples = (parsed \ "data") match {
      case JArray(rows) => rows.collect {
        case JArray(cells) if cells.length >= 2 =>
          def num(j: JValue): Double = j match {
            case JDouble(d)  => d
            case JInt(i)     => i.toDouble
            case JLong(l)    => l.toDouble
            case JDecimal(d) => d.toDouble
            case _           => Double.NaN
          }
          (num(cells(0)), num(cells(1)),
            if (cells.length > 2) num(cells(2)) else 0.0)
      }
      case _ => Nil
    }
    // coordinates are not part of dataSet0; CRTS pages for cone queries are
    // pre-filtered server-side — the optional RA/Dec comment some mirrors
    // embed is honored when present
    val coo = "<!--coo (\\S+) (\\S+)-->".r.findFirstMatchIn(rawHtml)
      .flatMap(m => for {
        ra <- m.group(1).toDoubleOption
        dec <- m.group(2).toDoubleOption
      } yield Coordinates(ra, dec))
    Some(Star(label, coo, Map("CRST" -> starId), Map.empty, Map.empty, None,
      Seq(LightCurveData(triples.map(_._1).toArray, triples.map(_._2).toArray,
        triples.map(_._3).toArray,
        Map("color" -> "V", "origin" -> "CRTS"))))) // LC_META, catalina.py:38-43
  }
}
