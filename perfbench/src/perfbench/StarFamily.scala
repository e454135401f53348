package perfbench

import java.io.File

import scala.util.Random

import graft.ml._
import graft.sources.{FileManagerConnector, QuerySpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's flow over a seeded `.dat` archive: a train op (labelled
  * sample fetch + grid search) and search ops (one `queryStars` batch of
  * `queries` × `perQuery` stars into fresh sinks).
  */
final class StarFamily(spark: SparkSession, work: File, seed: Long, stars: Int, points: Int,
                       queries: Int, perQuery: Int, searchesPerTrain: Int,
                       trainPerClass: Int) extends Family {
  import spark.implicits._

  val name = "star"
  val primary = "search"
  val secondary = "train"
  val cycle: Int = 1 + searchesPerTrain
  val archive: Gen.Archive = Gen.archive(new File(work, "archive"), seed, stars, points)
  def info: Map[String, Double] = archive.info
  private val index = archive.nameIndex
  private val rng = new Random(seed * 31 + 11)
  private val fm = new FileManagerConnector
  private var model: StarsFilterModel = _
  private var opNo = 0

  /** Lowest F1 of matched stars against the planted searched class that
    * the search must reach; measured F1 is 0.98-1.0 at these sizes.
    */
  val F1Floor = 0.6

  /** The q50 descriptor set plus one comparative SAX descriptor against
    * the three template stars.
    */
  private def descriptors(alphabet: Int): Seq[Descriptor] = Seq(
    new AbbeValueDescr(bins = Some(50)), new SkewnessDescr(), new KurtosisDescr(),
    new CurveDensityDescr(), new VariogramSlopeDescr(daysPerBin = 20.0),
    new HistShapeDescr(archive.templates, bins = 10, alphabetSize = alphabet))

  private def grid: Seq[TuneCombination] = Seq(5, 7).map(a =>
    TuneCombination(s"hist_sax_$a", descriptors(a), Seq(new LDADec(), new QDADec())))

  private def sample(searched: Boolean, n: Int): IndexedSeq[String] =
    rng.shuffle(archive.names.indices.filter(archive.searched(_) == searched).toVector)
      .take(n).map(archive.names)

  /** A search batch with a fixed searched share (7 in 20), so every op
    * does the same work whatever the seed.
    */
  private def pick(n: Int): IndexedSeq[String] = {
    val searched = math.round(n * 0.35).toInt
    rng.shuffle(sample(true, searched) ++ sample(false, n - searched))
  }

  private def fetchSample(s: Seq[String], o: Seq[String]): DataFrame = {
    def q(names: Seq[String], cls: String) = QuerySpec(Map("path" -> archive.dir,
      "files_to_load" -> names.mkString(";"), "star_class" -> cls))
    val df = fm.getStars(spark, Seq(q(s, "searched"), q(o, "other"))).toDF().cache()
    df.count()
    df
  }

  private def train(rec: Recorder): Unit = {
    val (s, o) = (sample(true, trainPerClass), sample(false, trainPerClass))
    rec.op("train") {
      val fetched = rec.layer("sources.train_fetch")(fetchSample(s, o))
      try {
        val est = new ParamsEstimator(fetched.filter(col("starClass") === "searched"),
          fetched.filter(col("starClass") === "other"), grid,
          parallelism = math.min(2, Runtime.getRuntime.availableProcessors()))
        rec.layer("ml.tune")(est.fit("precision"))._1
      } finally fetched.unpersist()
    } { best =>
      Check(best.model.models.nonEmpty, "grid search returned a model without deciders")
      model = best.model
    }
    if (rec.traced) learnOnly(s, o, rec)
  }

  /** `learnOnCoords` alone, on benchmark-cached coordinates. */
  private def learnOnly(s: Seq[String], o: Seq[String], rec: Recorder): Unit = {
    val fetched = fetchSample(s, o)
    val sf = new StarsFilter(model.descriptors, Seq(new LDADec(), new QDADec()))
    val coords = sf.spaceCoordinates(fetched).cache()
    coords.count()
    rec.layer("ml.learn")(sf.learnOnCoords(coords.filter(col("starClass") === "searched"),
      coords.filter(col("starClass") === "other")))
    coords.unpersist(); fetched.unpersist()
  }

  /** Search ops whose sinks still await their output check. */
  private val unchecked = scala.collection.mutable.ArrayBuffer.empty[(Seq[(String, Seq[String])], File)]

  private def search(rec: Recorder): Unit = {
    opNo += 1
    val names = pick(queries * perQuery)
    val asked = names.grouped(perQuery).zipWithIndex.map { case (ns, q) => (s"q$q", ns) }.toSeq
    val todo = asked.map { case (q, ns) =>
      (q, Map("path" -> archive.dir, "files_to_load" -> ns.mkString(";")))
    }
    val sinks = new File(work, s"sinks/$opNo")
    val m = model
    rec.op("search") {
      new StarsSearcher(m, "FileManager", new File(sinks, "matched").getPath,
        new File(sinks, "status").getPath).queryStars(spark, todo.toDF("query_id", "params"))
    } { _ =>
      unchecked += ((asked, sinks))
      rec.note("stars", names.length)
      rec.note("bytes_read", names.map(n => archive.bytes(index(n))).sum)
    }
    if (rec.traced) layers(todo, rec)
  }

  /** Output checks of the search ops so far, reading all their sinks in
    * one job per sink kind (a check per op would add two Spark jobs to
    * every op's loop turn). A failed check fails its op.
    */
  override def finish(rec: Recorder): Unit = if (unchecked.nonEmpty) {
    def byOp(kind: String, cols: String*): Map[String, Array[org.apache.spark.sql.Row]] = {
      val dirs = unchecked.map(u => new File(u._2, kind)).filter(_.exists()).map(_.getPath)
      if (dirs.isEmpty) Map.empty
      else spark.read.parquet(dirs.toSeq: _*).select(input_file_name() +: cols.map(col): _*)
        .collect().groupBy(r => StarFamily.opDir(r.getString(0)))
    }
    val status = byOp("status", "query_id", "starId", "passed")
    val matched = byOp("matched", "starId")
    for ((asked, sinks) <- unchecked) {
      try {
        val c = StarFamily.checkSearch(asked,
          status.getOrElse(sinks.getName, Array.empty).map(r => (r.getString(1), r.getString(2), r.getBoolean(3))).toSeq,
          matched.getOrElse(sinks.getName, Array.empty).map(_.getString(1)).toSet,
          id => archive.searched(index(id)))
        rec.note("tp", c._1); rec.note("fp", c._2); rec.note("fn", c._3)
        rec.note("bytes_written", Gen.bytesUnder(sinks))
      } catch { case e: CheckFailed => rec.failures += s"search ${sinks.getName}: ${e.getMessage}" }
      Gen.deleteTree(sinks)
    }
    unchecked.clear()
  }

  /** The search op's layers, each on the cached output of the one above. */
  private def layers(todo: Seq[(String, Map[String, String])], rec: Recorder): Unit = {
    rec.layer("sources.fetch")(Noop(fm.getStarsDatJoined(spark, todo)))
    val fetched = fm.getStarsDatJoined(spark, todo).cache()
    fetched.count()
    val sf = new StarsFilter(model.descriptors, Nil)
    rec.layer("ml.descriptors")(Noop(sf.spaceCoordinates(fetched)))
    val coords = sf.spaceCoordinates(fetched).cache()
    coords.count()
    rec.layer("ml.predict")(Noop(model.predictOnCoords(coords)))
    coords.unpersist(); fetched.unpersist()
  }

  def step(rec: Recorder, i: Int): Unit = if (i % cycle == 0) train(rec) else search(rec)

  def report(rec: Recorder): Report = {
    val tp = rec.total("tp")
    val f1 = 2 * tp / (2 * tp + rec.total("fp") + rec.total("fn"))
    Check(f1 >= F1Floor, f"match_f1 $f1%.3f is below its floor $F1Floor")
    val starsPerS = rec.total("stars") / rec.total("search")
    val e2e = Map("items_per_s" -> starsPerS, "output_quality" -> f1,
      "write_bytes_per_input_byte" -> rec.total("bytes_written") / rec.total("bytes_read"))
    val named = Map("stars_per_s" -> starsPerS, "train_p50_s" -> Stats.median(rec.times("train")),
      "match_f1" -> f1)
    def med(n: String) = { val s = rec.spansOf(n); if (s.isEmpty) 0.0 else Stats.median(s.map(_.wallS)) }
    val fetch = rec.spansOf("sources.fetch")
    val perStar = (queries * perQuery).toDouble
    val layers = if (fetch.isEmpty) Map.empty[String, Double] else Map(
      "sources.fetch_s" -> med("sources.fetch"),
      "sources.tasks_per_star" -> Stats.median(fetch.map(_.tasks / perStar)),
      "sources.bytes_per_star" -> rec.total("bytes_read") / rec.total("stars"),
      "sources.train_fetch_s" -> med("sources.train_fetch"),
      "ml.descriptors_s" -> med("ml.descriptors"),
      "ml.learn_s" -> med("ml.learn"),
      "ml.tune_s" -> med("ml.tune"),
      "ml.predict_s" -> med("ml.predict"),
      "ml.search_rest_s" -> (Stats.median(rec.spansOf("search").map(_.wallS)) -
        med("sources.fetch") - med("ml.descriptors") - med("ml.predict")))
    Report(e2e, named, layers)
  }
}

object StarFamily {
  /** The op number out of a sink file path `.../sinks/<op>/<kind>/part-...`. */
  def opDir(file: String): String = {
    val parts = file.split("/")
    parts(parts.lastIndexOf("sinks") + 1)
  }

  /** Output check of one search op. `asked` is each query's star list,
    * `status` the status sink's (query, star, passed) rows and `matched`
    * the matched sink's star ids. The status sink must hold exactly one
    * row per queried star, and every matched star must have passed.
    * Returns (true positives, false positives, false negatives) of the
    * passed flag against the planted class.
    */
  def checkSearch(asked: Seq[(String, Seq[String])], status: Seq[(String, String, Boolean)],
                  matched: Set[String], planted: String => Boolean): (Long, Long, Long) = {
    val want = asked.flatMap { case (q, ns) => ns.map(q -> _) }
    val keys = status.map(r => (r._1, r._2))
    Check(keys.length == want.length && keys.toSet == want.toSet,
      s"status sink holds ${keys.length} rows (${keys.toSet.size} distinct) for ${want.length} queried stars")
    val passed = status.filter(_._3).map(_._2).toSet
    Check(matched.subsetOf(passed),
      s"${(matched -- passed).size} matched stars did not pass the filter")
    val (tp, fp, fn) = (status.count(r => r._3 && planted(r._2)),
      status.count(r => r._3 && !planted(r._2)), status.count(r => !r._3 && planted(r._2)))
    (tp.toLong, fp.toLong, fn.toLong)
  }
}
