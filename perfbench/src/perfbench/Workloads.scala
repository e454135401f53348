package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The workloads, their sizes, and the run protocol around them. */
object Workloads {
  val names: Seq[String] = Seq("star-search", "vector-serve")

  /** Sizes as measured on a 4-core box (see README). Spark's fixed cost per
    * job sets the floor: a search op over 20 stars takes about 1.5 s there
    * and a probe batch of 50 about 0.8 s, so the window's 11 primary ops
    * fit in 15-25 s.
    */
  def star(spark: SparkSession, work: File, seed: Long): StarFamily =
    new StarFamily(spark, new File(work, "star"), seed, stars = 400, points = 300,
      queries = 2, perQuery = 10, searchesPerTrain = 11, trainPerClass = 20)

  /** Appends add a fortieth of the base each and stay below the re-train
    * trigger (+25%) in untraced runs. The traced run's first append adds a
    * quarter, so the re-train fires there, at the same point every time.
    */
  def vector(spark: SparkSession, work: File, seed: Long, retrain: Boolean): VectorFamily =
    new VectorFamily(spark, new File(work, "vector"), seed, baseSize = 4000,
      firstDelta = if (retrain) 1000 else 100, deltaSize = 100, probeBatch = 50, probesPerAppend = 5)

  /** The corpus ops cost seconds each (dozens of Spark jobs whatever the
    * input size), too slow for a workload of their own within the run
    * budget; the traced vector-serve run times them for their layers.
    */
  def corpus(spark: SparkSession, work: File, seed: Long): CorpusFamily =
    new CorpusFamily(spark, new File(work, "corpus"), seed, docs = 200)

  /** Warm-up: one secondary op and two primary ops, the first of them cold. */
  val WarmPrimary = 2

  val E2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s", "items_per_s" -> "items/s",
    "secondary_p50_s" -> "s", "output_quality" -> "ratio",
    "write_bytes_per_input_byte" -> "ratio")

  val LayerUnits: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.planning_s" -> "s",
    "spark.tasks" -> "count", "spark.task_wait_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.busy_ratio" -> "ratio",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s", "spark.failed_tasks" -> "count",
    "sources.fetch_s" -> "s", "sources.tasks_per_star" -> "ratio",
    "sources.bytes_per_star" -> "bytes", "sources.train_fetch_s" -> "s",
    "ml.descriptors_s" -> "s", "ml.learn_s" -> "s", "ml.tune_s" -> "s",
    "ml.predict_s" -> "s", "ml.search_rest_s" -> "s",
    "functions.clean_ns_per_point" -> "ns", "functions.abbe_ns_per_point" -> "ns",
    "functions.variogram_ns_per_point" -> "ns", "functions.moments_ns_per_point" -> "ns",
    "functions.sax_ns_per_point" -> "ns", "functions.minhash_ns_per_token" -> "ns",
    "functions.simhash_ns_per_token" -> "ns", "functions.dot_ns_per_dim" -> "ns",
    "operators.CorpusOps.ingest_s" -> "s", "CorpusBuild.curate_s" -> "s",
    "CorpusBuild.write_s" -> "s", "GraftCheckpoint.barriers" -> "count",
    "GraftCheckpoint.barrier_wall_s" -> "s",
    "operators.Dedup.pairs_s" -> "s", "operators.Dedup.cc_s" -> "s",
    "operators.Dedup.cc_rounds" -> "count", "operators.Dedup.planted_pair_recall" -> "ratio",
    "operators.Similarity.build_s" -> "s", "operators.Similarity.load_s" -> "s", "operators.Similarity.serve_s" -> "s",
    "operators.Similarity.candidates_per_probe" -> "count",
    "operators.Similarity.segments" -> "count", "operators.Similarity.retrains" -> "count",
    "operators.Similarity.index_bytes_per_vector" -> "bytes",
    "jvm.peak_rss_mb" -> "MB", "trace.overhead_s" -> "s")

  private def say(line: String): Unit = println(s"perfbench: $line")

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private def sinceStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Per primary op, the Spark counters of its traced spans (mean). */
  private def sparkLayers(spans: Seq[Span]): Map[String, Double] = {
    val cores = Runtime.getRuntime.availableProcessors()
    def mean(f: Span => Double) = spans.map(f).sum / spans.length
    Map(
      "spark.jobs" -> mean(_.jobs.toDouble), "spark.stages" -> mean(_.stages.toDouble),
      "spark.planning_s" -> mean(_.planningS), "spark.tasks" -> mean(_.tasks.toDouble),
      "spark.task_wait_s" -> mean(_.taskWaitS), "spark.executor_run_s" -> mean(_.runS),
      "spark.executor_cpu_s" -> mean(_.cpuS),
      "spark.busy_ratio" -> mean(s => s.runS / (s.wallS * cores)),
      "spark.shuffle_read_bytes" -> mean(_.shuffleReadBytes.toDouble),
      "spark.shuffle_write_bytes" -> mean(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> mean(_.spillBytes.toDouble), "spark.gc_s" -> mean(_.gcS),
      "spark.failed_tasks" -> mean(_.failedTasks.toDouble))
  }

  private def warm(fam: Family, tracer: Tracer): Unit = {
    val r = new Recorder(tracer, strict = true)
    fam.start(r)
    for (i <- 0 to WarmPrimary) fam.step(r, i)
    fam.finish(r)
    if (r.failures.nonEmpty) throw new CheckFailed(r.failures.mkString("; "))
  }

  private def named(values: Map[String, Double]): String =
    values.toSeq.sorted.map { case (k, v) => f"$k=$v%.4g" }.mkString(" ")

  def run(spark: SparkSession, args: Main.Args): Int = {
    say(f"session ready at $sinceStart%.1f s")
    val work = new File(args.scratch, "work")
    val g0 = System.nanoTime()
    val leader: Family = args.workload match {
      case "star-search" => star(spark, work, args.seed)
      case "vector-serve" => vector(spark, work, args.seed, retrain = args.trace)
    }
    val genS = (System.nanoTime() - g0) / 1e9
    say(f"input generation $genS%.3f s (not part of setup_s): ${named(leader.info)}")

    val tracer = new Tracer(spark)
    warm(leader, tracer)
    val setupS = sinceStart - genS

    val rec = new Recorder(tracer)
    val windowEnd = System.nanoTime() + args.seconds * 1000000000L
    var i = 0
    // at least 11 primary samples so op_tail_s exists, whatever the box speed
    while (System.nanoTime() < windowEnd || rec.times(leader.primary).length < 11) {
      if (args.trace) {
        // steps alternate traced / untraced: the difference of the two
        // primary medians is the tracing overhead
        rec.traced = i % 2 == 0
        if (rec.traced) tracer.enable() else tracer.disable()
      }
      leader.step(rec, i)
      i += 1
    }
    tracer.disable()
    rec.traced = false
    say(f"window of $i ops ended at $sinceStart%.1f s")
    leader.finish(rec)

    // traced vector-serve runs also time the corpus ops for their layers:
    // one cold cycle, then one traced
    val extra = if (args.trace && args.workload == "vector-serve") {
      val c = corpus(spark, work, args.seed)
      say(s"corpus input: ${named(c.info)}")
      val r = new Recorder(tracer)
      for (j <- 0 until 2 * c.cycle) {
        if (j == c.cycle) { tracer.enable(); r.traced = true }
        c.step(r, j)
      }
      tracer.disable()
      c.finish(r)
      Seq(c -> r)
    } else Nil

    val all = (leader -> rec) +: extra
    val failures = all.flatMap(_._2.failures)
    failures.foreach(f => say(s"FAILED $f"))
    val reportErrors = scala.collection.mutable.ArrayBuffer.empty[String]
    val reports = all.flatMap { case (f, r) =>
      try Some(f.report(r)) catch {
        case e: Exception => reportErrors += s"${f.name}: ${e.getMessage}"; None
      }
    }
    reportErrors.foreach(e => say(s"FAILED $e"))

    val primary = rec.times(leader.primary)
    val tail = Stats.tail(primary)
    val attempted = all.map(_._2.attempted).sum
    tail.foreach { case (p, _) => say(s"op_tail_s is p$p of ${primary.length} ${leader.primary} ops") }
    say(s"error_rate ${failures.length}/$attempted ops failed")
    say(f"peak_rss_mb ${peakRssMb()}%.1f")
    reports.foreach(r => say(s"${named(r.named)}"))

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) {
        val values = reports.headOption.map(_.e2e).getOrElse(Map.empty) ++ Map(
          "setup_s" -> setupS,
          "op_p50_s" -> (if (primary.isEmpty) Double.NaN else Stats.median(primary)),
          "op_tail_s" -> tail.map(_._2).getOrElse(Double.NaN),
          "secondary_p50_s" -> (if (rec.times(leader.secondary).isEmpty) Double.NaN
            else Stats.median(rec.times(leader.secondary))))
        E2eUnits.map { case (n, u) => (n, values.getOrElse(n, Double.NaN), u) }
      } else {
        val primarySpans = rec.spansOf(leader.primary)
        val untraced = rec.times(leader.primary + ".untraced")
        val values = reports.flatMap(_.layers).toMap ++
          (if (primarySpans.isEmpty) Map.empty else sparkLayers(primarySpans)) ++
          Micro.run(args.seed) ++
          Map("jvm.peak_rss_mb" -> peakRssMb(), "trace.overhead_s" -> (if (primarySpans.isEmpty || untraced.isEmpty) Double.NaN
            else Stats.median(primarySpans.map(_.wallS)) - Stats.median(untraced)))
        // layers of families this workload does not run read zero
        LayerUnits.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
      }
    val missing = metrics.filter(m => m._2.isNaN || m._2.isInfinite).map(_._1)
    missing.foreach(n => say(s"FAILED metric $n has no finite value"))
    val correct = failures.isEmpty && reportErrors.isEmpty && missing.isEmpty
    metrics.foreach { case (n, v, u) => say(f"$n%-44s $v%.6g $u") }
    say(f"done at $sinceStart%.1f s")
    println(Json.result(correct, attempted, failures.length.toLong + reportErrors.length,
      metrics.map { case (n, v, u) => (n, if (v.isNaN || v.isInfinite) 0.0 else v, u) }))
    if (correct) 0 else 1
  }
}

object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s"${str(n)}: {\"value\": ${v.toString}, \"unit\": ${str(u)}}" }
      .mkString(s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, "failed": $failed, "metrics": {""", ", ", "}}")
}
