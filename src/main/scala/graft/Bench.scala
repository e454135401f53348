package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, forcing full materialization through the noop sink
  * (a bare count() would let Catalyst prune the projected columns and
  * under-measure scan-heavy queries). Prints ONE JSON line.
  *
  * Measurement protocol: after an untimed warm-up pass (codegen + JIT at
  * sf0.001), each query is timed SPARK_GRAFT_REPEAT (default 3) times and
  * the MEDIAN is the reported number — single cold samples on the heavy
  * queries have shown ±3-7 s run-to-run swings that medians absorb.
  * Samples are INTERLEAVED round-robin (q1..qN, q1..qN, …), not
  * back-to-back: a transient slow phase (GC, background load, late JIT)
  * then taxes one sample of many queries instead of every sample of one,
  * so per-query medians stay comparable across runs; round 1 doubles as
  * the at-scale warmup for the rest. The JSON carries per-query
  * min/med/max under "spread" so the driver artifact records the
  * run-to-run noise alongside the headline, and measured ANN recall@3
  * (q49 LSH, q57 IVF, q90 SQ8 vs the exact q48 baseline) under "recall"
  * so recall/latency trade-offs are tracked next to the timings that
  * justify them.
  */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private val blackhole = new java.util.concurrent.atomic.AtomicLong

  /** Fixed-work CPU probe: identical arithmetic every run, so its seconds
    * measure the BOX (co-tenant steal, frequency scaling), not the code.
    * Emitted next to the query timings to let run-to-run comparisons
    * attribute a global drift to the environment — measured drift on this
    * host reaches ±20% over minutes, which no per-query protocol can
    * average away.
    */
  private def spinSecs(threads: Int, itersPerThread: Long): Double = {
    val t0 = System.nanoTime()
    val ts = (1 to threads).map { k =>
      new Thread(() => {
        var s = 0.0
        var i = 0L
        while (i < itersPerThread) { s += math.sqrt(((i ^ k) % 1048576).toDouble); i += 1 }
        blackhole.addAndGet(java.lang.Double.doubleToLongBits(s))
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Quiet-box reference spins (SCALE.md envelope: the best calibs
    * observed across rounds on an otherwise-idle box), pinned PER
    * POSITION because the two probes run in different JIT regimes: the
    * start spin is cold (3.45-3.68 s quiet across the r14 runs), the end
    * spin is warm (2.89-2.97 s quiet) — r14's single mixed ref compared
    * a warm observation against a cold reference, so the normalizer
    * clamped to a no-op on its first real test. `value_normalized` is a
    * CPU-STEAL ESTIMATE ONLY (clamped one-sided so it can never inflate
    * the headline): a spin cannot see I/O- or memory-bandwidth-shaped
    * interference — r14's stalled driver artifact read QUIET spins under
    * 5-7x query-median corruption. The steal-robust HEADLINE is
    * `total_min_envelope` (Σ per-query min): with interleaved repeats, a
    * transient that corrupts a median leaves each query's min intact
    * (the r14 stalled artifact's Σmin = 176.4 s vs 162.0 s clean vs
    * 263.3 s raw — within 9% where the raw total read +62%).
    */
  val Spin1QuietRef = 3.24
  val Spin32QuietRefStart = 3.45
  val Spin32QuietRefEnd = 2.89

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus, cpus)

    // start-of-run spins: paired with the end-of-run spins below they
    // bracket the timed pass, so sustained mid-run steal (which a single
    // start probe cannot see — the r13 lesson) moves at least one of them
    val calib1Start = spinSecs(1, 400000000L)
    val calib32Start = spinSecs(32, 400000000L)
    System.err.println(f"[bench] calib(start): spin1=$calib1Start%.2fs spin32=$calib32Start%.2fs")

    // one warm-up pass over the table files (cache file listings + footers)
    Tables.names.foreach { n =>
      try Tables.load(spark, sfDir, n).foreach(_ => ()) catch { case _: Throwable => }
    }
    // one-time JVM init that otherwise lands on the first ML query:
    // netlib BLAS resolution + MLlib codegen paths
    try {
      import org.apache.spark.ml.linalg.Vectors
      import spark.implicits._
      val tiny = Seq((Vectors.dense(0.0, 1.0), 0.0), (Vectors.dense(1.0, 0.0), 1.0),
        (Vectors.dense(0.1, 0.9), 0.0), (Vectors.dense(0.9, 0.1), 1.0))
        .toDF("features", "label")
      new org.apache.spark.ml.classification.LogisticRegression().setMaxIter(2)
        .fit(tiny).transform(tiny).foreach(_ => ())
    } catch { case _: Throwable => }

    // Dev conveniences: SPARK_GRAFT_ONLY=q51 (comma-separated prefixes)
    // restricts the run; REPEAT=n times each query n times (median wins).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeat = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.exists(kv._1.startsWith)))

    // per-query warm-up at the smallest scale factor: each query's first
    // execution pays whole-stage codegen compilation + JIT (2-10 s of
    // one-time JVM cost on the heavier ML queries, independent of data
    // size). Running the identical plans once over sf0.001 compiles and
    // JITs them for pennies, so the timed pass below measures steady-state
    // throughput at the target SF — the number that actually predicts
    // cluster behavior. SPARK_GRAFT_NOWARM=1 restores cold timing.
    val warmGroup = "graft-bench-warmup"
    var warmWedged = false
    val warmDir = "/root/testdata/sf0.001"
    if (!sys.env.contains("SPARK_GRAFT_NOWARM") && sfDir != warmDir
        && new java.io.File(warmDir).isDirectory) {
      val w0 = System.nanoTime()
      // warmup queries are independent (no temp views; expression
      // registration is existence-guarded) — run them concurrently so the
      // untimed pass costs wall-clock ≈ the slowest query, not the sum
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        // every warmup job lands in one job group, so a timeout can cancel
        // the GROUP: shutdownNow alone only interrupts threads — a thread
        // past its interrupt check could still submit a fresh job AFTER a
        // one-shot cancelAllJobs and contend the timed pass. The timeout
        // path below cancels the group, awaits pool death (no submitter
        // survives), then sweeps the group once more for stragglers.
        // bounded wait: a wedged warmup query must degrade to cold timing,
        // not hang the benchmark
        try Await.result(Future.sequence(selected.map { case (name, fn) =>
          Future {
            spark.sparkContext.setJobGroup(warmGroup, s"warmup $name",
              interruptOnCancel = true)
            try CacheScope.run {
              fn(spark, warmDir).write.format("noop").mode("overwrite").save()
            }
            catch { case e: Throwable =>
              System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
            } finally spark.sparkContext.clearJobGroup()
          }
        }), 300.seconds)
        catch { case _: java.util.concurrent.TimeoutException =>
          // kill the wedged warmup work, or it runs CONCURRENTLY with the
          // timed pass and contends every measurement: interrupt the
          // threads, cancel the group, then WAIT for the pool to die —
          // only then is it impossible for a straggler to submit a new job
          System.err.println("[bench] warmup timed out; cancelling and proceeding cold")
          pool.shutdownNow()
          spark.sparkContext.cancelJobGroup(warmGroup)
          if (!pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)) {
            System.err.println("[bench] warmup pool failed to terminate in 60s")
            // a thread wedged in non-interruptible I/O may yet submit a late
            // warmup job — the timed loop keeps sweeping the group
            warmWedged = true
          }
          // a thread past its interrupt check may have submitted between
          // the first cancel and its death — sweep once more now that no
          // submitter remains
          spark.sparkContext.cancelJobGroup(warmGroup)
        }
      } finally pool.shutdown()
      spark.catalog.clearCache()
      System.err.println(f"[bench] warmup pass: ${(System.nanoTime() - w0) / 1e9}%.2fs")
    }

    // timed pass: `repeat` post-warmup samples per query, INTERLEAVED
    // round-robin, median reported. Runs under its OWN job group so a
    // surviving warmup straggler can be cancelled by group without
    // touching the measurement jobs.
    val telemetry = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]
    Telemetry.drain() // discard warmup-pass events
    val samples: Seq[Seq[(String, Double)]] = (1 to repeat).map { round =>
      selected.map { case (name, fn) =>
        // if the warmup pool never died, one of its threads may still
        // submit a late job — sweep its group before every sample
        if (warmWedged) spark.sparkContext.cancelJobGroup(warmGroup)
        spark.sparkContext.setJobGroup("graft-bench-timed", s"$name round $round")
        val t0 = System.nanoTime()
        val ok =
          try {
            CacheScope.run {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            }
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val secs = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.clearJobGroup()
        // queries cache intermediates for their own multi-use plans;
        // CacheScope frees the scoped ones — clearCache is the catch-all
        // so blocks never accumulate across the 60+ queries and repeats
        spark.catalog.clearCache()
        val evs = Telemetry.drain()
        if (evs.nonEmpty) telemetry(s"$name r$round") = evs
        System.err.println(f"[bench] $name round $round: $secs%.2fs")
        name -> (if (ok) secs else -1.0)
      }
    }
    val timings: Seq[(String, Seq[Double])] = selected.map { case (name, _) =>
      name -> samples.flatMap(_.collect { case (n, s) if n == name => s })
    }

    // Stage breakdowns (untimed, after the timed pass): per-stage
    // secs+rows telemetry so a moved median on the probed queries is
    // attributable to a specific stage in the SAME artifact — q66 (the
    // composite dedup pipeline) and q45 (the heaviest standalone query,
    // prefix-join dominated). Skippable via NOSTAGES.
    if (!sys.env.contains("SPARK_GRAFT_NOSTAGES")) {
      val probes: Seq[(String, (SparkSession, String) => Unit)] = Seq(
        "q66" -> (operators.Dedup.q66StageProbe _),
        "q45" -> (operators.Dedup.q45StageProbe _),
        "q104" -> (CorpusBuild.q104StageProbe _))
      probes.foreach { case (q, probe) =>
        if (selected.exists(_._1.startsWith(q))) {
          try {
            probe(spark, sfDir)
            spark.catalog.clearCache()
            val evs = Telemetry.drain()
            if (evs.nonEmpty) telemetry(s"$q stageprobe") = evs
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $q stage probe failed: ${e.getMessage}")
            // a probe that died mid-way left partial events queued; file
            // them under ITS key, or the next drain misattributes them
            val evs = Telemetry.drain()
            if (evs.nonEmpty) telemetry(s"$q stageprobe (failed)") = evs
          }
        }
      }
    }

    // One end-to-end corpus-build MATERIALIZATION per round (the q104
    // artifact producer: split-partitioned parquet + manifest) so the
    // wall number a user actually pays is tracked per round, not
    // anecdotal. Timed separately from the query medians (it writes
    // real output); manifest counts ride the telemetry so a moved wall
    // is readable against WHAT was built. Skippable via NOMATERIALIZE.
    if (!sys.env.contains("SPARK_GRAFT_NOMATERIALIZE")
        && selected.exists(_._1.startsWith("q104"))) {
      val outDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bench_corpus").getPath
      try {
        val t0 = System.nanoTime()
        val manifest = CorpusBuild.materialize(spark, sfDir, outDir)
        val secs = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        Telemetry.drain() // stage events already covered by the probe
        val m = manifest.toSeq.sortBy(_._1)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        telemetry("q104 materialize") = Seq(f"secs=$secs%.2f $m")
        System.err.println(f"[bench] q104 materialize: $secs%.2fs ($m)")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] q104 materialize failed: ${e.getMessage}")
      } finally {
        // transient artifact — delete so bench rounds don't accumulate
        // (null-safe: listFiles returns null on a vanished dir, and an NPE
        // here would mask the real materialize failure from the try block)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(outDir))
      }
    }

    // ANN recall@3 vs the exact baseline, measured at THIS sf and the
    // current dials (untimed; small collects — probes × 3 rows)
    val recall: Seq[(String, Double)] = {
      def top3(q: String): Option[Map[Long, Set[Long]]] =
        if (!selected.exists(_._1 == q)) None
        else try {
          val rows = CacheScope.run {
            SparkEntry.queries(q)(spark, sfDir)
              .filter(col("rn") <= 3).select("p_id", "c_id")
              .collect().map(r => (r.getLong(0), r.getLong(1)))
          }
          spark.catalog.clearCache()
          Some(rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] recall probe $q failed: ${e.getMessage}")
          None
        }
      top3("q48_cosine_knn") match {
        case None                      => Nil
        case Some(e) if e.isEmpty      => Nil // no probes at this sf → no recall line
        case Some(exact) =>
          Seq("q49_ann_lsh", "q57_ann_ivf", "q90_ann_sq8", "q92_ann_pq",
              "q94_pq_refine", "q95_ivfpq", "q179_pq_scaled",
              "q181_ivfpq_residual", "q183_ivfpq_index").flatMap { q =>
            top3(q).map { approx =>
              val probes = exact.keySet
              val r = probes.toSeq.map { p =>
                (exact(p) & approx.getOrElse(p, Set.empty)).size.toDouble / exact(p).size
              }.sum / probes.size
              System.err.println(f"[bench] $q recall@3 = $r%.3f")
              q -> r
            }
          }
      }
    }

    // the published recall is a GATED number: every measured value must
    // clear its per-sf floor (operators.Similarity.RecallFloors — the same
    // table AnnRecallSpec enforces at fixture sf). A violation is recorded
    // LOUDLY in the artifact (recall_violations) and on stderr; the exit
    // code stays 0 on purpose — the driver parses this process's stdout
    // for the round artifact, and the HARD failure lives in
    // BenchRecallFloorSpec, which recomputes the same numbers at the
    // bench sf inside `sbt test`.
    val recallViolations = recall.flatMap { case (q, r) =>
      val floor = operators.Similarity.recallFloor(q, sfDir)
      if (r < floor) {
        System.err.println(f"[bench] RECALL FLOOR VIOLATION: $q = $r%.3f < floor $floor%.2f at $sfDir")
        Some(f"$q=$r%.3f<$floor%.2f")
      } else None
    }

    val meds = timings.map { case (name, ts) =>
      val good = ts.filter(_ >= 0)
      name -> (if (good.isEmpty) -1.0 else median(good))
    }
    // d3: locale-stable decimals — the f-interpolator formats with the JVM
    // default locale, and a comma-decimal locale would corrupt the JSON
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = meds.map { case (k, v) => "\"" + k + "\":" + d3(v) }
      .mkString("{", ",", "}")
    val spread = timings.map { case (name, ts) =>
      val good = ts.filter(_ >= 0)
      if (good.isEmpty) "\"" + name + "\":{\"min\":-1,\"med\":-1,\"max\":-1}"
      else "\"" + name + "\":{\"min\":" + d3(good.min) +
        ",\"med\":" + d3(median(good)) + ",\"max\":" + d3(good.max) + "}"
    }.mkString("{", ",", "}")
    val recallJson = recall.map { case (k, v) => "\"" + k + "\":" + d3(v) }
      .mkString("{", ",", "}")
    val calib1 = spinSecs(1, 400000000L)
    val calib32 = spinSecs(32, 400000000L)
    System.err.println(f"[bench] calib(end): spin1=$calib1%.2fs spin32=$calib32%.2fs")
    // ASCII only: the forked JVM's stdout encoding mangles non-ASCII and
    // this line is the driver-parsed artifact
    val notes = s"medians of $repeat interleaved samples per query; run-to-run drift " +
      "on this host is box-level (co-tenant steal) -- compare the calib spins across " +
      "runs before reading a per-query delta as a regression. total_min_envelope = " +
      "sum of per-query MIN samples: the steal-robust headline (a transient that " +
      "corrupts a median leaves the min intact). value_normalized is a CPU-steal " +
      "estimate only (per-position quiet refs, one-sided clamp); a spin cannot see " +
      "I/O- or memory-shaped interference, so prefer the min envelope."
    val total = meds.collect { case (_, v) if v >= 0 => v }.sum
    // steal-robust headline: the sum of per-query minima. The repeat
    // samples are interleaved round-robin, so a stall window taxes one
    // sample of many queries — each query's OTHER samples carry its
    // clean min (r14's stalled driver artifact: Σmin within 9% of the
    // clean-box run while the median total read +62%).
    val totalMinEnvelope = timings.map { case (_, ts) =>
      val good = ts.filter(_ >= 0)
      if (good.isEmpty) 0.0 else good.min
    }.sum
    // CPU-steal estimate: scale by how much slower each fixed-work spin
    // ran than ITS OWN position's quiet reference (start = cold JIT,
    // end = warm — mixing regimes was the r14 no-op). spin32 is the
    // normalizer (the bench saturates 32 threads, so CPU steal shows
    // there). One-sided: a spin FASTER than quiet must not inflate the
    // headline, so each ratio caps at 1.
    val steal = (math.min(1.0, Spin32QuietRefStart / math.max(calib32Start, 1e-9))
      + math.min(1.0, Spin32QuietRefEnd / math.max(calib32, 1e-9))) / 2
    val totalNormalized = total * steal
    // The driver archives only the TAIL of stdout (~4 KB) and parses its
    // last line — round 7's single all-in-one line grew past that window
    // and the artifact lost every early-query median; round 16's window
    // cut the compact line itself at 152/172 queries because later stdout
    // chatter shared it. Split the output:
    //   1. the FULL record (medians + spread + per-sample telemetry +
    //      recall + calib + notes) goes to a file (committed in the repo,
    //      so the complete artifact is always readable), and to stderr;
    //   2. stdout carries EXACTLY ONE line — the compact driver-contract
    //      record (metric/value/unit/queries/sf/repeat, ~2.5 KB at 172
    //      queries) — printed below and followed by a System.out redirect
    //      to stderr, so no shutdown chatter can evict it.
    // JSON string escape for free-form content (telemetry events carry
    // operator-interpolated text; sfDir is a path): an unescaped quote or
    // backslash would corrupt the committed artifact undetectably
    def esc(s: String): String = s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case '\n'         => "\\n"
      case '\r'         => "\\r"
      case '\t'         => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    }
    val tele = telemetry.toSeq.sortBy(_._1).map { case (k, evs) =>
      "\"" + esc(k) + "\":" + evs.map("\"" + esc(_) + "\"").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val violationsJson =
      recallViolations.map(v => "\"" + esc(v) + "\"").mkString("[", ",", "]")
    val calibJson =
      s"""{"spin1":${d3(calib1)},"spin32":${d3(calib32)},"spin1_start":${d3(calib1Start)},"spin32_start":${d3(calib32Start)},"spin1_quiet_ref":${d3(Spin1QuietRef)},"spin32_quiet_ref_start":${d3(Spin32QuietRefStart)},"spin32_quiet_ref_end":${d3(Spin32QuietRefEnd)}}"""
    val fullJson =
      s"""{"metric":"total","value":${d3(total)},"total_min_envelope":${d3(totalMinEnvelope)},"value_normalized":${d3(totalNormalized)},"unit":"sec","queries":$qs,"sf":"${esc(sfDir)}","repeat":$repeat,"spread":$spread,"telemetry":$tele,"recall":$recallJson,"recall_violations":$violationsJson,"calib":$calibJson,"notes":"${esc(notes)}"}"""
    // Compact contract line: the ~4 KB stdout tail window prices every
    // byte, and at ~85 full-length query keys the line would overflow it
    // again. Keys shrink to their qNN prefix (unique by construction;
    // guarded below — a collision falls back to full names), per-query
    // medians to 2 decimals (the driver reads trends, the file artifact
    // carries the 3-decimal record), and sf to its basename.
    val shortNames = meds.map { case (k, _) => "^(q\\d+).*".r.replaceAllIn(k, "$1") }
    def d2(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qsCompact =
      if (shortNames.distinct.length == shortNames.length)
        meds.zip(shortNames).map { case ((_, v), s) => "\"" + s + "\":" + d2(v) }
          .mkString("{", ",", "}")
      else qs
    val sfShort = new java.io.File(sfDir).getName
    // The compact line is the FIRST (and only) stdout output of the
    // summary, and stdout is then redirected into stderr for the rest of
    // the run: the r16 driver artifact truncated mid-line (parsed:null)
    // because post-summary stdout chatter (Spark shutdown) shared the
    // driver's capture window with it — with nothing allowed onto stdout
    // after this line, the window always holds one complete JSON record.
    println(s"""{"metric":"total","value":${d3(total)},"total_min_envelope":${d3(totalMinEnvelope)},"value_normalized":${d3(totalNormalized)},"unit":"sec","queries":$qsCompact,"sf":"${esc(sfShort)}","repeat":$repeat}""")
    Console.out.flush()
    System.out.flush()
    // Redirect BOTH stdout capture points: System.setOut only reaches
    // writers that resolve System.out dynamically at call time, while
    // scala.Console captured the original stream at init (2.13 removed
    // Console.setOut, so the remainder of the run — including
    // spark.stop(), the main shutdown-chatter source — executes under
    // Console.withOut on this thread). log4j ConsoleAppenders
    // (follow=false) holding the original FD and sbt's own `[success]`
    // epilogue are outside the JVM's reach — tools/bench.sh handles that
    // layer by filtering stdout to the contract line.
    val errStream = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.err), true)
    System.setOut(errStream)
    Console.withOut(errStream) {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
      try {
        val w = new java.io.PrintWriter(outPath, "UTF-8")
        try w.println(fullJson) finally w.close()
        System.err.println(s"[bench] full artifact written to $outPath")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
      }
      System.err.println(s"[bench-full] $fullJson")
      spark.stop()
    }
  }

  /** The benchmark session, shared with [[Ladder]]: local[cpus], AQE
    * with partition coalescing, UTC, no UI.
    */
  def session(cpus: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
