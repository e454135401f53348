package graft.operators

import graft.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operator pack over the `events` table (SURVEY §2.4/§2.5
  * kernels re-expressed on the relational surface, treating each user's
  * event stream as a light curve: ts → time, value → magnitude).
  *
  * `ts` arrives as LongType nanoseconds (see Tables). Oracle side uses
  * `epoch_ns(ts)` for the identical integer. Time math is done in seconds
  * (`(ts - min)/1e9`) so rounded aggregates are far from FP boundaries.
  *
  * Scale notes: every query here is a single shuffle on `user_id` (window
  * or groupBy); the kernel queries build bounded in-row arrays (one user's
  * curve) — the 100 TB axis is users, not points-per-user.
  */
object TimeSeries {

  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")

  private val byTs = Seq(col("ts"), col("event_id"))

  /** Equal-width time binning per user (ekvi-PAA columnar analogue,
    * `data_analysis.py:54-140`): 20 bins over the user's [min,max] span,
    * mean relative time + mean value per occupied bin.
    */
  def q30TsBinAgg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    ev(spark, dir)
      .withColumn("mn", min(col("ts")).over(w))
      .withColumn("mx", max(col("ts")).over(w))
      .withColumn("rel_s", (col("ts") - col("mn")) / 1e9)
      .withColumn("span_s", (col("mx") - col("mn")) / 1e9)
      .withColumn("bin", least(floor(col("rel_s") / (col("span_s") / 20.0)), lit(19L)))
      // whole-second sum is an exact integer on both engines — no FP boundary
      .withColumn("rel_sec", expr("(ts - mn) div 1000000000"))
      .groupBy(col("user_id"), col("bin"))
      .agg(sum(col("rel_sec")).as("sum_t_s"),
        round(avg(col("value")), 6).as("avg_v"),
        count(lit(1)).as("n"))
  }

  /** Abbe value per user via lag windows (`data_analysis.py:167-193` as pure
    * SQL): n/(2(n-1)) · Σ(Δv)² / Σ(v-v̄)².
    */
  def q31AbbePerUser(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(byTs: _*)
    val base = ev(spark, dir)
      .withColumn("d", col("value") - lag(col("value"), 1).over(wOrd))
    val stats = base.groupBy(col("user_id")).agg(
      count(col("value")).as("n"),
      sum(col("d") * col("d")).as("sum_d2"),
      (sum(col("value") * col("value")) -
        sum(col("value")) * sum(col("value")) / count(col("value"))).as("sum_c2"))
    stats.filter(col("n") > 1)
      .select(col("user_id"), col("n"),
        round(col("n") / (lit(2.0) * (col("n") - 1)) * col("sum_d2") / col("sum_c2"), 6)
          .as("abbe"))
  }

  /** Positional PAA frames per user (`to_PAA` columnar analogue): 10 frames
    * by row position, mean value per frame.
    */
  def q32PaaFrames(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(byTs: _*)
    val wAll = Window.partitionBy(col("user_id"))
    ev(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cnt", count(lit(1)).over(wAll))
      .withColumn("frame", floor((col("rn") - 1) * 10 / col("cnt")))
      .groupBy(col("user_id"), col("frame"))
      .agg(round(avg(col("value")), 6).as("avg_v"), count(lit(1)).as("n"))
  }

  /** Sliding 5-row mean per user (SAX sliding-window shape, §2.5). */
  def q33Sliding(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(byTs: _*)
    ev(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("slide_mean", round(avg(col("value")).over(wOrd.rowsBetween(-4, 0)), 6))
      .select(col("user_id"), col("rn"), col("slide_mean"))
  }

  /** Skewness/kurtosis per event_type with scipy's biased Fisher semantics
    * (`kurtosis_desc.py`/`skewness_desc.py`) — two-pass centered moments so
    * both engines do the numerically identical thing.
    */
  def q34Moments(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val means = e.groupBy(col("event_type").as("et")).agg(avg(col("value")).as("m"))
    e.join(broadcast(means), col("event_type") === col("et"))
      .withColumn("c", col("value") - col("m"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(
          (sum(pow(col("c"), 3)) / count(lit(1))) /
            pow(sum(pow(col("c"), 2)) / count(lit(1)), 1.5), 6).as("skew"),
        round(
          (sum(pow(col("c"), 4)) / count(lit(1))) /
            pow(sum(pow(col("c"), 2)) / count(lit(1)), 2.0) - 3.0, 6).as("kurtosis"))
  }

  /** Per-user summary stats (`getMeanMag`/`getStdMag`, population σ). */
  def q35UserStats(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("value")), 6).as("mean_v"),
        round(stddev_pop(col("value")), 6).as("std_v"),
        round(min(col("value")), 6).as("min_v"),
        round(max(col("value")), 6).as("max_v"))

  /** Session gap (ns) — ONE definition for batch q36 and the streaming
    * sessionizer ([[graft.streaming.StreamingSessionize]]), so the two
    * surfaces cannot drift on the boundary rule.
    */
  val SESSION_GAP_NS = 30L * 60 * 1000000000L

  /** Gap-based sessionization (streaming-style stateful op in batch form):
    * new session when >30 min since the previous event; per-session count
    * and duration.
    */
  /** Gap-based session-id assignment — ONE definition for q36's rollup
    * and q174's conversion census (and mirrored by the streaming
    * sessionizer's timeout rule).
    */
  private[graft] def withSessionIds(df: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(byTs: _*)
    df.withColumn("prev", lag(col("ts"), 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev").isNull || col("ts") - col("prev") > SESSION_GAP_NS, 1)
          .otherwise(0))
      .withColumn("session", sum(col("new_sess")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev", "new_sess")
  }

  def q36Sessionize(spark: SparkSession, dir: String): DataFrame =
    withSessionIds(ev(spark, dir))
      .groupBy(col("user_id"), col("session"))
      .agg(count(lit(1)).as("n_events"),
        round((max(col("ts")) - min(col("ts"))) / 1e9, 3).as("duration_s"))

  /** Per-user session conversion census (q174): how many of a user's
    * gap-sessions contain a purchase — THE product metric the funnel
    * (q165, lifetime stages) and the sessionizer (q36, structure) exist
    * to feed; sessions come from the SHARED [[withSessionIds]] kernel so
    * the three surfaces cannot drift on the boundary rule. Exact
    * integers end-to-end; the rate is one division.
    */
  def q174SessionConversion(spark: SparkSession, dir: String): DataFrame =
    withSessionIds(ev(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type")))
      .groupBy(col("user_id"), col("session"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("converted")).as("n_converting"))
      .select(col("user_id"), col("n_sessions"), col("n_converting"),
        (col("n_converting") / col("n_sessions")).as("conversion_rate"))

  /** Full kernel feature extraction per user through the real Scala kernels:
    * Abbe, SAX word, variogram slope, curve density over the user's curve.
    * Hash-checked against [[KernelOracleSql.q37Sql]] (a full SQL
    * re-derivation of ekvi-PAA/fixMissing/variogram/SAX); exact kernel
    * parity vs the reference is additionally pinned by the golden specs.
    */
  def q37KernelFeatures(spark: SparkSession, dir: String): DataFrame = {
    // native codegen'd kernel expressions (primitive double[] from
    // Tungsten, no boxed Seq conversion) — the whole feature projection
    // stays inside one generated stage
    graft.functions.expressions.CurveAbbeExpr.register(spark)
    graft.functions.expressions.CurveKernelExprs.register(spark)
    // Spread.byKey: the four curve kernels below are CPU-dense per-row
    // work — pin the exchange width against AQE byte-coalescing (Spread)
    Spread.byKey(
        ev(spark, dir).withColumn("t_days", col("ts") / lit(86400e9)),
        col("user_id"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("t_days").as("t"), col("value").as("v"))))
        .as("pts"))
      .select(col("user_id"), col("pts.t").as("t"), col("pts.v").as("v"))
      .filter(size(col("t")) > 10)
      .select(col("user_id"),
        round(expr("curve_abbe(t, v, 50)"), 6).as("abbe"),
        expr("sax_word(v, 8, 10)").as("sax_word"),
        round(expr("variogram_slope(t, v, 1.0d)"), 6).as("vario_slope"),
        round(expr("curve_density(t, v)"), 6).as("density"))
  }

  /** AS-OF join: every click is matched to the user's most recent PRIOR
    * error event — the point-in-time join shape (trade↔quote, event↔last
    * state change). Expressed as `last(..., ignoreNulls)` over an
    * unbounded-preceding-to-previous-row window rather than an actual
    * inequality join: ONE shuffle on user_id, no range-join explosion,
    * linear in events — the scale-correct as-of formulation when both
    * sides share a partition key.
    */
  def q61AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val wPrev = Window.partitionBy(col("user_id")).orderBy(byTs: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ev(spark, dir)
      .withColumn("last_error_ts",
        last(when(col("event_type") === "error", col("ts")), ignoreNulls = true)
          .over(wPrev))
      .filter(col("event_type") === "click")
      // exact integral ns→ms division; `ts` is already on the µs grid
      // (Tables.load snaps it to DuckDB's floored-to-µs clock), so this
      // can never straddle an ms bucket differently than the oracle
      .select(col("event_id"), col("user_id"),
        expr("(ts - last_error_ts) div 1000000").as("ms_since_error"))
  }

  /** Exact interpolated percentiles per event type (p50/p90/p99) — the
    * latency-dashboard aggregation. `percentile` computes all three in one
    * aggregation buffer (one shuffle on event_type); at 100 TB swap for
    * `approx_percentile`'s mergeable sketch at the same call site.
    */
  def q62Quantiles(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"))
      .agg(percentile(col("value"), array(lit(0.5), lit(0.9), lit(0.99))).as("qs"))
      .select(col("event_type"),
        round(col("qs").getItem(0), 6).as("p50"),
        round(col("qs").getItem(1), 6).as("p90"),
        round(col("qs").getItem(2), 6).as("p99"))

  /** Robust per-user outlier census — median/MAD flagging, the outlier
    * rejection a light-curve pipeline runs before fitting (flares,
    * cosmic-ray hits, glitches survive a mean/σ cut because they inflate
    * σ; the median absolute deviation doesn't move): per user, the
    * median value, the MAD, and how many events sit more than 3 MADs
    * from the median.
    *
    * Determinism: med and MAD round to 6 (the q62 percentile-parity
    * convention) BEFORE the flag compares, so both engines compare
    * bitwise-identical doubles; a user with MAD = 0 (constant curve)
    * flags exactly its non-median values — the standard degenerate
    * reading, identical on both engines.
    *
    * Scale shape: all exchanges key on user_id; the med/MAD tables are
    * user-bounded. Exact per-group percentiles buffer the group's values
    * — fine while curves are bounded per user (this data model); for
    * unbounded groups swap `approx_percentile`, same shape (q88's note).
    */
  def q136RobustOutliers(spark: SparkSession, dir: String): DataFrame = {
    // cached: the boundary computation and the census join both read the
    // two-column event projection
    val e = graft.CacheScope.cache(
      ev(spark, dir).select(col("user_id"), col("value")))
    // ONE kernel pair for the inline query, the q138 serve path and the
    // streaming gate — the three surfaces cannot drift on the rule
    outliersAgainstBounds(e, madBoundaries(e))
  }

  /** q137's trial-period grid (days), ascending — ties on the statistic
    * resolve to the shorter period on both engines.
    */
  val TRIAL_PERIODS: Seq[Double] = Seq(0.5, 1.0, 1.5, 2.0, 3.0, 5.0, 8.0, 13.0)

  /** Period search by the string-length method (Dworetsky 1983) — THE
    * classic variable-star operation: fold each user's curve at every
    * trial period (phase = t mod P), sort by phase, and sum the absolute
    * magnitude steps between phase-neighbours; the true period makes the
    * folded curve smooth, minimizing the "string length". Reported per
    * user: the best period and its statistic.
    *
    * Determinism: the fold/sort/sum runs over bit-identical doubles on
    * both engines (t and v come straight from the table; `%` is IEEE
    * fmod in both), the phase sort breaks ties by event_id, and each
    * |Δv| rounds to 1e-6 units BEFORE an exact 64-bit sum — so the
    * statistic, and therefore the argmin, is summation-order- and
    * engine-independent.
    *
    * Scale shape: ONE exchange (the per-user collect — curves are
    * bounded in-row arrays, the data model's contract); the whole
    * period grid then evaluates in-row inside the task, the same shape
    * a Lomb–Scargle would use (per-frequency trig sums over the same
    * in-row points). Grid size scales the per-row CPU, never the
    * shuffle.
    */
  def q137PeriodSearch(spark: SparkSession, dir: String): DataFrame =
    bestPeriods(ev(spark, dir))

  /** q177's grid size: the realistic sweep density (a production
    * Dworetsky/Lomb-Scargle run is 10³-10⁴ points; PeriodSearchSpec pins
    * off-grid recovery within one step at this n). Gated separately from
    * q137 so the 8-point didactic grid AND the dense production shape
    * are both hash-verified.
    */
  val DENSE_GRID_N = 512

  /** Dense-grid period search (q177): q137's exact kernel over the
    * [[periodGrid]] ladder at [[DENSE_GRID_N]] points — the shape a real
    * survey sweep runs. Same single per-user exchange; the grid only
    * scales in-row CPU (measured ~8 ms/grid-point/sf0.1 in SCALE.md).
    * Grid doubles are embedded in the oracle via their shortest
    * round-trip decimal form, so both engines fold at bit-identical
    * trial periods.
    */
  def q177PeriodSearchDense(spark: SparkSession, dir: String): DataFrame =
    bestPeriods(ev(spark, dir), periodGrid(DENSE_GRID_N))

  /** Log-spaced trial grid over [[TRIAL_PERIODS]]' span — the dial a
    * production sweep turns: real string-length/Lomb–Scargle searches
    * run 10³–10⁴ trial periods. The in-row kernel scales linearly in
    * grid size with ZERO extra shuffle (the per-user exchange happens
    * once regardless), so the ladder prices pure CPU; SCALE.md carries
    * the measured secs/period-point curve at sf0.1.
    */
  private[graft] def periodGrid(n: Int): Array[Double] = {
    val lo = TRIAL_PERIODS.head
    val hi = TRIAL_PERIODS.last
    Array.tabulate(n)(i => lo * math.pow(hi / lo, i.toDouble / (n - 1)))
  }

  /** q137's body over a caller-supplied events frame — shared with q140,
    * which folds the SAME argmin winner (one definition of "best").
    */
  private[graft] def bestPeriods(events: DataFrame,
                                 periods: Array[Double] = TRIAL_PERIODS.toArray
                                ): DataFrame = {
    // hot loop: periods × users × (sort + scan). Primitive arrays and an
    // index comparator (no per-element tuple/Double boxing — the boxed
    // `sortBy` shape measured 0.20 s/grid-point at sf0.1; this is the
    // same arithmetic bit-for-bit: the |Δv| rounding stays PER PAIR, so
    // the string length and the argmin cannot move)
    val bestU = udf((tsS: Seq[Double], vsS: Seq[Double], idsS: Seq[Long]) => {
      val ts = tsS.toArray
      val vs = vsS.toArray
      val ids = idsS.toArray
      val n = ts.length
      val phase = new Array[Double](n)
      val idx = Array.tabulate(n)(identity)
      val tmp = new Array[Int](n)
      // primitive int mergesort over indices. (phase, id) is a STRICT
      // total order (event ids are distinct), so the sorted permutation
      // is unique — any correct sort reproduces the previous boxed
      // TimSort's output exactly. This replaces an Integer[] sort whose
      // per-comparison cost (boxing + megamorphic comparator dispatch)
      // dominated the suite's hottest loop (periods × users × n log n).
      def lt(a: Int, b: Int): Boolean = {
        val c = java.lang.Double.compare(phase(a), phase(b))
        if (c != 0) c < 0 else ids(a) < ids(b)
      }
      def insertion(lo: Int, hi: Int): Unit = {
        var i = lo + 1
        while (i < hi) {
          val v = idx(i)
          var j = i - 1
          while (j >= lo && lt(v, idx(j))) { idx(j + 1) = idx(j); j -= 1 }
          idx(j + 1) = v
          i += 1
        }
      }
      def msort(lo: Int, hi: Int): Unit = {
        if (hi - lo <= 16) { insertion(lo, hi); return }
        val mid = (lo + hi) >>> 1
        msort(lo, mid); msort(mid, hi)
        if (lt(idx(mid), idx(mid - 1))) { // already ordered → skip merge
          System.arraycopy(idx, lo, tmp, lo, mid - lo)
          var i = lo
          var j = mid
          var k = lo
          while (i < mid && j < hi) {
            if (lt(idx(j), tmp(i))) { idx(k) = idx(j); j += 1 }
            else { idx(k) = tmp(i); i += 1 }
            k += 1
          }
          while (i < mid) { idx(k) = tmp(i); i += 1; k += 1 }
        }
      }
      var bestP = 0.0
      var bestSl = Long.MaxValue
      periods.foreach { p =>
        var i = 0
        while (i < n) { phase(i) = ts(i) % p; i += 1 }
        msort(0, n) // (phase, id) total order: stateless across rounds
        var sl = 0L
        var j = 1
        while (j < n) {
          val dv = math.abs(vs(idx(j)) - vs(idx(j - 1)))
          sl += math.floor(dv * 1e6 + 0.5).toLong
          j += 1
        }
        if (sl < bestSl) { bestSl = sl; bestP = p } // ascending grid: ties → shorter P
      }
      (bestP, bestSl.toDouble / 1e6)
    })
    // Spread.byKey: the grid search below is the suite's most CPU-dense
    // kernel stage — without the pin, AQE's byte-based coalescing packs
    // the per-user frame into 1-3 tasks at bench scale (guide §2: make
    // partitioning scale-adaptive; the Spread scaladoc has the numbers)
    Spread.byKey(events.withColumn("t_days", col("ts") / lit(86400e9)),
        col("user_id"))
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("t_days").as("t"), col("value").as("v"),
        col("event_id").as("id"))).as("pts"))
      .filter(size(col("pts")) > 10)
      .withColumn("b", bestU(col("pts.t"), col("pts.v"), col("pts.id")))
      .select(col("user_id"), size(col("pts")).as("n_points"),
        col("b._1").as("best_period"), col("b._2").as("best_sl"))
  }

  /** q140's phase grid: the folded period divides into this many bins. */
  private[graft] val FOLD_BINS = 8

  /** Phase-folded template export — the mean light-curve profile at
    * q137's best period (`lc.py`-style folded curves are what the
    * reference's shape descriptors consume; this is their distributed
    * build): each point's phase = (t mod P)/P lands in one of
    * [[FOLD_BINS]] equal bins, and each (user, bin) row carries the
    * point count and the mean magnitude.
    *
    * One definition of "best": the winner comes from [[bestPeriods]]
    * (q137's exact integer argmin), so the template can never fold at a
    * period the search didn't pick. Exactness: phase/bin arithmetic is
    * the same IEEE double expression on both engines; the bin mean sums
    * 1e-6-unit longs and divides once (round 6).
    *
    * Scale shape: the argmin's one per-user exchange plus a user-keyed
    * join and a (user, bin)-keyed aggregate with map-side partials —
    * bins multiply output rows, never shuffle width.
    */
  def q140FoldTemplate(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.CacheScope.cache(ev(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value")))
    foldTemplate(e, bestPeriods(e))
  }

  /** Assign each point its phase bin at the user's period — shared by the
    * template BUILD and the residual SERVE, so the two cannot drift on
    * the fold arithmetic.
    */
  private def withPhaseBin(events: DataFrame, period: DataFrame): DataFrame =
    events.join(period, Seq("user_id"))
      .withColumn("t_days", col("ts") / lit(86400e9))
      .withColumn("phase",
        (col("t_days") % col("best_period")) / col("best_period"))
      .withColumn("bin",
        least(floor(col("phase") * FOLD_BINS), lit((FOLD_BINS - 1).toLong)))

  /** q140's body over caller-supplied events + argmin frames. */
  private[graft] def foldTemplate(e: DataFrame, best: DataFrame): DataFrame =
    withPhaseBin(e, best.select(col("user_id"), col("best_period")))
      .withColumn("v_u", expr("CAST(floor(value * 1e6 + 0.5) AS BIGINT)"))
      .groupBy(col("user_id"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("v_u")).as("su"))
      .select(col("user_id"), col("bin"), col("n"),
        round(col("su").cast("double") / col("n").cast("double") / 1e6, 6)
          .as("mean_v"))

  /** Materialize the phase-serving index:
    * `period` — per-user (best_period, med, mad), the argmin winner
    * denormalized with the robust scale so the gate needs ONE index;
    * `template` — q140's (user, bin, n, mean_v) profile. The expensive
    * parts (grid search, percentiles, fold aggregate) all happen HERE,
    * at build time.
    */
  def writePhaseIndex(events: DataFrame, path: String): Unit =
    IndexMeta.commit(events.sparkSession, path, "graft phase template") {
      val e = graft.CacheScope.cache(events
        .select(col("user_id"), col("event_id"), col("ts"), col("value")))
      val best = graft.CacheScope.cache(bestPeriods(e))
      best.select(col("user_id"), col("best_period"))
        .join(madBoundaries(e.select(col("user_id"), col("value"))),
          Seq("user_id"))
        .write.mode("overwrite").parquet(s"$path/period")
      foldTemplate(e, best).write.mode("overwrite").parquet(s"$path/template")
      Seq("kind" -> "phase_template", "bins" -> FOLD_BINS.toString, "k" -> "3")
    }

  private[graft] def loadPhaseIndex(spark: SparkSession,
                                    path: String): (DataFrame, DataFrame) = {
    IndexMeta.read(spark, path, "writePhaseIndex")
    (spark.read.parquet(s"$path/period"),
      spark.read.parquet(s"$path/template"))
  }

  /** Score a batch against the STORED period/template/scale — the
    * per-batch kernel of the streaming gate and the q141 serve path: two
    * user-bounded joins, the shared fold arithmetic, ZERO grid search or
    * percentile work. Census per user: points scored, points more than
    * 3 MADs off the phase-level expectation (an eclipse-depth change or
    * phase-shifted transient — invisible to q136's global census because
    * the CURVE's own spread absorbs it), and the peak residual.
    */
  private[graft] def phaseResidualsAgainstIndex(batch: DataFrame,
      period: DataFrame, template: DataFrame): DataFrame =
    withPhaseBin(batch, period)
      .join(template.select(col("user_id"), col("bin"), col("mean_v")),
        Seq("user_id", "bin"))
      .withColumn("resid", abs(col("value") - col("mean_v")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_scored"),
        sum(when(col("resid") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_off"),
        round(max(col("resid")), 6).as("max_resid"))

  /** Phase-residual census served from the materialized index (the q138
    * pattern): the fold search ran once at build; serving is joins only.
    */
  def q141PhaseResiduals(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    val path = graft.Tables.derivedIndexPath("graft_phase_tpl_v1", dir, "events")
    IndexMeta.ensure(spark, path) { writePhaseIndex(e, path) }
    val (period, template) = loadPhaseIndex(spark, path)
    phaseResidualsAgainstIndex(e, period, template)
  }

  /** The (user_id, med, mad) boundary table of [[q136RobustOutliers]] —
    * shared by the inline query's serving twin and the streaming gate.
    */
  private[graft] def madBoundaries(e: DataFrame): DataFrame = {
    val med = e.groupBy(col("user_id"))
      .agg(round(percentile(col("value"), lit(0.5)), 6).as("med"))
    e.join(med, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(max(col("med")).as("med"),
        round(percentile(abs(col("value") - col("med")), lit(0.5)), 6).as("mad"))
  }

  /** Materialize q136's per-user boundaries. */
  def writeOutlierIndex(events: DataFrame, path: String): Unit =
    IndexMeta.commit(events.sparkSession, path, "graft outlier boundaries") {
      madBoundaries(events.select(col("user_id"), col("value")))
        .write.mode("overwrite").parquet(s"$path/bounds")
      Seq("kind" -> "mad_bounds", "k" -> "3")
    }

  /** Census a batch against STORED boundaries — the per-batch kernel of
    * the streaming gate and the q138 serve path: one user-keyed join
    * against the user-bounded boundary table, zero percentile work at
    * serve time.
    */
  private[graft] def outliersAgainstBounds(batch: DataFrame,
                                           bounds: DataFrame): DataFrame =
    batch.join(bounds, Seq("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(abs(col("value") - col("med")) > lit(3.0) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))

  private[graft] def loadOutlierBounds(spark: SparkSession, path: String): DataFrame = {
    IndexMeta.read(spark, path, "writeOutlierIndex")
    spark.read.parquet(s"$path/bounds")
  }

  /** Per-event CUSUM frame — the shared kernel of [[q139CusumAlerts]] and
    * the streaming gate (sequential level-shift detection, Page 1954: the
    * transient-onset alarm a mean/σ census can't give because it ignores
    * ORDER). Baseline and scale come from the same med/MAD boundary table
    * as q136/q138, so all three outlier surfaces share one rule: the
    * increment is x = v − med − k with allowance k = mad/2 and the alarm
    * threshold h = 5·mad.
    *
    * Exactness: everything runs in 1e-6-unit 64-bit integers (v rounds
    * half-up like q137; med/mad are already on the 1e-6 grid, k by integer
    * division), and the resetting recurrence C_i = max(0, C_{i−1} + x_i)
    * is evaluated through its closed form C_i = S_i − min(0, min_{j≤i}
    * S_j) — two exact running windows, no scan recurrence — so both
    * engines produce identical longs. A constant curve (mad = 0) has
    * x = 0 everywhere → C ≡ 0 → no alarms, the right degenerate reading.
    *
    * Scale shape: one user-keyed join + one user-keyed window; prefix sums
    * stay < 2^53 ns-grid-independent (|x| ≤ 5e8 micro-units, curves are
    * bounded per user by the data model).
    */
  /** Alarm threshold in MAD units: C must clear h = CUSUM_H_MADS · mad. */
  private[graft] val CUSUM_H_MADS = 5L

  /** The per-event increment table (x, mad_u) both CUSUM surfaces build
    * on — batch evaluates the closed form over it, the streaming gate
    * folds it through per-user state; sharing it means the two cannot
    * drift on units, rounding, or the allowance rule.
    */
  private[graft] def cusumIncrements(batch: DataFrame, bounds: DataFrame): DataFrame =
    batch.join(bounds, Seq("user_id"))
      .withColumn("v_u", expr("CAST(floor(value * 1e6 + 0.5) AS BIGINT)"))
      .withColumn("med_u", expr("CAST(round(med * 1e6, 0) AS BIGINT)"))
      .withColumn("mad_u", expr("CAST(round(mad * 1e6, 0) AS BIGINT)"))
      .withColumn("x", col("v_u") - col("med_u") - expr("mad_u div 2"))

  private[graft] def cusumFrame(batch: DataFrame, bounds: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(byTs: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cusumIncrements(batch, bounds)
      .withColumn("s", sum(col("x")).over(w))
      .withColumn("c", col("s") - least(lit(0L), min(col("s")).over(w)))
      .withColumn("alarm", col("c") > lit(CUSUM_H_MADS) * col("mad_u"))
  }

  /** CUSUM change-point census per user: event count, alarm count, the
    * first alarming event (by time) and the peak CUSUM excursion. The
    * one-sided upward chart over the q136 baseline — flares and level
    * shifts raise consecutive x increments whose cumulative sum clears
    * 5 MADs long before any single point would.
    */
  def q139CusumAlerts(spark: SparkSession, dir: String): DataFrame = {
    // cached: boundaries and the CUSUM frame both read the projection
    val e = graft.CacheScope.cache(ev(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value")))
    cusumFrame(e, madBoundaries(e.select(col("user_id"), col("value"))))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("alarm"), 1L).otherwise(0L)).as("n_alarms"),
        min(when(col("alarm"), struct(col("ts"), col("event_id")))).as("fa"),
        max(col("c")).as("maxc"))
      .select(col("user_id"), col("n_events"), col("n_alarms"),
        col("fa.event_id").as("first_alarm_id"),
        round(col("maxc") / 1e6, 6).as("max_cusum"))
  }

  /** q136 served from the materialized boundaries (the q130 pattern):
    * same answer, zero percentile recompute — shares q136's oracle, so
    * the hash match certifies the store → serve round-trip.
    */
  def q138OutlierIndex(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("user_id"), col("value"))
    val path = graft.Tables.derivedIndexPath("graft_mad_bounds_v1", dir, "events")
    IndexMeta.ensure(spark, path) { writeOutlierIndex(e, path) }
    outliersAgainstBounds(e, loadOutlierBounds(spark, path))
  }

  /** ACF lags emitted by q160. */
  val ACF_LAGS = 5

  /** Per-user autocorrelation function at lags 1..[[ACF_LAGS]] (q160) —
    * the memory statistic next to q34's variogram and q31's Abbe value:
    * r_k = Σ(x_i−x̄)(x_{i+k}−x̄) / Σ(x_i−x̄)², the quantity an AR-model
    * screen or a correlated-noise test starts from (flickering stars
    * have long-memory curves; measurement noise has r_k ≈ 0).
    *
    * Exactness: values convert to micro-unit longs once; the mean is
    * kept RATIONAL by multiplying through by n² — each factor
    * (n·v_i − S) is an exact long, products/sums accumulate in
    * DECIMAL(38,0) (overflow-checked, order-independent), and r_k is
    * ONE double division of the two exact integers, so every emitted
    * value is bit-identical on any engine and partitioning. A constant
    * curve (den = 0) emits NULL, not NaN.
    *
    * Scale shape: one user-keyed window (all [[ACF_LAGS]] leads in the
    * SAME pass — one sort), one map-side-combinable aggregate per user,
    * then a bounded 5-row unpivot per user via stack. The 100 TB axis
    * is users; nothing beyond the per-user sort ever exchanges.
    */
  def q160Acf(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(byTs: _*)
    val wAll = Window.partitionBy(col("user_id"))
    val base = ev(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 1e6, 0).cast("long").as("v"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("v")).over(wAll))
      .withColumn("c", (col("n") * col("v") - col("s")).cast("decimal(38,0)"))
    val leads = (1 to ACF_LAGS).foldLeft(base) { (df, k) =>
      df.withColumn(s"c$k", lead(col("c"), k).over(w))
    }
    val aggCols = count(lit(1)).as("n_events") +:
      sum(col("c") * col("c")).as("den") +:
      (1 to ACF_LAGS).map(k => sum(col("c") * col(s"c$k")).as(s"num$k"))
    val agg = leads.groupBy(col("user_id")).agg(aggCols.head, aggCols.tail: _*)
    agg.select(col("user_id"), col("n_events"),
      expr(s"stack($ACF_LAGS, " +
        (1 to ACF_LAGS).map(k => s"$k, num$k").mkString(", ") +
        ") AS (lag, num)"), col("den"))
      .filter(col("n_events") > col("lag")) // a lag needs at least one pair
      .select(col("user_id"), col("n_events"), col("lag").cast("int").as("lag"),
        when(col("den") =!= 0,
          col("num").cast("double") / col("den").cast("double"))
          .as("r"))
  }

  /** Weekly retention cohorts (q164) — THE product-analytics matrix:
    * users grouped by first-seen week, each later week's distinct
    * actives counted per (cohort, offset) cell. All time math is exact
    * FLOOR division of the long-ns timestamp (week = floor(ts/604800e9)
    * via the `(ts - pmod(ts, k)) div k` identity — fixed epoch grid, no
    * calendar library), so the matrix is engine- and timezone-independent
    * by construction. The oracle states the SAME pmod-subtraction floor:
    * DuckDB's integer `//` truncates toward zero (measured on 1.0.0), so
    * a bare `ts // k` on either engine would disagree with the floor grid
    * on any pre-epoch (negative) timestamp.
    *
    * Scale shape: the per-user first-day MIN is map-side combinable;
    * the cohort join is user-keyed against that user-sized frame; the
    * cell count is a two-level distinct (first keyed (cohort, offset,
    * user) — map-side — then the cell rollup), so no cell ever funnels
    * raw events.
    */
  def q164RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
      .select(col("user_id"), expr("(ts - pmod(ts, 604800000000000)) div 604800000000000").as("week"))
    val cohorts = e.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    e.join(cohorts, Seq("user_id"))
      .select(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"),
        col("user_id")).distinct()
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Ordered conversion funnel (q165): signup → view → click → purchase,
    * each stage's timestamp the EARLIEST event of that type STRICTLY
    * after the previous stage (the standard funnel semantics — a click
    * before the first view does not count). Four user-keyed conditional
    * MIN aggregates over one cached projection — each pass is map-side
    * combinable and the frames after pass 1 are user-sized; no window,
    * no per-user collect. stage_reached counts the non-null prefix.
    * All comparisons are on the exact long-ns timestamps.
    */
  def q165Funnel(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.CacheScope.cache(ev(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts")))
    val stages = Seq("signup", "view", "click", "purchase")
    // fold: each stage joins the previous per-user watermark and keeps
    // the earliest strictly-later event of its type
    val init = e.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val perStage = stages.zipWithIndex.drop(1).foldLeft(init) {
      case (acc, (st, i)) =>
        val prev = s"t$i"
        val cur = s"t${i + 1}"
        // conditional MIN, not filter-then-min: a user whose stage
        // events all PRECEDE the watermark must survive with NULL, not
        // vanish from the funnel
        acc.join(e.filter(col("event_type") === st), Seq("user_id"), "left")
          .groupBy((col("user_id") +: (1 to i).map(j => col(s"t$j"))): _*)
          .agg(min(when(col("ts") > col(prev), col("ts"))).as(cur))
    }
    // users with no signup never enter `init`: surface them with stage 0
    val allUsers = e.select(col("user_id")).distinct()
    allUsers.join(perStage, Seq("user_id"), "left")
      .select(col("user_id"), col("t1"), col("t2"), col("t3"), col("t4"),
        ((1 to 4).map(j => when(col(s"t$j").isNotNull, 1).otherwise(0))
          .reduce(_ + _)).cast("int").as("stage_reached"))
  }

  /** Per-user burst-day census (q166): a day is a BURST when its event
    * count sits ≥ 3σ above the user's own Poisson rate — z ≥ 3 stated
    * in PURE integer space, (k·D − T)² ≥ 9·T·D with k·D > T (k = day
    * count, D = active days, T = total events), so no square root or
    * division can flip a verdict. The single-day-spike complement of
    * q139's CUSUM (sustained drift) on counts instead of values; the
    * burst day surfaces via a min(struct(−k, day)) aggregate, ties to
    * the earlier day — no window. Day = floor(ts / 86400e9), the q164
    * floor-division epoch grid.
    */
  def q166BurstDays(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir)
      .select(col("user_id"), expr("(ts - pmod(ts, 86400000000000)) div 86400000000000").as("day"))
      .groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("k"))
    val tot = daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("d_days"), sum(col("k")).as("t_events"))
    daily.join(tot, Seq("user_id"))
      .withColumn("bursty",
        col("k") * col("d_days") > col("t_events") &&
          (col("k") * col("d_days") - col("t_events")) *
            (col("k") * col("d_days") - col("t_events")) >=
            lit(9L) * col("t_events") * col("d_days"))
      .groupBy(col("user_id"), col("d_days"), col("t_events"))
      .agg(sum(when(col("bursty"), 1L).otherwise(0L)).as("n_bursty"),
        max(col("k")).as("max_day_count"),
        min(when(col("bursty"), struct((-col("k")).as("nk"), col("day"))))
          .as("_b"))
      .select(col("user_id"), col("d_days"), col("t_events"),
        col("n_bursty"), col("max_day_count"),
        col("_b.day").as("top_burst_day"))
  }

  /** Event-type transition matrix (q167) — the Markov structure of user
    * behavior: counts and probabilities of each (current → next) pair
    * over every user's time-ordered stream. ONE user-keyed window pass
    * (the q160 sort) produces the adjacent pairs; the matrix aggregate
    * is map-side combinable down to ≤ |types|² rows, and probabilities
    * are single divisions of exact counts (bit-identical cross-engine).
    * The funnel (q165) asks "does the canonical order happen?"; this
    * measures what order ACTUALLY happens.
    */
  def q167EventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(byTs: _*)
    val pairs = ev(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur"), col("next_type").as("nxt"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("cur")).agg(sum(col("n")).as("row_n"))
    pairs.join(totals, Seq("cur"))
      .select(col("cur"), col("nxt"), col("n"),
        (col("n") / col("row_n")).as("p"))
  }

  /** Semi-structured extraction audit (q168): pull the numeric `k` out
    * of the `props` JSON column per event and aggregate per event_type —
    * count, parse failures, exact integer sum/min/max and the mean as
    * one division. JSON parsing happens IN the scan's codegen span
    * (get_json_object — no UDF); unparseable or absent keys surface as
    * a counted class, never a dropped row. The semi-structured sibling
    * of q60's typed rollup.
    */
  def q168PropsExtract(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_unparsed"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .withColumn("mean_k",
        col("sum_k") / (col("n") - col("n_unparsed")))

  /** Behavioral-sequence likelihood (q169): score every user's stream
    * under the GLOBAL transition matrix (q167's — the same aggregate,
    * one definition through [[q167EventTransitions]]) by mean −ln p per
    * transition — the bot/anomaly screen: repetitive scripted streams
    * score far below the population, erratic ones far above. The
    * corpus-trained-model-applied-back shape of q73, at the behavioral
    * level.
    *
    * Determinism: p = n/row_n is a ratio of exact counts, so −ln p is
    * the q152 ratio-form ln, micro-rounded per TRANSITION TYPE (≤ types²
    * values) before the per-user exact integer mean. The matrix
    * broadcasts; the stream pays one window pass + one map-side
    * aggregate.
    */
  def q169SequenceLikelihood(spark: SparkSession, dir: String): DataFrame = {
    val m = q167EventTransitions(spark, dir)
      // −ln of the emitted probability (p is one exact-operand IEEE
      // division, so −ln(p) is the same bit pattern on both engines up
      // to the usual ln ulp the micro-round absorbs)
      .withColumn("_nm", round(-log(col("p")) * 1e6, 0).cast("long"))
      .select(col("cur").as("m_cur"), col("nxt").as("m_nxt"), col("_nm"))
    val w = Window.partitionBy(col("user_id")).orderBy(byTs: _*)
    ev(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .join(broadcast(m),
        col("event_type") === col("m_cur") && col("nxt") === col("m_nxt"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_transitions"), sum(col("_nm")).as("_s"))
      .select(col("user_id"), col("n_transitions"),
        round(col("_s") / col("n_transitions") / 1e6, 6).as("avg_nll"))
  }

  /** Hour-of-day activity profile (q170): per (event_type, hour) counts
    * and within-type share — the load-shape dashboard row. Hour is exact
    * integer math on the long-ns ts (pmod(floor(ts/3600e9), 24) — UTC
    * grid, timezone-free); pmod, not `%`, so a pre-epoch instant lands in
    * its wall-clock bucket [0,24) (23:59:59.999 UTC on 1969-12-31 is hour
    * 23, not -1) and the documented ≤ types×24 row bound holds on any
    * data. Shares are single divisions of exact counts. One map-side
    * aggregate.
    */
  def q170HourlyProfile(spark: SparkSession, dir: String): DataFrame = {
    val h = ev(spark, dir)
      .select(col("event_type"),
        expr("pmod((ts - pmod(ts, 3600000000000)) div 3600000000000, 24)").as("hour"))
      .groupBy(col("event_type"), col("hour")).agg(count(lit(1)).as("n"))
    val tot = h.groupBy(col("event_type")).agg(sum(col("n")).as("type_n"))
    h.join(tot, Seq("event_type"))
      .select(col("event_type"), col("hour"), col("n"),
        (col("n") / col("type_n")).as("share"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q160_acf" -> q160Acf,
    "q169_sequence_likelihood" -> q169SequenceLikelihood,
    "q170_hourly_profile" -> q170HourlyProfile,
    "q167_event_transitions" -> q167EventTransitions,
    "q168_props_extract" -> q168PropsExtract,
    "q164_retention_cohorts" -> q164RetentionCohorts,
    "q174_session_conversion" -> q174SessionConversion,
    "q165_funnel" -> q165Funnel,
    "q166_burst_days" -> q166BurstDays,
    "q136_robust_outliers" -> q136RobustOutliers,
    "q137_period_search" -> q137PeriodSearch,
    "q177_period_search_dense" -> q177PeriodSearchDense,
    "q138_outlier_index" -> q138OutlierIndex,
    "q139_cusum_alerts" -> q139CusumAlerts,
    "q140_fold_template" -> q140FoldTemplate,
    "q141_phase_residuals" -> q141PhaseResiduals,
    "q62_quantiles" -> q62Quantiles,
    "q61_asof_join" -> q61AsofJoin,
    "q30_ts_bin_agg" -> q30TsBinAgg,
    "q31_abbe_per_user" -> q31AbbePerUser,
    "q32_paa_frames" -> q32PaaFrames,
    "q33_sliding" -> q33Sliding,
    "q34_moments" -> q34Moments,
    "q35_user_stats" -> q35UserStats,
    "q36_sessionize" -> q36Sessionize,
    "q37_kernel_features" -> q37KernelFeatures)

  /** q136's oracle — medians, MAD, the 3-MAD census. q138 shares it. */
  private[graft] lazy val madOracleSql: String =
    """WITH e AS (SELECT user_id, value FROM events),
      |m AS (
      |  SELECT user_id, round(quantile_cont(value, 0.5), 6) AS med
      |  FROM e GROUP BY 1),
      |d AS (
      |  SELECT e.user_id, m.med, abs(e.value - m.med) AS dev
      |  FROM e JOIN m USING (user_id)),
      |md AS (
      |  SELECT user_id, round(quantile_cont(dev, 0.5), 6) AS mad
      |  FROM d GROUP BY 1)
      |SELECT d.user_id, count(*) AS n_events,
      |  max(d.med) AS med, max(md.mad) AS mad,
      |  CAST(sum(CASE WHEN d.dev > 3 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM d JOIN md USING (user_id)
      |GROUP BY 1""".stripMargin

  /** q137's CTE chain up to the per-(user, period) argmin — q140 folds
    * the same winner, so both oracles state it ONCE; q177 re-instantiates
    * it over the dense grid.
    */
  private def periodCtesFor(periods: Seq[Double]): String =
    s"""e AS (
      |  SELECT user_id, event_id, epoch_ns(ts)/86400e9 AS t, value AS v
      |  FROM events),
      |n AS (
      |  SELECT user_id, count(*) AS n_points FROM e
      |  GROUP BY 1 HAVING count(*) > 10),
      |p AS (SELECT unnest([${periods.mkString(", ")}]) AS period),
      |f AS (
      |  SELECT e.user_id, p.period, e.event_id, e.v,
      |    (e.t % p.period) AS phase
      |  FROM e JOIN n USING (user_id), p),
      |d AS (
      |  SELECT user_id, period,
      |    abs(v - lag(v) OVER (PARTITION BY user_id, period
      |      ORDER BY phase, event_id)) AS dv
      |  FROM f),
      |sl AS (
      |  SELECT user_id, period,
      |    CAST(sum(CAST(round(dv * 1e6, 0) AS BIGINT)) AS BIGINT) AS su
      |  FROM d WHERE dv IS NOT NULL GROUP BY 1, 2),
      |best AS (
      |  SELECT user_id, period, su,
      |    row_number() OVER (PARTITION BY user_id ORDER BY su, period) AS rn
      |  FROM sl)""".stripMargin

  private lazy val periodCtes: String = periodCtesFor(TRIAL_PERIODS)

  val oracleSql: Map[String, String] = Map(
    "q169_sequence_likelihood" ->
      """WITH p AS (
        |  SELECT user_id, event_type AS cur,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |m AS (
        |  SELECT cur, nxt, count(*) AS n FROM p
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT cur, CAST(sum(n) AS BIGINT) AS row_n FROM m GROUP BY 1),
        |nm AS (
        |  SELECT cur, nxt,
        |    CAST(round(-ln(n / row_n) * 1e6, 0) AS BIGINT) AS nmv
        |  FROM m JOIN t USING (cur))
        |SELECT user_id, count(*) AS n_transitions,
        |  round(sum(nmv) / count(*) / 1e6, 6) AS avg_nll
        |FROM p JOIN nm ON nm.cur = p.cur AND nm.nxt = p.nxt
        |GROUP BY 1""".stripMargin,
    // exact FLOOR division + pmod in portable SQL: DuckDB's integer `//`
    // TRUNCATES toward zero ((-7)//2 = -3 on 1.0.0 — measured, despite
    // docs that read like floor), so the grid is stated as
    // (x - pmod(x,k)) // k, which is exact for any sign because the
    // numerator is a multiple of k; the hour then wraps with the same
    // ((h%24)+24)%24 pmod identity
    "q170_hourly_profile" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) AS tsn FROM events),
        |h AS (
        |  SELECT event_type,
        |    ((((tsn - ((tsn % 3600000000000 + 3600000000000) % 3600000000000))
        |        // 3600000000000) % 24) + 24) % 24 AS hour,
        |    count(*) AS n
        |  FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS type_n
        |      FROM h GROUP BY 1)
        |SELECT event_type, hour, n, n / type_n AS share
        |FROM h JOIN t USING (event_type)""".stripMargin,
    "q167_event_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS cur,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |m AS (
        |  SELECT cur, nxt, count(*) AS n FROM p
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT cur, CAST(sum(n) AS BIGINT) AS row_n FROM m GROUP BY 1)
        |SELECT cur, nxt, n, n / row_n AS p
        |FROM m JOIN t USING (cur)""".stripMargin,
    "q168_props_extract" ->
      """WITH e AS (
        |  SELECT event_type,
        |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unparsed,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k,
        |  CAST(sum(k) AS BIGINT) / (count(*)
        |    - sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)) AS mean_k
        |FROM e GROUP BY 1""".stripMargin,
    "q174_session_conversion" ->
      """WITH g AS (
        |  SELECT user_id, epoch_ns(ts) AS tsn, event_id, event_type,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_type,
        |    sum(CASE WHEN prev IS NULL OR tsn - prev > 1800000000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
        |  FROM g),
        |per AS (
        |  SELECT user_id, session,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        |  FROM s GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(converted) AS BIGINT) AS n_converting,
        |  sum(converted) / count(*) AS conversion_rate
        |FROM per GROUP BY 1""".stripMargin,
    // exact floor week on any sign (see the q170 oracle note: DuckDB's
    // integer `//` truncates, so the floor is stated via pmod subtraction)
    "q164_retention_cohorts" ->
      """WITH e0 AS (SELECT user_id, epoch_ns(ts) AS tsn FROM events),
        |e AS (
        |  SELECT user_id,
        |    (tsn - ((tsn % 604800000000000 + 604800000000000) % 604800000000000))
        |      // 604800000000000 AS week
        |  FROM e0),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
        |cells AS (
        |  SELECT DISTINCT cohort_week, week - cohort_week AS week_offset,
        |    e.user_id
        |  FROM e JOIN c USING (user_id))
        |SELECT cohort_week, week_offset, count(*) AS n_users
        |FROM cells GROUP BY 1, 2""".stripMargin,
    "q165_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
        |s1 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
        |  FROM e GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, t1,
        |    min(CASE WHEN event_type = 'view' AND e.ts > t1 THEN e.ts END) AS t2
        |  FROM e JOIN s1 USING (user_id) GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.user_id, t1, t2,
        |    min(CASE WHEN event_type = 'click' AND e.ts > t2 THEN e.ts END) AS t3
        |  FROM e JOIN s2 USING (user_id) GROUP BY 1, 2, 3),
        |s4 AS (
        |  SELECT e.user_id, t1, t2, t3,
        |    min(CASE WHEN event_type = 'purchase' AND e.ts > t3 THEN e.ts END) AS t4
        |  FROM e JOIN s3 USING (user_id) GROUP BY 1, 2, 3, 4)
        |SELECT user_id, t1, t2, t3, t4,
        |  CAST((t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT
        |    + (t3 IS NOT NULL)::INT + (t4 IS NOT NULL)::INT AS INT)
        |    AS stage_reached
        |FROM s4""".stripMargin,
    "q166_burst_days" ->
      """WITH d0 AS (SELECT user_id, epoch_ns(ts) AS tsn FROM events),
        |d AS (
        |  SELECT user_id,
        |    (tsn - ((tsn % 86400000000000 + 86400000000000) % 86400000000000))
        |      // 86400000000000 AS day,
        |    count(*) AS k
        |  FROM d0 GROUP BY 1, 2),
        |t AS (
        |  SELECT user_id, count(*) AS d_days,
        |    CAST(sum(k) AS BIGINT) AS t_events
        |  FROM d GROUP BY 1),
        |j AS (
        |  SELECT d.user_id, day, k, d_days, t_events,
        |    (k * d_days > t_events AND
        |     (k * d_days - t_events) * (k * d_days - t_events)
        |       >= 9 * t_events * d_days) AS bursty
        |  FROM d JOIN t USING (user_id)),
        |top AS (
        |  SELECT user_id, day FROM (
        |    SELECT user_id, day,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY k DESC, day) AS rn
        |    FROM j WHERE bursty) WHERE rn = 1)
        |SELECT j.user_id, d_days, t_events,
        |  CAST(sum(CASE WHEN bursty THEN 1 ELSE 0 END) AS BIGINT) AS n_bursty,
        |  max(k) AS max_day_count,
        |  any_value(top.day) AS top_burst_day
        |FROM j LEFT JOIN top ON top.user_id = j.user_id
        |GROUP BY 1, 2, 3""".stripMargin,
    // the rational-mean trick: every factor (n·v − S) is an exact long,
    // sums accumulate in HUGEINT (Spark side: DECIMAL(38,0)), r is ONE
    // division of the two exact integers
    "q160_acf" -> {
      val leadCols = (1 to ACF_LAGS).map(k =>
        s"lead(c, $k) OVER w AS c$k").mkString(",\n        |    ")
      val numCols = (1 to ACF_LAGS).map(k =>
        s"sum(c * c$k) AS num$k").mkString(",\n        |    ")
      val unpivot = (1 to ACF_LAGS).map(k =>
        s"SELECT user_id, n_events, $k AS lag, num$k AS num, den FROM a")
        .mkString("\n        |  UNION ALL ")
      s"""WITH b AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(round(value * 1e6, 0) AS BIGINT) AS v
        |  FROM events),
        |st AS (
        |  SELECT user_id, ts, event_id, v,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    CAST(sum(v) OVER (PARTITION BY user_id) AS BIGINT) AS s
        |  FROM b),
        |cc AS (
        |  SELECT user_id, c,
        |    $leadCols
        |  FROM (SELECT *, CAST(n * v - s AS HUGEINT) AS c FROM st)
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |a AS (
        |  SELECT user_id, count(*) AS n_events,
        |    sum(c * c) AS den,
        |    $numCols
        |  FROM cc GROUP BY 1),
        |u AS (
        |  $unpivot)
        |SELECT user_id, n_events, CAST(lag AS INT) AS lag,
        |  CASE WHEN den != 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
        |  END AS r
        |FROM u WHERE n_events > lag""".stripMargin
    },
    "q137_period_search" ->
      s"""WITH $periodCtes
        |SELECT b.user_id, n.n_points, b.period AS best_period,
        |  CAST(b.su AS DOUBLE) / 1e6 AS best_sl
        |FROM best b JOIN n USING (user_id) WHERE rn = 1""".stripMargin,
    // q177: the identical argmin statement over the DENSE log-spaced
    // grid (512 shortest-round-trip double literals — both engines parse
    // them to the bit-identical trial periods the Spark kernel folds at)
    "q177_period_search_dense" ->
      s"""WITH ${periodCtesFor(periodGrid(DENSE_GRID_N).toSeq)}
        |SELECT b.user_id, n.n_points, b.period AS best_period,
        |  CAST(b.su AS DOUBLE) / 1e6 AS best_sl
        |FROM best b JOIN n USING (user_id) WHERE rn = 1""".stripMargin,
    // q140: fold every point of q137's winning period into FOLD_BINS
    // equal phase bins; bin means sum 1e-6-unit longs, one division
    "q140_fold_template" ->
      s"""WITH $periodCtes,
        |bp AS (
        |  SELECT user_id, period AS best_period FROM best WHERE rn = 1),
        |fold AS (
        |  SELECT e.user_id,
        |    ((e.t % bp.best_period) / bp.best_period) AS phase,
        |    CAST(round(e.v * 1e6, 0) AS BIGINT) AS v_u
        |  FROM e JOIN bp USING (user_id)),
        |b AS (
        |  SELECT user_id,
        |    least(CAST(floor(phase * $FOLD_BINS) AS BIGINT),
        |      ${FOLD_BINS - 1}) AS bin, v_u
        |  FROM fold)
        |SELECT user_id, bin, count(*) AS n,
        |  round(CAST(sum(v_u) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6, 6)
        |    AS mean_v
        |FROM b GROUP BY 1, 2""".stripMargin,
    // q141: the whole serve composition in one statement — q137's argmin,
    // q140's template, q136's MAD scale, then the residual census; the
    // hash match certifies the build→store→serve round-trip end to end
    "q141_phase_residuals" ->
      s"""WITH $periodCtes,
        |bp AS (
        |  SELECT user_id, period AS best_period FROM best WHERE rn = 1),
        |fold AS (
        |  SELECT e.user_id, e.v,
        |    least(CAST(floor(((e.t % bp.best_period) / bp.best_period)
        |      * $FOLD_BINS) AS BIGINT), ${FOLD_BINS - 1}) AS bin
        |  FROM e JOIN bp USING (user_id)),
        |tpl AS (
        |  SELECT user_id, bin,
        |    round(CAST(sum(CAST(round(v * 1e6, 0) AS BIGINT)) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) / 1e6, 6) AS mean_v
        |  FROM fold GROUP BY 1, 2),
        |m AS (
        |  SELECT user_id, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM events GROUP BY 1),
        |dv AS (
        |  SELECT ev.user_id, abs(ev.value - m.med) AS dev
        |  FROM events ev JOIN m USING (user_id)),
        |md AS (
        |  SELECT user_id, round(quantile_cont(dev, 0.5), 6) AS mad
        |  FROM dv GROUP BY 1),
        |r AS (
        |  SELECT f.user_id, abs(f.v - t.mean_v) AS resid, md.mad
        |  FROM fold f JOIN tpl t USING (user_id, bin)
        |    JOIN md USING (user_id))
        |SELECT user_id, count(*) AS n_scored,
        |  CAST(sum(CASE WHEN resid > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_off,
        |  round(max(resid), 6) AS max_resid
        |FROM r GROUP BY 1""".stripMargin,
    "q136_robust_outliers" -> madOracleSql,
    // q138 serves q136 from the stored boundaries — ONE oracle for both
    "q138_outlier_index" -> madOracleSql,
    // q139: the same med/MAD CTEs as q136, then the CUSUM closed form
    // (running sum − clamped running min) in exact 1e-6-unit integers
    "q139_cusum_alerts" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tsn, value FROM events),
        |m AS (
        |  SELECT user_id, round(quantile_cont(value, 0.5), 6) AS med
        |  FROM e GROUP BY 1),
        |d AS (
        |  SELECT e.user_id, abs(e.value - m.med) AS dev
        |  FROM e JOIN m USING (user_id)),
        |md AS (
        |  SELECT user_id, round(quantile_cont(dev, 0.5), 6) AS mad
        |  FROM d GROUP BY 1),
        |x AS (
        |  SELECT e.user_id, e.event_id, e.tsn,
        |    CAST(round(e.value * 1e6, 0) AS BIGINT)
        |      - CAST(round(m.med * 1e6, 0) AS BIGINT)
        |      - (CAST(round(md.mad * 1e6, 0) AS BIGINT) // 2) AS x,
        |    CAST(round(md.mad * 1e6, 0) AS BIGINT) AS mad_u
        |  FROM e JOIN m USING (user_id) JOIN md USING (user_id)),
        |s AS (
        |  SELECT user_id, event_id, tsn, mad_u,
        |    sum(x) OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        |  FROM x),
        |c AS (
        |  SELECT user_id, event_id, tsn, mad_u,
        |    s - least(0, min(s) OVER (PARTITION BY user_id
        |      ORDER BY tsn, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS c
        |  FROM s),
        |fa AS (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY tsn, event_id) AS rn
        |  FROM c WHERE c > 5 * mad_u),
        |agg AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(sum(CASE WHEN c > 5 * mad_u THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_alarms,
        |    max(c) AS maxc
        |  FROM c GROUP BY 1)
        |SELECT a.user_id, a.n_events, a.n_alarms,
        |  f.event_id AS first_alarm_id,
        |  round(CAST(a.maxc AS DOUBLE) / 1e6, 6) AS max_cusum
        |FROM agg a
        |LEFT JOIN (SELECT user_id, event_id FROM fa WHERE rn = 1) f
        |  USING (user_id)""".stripMargin,
    "q37_kernel_features" -> KernelOracleSql.q37Sql,
    "q62_quantiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.9), 6) AS p90,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type""".stripMargin,
    "q61_asof_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) AS tsn FROM events),
        |w AS (
        |  SELECT event_id, user_id, event_type, tsn,
        |    last_value(CASE WHEN event_type = 'error' THEN tsn END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS le
        |  FROM e)
        |SELECT event_id, user_id, (tsn - le) // 1000000 AS ms_since_error
        |FROM w WHERE event_type = 'click'""".stripMargin,
    "q30_ts_bin_agg" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS tsn, value,
        |    min(epoch_ns(ts)) OVER (PARTITION BY user_id) AS mn,
        |    max(epoch_ns(ts)) OVER (PARTITION BY user_id) AS mx
        |  FROM events),
        |b AS (
        |  SELECT user_id, value, (tsn - mn) // 1000000000 AS rel_sec,
        |    least(floor(((tsn - mn) / 1e9) / (((mx - mn) / 1e9) / 20.0)), 19) AS bin
        |  FROM e)
        |SELECT user_id, CAST(bin AS BIGINT) AS bin,
        |  CAST(sum(rel_sec) AS BIGINT) AS sum_t_s,
        |  round(avg(value), 6) AS avg_v, count(*) AS n
        |FROM b GROUP BY user_id, bin""".stripMargin,
    "q31_abbe_per_user" ->
      """WITH d AS (
        |  SELECT user_id, value,
        |    value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
        |  FROM events),
        |s AS (
        |  SELECT user_id, count(value) AS n, sum(d * d) AS sum_d2,
        |    sum(value * value) - sum(value) * sum(value) / count(value) AS sum_c2
        |  FROM d GROUP BY user_id)
        |SELECT user_id, n, round(n / (2.0 * (n - 1)) * sum_d2 / sum_c2, 6) AS abbe
        |FROM s WHERE n > 1""".stripMargin,
    "q32_paa_frames" ->
      """WITH r AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events)
        |SELECT user_id, CAST(floor((rn - 1) * 10 / cnt) AS BIGINT) AS frame,
        |  round(avg(value), 6) AS avg_v, count(*) AS n
        |FROM r GROUP BY user_id, frame""".stripMargin,
    "q33_sliding" ->
      """SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS slide_mean
        |FROM events""".stripMargin,
    "q34_moments" ->
      """WITH m AS (SELECT event_type AS et, avg(value) AS m FROM events GROUP BY 1),
        |c AS (SELECT event_type, value - m AS c FROM events JOIN m ON event_type = et)
        |SELECT event_type, count(*) AS n,
        |  round((sum(pow(c, 3)) / count(*)) / pow(sum(pow(c, 2)) / count(*), 1.5), 6) AS skew,
        |  round((sum(pow(c, 4)) / count(*)) / pow(sum(pow(c, 2)) / count(*), 2.0) - 3.0, 6) AS kurtosis
        |FROM c GROUP BY event_type""".stripMargin,
    "q35_user_stats" ->
      """SELECT user_id, count(*) AS n, round(avg(value), 6) AS mean_v,
        |  round(stddev_pop(value), 6) AS std_v, round(min(value), 6) AS min_v,
        |  round(max(value), 6) AS max_v
        |FROM events GROUP BY user_id""".stripMargin,
    "q36_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, epoch_ns(ts) AS tsn, event_id,
        |    lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |s AS (
        |  SELECT user_id, tsn, event_id,
        |    sum(CASE WHEN prev IS NULL OR tsn - prev > 1800000000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tsn, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
        |  FROM g)
        |SELECT user_id, CAST(session AS BIGINT) AS session, count(*) AS n_events,
        |  round((max(tsn) - min(tsn)) / 1e9, 3) AS duration_s
        |FROM s GROUP BY user_id, session""".stripMargin)
}
