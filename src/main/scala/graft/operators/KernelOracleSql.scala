package graft.operators

/** DuckDB oracle SQL for the curve-kernel features (q37/q50): a faithful
  * SQL re-derivation of `Kernels.ekviPaa`+`fixMissing` (abbe, density),
  * `Kernels.variogram`+`lsqSlope` (variogram slope) and `Sax.toLetterRep`
  * (SAX word), matching the Scala kernels to < 1e-9 so the rounded (6 dp)
  * outputs hash-match.
  *
  * Notable replication details, mirrored expression-for-expression:
  *   - ekvi-PAA borders `lo + i*(hi-lo)/b` with the half-open `[b_i, b_{i+1})`
  *     membership test (`data_analysis.py:54-140` semantics);
  *   - empty bins take the border midpoint for x and interpolate y with the
  *     reference's distance-PROPORTIONAL weights — the sequential left-to-right
  *     gap fill is a recursive CTE stepping one position per iteration
  *     (`data_analysis.py:354-412`);
  *   - PAA frame starts `trunc(k * n/bins)` while `start <= n - ceil(n/bins)`
  *     (`data_analysis.py:14-51`), applied three times (t/v reduce, pair
  *     reduce, SAX word);
  *   - variogram pairs are ordered i≠j with a STABLE sort by distance
  *     (`ORDER BY vx, i, j` = numpy argsort tie order by generation index);
  *   - `computeBins` uses banker's rounding (math.rint) — the `= 0.5` CASE
  *     arm reproduces ties-to-even exactly;
  *   - SAX breakpoints for alphabet 10 inlined from `sax.py:203-233`.
  */
object KernelOracleSql {

  /** Shared CTE block: per-user curves (`pts`/`u`), abbe via ekvi-PAA(50)
    * (`eabbe`), curve density via the ekvi-PAA(n) x-grid (`dens`), and the
    * variogram slope (`vslope`). Callers prepend WITH RECURSIVE.
    * [[kernelCtesFrom]] parameterizes the events source so the q184
    * planted-10× fixture can feed the SAME chain an amplified CTE.
    *
    * `ekvif` is a MATERIALIZED evaluation boundary between the RECURSIVE
    * gap-fill (`efill`) and its three consumers inside `eabbe`: inside a
    * WITH RECURSIVE block DuckDB re-inlines CTEs per reference (no
    * auto-materialization — measured), so three concurrent recursions
    * over the q184 10× fixture exhausted a 100 GB memory limit. The
    * explicit MATERIALIZED hints here (`pts`/`u`/`erep`/`ekvif` — the
    * multiply-referenced stages) evaluate each once: measured at
    * sf0.1×10, eabbe 84→22 s and the full q184 oracle OOM@100GB →
    * completes in 92 s under a 40 GB limit. Same rows, same values —
    * materialization is a pure plan hint.
    */
  def kernelCtesFrom(src: String): String =
    s"""pts AS MATERIALIZED (
      |  SELECT user_id, epoch_ns(ts)/86400e9 AS t, value AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)/86400e9, value) AS pos
      |  FROM $src),""".stripMargin + kernelCtesTail

  val kernelCtes: String = kernelCtesFrom("events")

  // lazy: kernelCtes's initializer above runs kernelCtesFrom during object
  // init, BEFORE this later-declared val would be assigned
  private lazy val kernelCtesTail: String =
    """
      |u AS MATERIALIZED (
      |  SELECT user_id, count(*) AS n, min(t) AS tmin, max(t) AS tmax
      |  FROM pts GROUP BY 1 HAVING count(*) > 10),
      |eb AS (
      |  SELECT user_id, n, tmin, tmax, least(50, n) AS b,
      |    (tmax - tmin) / least(50, n) / 2.0 AS h
      |  FROM u),
      |ebins AS (
      |  SELECT e.user_id, gs.i,
      |    (e.tmin - e.h) + gs.i * ((e.tmax + e.h) - (e.tmin - e.h)) / e.b AS b_lo,
      |    (e.tmin - e.h) + (gs.i + 1) * ((e.tmax + e.h) - (e.tmin - e.h)) / e.b AS b_hi
      |  FROM eb e, LATERAL (SELECT unnest(generate_series(0, e.b - 1)) AS i) gs),
      |exa AS (
      |  SELECT eb2.user_id, eb2.i,
      |    CASE WHEN count(p.t) > 0
      |         THEN list_sum(list(p.t ORDER BY p.pos)) / count(p.t)
      |         ELSE (eb2.b_hi + eb2.b_lo) / 2 END AS xa,
      |    CASE WHEN count(p.t) > 0
      |         THEN list_sum(list(p.v ORDER BY p.pos)) / count(p.t) END AS ya
      |  FROM ebins eb2 LEFT JOIN pts p
      |    ON p.user_id = eb2.user_id AND p.t >= eb2.b_lo AND p.t < eb2.b_hi
      |  GROUP BY eb2.user_id, eb2.i, eb2.b_lo, eb2.b_hi),
      |erep AS MATERIALIZED (
      |  SELECT user_id, i, xa,
      |    CASE WHEN ya IS NOT NULL THEN ya
      |         WHEN i < fv THEN yfv WHEN i > lv THEN ylv END AS ya
      |  FROM (
      |    SELECT user_id, i, xa, ya,
      |      min(CASE WHEN ya IS NOT NULL THEN i END) OVER (PARTITION BY user_id) AS fv,
      |      max(CASE WHEN ya IS NOT NULL THEN i END) OVER (PARTITION BY user_id) AS lv,
      |      first_value(ya IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY i
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS yfv,
      |      last_value(ya IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY i
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS ylv
      |    FROM exa)),
      |egap AS (
      |  SELECT g.user_id, g.i, g.xa, r.xa AS xr, r.ya AS yb
      |  FROM (
      |    SELECT user_id, i, xa, ya,
      |      min(CASE WHEN ya IS NOT NULL THEN i END) OVER (PARTITION BY user_id
      |        ORDER BY i ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ri
      |    FROM erep QUALIFY ya IS NULL) g
      |  JOIN erep r ON r.user_id = g.user_id AND r.i = g.ri),
      |efill AS (
      |  SELECT user_id, i, xa, ya FROM erep WHERE ya IS NOT NULL
      |  UNION ALL
      |  SELECT g.user_id, g.i, g.xa,
      |    ((g.xa - p.xa) / ((g.xa - p.xa) + (g.xr - g.xa))) * p.ya
      |      + ((g.xr - g.xa) / ((g.xa - p.xa) + (g.xr - g.xa))) * g.yb
      |  FROM efill p JOIN egap g ON g.user_id = p.user_id AND g.i = p.i + 1),
      |ekvif AS MATERIALIZED (
      |  SELECT user_id, i, xa, ya FROM efill),
      |eabbe AS (
      |  SELECT d.user_id,
      |    u.n / (2.0 * (u.n - 1.0)) * d.sum1 / c.sum2 AS abbe
      |  FROM (SELECT user_id,
      |          list_sum(list((ya - yp) * (ya - yp) ORDER BY i)) AS sum1
      |        FROM (SELECT user_id, i, ya,
      |                lag(ya) OVER (PARTITION BY user_id ORDER BY i) AS yp
      |              FROM ekvif) GROUP BY 1) d
      |  JOIN (SELECT f.user_id,
      |          list_sum(list((f.ya - a.mn) * (f.ya - a.mn) ORDER BY f.i)) AS sum2
      |        FROM ekvif f
      |        JOIN (SELECT user_id, list_sum(list(ya ORDER BY i)) / count(*) AS mn
      |              FROM ekvif GROUP BY 1) a USING (user_id)
      |        GROUP BY 1) c USING (user_id)
      |  JOIN u USING (user_id)),
      |dbins AS (
      |  SELECT e.user_id, gs.i,
      |    (e.tmin - e.h) + gs.i * ((e.tmax + e.h) - (e.tmin - e.h)) / e.n AS b_lo,
      |    (e.tmin - e.h) + (gs.i + 1) * ((e.tmax + e.h) - (e.tmin - e.h)) / e.n AS b_hi
      |  FROM (SELECT user_id, n, tmin, tmax, (tmax - tmin) / n / 2.0 AS h FROM u) e,
      |    LATERAL (SELECT unnest(generate_series(0, e.n - 1)) AS i) gs),
      |dens AS (
      |  SELECT user_id, count(*) / (max(xa) - min(xa)) AS density
      |  FROM (
      |    SELECT db.user_id, db.i,
      |      CASE WHEN count(p.t) > 0
      |           THEN list_sum(list(p.t ORDER BY p.pos)) / count(p.t)
      |           ELSE (db.b_hi + db.b_lo) / 2 END AS xa
      |    FROM dbins db LEFT JOIN pts p
      |      ON p.user_id = db.user_id AND p.t >= db.b_lo AND p.t < db.b_hi
      |    GROUP BY db.user_id, db.i, db.b_lo, db.b_hi)
      |  GROUP BY 1),
      |vb AS (
      |  SELECT user_id, n, greatest(5, CAST(
      |    CASE WHEN (tmax - tmin) - floor(tmax - tmin) = 0.5
      |         THEN 2.0 * round((tmax - tmin) / 2.0)
      |         ELSE round(tmax - tmin) END AS INT)) AS b
      |  FROM u),
      |vfr AS (
      |  SELECT s.user_id, gs.k,
      |    CAST(trunc(gs.k * (s.n / CAST(s.b AS DOUBLE))) AS INT) AS fstart, s.step
      |  FROM (SELECT user_id, n, b, CAST(ceil(n / CAST(b AS DOUBLE)) AS INT) AS step
      |        FROM vb) s,
      |    LATERAL (SELECT unnest(generate_series(0, 2 * s.b + 2)) AS k) gs
      |  WHERE CAST(trunc(gs.k * (s.n / CAST(s.b AS DOUBLE))) AS INT) <= s.n - s.step),
      |vpaa AS (
      |  SELECT f.user_id, f.k,
      |    list_sum(list(p.t ORDER BY p.pos)) / count(*) AS xr,
      |    list_sum(list(p.v ORDER BY p.pos)) / count(*) AS yr
      |  FROM vfr f JOIN pts p ON p.user_id = f.user_id
      |    AND p.pos BETWEEN f.fstart + 1 AND f.fstart + f.step
      |  GROUP BY 1, 2),
      |vsorted AS (
      |  SELECT user_id, vx, vy,
      |    row_number() OVER (PARTITION BY user_id ORDER BY vx, i, j) AS pos,
      |    count(*) OVER (PARTITION BY user_id) AS m
      |  FROM (
      |    SELECT a.user_id, a.k AS i, b2.k AS j,
      |      abs(a.xr - b2.xr) AS vx, (a.yr - b2.yr) * (a.yr - b2.yr) AS vy
      |    FROM vpaa a JOIN vpaa b2 ON a.user_id = b2.user_id AND a.k != b2.k)),
      |v2fr AS (
      |  SELECT s.user_id, gs.k,
      |    CAST(trunc(gs.k * (s.m / CAST(s.b AS DOUBLE))) AS INT) AS fstart, s.step2
      |  FROM (SELECT v.user_id, v.m, w.b,
      |          CAST(ceil(v.m / CAST(w.b AS DOUBLE)) AS INT) AS step2
      |        FROM (SELECT user_id, max(m) AS m FROM vsorted GROUP BY 1) v
      |        JOIN vb w USING (user_id)) s,
      |    LATERAL (SELECT unnest(generate_series(0, 2 * s.b + 2)) AS k) gs
      |  WHERE CAST(trunc(gs.k * (s.m / CAST(s.b AS DOUBLE))) AS INT) <= s.m - s.step2),
      |vslope AS (
      |  SELECT user_id,
      |    (count(*) * list_sum(list(lx * ly ORDER BY k))
      |       - list_sum(list(lx ORDER BY k)) * list_sum(list(ly ORDER BY k))) /
      |    (count(*) * list_sum(list(lx * lx ORDER BY k))
      |       - list_sum(list(lx ORDER BY k)) * list_sum(list(lx ORDER BY k)))
      |      AS vario_slope
      |  FROM (
      |    SELECT q.user_id, q.k, log10(q.rx) AS lx, log10(q.ry) AS ly
      |    FROM (
      |      SELECT f.user_id, f.k,
      |        list_sum(list(s.vx ORDER BY s.pos)) / count(*) AS rx,
      |        list_sum(list(s.vy ORDER BY s.pos)) / count(*) AS ry
      |      FROM v2fr f JOIN vsorted s ON s.user_id = f.user_id
      |        AND s.pos BETWEEN f.fstart + 1 AND f.fstart + f.step2
      |      GROUP BY 1, 2) q)
      |  GROUP BY 1)""".stripMargin

  /** SAX word CTEs (z-norm → PAA(8) → alphabet-10 letters), appended after
    * [[kernelCtes]].
    */
  val saxCtes: String =
    """snorm AS (
      |  SELECT p.user_id, p.pos, u.n,
      |    CASE WHEN st.sd < 1e-6 THEN 0.0 ELSE (p.v - st.mv) / st.sd END AS nv
      |  FROM pts p
      |  JOIN (SELECT p2.user_id, m.mv,
      |          sqrt(list_sum(list((p2.v - m.mv) * (p2.v - m.mv) ORDER BY p2.pos))
      |            / count(*)) AS sd
      |        FROM pts p2
      |        JOIN (SELECT user_id, list_sum(list(v ORDER BY pos)) / count(*) AS mv
      |              FROM pts GROUP BY 1) m USING (user_id)
      |        GROUP BY p2.user_id, m.mv) st ON st.user_id = p.user_id
      |  JOIN u ON u.user_id = p.user_id),
      |xfr AS (
      |  SELECT s.user_id, gs.k,
      |    CAST(trunc(gs.k * (s.n / 8.0)) AS INT) AS fstart, s.step
      |  FROM (SELECT user_id, n, CAST(ceil(n / 8.0) AS INT) AS step FROM u) s,
      |    LATERAL (SELECT unnest(generate_series(0, 18)) AS k) gs
      |  WHERE CAST(trunc(gs.k * (s.n / 8.0)) AS INT) <= s.n - s.step),
      |sword AS (
      |  SELECT user_id, string_agg(
      |    CASE WHEN pv < -1.28 THEN 'a' WHEN pv < -0.84 THEN 'b'
      |         WHEN pv < -0.52 THEN 'c' WHEN pv < -0.25 THEN 'd'
      |         WHEN pv < 0 THEN 'e' WHEN pv < 0.25 THEN 'f'
      |         WHEN pv < 0.52 THEN 'g' WHEN pv < 0.84 THEN 'h'
      |         WHEN pv < 1.28 THEN 'i' ELSE 'j' END, '' ORDER BY k) AS sax_word
      |  FROM (
      |    SELECT f.user_id, f.k,
      |      list_sum(list(s.nv ORDER BY s.pos)) / count(*) AS pv
      |    FROM xfr f JOIN snorm s ON s.user_id = f.user_id
      |      AND s.pos BETWEEN f.fstart + 1 AND f.fstart + f.step
      |    GROUP BY 1, 2)
      |  GROUP BY 1)""".stripMargin

  val q37Sql: String =
    s"""WITH RECURSIVE $kernelCtes, $saxCtes
       |SELECT u.user_id, round(e.abbe, 6) AS abbe, w.sax_word,
       |  round(v.vario_slope, 6) AS vario_slope, round(d.density, 6) AS density
       |FROM u JOIN eabbe e USING (user_id) JOIN sword w USING (user_id)
       |JOIN vslope v USING (user_id) JOIN dens d USING (user_id)""".stripMargin

  /** q53 (`HistShapeDescr` over event-derived stars, templates = the first
    * 3 stars by starId string order, bins = 10, alphabet = 7, slide = false,
    * meth = average) as one SQL derivation:
    *
    *   1. `Kernels.histogram`: ekvi-PAA resample to the ORIGINAL length n
    *      (same border/membership/gap-fill semantics as the abbe chain,
    *      with b = n — CTEs `hbins…hfill`), mean-center, 10 edges over
    *      [min, max] → 9 buckets (half-open, last closed — the membership
    *      rule IS the Scala guard loops' post-condition; `mx = mn`
    *      degenerates to bucket 8), z-score the 9 counts;
    *   2. `Sax.toLetterRep(hist, wordSize=10, alphabet=7)`: normalize
    *      AGAIN (the kernel's own z-norm — applied to already-normed
    *      counts, kept for exact FP parity), then PAA 9→10. With
    *      step = ceil(9/10) = 1 the frame starts are trunc(k·0.9) =
    *      [0,0,1,…,8]: each word letter is one bucket's letter and bucket
    *      0 appears TWICE — so MINDIST runs over the 9 buckets with
    *      weight 2 on bucket 0;
    *   3. MINDIST × scalingFactor √(9/10) (the template word's factor —
    *      constant because every histogram is 9 long), letter distance 0
    *      for adjacent letters else β[max−1] − β[min] on the alphabet-7
    *      breakpoints; average over the 3 templates.
    */
  val q53Sql: String =
    """WITH RECURSIVE pts AS (
      |  SELECT user_id, epoch_ns(ts)/86400e9 AS t, value AS v,
      |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts)/86400e9, value) AS pos
      |  FROM events),
      |u AS MATERIALIZED (
      |  SELECT user_id, count(*) AS n, min(t) AS tmin, max(t) AS tmax
      |  FROM pts GROUP BY 1 HAVING count(*) > 10),
      |hbins AS (
      |  SELECT e.user_id, gs.i,
      |    (e.tmin - e.h) + gs.i * ((e.tmax + e.h) - (e.tmin - e.h)) / e.n AS b_lo,
      |    (e.tmin - e.h) + (gs.i + 1) * ((e.tmax + e.h) - (e.tmin - e.h)) / e.n AS b_hi
      |  FROM (SELECT user_id, n, tmin, tmax, (tmax - tmin) / n / 2.0 AS h FROM u) e,
      |    LATERAL (SELECT unnest(generate_series(0, e.n - 1)) AS i) gs),
      |hxa AS (
      |  SELECT hb.user_id, hb.i,
      |    CASE WHEN count(p.t) > 0
      |         THEN list_sum(list(p.t ORDER BY p.pos)) / count(p.t)
      |         ELSE (hb.b_hi + hb.b_lo) / 2 END AS xa,
      |    CASE WHEN count(p.t) > 0
      |         THEN list_sum(list(p.v ORDER BY p.pos)) / count(p.t) END AS ya
      |  FROM hbins hb LEFT JOIN pts p
      |    ON p.user_id = hb.user_id AND p.t >= hb.b_lo AND p.t < hb.b_hi
      |  GROUP BY hb.user_id, hb.i, hb.b_lo, hb.b_hi),
      |hrep AS (
      |  SELECT user_id, i, xa,
      |    CASE WHEN ya IS NOT NULL THEN ya
      |         WHEN i < fv THEN yfv WHEN i > lv THEN ylv END AS ya
      |  FROM (
      |    SELECT user_id, i, xa, ya,
      |      min(CASE WHEN ya IS NOT NULL THEN i END) OVER (PARTITION BY user_id) AS fv,
      |      max(CASE WHEN ya IS NOT NULL THEN i END) OVER (PARTITION BY user_id) AS lv,
      |      first_value(ya IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY i
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS yfv,
      |      last_value(ya IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY i
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS ylv
      |    FROM hxa)),
      |hgap AS (
      |  SELECT g.user_id, g.i, g.xa, r.xa AS xr, r.ya AS yb
      |  FROM (
      |    SELECT user_id, i, xa, ya,
      |      min(CASE WHEN ya IS NOT NULL THEN i END) OVER (PARTITION BY user_id
      |        ORDER BY i ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ri
      |    FROM hrep QUALIFY ya IS NULL) g
      |  JOIN hrep r ON r.user_id = g.user_id AND r.i = g.ri),
      |hfill AS (
      |  SELECT user_id, i, xa, ya FROM hrep WHERE ya IS NOT NULL
      |  UNION ALL
      |  SELECT g.user_id, g.i, g.xa,
      |    ((g.xa - p.xa) / ((g.xa - p.xa) + (g.xr - g.xa))) * p.ya
      |      + ((g.xr - g.xa) / ((g.xa - p.xa) + (g.xr - g.xa))) * g.yb
      |  FROM hfill p JOIN hgap g ON g.user_id = p.user_id AND g.i = p.i + 1),
      |hcent AS (
      |  SELECT f.user_id, f.i, f.ya - m.mv AS cv
      |  FROM hfill f JOIN (SELECT user_id, list_sum(list(ya ORDER BY i)) / count(*) AS mv
      |                     FROM hfill GROUP BY 1) m USING (user_id)),
      |hrange AS (SELECT user_id, min(cv) AS mn, max(cv) AS mx FROM hcent GROUP BY 1),
      |hbkt AS (
      |  SELECT c.user_id, gs.j
      |  FROM hcent c JOIN hrange r USING (user_id),
      |    LATERAL (SELECT unnest(generate_series(0, 8)) AS j) gs
      |  WHERE (r.mx = r.mn AND gs.j = 8)
      |     OR (r.mx > r.mn
      |         AND c.cv >= r.mn + gs.j * (r.mx - r.mn) / 9
      |         AND (gs.j = 8 OR c.cv < r.mn + (gs.j + 1) * (r.mx - r.mn) / 9))),
      |hcnt AS (
      |  SELECT ug.user_id, ug.j, CAST(count(k.j) AS DOUBLE) AS c
      |  FROM (SELECT u.user_id, gs.j FROM u,
      |        (SELECT unnest(generate_series(0, 8)) AS j) gs) ug
      |  LEFT JOIN hbkt k ON k.user_id = ug.user_id AND k.j = ug.j
      |  GROUP BY ug.user_id, ug.j),
      |hn1 AS (
      |  SELECT c.user_id, c.j,
      |    CASE WHEN s.sd < 1e-6 THEN 0.0 ELSE (c.c - s.m) / s.sd END AS v
      |  FROM hcnt c JOIN (
      |    SELECT c2.user_id, m.m AS m,
      |      sqrt(list_sum(list((c2.c - m.m) * (c2.c - m.m) ORDER BY c2.j))
      |        / count(*)) AS sd
      |    FROM hcnt c2 JOIN (SELECT user_id, list_sum(list(c ORDER BY j)) / count(*) AS m
      |                       FROM hcnt GROUP BY 1) m USING (user_id)
      |    GROUP BY c2.user_id, m.m) s USING (user_id)),
      |hn2 AS (
      |  SELECT c.user_id, c.j,
      |    CASE WHEN s.sd < 1e-6 THEN 0.0 ELSE (c.v - s.m) / s.sd END AS v
      |  FROM hn1 c JOIN (
      |    SELECT c2.user_id, m.m AS m,
      |      sqrt(list_sum(list((c2.v - m.m) * (c2.v - m.m) ORDER BY c2.j))
      |        / count(*)) AS sd
      |    FROM hn1 c2 JOIN (SELECT user_id, list_sum(list(v ORDER BY j)) / count(*) AS m
      |                      FROM hn1 GROUP BY 1) m USING (user_id)
      |    GROUP BY c2.user_id, m.m) s USING (user_id)),
      |hlet AS (
      |  SELECT user_id, j,
      |    CASE WHEN v < -1.07 THEN 0 WHEN v < -0.57 THEN 1 WHEN v < -0.18 THEN 2
      |         WHEN v < 0.18 THEN 3 WHEN v < 0.57 THEN 4 WHEN v < 1.07 THEN 5
      |         ELSE 6 END AS li
      |  FROM hn2),
      |tmpl AS (SELECT user_id FROM u ORDER BY 'user_' || user_id LIMIT 3),
      |dist AS (
      |  SELECT a.user_id, b.user_id AS t_id, a.j,
      |    CASE WHEN abs(a.li - b.li) <= 1 THEN 0.0
      |         ELSE ([-1.07, -0.57, -0.18, 0.18, 0.57, 1.07])[greatest(a.li, b.li)]
      |            - ([-1.07, -0.57, -0.18, 0.18, 0.57, 1.07])[least(a.li, b.li) + 1] END AS d
      |  FROM hlet a
      |  JOIN hlet b ON b.j = a.j AND b.user_id IN (SELECT user_id FROM tmpl)),
      |mind AS (
      |  SELECT user_id, t_id,
      |    sqrt(0.9) * sqrt(list_sum(
      |      list((CASE WHEN j = 0 THEN 2.0 ELSE 1.0 END) * d * d ORDER BY j))) AS dd
      |  FROM dist GROUP BY 1, 2)
      |SELECT 'user_' || user_id AS starId,
      |  round(list_sum(list(dd ORDER BY 'user_' || t_id)) / count(*), 6) AS hist_dissim
      |FROM mind GROUP BY user_id""".stripMargin

  /** Skewness/kurtosis from raw central moments, appended after
    * [[kernelCtes]]. Shared by q50 and the q51/q52 discriminant chain.
    */
  val skkCte: String =
    """skk AS (
      |  SELECT user_id,
      |    CASE WHEN m2 = 0 THEN 0.0 ELSE m3 / pow(m2, 1.5) END AS skewness,
      |    CASE WHEN m2 = 0 THEN -3.0 ELSE m4 / pow(m2, 2.0) - 3.0 END AS kurtosis
      |  FROM (
      |    SELECT p.user_id,
      |      list_sum(list(pow(p.v - m.mv, 2) ORDER BY p.pos)) / count(*) AS m2,
      |      list_sum(list(pow(p.v - m.mv, 3) ORDER BY p.pos)) / count(*) AS m3,
      |      list_sum(list(pow(p.v - m.mv, 4) ORDER BY p.pos)) / count(*) AS m4
      |    FROM pts p
      |    JOIN (SELECT user_id, list_sum(list(v ORDER BY pos)) / count(*) AS mv
      |          FROM pts GROUP BY 1) m
      |      USING (user_id)
      |    GROUP BY 1))""".stripMargin

  val q50Sql: String =
    s"""WITH RECURSIVE $kernelCtes,
       |$skkCte
       |SELECT 'user_' || u.user_id AS starId, round(e.abbe, 6) AS abbe_value,
       |  round(k.skewness, 6) AS skewness, round(k.kurtosis, 6) AS kurtosis,
       |  round(d.density, 6) AS curve_density, round(v.vario_slope, 6) AS variogram_slope
       |FROM u JOIN eabbe e USING (user_id) JOIN skk k USING (user_id)
       |JOIN vslope v USING (user_id) JOIN dens d USING (user_id)""".stripMargin

  // -------------------------------------------------------------------------
  // q51/q52: the LDA/QDA Gaussian discriminants (`supervised_deciders.py:12-49`
  // via `ml/Deciders.scala` GaussianFit/LDADec/QDADec) unrolled into SQL over
  // the q50 feature matrix. Both deciders are closed-form deterministic —
  // per-class moment sums → covariance (+1e-6 ridge) → log-likelihood — so
  // the whole train-and-score pipeline is SQL-expressible the same way q53
  // unrolled histogram→SAX→MINDIST. The 5×5 inverse never materializes:
  // each quadratic form (x−μ)ᵀΣ⁻¹(x−μ) is an unrolled Cholesky factorization
  // (15 lateral-alias entries) followed by forward substitution, and
  // log|Σ| = 2·Σ ln L_ii. Feature order f1..f5 matches the VectorAssembler
  // column order (abbe, skewness, kurtosis, curve_density, variogram_slope);
  // moment sums are ordered list_sum(... ORDER BY user_id) so the oracle is
  // deterministic under DuckDB's parallel aggregation.
  // -------------------------------------------------------------------------

  private val dims = 1 to 5
  private val upper: Seq[(Int, Int)] = for { i <- dims; j <- i to 5 } yield (i, j)

  /** n, Σf_i, Σf_i·f_j per class — GaussianFit.momentsBoth's sums. */
  private def momSums(pfx: String): String = {
    val n = s"count(*) AS ${pfx}n"
    val s1 = dims.map(i => s"list_sum(list(f$i ORDER BY user_id)) AS ${pfx}s$i")
    val s2 = upper.map { case (i, j) =>
      s"list_sum(list(f$i*f$j ORDER BY user_id)) AS ${pfx}s$i$j"
    }
    (n +: (s1 ++ s2)).mkString(",\n    ")
  }

  /** Cholesky L of the symmetric matrix `a(i,j)` (i ≤ j), emitted as
    * lateral-alias columns `l`+ij — the standard recurrence, 15 entries.
    */
  private def cholLines(a: (Int, Int) => String, l: String): Seq[String] =
    dims.flatMap { j =>
      val diagTail = (1 until j).map(k => s" - $l$j$k*$l$j$k").mkString
      val diag = s"sqrt(${a(j, j)}$diagTail) AS $l$j$j"
      val below = ((j + 1) to 5).map { i =>
        val tail = (1 until j).map(k => s" - $l$i$k*$l$j$k").mkString
        // symmetric: entry (i,j) with i>j lives in the upper triangle as (j,i)
        s"(${a(j, i)}$tail) / $l$j$j AS $l$i$j"
      }
      diag +: below
    }

  /** Forward substitution L·z = (f − μ) plus the quadratic form Σz_i². */
  private def solveLines(l: String, mean: Int => String,
                         z: String, quad: String): Seq[String] = {
    val zs = dims.map { i =>
      val tail = (1 until i).map(k => s" - $l$i$k*$z$k").mkString
      s"((f$i - ${mean(i)})$tail) / $l$i$i AS $z$i"
    }
    zs :+ (dims.map(i => s"$z$i*$z$i").mkString(" + ") + s" AS $quad")
  }

  private def logDet(l: String): String =
    dims.map(i => s"ln($l$i$i)").mkString(" + ")

  /** QDA per-class covariance entry: sxx/n − μμᵀ (+ridge), exactly
    * GaussianFit.gaussian's formula.
    */
  private def qdaCov(c: Int)(i: Int, j: Int): String = {
    val ridge = if (i == j) " + 1e-6" else ""
    s"(m${c}s$i$j/m${c}n - mm${c}_$i*mm${c}_$j$ridge)"
  }

  /** LDA pooled covariance entry: ((sxx0 − μ0μ0ᵀ·n0) + (sxx1 − μ1μ1ᵀ·n1))
    * / total (+ridge), exactly LDADec.learn's formula.
    */
  private def ldaCov(i: Int, j: Int): String = {
    val ridge = if (i == j) " + 1e-6" else ""
    s"((m0s$i$j - mm0_$i*mm0_$j*m0n + m1s$i$j - mm1_$i*mm1_$j*m1n)/(m0n+m1n)$ridge)"
  }

  /** Banker's rounding to 1/`scale` (math.rint / bround parity): the
    * `= 0.5` tie arm reproduces ties-to-even, same pattern as
    * computeBins' `vb` CTE. One template for every decimal width so a
    * boundary-case fix cannot diverge between copies.
    */
  private def rintAt(x: String, scale: Int): String =
    s"(CASE WHEN ($x)*$scale - floor(($x)*$scale) = 0.5 " +
      s"THEN 2.0*round(($x)*$scale/2.0) ELSE round(($x)*$scale) END)/$scale"

  private def rint3(x: String): String = rintAt(x, 1000)

  /** The per-row scoring block (Cholesky solves → log-likelihoods →
    * posteriors) — one definition shared by `sc` (q51/q52, rows = stars)
    * and q71's `gsc` (rows = PCA mesh points); both supply f1..f5.
    */
  private val scoreExprBlock: String = {
    val score = (solveLines("pl", i => s"mm0_$i", "zl0_", "quad_l0") ++
      solveLines("pl", i => s"mm1_$i", "zl1_", "quad_l1") ++
      solveLines("q0l", i => s"mm0_$i", "zq0_", "quad_q0") ++
      solveLines("q1l", i => s"mm1_$i", "zq1_", "quad_q1")).mkString(",\n    ")
    s"""$score,
       |    ln(m0n/CAST(m0n+m1n AS DOUBLE)) - 0.5*(2*(${logDet("pl")})) - 0.5*quad_l0 AS ll_l0,
       |    ln(m1n/CAST(m0n+m1n AS DOUBLE)) - 0.5*(2*(${logDet("pl")})) - 0.5*quad_l1 AS ll_l1,
       |    ln(m0n/CAST(m0n+m1n AS DOUBLE)) - 0.5*(2*(${logDet("q0l")})) - 0.5*quad_q0 AS ll_q0,
       |    ln(m1n/CAST(m0n+m1n AS DOUBLE)) - 0.5*(2*(${logDet("q1l")})) - 0.5*quad_q1 AS ll_q1,
       |    exp(ll_l1 - greatest(ll_l0, ll_l1)) /
       |      (exp(ll_l0 - greatest(ll_l0, ll_l1)) + exp(ll_l1 - greatest(ll_l0, ll_l1))) AS p_lda,
       |    exp(ll_q1 - greatest(ll_q0, ll_q1)) /
       |      (exp(ll_q0 - greatest(ll_q0, ll_q1)) + exp(ll_q1 - greatest(ll_q0, ll_q1))) AS p_qda""".stripMargin
  }

  /** WITH-prefix shared by q51/q52/q71: features → per-class moments →
    * model (means, three Cholesky factors) → per-star scores `sc`
    * (p_lda, p_qda, lbl). `fv`/`mdl0`/`mdl` are MATERIALIZED: q71's
    * recursive power-iteration CTEs reference downstream derivations, and
    * DuckDB would otherwise re-inline (and re-run) the whole kernel chain
    * on every iteration.
    */
  private def discriminantCtesFrom(src: String, prelude: String): String = {
    val means = (for { c <- Seq(0, 1); i <- dims }
      yield s"m${c}s$i/m${c}n AS mm${c}_$i").mkString(",\n    ")
    val chol = (cholLines(qdaCov(0), "q0l") ++ cholLines(qdaCov(1), "q1l") ++
      cholLines(ldaCov, "pl")).mkString(",\n    ")
    s"""WITH RECURSIVE $prelude${kernelCtesFrom(src)},
       |$skkCte,
       |fv AS MATERIALIZED (
       |  SELECT u.user_id,
       |    CASE WHEN u.user_id % 2 = 0 THEN 1 ELSE 0 END AS lbl,
       |    e.abbe AS f1, k.skewness AS f2, k.kurtosis AS f3,
       |    d.density AS f4, v.vario_slope AS f5
       |  FROM u JOIN eabbe e USING (user_id) JOIN skk k USING (user_id)
       |  JOIN vslope v USING (user_id) JOIN dens d USING (user_id)
       |  WHERE e.abbe IS NOT NULL AND NOT isnan(e.abbe)
       |    AND k.skewness IS NOT NULL AND NOT isnan(k.skewness)
       |    AND k.kurtosis IS NOT NULL AND NOT isnan(k.kurtosis)
       |    AND d.density IS NOT NULL AND NOT isnan(d.density)
       |    AND v.vario_slope IS NOT NULL AND NOT isnan(v.vario_slope)),
       |m0 AS (SELECT ${momSums("m0")} FROM fv WHERE lbl = 0),
       |m1 AS (SELECT ${momSums("m1")} FROM fv WHERE lbl = 1),
       |mdl0 AS MATERIALIZED (SELECT *,
       |    $means
       |  FROM m0, m1),
       |mdl AS MATERIALIZED (SELECT *,
       |    $chol
       |  FROM mdl0),
       |sc AS (
       |  SELECT fv.user_id, fv.lbl,
       |    $scoreExprBlock
       |  FROM fv, mdl)""".stripMargin
  }

  private val discriminantCtes: String = discriminantCtesFrom("events", "")

  /** q51 (`getAllPredictions` over LDA/QDA): per-star probabilities (4 dp)
    * and threshold flags at 0.5 — thresholds apply to the RAW probability,
    * as predictOnCoords does.
    */
  val q51Sql: String =
    s"""$discriminantCtes
       |SELECT 'user_' || user_id AS starId,
       |  round(p_lda, 4) AS prob_lda, round(p_qda, 4) AS prob_qda,
       |  p_lda >= 0.5 AS passed_LDADec, p_qda >= 0.5 AS passed_QDADec,
       |  (p_lda >= 0.5 AND p_qda >= 0.5) AS passed
       |FROM sc""".stripMargin

  /** q184: q51's whole train-and-score chain over a PLANTED 10× star
    * fixture — the [[graft.Ladder]] star 10× rung's conclusion (classify cost
    * ∝ stars, collects stay class-statistics-sized) promoted to a
    * hash-verified gate the way q178/q179 promoted the dedup/PQ dials.
    * The amplification is part of the query in BOTH engines: 10
    * deterministic copies per event row, copy c offsetting user_id by
    * c·1,000,000 (parity — and therefore the class label — preserved)
    * and perturbing value by c/1024 (an exact binary fraction, so the
    * two engines' doubles are bit-identical; CAST keeps DuckDB from
    * parsing the divisor as DECIMAL).
    */
  val q184Sql: String = {
    // MATERIALIZED: the kernel chain references pts (and through it this
    // CTE) from many branches; without it DuckDB re-inlines the 10×
    // cross-join per reference and the sf0.1 oracle run exhausts memory
    val amp =
      """events_amp AS MATERIALIZED (
        |  SELECT e.user_id + 1000000 * c.copy AS user_id, e.ts,
        |    e.value + (c.copy / CAST(1024 AS DOUBLE)) AS value
        |  FROM events e, LATERAL (SELECT unnest(generate_series(0, 9)) AS copy) c),
        |""".stripMargin
    s"""${discriminantCtesFrom("events_amp", amp)}
       |SELECT 'user_' || user_id AS starId,
       |  round(p_lda, 4) AS prob_lda, round(p_qda, 4) AS prob_qda,
       |  p_lda >= 0.5 AS passed_LDADec, p_qda >= 0.5 AS passed_QDADec,
       |  (p_lda >= 0.5 AND p_qda >= 0.5) AS passed
       |FROM sc""".stripMargin
  }

  /** q52 (`getStatistic`): confusion metrics per decider + the mean row,
    * mirroring getStatisticOnCoords — tp counts ≥-threshold on searched,
    * tn counts <-threshold on others; precision/tpr/tnr/fpr/fnr
    * banker's-rounded to 3 dp BEFORE the mean row averages them;
    * accuracy/f1 unrounded.
    */
  val q52Sql: String =
    s"""$discriminantCtes,
       |agg AS (
       |  SELECT
       |    CAST(sum(CASE WHEN lbl = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS ns,
       |    CAST(sum(CASE WHEN lbl = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS no_,
       |    CAST(sum(CASE WHEN lbl = 1 AND p_lda >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE) AS tp_lda,
       |    CAST(sum(CASE WHEN lbl = 0 AND p_lda < 0.5 THEN 1 ELSE 0 END) AS DOUBLE) AS tn_lda,
       |    CAST(sum(CASE WHEN lbl = 1 AND p_qda >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE) AS tp_qda,
       |    CAST(sum(CASE WHEN lbl = 0 AND p_qda < 0.5 THEN 1 ELSE 0 END) AS DOUBLE) AS tn_qda
       |  FROM sc),
       |cm AS (
       |  SELECT 'LDADec' AS decider, tp_lda AS tp, tn_lda AS tn, ns, no_ FROM agg
       |  UNION ALL
       |  SELECT 'QDADec', tp_qda, tn_qda, ns, no_ FROM agg),
       |per AS (
       |  SELECT decider,
       |    ${rint3("CASE WHEN tp + (no_ - tn) > 0 THEN tp / (tp + (no_ - tn)) ELSE 0.0 END")} AS "precision",
       |    (tp + tn) / (ns + no_) AS accuracy,
       |    2 * tp / (2 * tp + (no_ - tn) + (ns - tp)) AS f1_score,
       |    ${rint3("tp / ns")} AS true_positive_rate,
       |    ${rint3("tn / no_")} AS true_negative_rate,
       |    ${rint3("(1 - tn / no_)")} AS false_positive_rate,
       |    ${rint3("(1 - tp / ns)")} AS false_negative_rate
       |  FROM cm)
       |SELECT * FROM per
       |UNION ALL
       |SELECT 'mean', avg("precision"), avg(accuracy), avg(f1_score),
       |  avg(true_positive_rate), avg(true_negative_rate),
       |  avg(false_positive_rate), avg(false_negative_rate)
       |FROM per""".stripMargin

  // -------------------------------------------------------------------------
  // q71: the PCA-plane probability mesh (`plotNDProbabSpace`). The only
  // solver-dependent step — the 2-component PCA eigenbasis — becomes
  // SQL-expressible because (a) the Scala side canonicalizes component
  // signs (largest-|coefficient| entry positive, StarsFilter.scala), so
  // orientation is geometry, not LAPACK convention, and (b) the feature
  // covariance's spectrum is strongly gapped (measured λ2/λ1 ≈ 0.007–0.013,
  // λ3/λ2 ≈ 0.33–0.37 at all three sf dirs), so 100 power-iteration steps
  // converge the eigenvectors to far below ((λ3/λ2)^100 ≈ 1e-44) the 6-dp
  // output rounding. v1 comes from power iteration on the sample
  // covariance (n−1, matching Spark's RowMatrix.computeCovariance), v2
  // from the λ1-deflated matrix; the mesh (0.4 overlay, 20 per dim) and
  // inverse transform mirror probabilitySpaceNDOnCoords expression for
  // expression, and scoring reuses the q51 model CTEs verbatim.
  // -------------------------------------------------------------------------

  /** u_i = Σ_j C_ij·w_j with C stored upper-triangular (i ≤ j). */
  private def matVecLines(cpfx: String, wpfx: String): String =
    dims.map { i =>
      dims.map { j =>
        val (a, b) = (math.min(i, j), math.max(i, j))
        s"$cpfx$a$b*$wpfx$j"
      }.mkString(" + ") + s" AS u$i"
    }.mkString(",\n      ")

  /** Sign of the largest-|entry| (first-true CASE = ties → lowest index),
    * mirroring the Scala canonicalization's maxBy.
    */
  private def signCase(w: String): String =
    "CASE " + dims.map { i =>
      val ands = ((i + 1) to 5).map(j => s"abs($w$i) >= abs($w$j)").mkString(" AND ")
      if (ands.nonEmpty) s"WHEN $ands THEN $w$i" else s"ELSE $w$i"
    }.mkString(" ") + " END"

  /** Normalized power iteration as a recursive CTE over a one-row matrix
    * CTE `src` (entries `cpfx`+ij). The anchor casts to DOUBLE — DuckDB
    * types recursive columns from the anchor, and bare `1.0` literals are
    * DECIMAL(2,1), which would quantize every iterate to one decimal.
    * `src` must be MATERIALIZED or the recursion re-runs its whole
    * derivation chain per step.
    */
  private def powerIterCte(name: String, src: String, cpfx: String): String =
    s"""$name(it, w1, w2, w3, w4, w5) AS (
       |  SELECT 0, CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE),
       |    CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE)
       |  UNION ALL
       |  SELECT it + 1, u1/nrm, u2/nrm, u3/nrm, u4/nrm, u5/nrm FROM (
       |    SELECT it, u1, u2, u3, u4, u5,
       |      sqrt(u1*u1 + u2*u2 + u3*u3 + u4*u4 + u5*u5) AS nrm FROM (
       |      SELECT it,
       |      ${matVecLines(cpfx, "w")}
       |      FROM $name, $src WHERE it < 100)))""".stripMargin

  /** Banker's rounding to 2 decimals — evaluateCoordinates' bround parity. */
  private def rint2(x: String): String = rintAt(x, 100)

  val q71Sql: String = {
    val meanCols = dims.map(i => s"(m0s$i+m1s$i)/(m0n+m1n) AS pm_$i").mkString(",\n    ")
    val covCols = upper.map { case (i, j) =>
      s"((m0s$i$j+m1s$i$j) - (m0n+m1n)*pm_$i*pm_$j)/(m0n+m1n-1) AS pc_$i$j"
    }.mkString(",\n    ")
    def vCols(v: String) =
      dims.map(i => s"CASE WHEN s < 0 THEN -w$i ELSE w$i END AS ${v}_$i").mkString(",\n    ")
    val lam = dims.map { i =>
      s"v1_$i*(" + dims.map { j =>
        s"pc_${math.min(i, j)}${math.max(i, j)}*v1_$j"
      }.mkString(" + ") + ")"
    }.mkString(" + ")
    val deflCols = upper.map { case (i, j) =>
      s"pc_$i$j - lam1*v1_$i*v1_$j AS dc_$i$j"
    }.mkString(",\n    ")
    val px = dims.map(i => s"(f$i - pm_$i)*v1_$i").mkString(" + ")
    val py = dims.map(i => s"(f$i - pm_$i)*v2_$i").mkString(" + ")
    val finv = dims.map(i => s"pm_$i + gx.x*v1_$i + gy.y*v2_$i AS f$i").mkString(",\n    ")
    s"""$discriminantCtes,
       |pca AS MATERIALIZED (SELECT *,
       |    $meanCols,
       |    $covCols
       |  FROM mdl0),
       |${powerIterCte("pit1", "pca", "pc_")},
       |v1 AS (
       |  SELECT ${vCols("v1")} FROM (
       |    SELECT *, ${signCase("w")} AS s FROM pit1 WHERE it = 100)),
       |defl AS MATERIALIZED (
       |  SELECT *,
       |    $deflCols
       |  FROM (SELECT *, $lam AS lam1 FROM pca, v1)),
       |${powerIterCte("pit2", "defl", "dc_")},
       |v2 AS (
       |  SELECT ${vCols("v2")} FROM (
       |    SELECT *, ${signCase("w")} AS s FROM pit2 WHERE it = 100)),
       |ext AS (
       |  SELECT min(px) AS xmn, max(px) AS xmx, min(py) AS ymn, max(py) AS ymx FROM (
       |    SELECT $px AS px, $py AS py FROM fv, pca, v1, v2)),
       |gax AS (
       |  SELECT xmn - (xmx - xmn)*0.4 + gi.i*(((xmx + (xmx - xmn)*0.4) - (xmn - (xmx - xmn)*0.4))/19) AS x
       |  FROM ext, (SELECT unnest(generate_series(0, 19)) AS i) gi),
       |gay AS (
       |  SELECT ymn - (ymx - ymn)*0.4 + gi.i*(((ymx + (ymx - ymn)*0.4) - (ymn - (ymx - ymn)*0.4))/19) AS y
       |  FROM ext, (SELECT unnest(generate_series(0, 19)) AS i) gi),
       |grid AS (
       |  SELECT gx.x, gy.y,
       |    $finv
       |  FROM gax gx, gay gy, pca, v1, v2),
       |gsc AS (
       |  SELECT grid.x, grid.y,
       |    $scoreExprBlock
       |  FROM grid, mdl)
       |SELECT round(x, 6) AS x, round(y, 6) AS y,
       |  round(p_lda, 4) AS prob_lda, round(p_qda, 4) AS prob_qda,
       |  ${rint2("(p_lda + p_qda)/2")} AS combined_prob
       |FROM gsc""".stripMargin
  }
}
