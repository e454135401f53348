package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton) spatial layout for the sky-coordinate workload — the
  * scan-side story behind the reference's cone searches
  * (`star_catalogues/vizier_tap_base.py` cone→box; our q15): at 100 TB of
  * catalog, a box query's cost is set by LAYOUT. Data sorted linearly by
  * ra prunes ra but reads every dec; the Z-order key interleaves the two
  * quantized axes bit by bit, so nearby sky positions get nearby keys and
  * a box maps to a SMALL set of key ranges — partition/file pruning on
  * both dimensions at once.
  *
  * Everything here is pure Column arithmetic (quantize → spread-bits via
  * the standard mask-shift cascade → interleave): codegen'd per-row maps,
  * no UDF, no shuffle. The write-side recipe is
  * `repartitionByRange(zkey).sortWithinPartitions(zkey)` (range layout)
  * or `partitionBy(zcell)` (hive layout, used by the pruning spec);
  * the read side turns a box into its coarse-cell set
  * ([[zcellsForBox]] — bounded 16×16 grid enumeration, the degenerate
  * but exact form of a BIGMIN range decomposition) and lets the catalog
  * prune partitions before any I/O.
  */
object Spatial {

  /** Bits per axis in the full key (2^16 cells per axis). */
  val AXIS_BITS = 16

  /** zcell = the key's top [[CELL_BITS]] bits — 4 per axis, a 16×16
    * coarse grid. Partition-count dial: 8 bits keeps a hive layout at
    * ≤256 directories; a petabyte deployment widens this (12 bits =
    * 4096 cells) without touching the key.
    */
  val CELL_BITS = 8

  /** Spread a 16-bit value's bits to the even positions of a 32-bit
    * lane (the classic mask-shift cascade, e.g. Morton-code form in
    * "Bit Twiddling Hacks"): 0b1111 → 0b01010101. Four masked doublings,
    * all long arithmetic inside one codegen stage.
    */
  private[operators] def spreadBits16(x: Column): Column = {
    val a = x.bitwiseAND(lit(65535L))
    val b = a.bitwiseOR(shiftleft(a, 8)).bitwiseAND(lit(16711935L))   // 0x00FF00FF
    val c = b.bitwiseOR(shiftleft(b, 4)).bitwiseAND(lit(252645135L))  // 0x0F0F0F0F
    val d = c.bitwiseOR(shiftleft(c, 2)).bitwiseAND(lit(858993459L))  // 0x33333333
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(1431655765L))         // 0x55555555
  }

  /** Quantize ra ∈ [0, 360) / dec ∈ [−90, 90] onto the 2^16 axis grid.
    * Clamped (a catalog row at exactly ra=360 or dec=90 lands in the top
    * cell, not out of range). The arithmetic shape (mul before div,
    * floor on the double) is mirrored verbatim in the oracle SQL —
    * both engines run the same IEEE sequence.
    */
  private[operators] def quantRa(ra: Column): Column =
    least(lit(65535L), greatest(lit(0L), floor(ra * 65536.0 / 360.0)))
  private[operators] def quantDec(dec: Column): Column =
    least(lit(65535L), greatest(lit(0L), floor((dec + 90.0) * 65536.0 / 180.0)))

  /** The 32-bit Morton key: ra bits on even positions, dec on odd. */
  def zorderKey(ra: Column, dec: Column): Column =
    spreadBits16(quantRa(ra)).bitwiseOR(shiftleft(spreadBits16(quantDec(dec)), 1))

  /** The key's coarse cell (top [[CELL_BITS]] bits). */
  def zcellOf(zkey: Column): Column = shiftright(zkey, 2 * AXIS_BITS - CELL_BITS)

  // ------------------------------------------------------- driver-side box

  private def quantRaS(ra: Double): Long =
    math.min(65535L, math.max(0L, math.floor(ra * 65536.0 / 360.0).toLong))
  private def quantDecS(dec: Double): Long =
    math.min(65535L, math.max(0L, math.floor((dec + 90.0) * 65536.0 / 180.0).toLong))

  private def interleave4(cx: Long, cy: Long): Long = {
    var z = 0L
    var i = 0
    while (i < CELL_BITS / 2) {
      z |= ((cx >> i) & 1L) << (2 * i)
      z |= ((cy >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** The coarse zcells overlapping a (ra, dec) box — the read-side range
    * decomposition, exact at cell granularity: enumerate the coarse-grid
    * rectangle and interleave each cell's coordinates. Bounded by the
    * 16×16 grid (≤256 values — a driver-side set the planner turns into
    * partition pruning), never by the data. A finer production grid
    * swaps this enumeration for [[zrangesForBox]]'s range decomposition;
    * the contract — query box in, cell superset out — is unchanged.
    */
  def zcellsForBox(raLo: Double, raHi: Double,
                   decLo: Double, decHi: Double): Seq[Long] = {
    // ra is periodic: a cone near the 0/360 seam arrives either with
    // raLo < 0 / raHi > 360 (coneToBox's ra±d arithmetic, q15) or
    // pre-wrapped as raLo > raHi. Quantization would silently CLAMP the
    // out-of-range span onto the seam cell — dropping every cell on the
    // far side and breaking the "cell superset out" contract — so
    // decompose into non-wrapping spans first. dec clamps fine (poles
    // are range ends, not a seam).
    //
    // Normalize fully-out-of-range endpoints FIRST: without these two
    // reductions an input like (370, 365) or (0, −5) reaches the
    // wrap branches with the same arguments every time and recurses
    // forever — shifting the whole box by 360° is identity on the circle
    // and strictly shrinks |ra|, so the recursion terminates for any
    // finite input.
    if (raLo >= 360.0 && raHi >= 360.0)
      zcellsForBox(raLo - 360.0, raHi - 360.0, decLo, decHi)
    else if (raLo <= 0.0 && raHi < 0.0)
      zcellsForBox(raLo + 360.0, raHi + 360.0, decLo, decHi)
    else if (raLo < 0.0)
      (zcellsForBox(raLo + 360.0, 360.0, decLo, decHi) ++
        zcellsForBox(0.0, math.min(raHi, 360.0), decLo, decHi)).distinct
    else if (raHi > 360.0)
      (zcellsForBox(raLo, 360.0, decLo, decHi) ++
        zcellsForBox(0.0, raHi - 360.0, decLo, decHi)).distinct
    else if (raLo > raHi)
      (zcellsForBox(raLo, 360.0, decLo, decHi) ++
        zcellsForBox(0.0, raHi, decLo, decHi)).distinct
    else {
      val shift = AXIS_BITS - CELL_BITS / 2
      val cxLo = quantRaS(raLo) >> shift
      val cxHi = quantRaS(raHi) >> shift
      val cyLo = quantDecS(decLo) >> shift
      val cyHi = quantDecS(decHi) >> shift
      for (cx <- cxLo to cxHi; cy <- cyLo to cyHi) yield interleave4(cx, cy)
    }
  }

  /** The box as inclusive Z-VALUE RANGES over a `cellBits`-wide cell grid
    * — the production form for finer grids ([[zcellsForBox]]'s per-cell
    * enumeration is exact but O(area): at 12+ cell bits a big box
    * enumerates 10^3..10^6 cells, where the same region is O(perimeter)
    * contiguous key ranges a planner turns into range predicates).
    *
    * Implementation: a quadtree prefix walk — a node square fully inside
    * the box emits its whole z span in O(1) (the Morton property: an
    * aligned 2^k square is one contiguous key range), a disjoint node
    * prunes, a straddling node splits into its four quadrants in z
    * order; adjacent output spans merge. This emits exactly the maximal
    * ranges a Tropf–Herzog BIGMIN/LITMAX walk would visit, without the
    * per-miss jump computation. Same contract as [[zcellsForBox]]
    * (query box in, cell superset out — cells intersecting the box,
    * nothing dropped) including the ra-seam wrap spellings.
    */
  def zrangesForBox(raLo: Double, raHi: Double, decLo: Double, decHi: Double,
                    cellBits: Int = 12): Seq[(Long, Long)] = {
    require(cellBits >= 2 && cellBits % 2 == 0 && cellBits <= 2 * AXIS_BITS,
      s"cellBits must be even in [2, ${2 * AXIS_BITS}], got $cellBits")
    if (raLo >= 360.0 && raHi >= 360.0)
      zrangesForBox(raLo - 360.0, raHi - 360.0, decLo, decHi, cellBits)
    else if (raLo <= 0.0 && raHi < 0.0)
      zrangesForBox(raLo + 360.0, raHi + 360.0, decLo, decHi, cellBits)
    else if (raLo < 0.0)
      mergeRanges(zrangesForBox(raLo + 360.0, 360.0, decLo, decHi, cellBits) ++
        zrangesForBox(0.0, math.min(raHi, 360.0), decLo, decHi, cellBits))
    else if (raHi > 360.0)
      mergeRanges(zrangesForBox(raLo, 360.0, decLo, decHi, cellBits) ++
        zrangesForBox(0.0, raHi - 360.0, decLo, decHi, cellBits))
    else if (raLo > raHi)
      mergeRanges(zrangesForBox(raLo, 360.0, decLo, decHi, cellBits) ++
        zrangesForBox(0.0, raHi, decLo, decHi, cellBits))
    else {
      val b = cellBits / 2
      val shift = AXIS_BITS - b
      quadRanges(quantRaS(raLo) >> shift, quantRaS(raHi) >> shift,
        quantDecS(decLo) >> shift, quantDecS(decHi) >> shift, b)
    }
  }

  /** Quadtree walk over the quantized box at `b` bits per axis. */
  private def quadRanges(qxLo: Long, qxHi: Long, qyLo: Long, qyHi: Long,
                         b: Int): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def rec(x0: Long, y0: Long, size: Long, z0: Long): Unit = {
      val x1 = x0 + size - 1
      val y1 = y0 + size - 1
      if (x1 < qxLo || x0 > qxHi || y1 < qyLo || y0 > qyHi) ()
      else if (x0 >= qxLo && x1 <= qxHi && y0 >= qyLo && y1 <= qyHi)
        out += ((z0, z0 + size * size - 1))
      else {
        val h = size / 2
        val q = h * h
        // quadrant z offsets: x rides the even (lower) bit of the split
        // level, y the odd — so (x+, y-) precedes (x-, y+)
        rec(x0, y0, h, z0)
        rec(x0 + h, y0, h, z0 + q)
        rec(x0, y0 + h, h, z0 + 2 * q)
        rec(x0 + h, y0 + h, h, z0 + 3 * q)
      }
    }
    rec(0L, 0L, 1L << b, 0L)
    mergeRanges(out.toSeq)
  }

  /** Sort and coalesce overlapping-or-adjacent inclusive ranges. */
  private def mergeRanges(rs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    rs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: tail, (l, h)) if l <= hi + 1 =>
        (lo, math.max(hi, h)) :: tail
      case (acc, r) => r :: acc
    }.reverse

  /** Z-order keying of the q15 synthetic sky positions: every order's
    * (ra, dec) → 32-bit Morton key + coarse cell. The write side of the
    * layout (pure per-row map, zero exchange); ZorderSpec proves the
    * read side — a box query over a `partitionBy(zcell)` layout plans
    * strictly fewer partitions than the directory total and returns the
    * exact unpartitioned answer.
    */
  def q98ZorderLayout(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .withColumn("ra", col("o_orderkey") % 360)
      .withColumn("dec", (col("o_custkey") % 180) - 90)
      .withColumn("zkey", zorderKey(col("ra"), col("dec")))
      .select(col("o_orderkey"), col("ra"), col("dec"), col("zkey"),
        zcellOf(col("zkey")).as("zcell"))

  /** The q105 box — shared with ZorderSpec's pruning drives so the
    * spec-proven box and the driver-gated query cannot diverge.
    */
  private[operators] val BoxQ105 = (40.0, 75.0, -20.0, 5.0)

  /** q105's decomposition grid width (12 bits = 64×64 cells); the
    * cell→stored-zkey conversion derives its shift from this one value.
    */
  private[operators] val Q105_CELL_BITS = 12

  /** q105: the box query SERVED FROM the materialized Z-order layout
    * through the fine-grid range decomposition. The layout is the
    * build-once artifact every Z-order system writes (the q82-style
    * fingerprint-keyed store): keys computed ONCE at layout time,
    * range-sorted so parquet file/row-group min-max stats line up with
    * key ranges. The read side converts [[zrangesForBox]]'s 12-bit cell
    * ranges to STORED-zkey ranges (cell [lo, hi] ↔ zkey
    * [lo·2^20, (hi+1)·2^20 − 1]) and filters on the stored column —
    * pushed to the scan, where the sort makes the ranges skip files and
    * row groups.
    *
    * Why stored, beyond fidelity to deployment: filtering
    * freshly-computed keys re-inlines the Morton cascade into EVERY
    * range comparison when Catalyst collapses the projection into the
    * filter (measured 15× slower than this shape at sf0.1) — a stored
    * key is one column reference however many ranges probe it. The
    * superset contract plus the exact trim make the result equal the
    * plain box filter, which is exactly what the oracle states — the
    * hash match certifies the decomposition and the layout round-trip
    * drop no row and admit no extra row, at every sf.
    */
  def q105ZrangeBox(spark: SparkSession, dir: String): DataFrame = {
    val (raLo, raHi, decLo, decHi) = BoxQ105
    val layout = zorderLayoutPath(spark, dir)
    val ranges = zrangesForBox(raLo, raHi, decLo, decHi, Q105_CELL_BITS)
    val shift = 2 * AXIS_BITS - Q105_CELL_BITS
    val rangeCond = ranges
      .map { case (lo, hi) =>
        col("zkey").between(lo << shift, ((hi + 1) << shift) - 1) }
      .reduce(_ || _)
    spark.read.parquet(s"$layout/data")
      .filter(rangeCond)
      .filter(col("ra").between(raLo, raHi) && col("dec").between(decLo, decHi))
      .select(col("o_orderkey"), col("ra"), col("dec"), col("zkey"))
  }

  /** Build-once range-sorted layout of the q98 keyed table (64 files,
    * zkey-sorted within each so parquet stats prune per range),
    * committed through [[IndexMeta.commit]], path keyed by the source
    * fingerprint so a regenerated fixture rebuilds (the index-store
    * contract). The READER IS STRICT on the recorded key dial: the path
    * key only tracks SOURCE changes, so if a code change ever moves
    * AXIS_BITS the stored keys no longer match the computed range
    * bounds — a mismatch rebuilds instead of silently under-selecting.
    */
  private def zorderLayoutPath(spark: SparkSession, dir: String): String = {
    val path = graft.Tables.derivedIndexPath("graft_zorder_layout_v1", dir, "orders")
    val current =
      IndexMeta.exists(spark, path) &&
        IndexMeta.read(spark, path, "the z-order layout writer")
          .getProperty("axis_bits") == AXIS_BITS.toString
    if (!current) IndexMeta.commit(spark, path, "z-order layout") {
      q98ZorderLayout(spark, dir)
        .repartitionByRange(64, col("zkey"))
        .sortWithinPartitions(col("zkey"))
        .write.mode("overwrite").parquet(s"$path/data")
      Seq("axis_bits" -> AXIS_BITS.toString, "source_table" -> "orders")
    }
    path
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q98_zorder_layout" -> q98ZorderLayout,
    "q105_zrange_box" -> q105ZrangeBox)

  /** The Morton cascade as shared CTEs — spread-bits unrolled per axis
    * (same masks, same shifts, decimal literals — hex is
    * engine-dialect); the quantization mirrors the Column arithmetic
    * operation for operation.
    */
  private val zorderCtes =
    """b AS (
      |  SELECT o_orderkey, o_orderkey % 360 AS ra, (o_custkey % 180) - 90 AS dec
      |  FROM orders),
      |q AS (
      |  SELECT o_orderkey, ra, dec,
      |    least(65535, greatest(0, CAST(floor(ra * 65536.0 / 360.0) AS BIGINT))) AS qx,
      |    least(65535, greatest(0, CAST(floor((dec + 90.0) * 65536.0 / 180.0) AS BIGINT))) AS qy
      |  FROM b),
      |s1 AS (SELECT o_orderkey, ra, dec,
      |  ((qx | (qx << 8)) & 16711935) AS x, ((qy | (qy << 8)) & 16711935) AS y FROM q),
      |s2 AS (SELECT o_orderkey, ra, dec,
      |  ((x | (x << 4)) & 252645135) AS x, ((y | (y << 4)) & 252645135) AS y FROM s1),
      |s3 AS (SELECT o_orderkey, ra, dec,
      |  ((x | (x << 2)) & 858993459) AS x, ((y | (y << 2)) & 858993459) AS y FROM s2),
      |s4 AS (SELECT o_orderkey, ra, dec,
      |  ((x | (x << 1)) & 1431655765) AS x, ((y | (y << 1)) & 1431655765) AS y FROM s3)""".stripMargin

  /** The q105 oracle is the PLAIN box filter over the keyed table — the
    * range-pruned Spark plan must compute exactly it.
    */
  val oracleSql: Map[String, String] = Map(
    "q98_zorder_layout" ->
      s"""WITH $zorderCtes
        |SELECT o_orderkey, ra, dec, (x | (y << 1)) AS zkey,
        |  ((x | (y << 1)) >> 24) AS zcell
        |FROM s4""".stripMargin,
    "q105_zrange_box" ->
      s"""WITH $zorderCtes
        |SELECT o_orderkey, ra, dec, (x | (y << 1)) AS zkey
        |FROM s4
        |WHERE ra BETWEEN ${BoxQ105._1} AND ${BoxQ105._2}
        |  AND dec BETWEEN ${BoxQ105._3} AND ${BoxQ105._4}""".stripMargin)
}
