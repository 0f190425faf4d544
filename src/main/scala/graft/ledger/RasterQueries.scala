package graft
package ledger

import graft.core.Tables
import graft.functions.Reproject
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Raster queries: resampling, warping and the focal / terrain family. */
private[graft] object RasterQueries {
  import Common._

  /** r6/r7 shared packing: rasterize to the 40×10 grid, then pack cells
    * into 8×5 row-major block arrays on a 5×2 lattice (absent cells stay
    * invalid), so every interior kernel window crosses a block seam. */
  private val (fbw, fbh) = (8, 5)

  private def focalBlocks(s: SparkSession, d: String): DataFrame =
    pixels(s, d).groupBy("px", "py").agg(max("value").as("v"))
      .groupBy((col("px") / fbw).cast("int").as("block_x"),
        (col("py") / fbh).cast("int").as("block_y"))
      .agg(map_from_entries(collect_list(struct(
        ((col("py") % fbh) * fbw + col("px") % fbw).cast("int"), col("v")))).as("m"))
      .select(col("block_x"), col("block_y"),
        lit(fbw).as("width"), lit(fbh).as("height"),
        transform(sequence(lit(0), lit(fbw * fbh - 1)),
          i => element_at(col("m"), i.cast("int"))).as("values"),
        transform(sequence(lit(0), lit(fbw * fbh - 1)),
          i => element_at(col("m"), i.cast("int")).isNotNull).as("valid"))

  /** Explode a focal result lattice back to (px, py, rounded value). */
  private def focalCells(out: DataFrame, as: String): DataFrame =
    out.select(col("block_x"), col("block_y"),
        posexplode(arrays_zip(col("values"), col("valid"))))
      .filter(col("col.valid"))
      .select(
        (col("block_x") * fbw + col("pos") % fbw).cast("long").as("px"),
        (col("block_y") * fbh + floor(col("pos") / fbw)).cast("long").as("py"),
        round(col("col.values") + lit(5e-7), 4).as(as))
      .orderBy("px", "py")

  // D8 argmax shared by r13 itself and r14's accumulation closure
  private val r13FlowSql: String =
    """WITH grid AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (
        |  SELECT a.px, a.py, b.px - a.px AS dx, b.py - a.py AS dy,
        |    a.v - b.v AS drop
        |  FROM grid a JOIN grid b
        |    ON b.px BETWEEN a.px - 1 AND a.px + 1 AND b.py BETWEEN a.py - 1 AND a.py + 1
        |    AND NOT (b.px = a.px AND b.py = a.py)),
        |scored AS (
        |  SELECT px, py,
        |    CASE WHEN drop > 0
        |      THEN drop * drop * (CASE WHEN dx = 0 OR dy = 0 THEN 2 ELSE 1 END)
        |      ELSE -1 END AS k,
        |    CASE WHEN dx = 1 AND dy = 0 THEN 1 WHEN dx = 1 AND dy = 1 THEN 2
        |      WHEN dx = 0 AND dy = 1 THEN 4 WHEN dx = -1 AND dy = 1 THEN 8
        |      WHEN dx = -1 AND dy = 0 THEN 16 WHEN dx = -1 AND dy = -1 THEN 32
        |      WHEN dx = 0 AND dy = -1 THEN 64 ELSE 128 END AS code,
        |    count(*) OVER (PARTITION BY px, py) AS nn
        |  FROM g),
        |r AS (SELECT px, py, k, code, nn,
        |    row_number() OVER (PARTITION BY px, py ORDER BY k DESC, code ASC) AS rn
        |  FROM scored)
        |SELECT px, py,
        |  round(CASE WHEN k > 0 THEN code ELSE 0 END + 5e-7, 4) AS flow_dir
        |FROM r WHERE rn = 1 AND nn = 8 ORDER BY px, py""".stripMargin

  val all: Seq[QueryDef] = Seq(
    /** Resampling-as-aggregation (SURVEY §2.9): average kernel = each coarse
      * pixel averages the k×k fine pixels it covers (GDAL `average`). */
    QueryDef("r1_resample_avg") { (s, d) =>
      pixels(s, d)
        .groupBy("px", "py").agg(avg("value").as("v")) // fine raster
        .groupBy(expr("px div 2").as("cx"), expr("py div 2").as("cy"))
        .agg(round(avg("v"), 4).as("value"))
        .orderBy("cx", "cy")
    } {
      """WITH fine AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, avg(l_quantity) AS v
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT px // 2 AS cx, py // 2 AS cy, round(avg(v), 4) AS value
        |FROM fine GROUP BY 1, 2 ORDER BY cx, cy""".stripMargin
    },

    /** Mode kernel: most frequent fine value per coarse pixel, ties to the
      * smallest value (deterministic; GDAL scan-order tie is not). */
    QueryDef("r2_resample_mode") { (s, d) =>
      val fine = pixels(s, d).groupBy("px", "py").agg(max("value").as("v"))
      val counted = fine
        .groupBy(expr("px div 2").as("cx"), expr("py div 2").as("cy"), col("v"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("cx", "cy").orderBy(col("cnt").desc, col("v").asc)
      counted.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("cx"), col("cy"), col("v").as("value"))
        .orderBy("cx", "cy")
    } {
      """WITH fine AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |counted AS (
        |  SELECT px // 2 AS cx, py // 2 AS cy, v, count(*) AS cnt
        |  FROM fine GROUP BY 1, 2, 3),
        |r AS (SELECT cx, cy, v,
        |  row_number() OVER (PARTITION BY cx, cy ORDER BY cnt DESC, v ASC) AS rn FROM counted)
        |SELECT cx, cy, v AS value FROM r WHERE rn = 1 ORDER BY cx, cy""".stripMargin
    },

    /** R4: median (nearest-rank) resample kernel — the quantile semantics
      * of `Resample.downsample("med")` (`ceil(n·q)` over the sorted valid
      * window) in row form so DuckDB can oracle it exactly (approximate
      * percentiles would not hash-match). */
    QueryDef("r4_resample_med") { (s, d) =>
      val fine = pixels(s, d).groupBy("px", "py").agg(max("value").as("v"))
      fine
        .groupBy(expr("px div 2").as("cx"), expr("py div 2").as("cy"))
        .agg(sort_array(collect_list("v")).as("vs"))
        .select(col("cx"), col("cy"),
          element_at(col("vs"),
            greatest(lit(1), ceil(size(col("vs")) * 0.5).cast("int"))).as("med"))
        .orderBy("cx", "cy")
    } {
      """WITH fine AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (SELECT px // 2 AS cx, py // 2 AS cy, list_sort(list(v)) AS vs
        |      FROM fine GROUP BY 1, 2)
        |SELECT cx, cy, vs[greatest(1, CAST(ceil(len(vs) * 0.5) AS INT))] AS med
        |FROM g ORDER BY cx, cy""".stripMargin
    },

    /** R17: TRUE interpolating decimation (round 16 — closes the r15 alias
      * where bilinear/cubic decimation silently ran as box average,
      * `resampling.py:9-25` exposes the full rasterio enum). Three legs of
      * the real [[graft.operators.Resample.downsample]] tap kernel over
      * deterministic 8×8 blocks with a nodata mask: `bilinear4` (k=4 —
      * phase-0.5 taps select the central 2×2, provably ≠ box average),
      * `cubic2` (k=2 cubic convolution, half-phase taps ∓0.0625/±0.5625
      * with negative lobes), `bspline2` (k=2 B-spline smoothing, 1/48 and
      * 23/48). Masked taps drop out and renormalize; the oracle replays
      * the exact tap weights in closed form. The mask pattern guarantees
      * ≥3 valid bilinear taps per window (adjacent formula values differ
      * by 5 mod 19), so no leg exercises the nearest-fallback here — that
      * path is unit-tested in ResampleSpec. */
    QueryDef("r17_resample_bilinear") { (s, d) =>
      val blocks = Tables.part(s, d).filter(col("p_partkey") <= 4)
        .select(col("p_partkey").cast("long").as("asset_id"))
        .withColumn("values", transform(sequence(lit(0), lit(63)),
          i => ((lit(3) * col("asset_id") + lit(5) * (i % lit(8)) +
            lit(7) * (i / lit(8)).cast("int")) % 19).cast("double")))
      def leg(k: Int, m: String, name: String, outW: Int): DataFrame =
        blocks.select(col("asset_id"), posexplode(
            graft.operators.Resample.downsample(col("values"), 8, 8, k, m,
              noData = Some(0.0))))
          .select(col("asset_id"), lit(name).as("kernel"),
            (col("pos") % outW).as("ox"), (col("pos") / outW).cast("int").as("oy"),
            round(col("col") + lit(5e-7), 4).as("val"))
      leg(4, "bilinear", "bilinear4", 2)
        .unionAll(leg(2, "cubic", "cubic2", 4))
        .unionAll(leg(2, "cubic_spline", "bspline2", 4))
        .orderBy("asset_id", "kernel", "oy", "ox")
    } {
      // closed-form replay of the interpolating decimation taps: bilinear
      // k=4 = renormalized mean of the valid central 2×2 (phase 0.5);
      // cubic/bspline k=2 = the exact half-phase tap weights (dyadic
      // -0.0625/0.5625; 1/48 and 23/48 — correctly-rounded division gives
      // the same doubles the JVM kernel computes), out-of-block and masked
      // taps dropped by the inner join, renormalized by sum(w)
      """WITH a AS (SELECT CAST(p_partkey AS BIGINT) AS asset_id FROM part
        |  WHERE p_partkey <= 4),
        |xs AS (SELECT unnest(range(0, 8)) AS x),
        |ys AS (SELECT unnest(range(0, 8)) AS y),
        |px AS (SELECT asset_id, x, y,
        |    CAST((3*asset_id + 5*x + 7*y) % 19 AS DOUBLE) AS v FROM a, xs, ys),
        |valid AS (SELECT * FROM px WHERE v <> 0),
        |o2 AS (SELECT asset_id, ox.o AS ox, oy.o AS oy FROM a,
        |  (SELECT unnest(range(0, 2)) AS o) ox, (SELECT unnest(range(0, 2)) AS o) oy),
        |o4 AS (SELECT asset_id, ox.o AS ox, oy.o AS oy FROM a,
        |  (SELECT unnest(range(0, 4)) AS o) ox, (SELECT unnest(range(0, 4)) AS o) oy),
        |w AS (SELECT * FROM (VALUES
        |  ('cubic2', -1, -0.0625), ('cubic2', 0, 0.5625),
        |  ('cubic2', 1, 0.5625),  ('cubic2', 2, -0.0625),
        |  ('bspline2', -1, 1.0/48), ('bspline2', 0, 23.0/48),
        |  ('bspline2', 1, 23.0/48), ('bspline2', 2, 1.0/48)) t(kernel, d, w)),
        |bl AS (SELECT o.asset_id, 'bilinear4' AS kernel, o.ox, o.oy,
        |    avg(v.v) AS val
        |  FROM o2 o JOIN valid v ON v.asset_id = o.asset_id
        |    AND v.x BETWEEN 4*o.ox + 1 AND 4*o.ox + 2
        |    AND v.y BETWEEN 4*o.oy + 1 AND 4*o.oy + 2
        |  GROUP BY 1, 2, 3, 4),
        |cu AS (SELECT o.asset_id, wx.kernel, o.ox, o.oy,
        |    sum(wx.w * wy.w * v.v) / sum(wx.w * wy.w) AS val
        |  FROM o4 o
        |  CROSS JOIN w wx
        |  JOIN w wy ON wy.kernel = wx.kernel
        |  JOIN valid v ON v.asset_id = o.asset_id
        |    AND v.x = 2*o.ox + wx.d AND v.y = 2*o.oy + wy.d
        |  GROUP BY 1, 2, 3, 4)
        |SELECT asset_id, kernel, CAST(ox AS INTEGER) AS ox,
        |  CAST(oy AS INTEGER) AS oy, round(val + 5e-7, 4) AS val
        |FROM (SELECT * FROM bl UNION ALL SELECT * FROM cu)
        |ORDER BY asset_id, kernel, oy, ox""".stripMargin
    },

    /** §2.9 SEAM-EXACT interpolating decimation (VERDICT r16 #5): a 16×16
      * raster split into four 8×8 blocks on a 2×2 lattice decimates ×2
      * under cubic, lanczos and gauss with a REAL cross-block halo
      * ([[graft.operators.Resample.downsampleSeamExact]]), and the oracle
      * computes the WHOLE-raster convolution — the two agree
      * pixel-for-pixel including the band within kernel radius of every
      * block seam, which the block-local contract (r17) renormalizes
      * differently by design. Raster edges drop-and-renormalize
      * identically on both sides; the formula keeps every pixel ≥ 1 so no
      * leg exercises masking (unit-tested in ResampleSpec instead). */
    QueryDef("r18_resample_seam") { (s, d) =>
      val blocks = Tables.part(s, d)
        .filter(col("p_partkey") >= 1 && col("p_partkey") <= 4)
        .select(((col("p_partkey") - 1) % 2).cast("int").as("block_x"),
          floor((col("p_partkey") - 1) / 2).cast("int").as("block_y"))
      val withV = blocks.withColumn("values",
        transform(sequence(lit(0), lit(63)), i => {
          val gx = col("block_x") * 8 + (i % lit(8))
          val gy = col("block_y") * 8 + (i / lit(8)).cast("int")
          ((lit(3) + lit(5) * gx + lit(7) * gy + gx * gy) % 19 + 1).cast("double")
        }))
      def leg(m: String): DataFrame =
        graft.operators.Resample.downsampleSeamExact(withV, 8, 8, 2, m)
          .select(col("block_x"), col("block_y"), posexplode(col("values")))
          .select(lit(m).as("kernel"),
            (col("block_x") * 4 + col("pos") % 4).cast("int").as("ox"),
            (col("block_y") * 4 + (col("pos") / 4).cast("int")).cast("int").as("oy"),
            round(col("col") + lit(5e-7), 4).as("val"))
      leg("cubic").unionAll(leg("lanczos")).unionAll(leg("gauss"))
        .orderBy("kernel", "oy", "ox")
    } {
      // Whole-raster convolution mirror of r18_resample_seam: pixels
      // exist only for blocks PRESENT in `part` (a missing block is a
      // masked region on both sides), taps come from the SAME
      // ResampleTaps the kernel runs (shortest-repr double literals
      // round-trip exactly), k = 2 ⇒ phase 0.5, offsets d = 1-R..R
      // relative to 2·ox. Out-of-raster taps drop out of the join and
      // the sum renormalizes — the identical raster-edge rule.
      val tapRows = Seq("cubic", "lanczos", "gauss").flatMap { m =>
        val r = graft.functions.ResampleTaps.radius(m)
        val wf = graft.functions.ResampleTaps.weight(m)
        (0 until 2 * r).map { i =>
          val d0 = 1 - r + i
          s"('$m', $d0, ${wf(d0 - 0.5)})"
        }
      }.mkString(", ")
      s"""WITH a AS (SELECT CAST(p_partkey AS BIGINT) AS id FROM part
         |  WHERE p_partkey BETWEEN 1 AND 4),
         |blk AS (SELECT CAST((id-1) % 2 AS INT) AS bx,
         |  CAST((id-1) // 2 AS INT) AS by FROM a),
         |px AS (SELECT bx*8 + xs.x AS gx, by*8 + ys.y AS gy,
         |    CAST((3 + 5*(bx*8 + xs.x) + 7*(by*8 + ys.y)
         |      + (bx*8 + xs.x)*(by*8 + ys.y)) % 19 + 1 AS DOUBLE) AS v
         |  FROM blk, (SELECT unnest(range(0, 8)) AS x) xs,
         |       (SELECT unnest(range(0, 8)) AS y) ys),
         |o AS (SELECT bx*4 + i.i AS ox, by*4 + j.j AS oy FROM blk,
         |  (SELECT unnest(range(0, 4)) AS i) i,
         |  (SELECT unnest(range(0, 4)) AS j) j),
         |w AS (SELECT * FROM (VALUES $tapRows) t(kernel, d, w)),
         |t AS (SELECT o.ox, o.oy, wx.kernel,
         |    sum(wx.w * wy.w * px.v) AS acc, sum(wx.w * wy.w) AS wsum
         |  FROM o CROSS JOIN w wx JOIN w wy ON wy.kernel = wx.kernel
         |  JOIN px ON px.gx = 2*o.ox + wx.d AND px.gy = 2*o.oy + wy.d
         |  GROUP BY 1, 2, 3)
         |SELECT kernel, CAST(ox AS INTEGER) AS ox, CAST(oy AS INTEGER) AS oy,
         |  round(acc / wsum + 5e-7, 4) AS val
         |FROM t ORDER BY kernel, oy, ox""".stripMargin
    },

    /** §2.9 `gauss` resampling — the last rasterio `Resampling` member
      * (`gfw_pixetl/resampling.py:9-15`) to land: truncated 2^(−t²)
      * separable taps, radius 2, which reproduce GDAL's binomial (1,2,1)
      * gauss overview matrix exactly on the integer lattice (see
      * [[graft.functions.ResampleTaps]]). Two block-local decimation legs
      * (k = 2 and k = 4, both half-phase — per-axis tap vectors exactly
      * (1,4,4,1)/10) over deterministic masked 8×8 blocks; the oracle
      * replays the SAME tap doubles (shortest-repr literals round-trip
      * exactly) under the identical drop-and-renormalize rule. Gauss taps
      * are non-negative, so the negative-lobe nearest-fallback never
      * triggers (and the mask formula leaves ≥ 3 valid taps per window
      * row anyway: adjacent values differ by 5 mod 19). */
    QueryDef("r19_resample_gauss") { (s, d) =>
      val blocks = Tables.part(s, d).filter(col("p_partkey") <= 4)
        .select(col("p_partkey").cast("long").as("asset_id"))
        .withColumn("values", transform(sequence(lit(0), lit(63)),
          i => ((lit(3) * col("asset_id") + lit(5) * (i % lit(8)) +
            lit(7) * (i / lit(8)).cast("int")) % 19).cast("double")))
      def leg(k: Int, outW: Int): DataFrame =
        blocks.select(col("asset_id"), posexplode(
            graft.operators.Resample.downsample(col("values"), 8, 8, k, "gauss",
              noData = Some(0.0))))
          .select(col("asset_id"), lit(k).as("k"),
            (col("pos") % outW).as("ox"), (col("pos") / outW).cast("int").as("oy"),
            round(col("col") + lit(5e-7), 4).as("val"))
      leg(2, 4).unionAll(leg(4, 2)).orderBy("asset_id", "k", "oy", "ox")
    } {
      // same programmatic tap replay as r18: weights come from the SAME
      // ResampleTaps.gauss the kernel runs (shortest-repr double
      // literals round-trip exactly); both legs are even factors, so
      // the phase is 0.5 and the per-axis offsets d = -1..2 sit at
      // k*ox + tapBase + d (tapBase = (k-1)>>1). Out-of-block and
      // masked (v = 0) taps drop out of the join; sum(w) renormalizes.
      val wf = graft.functions.ResampleTaps.weight("gauss")
      val tapRows = (0 until 4).map { i =>
        val d0 = -1 + i
        s"($d0, ${wf(d0 - 0.5)})"
      }.mkString(", ")
      s"""WITH a AS (SELECT CAST(p_partkey AS BIGINT) AS asset_id FROM part
         |  WHERE p_partkey <= 4),
         |px AS (SELECT asset_id, xs.x, ys.y,
         |    CAST((3*asset_id + 5*xs.x + 7*ys.y) % 19 AS DOUBLE) AS v
         |  FROM a, (SELECT unnest(range(0, 8)) AS x) xs,
         |       (SELECT unnest(range(0, 8)) AS y) ys),
         |valid AS (SELECT * FROM px WHERE v <> 0),
         |ks AS (SELECT * FROM (VALUES (2, 0, 4), (4, 1, 2)) t(k, tb, outw)),
         |o AS (SELECT a.asset_id, ks.k, ks.tb, i.i AS ox, j.j AS oy
         |  FROM a, ks, (SELECT unnest(range(0, 4)) AS i) i,
         |       (SELECT unnest(range(0, 4)) AS j) j
         |  WHERE i.i < ks.outw AND j.j < ks.outw),
         |w AS (SELECT * FROM (VALUES $tapRows) t(d, w)),
         |t AS (SELECT o.asset_id, o.k, o.ox, o.oy,
         |    sum(wx.w * wy.w * v.v) AS acc, sum(wx.w * wy.w) AS wsum
         |  FROM o CROSS JOIN w wx CROSS JOIN w wy
         |  JOIN valid v ON v.asset_id = o.asset_id
         |    AND v.x = o.k*o.ox + o.tb + wx.d AND v.y = o.k*o.oy + o.tb + wy.d
         |  GROUP BY 1, 2, 3, 4)
         |SELECT asset_id, CAST(k AS INTEGER) AS k, CAST(ox AS INTEGER) AS ox,
         |  CAST(oy AS INTEGER) AS oy, round(acc / wsum + 5e-7, 4) AS val
         |FROM t ORDER BY asset_id, k, oy, ox""".stripMargin
    },

    /** §2.9 overview pyramid: 3 factor-2 SUM reductions of the count
      * raster, each level built from the previous (partial reaggregation —
      * the gdaladdo pattern at O(N) total work). */
    QueryDef("r5_pyramid") { (s, d) =>
      graft.operators.Resample.pyramidSum(
          pixels(s, d).groupBy("px", "py").agg(count(lit(1)).as("value")),
          levels = 3)
        .orderBy("level", "px", "py")
    } {
      """WITH b AS (SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, count(*) AS value
        |           FROM lineitem GROUP BY 1, 2)
        |SELECT 0 AS level, px, py, value FROM b
        |UNION ALL SELECT 1, px // 2, py // 2, CAST(sum(value) AS BIGINT) FROM b GROUP BY 2, 3
        |UNION ALL SELECT 2, px // 4, py // 4, CAST(sum(value) AS BIGINT) FROM b GROUP BY 2, 3
        |UNION ALL SELECT 3, px // 8, py // 8, CAST(sum(value) AS BIGINT) FROM b GROUP BY 2, 3
        |ORDER BY level, px, py""".stripMargin
    },

    /** Focal 3×3 mean via the halo-exchange block operator: the 40×10 grid
      * is packed into 8×5 blocks on a 5×2 lattice, so every interior kernel
      * window crosses at least one block seam — the oracle (a plain
      * neighbor self-join in DuckDB) proves the exchange is seamless. */
    QueryDef("r6_focal_mean", headline = true) { (s, d) =>
      focalCells(graft.operators.Focal.focalMean(focalBlocks(s, d), radius = 1),
        "focal")
    } {
      """WITH grid AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS v
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT a.px, a.py, round(avg(b.v) + 5e-7, 4) AS focal
        |FROM grid a JOIN grid b
        |  ON b.px BETWEEN a.px - 1 AND a.px + 1 AND b.py BETWEEN a.py - 1 AND a.py + 1
        |GROUP BY a.px, a.py ORDER BY a.px, a.py""".stripMargin
    },

    /** Weighted 3×3 binomial blur through the same halo exchange — weights
      * are dyadic rationals and values integer-valued, so both engines'
      * sums are EXACT and the renormalized quotient is bit-identical. */
    QueryDef("r7_convolve") { (s, d) =>
      val blur = Seq(Seq(1.0, 2.0, 1.0), Seq(2.0, 4.0, 2.0), Seq(1.0, 2.0, 1.0))
        .map(_.map(_ / 16))
      focalCells(graft.operators.Focal.convolve(focalBlocks(s, d), blur), "blur")
    } {
      """WITH grid AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |j AS (
        |  SELECT a.px, a.py,
        |    (2 - abs(b.px - a.px)) * (2 - abs(b.py - a.py)) / 16.0 AS w, b.v
        |  FROM grid a JOIN grid b
        |    ON b.px BETWEEN a.px - 1 AND a.px + 1 AND b.py BETWEEN a.py - 1 AND a.py + 1)
        |SELECT px, py, round(sum(w * v) / sum(w) + 5e-7, 4) AS blur
        |FROM j GROUP BY px, py ORDER BY px, py""".stripMargin
    },

    /** Horn slope over the packed grid (cellSize 1): both gradients are
      * exact dyadic sums; atan/sqrt agree across engines within the
      * epsilon-guarded 4-decimal round. Full-window cells only (n = 9). */
    QueryDef("r8_slope") { (s, d) =>
      focalCells(graft.operators.Focal.slope(focalBlocks(s, d), cellSize = 1.0),
        "slope")
    } {
      """WITH grid AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (
        |  SELECT a.px, a.py, count(*) AS n,
        |    sum((b.px - a.px) * (2 - abs(b.py - a.py)) * b.v) AS sx,
        |    sum((b.py - a.py) * (2 - abs(b.px - a.px)) * b.v) AS sy
        |  FROM grid a JOIN grid b
        |    ON b.px BETWEEN a.px - 1 AND a.px + 1 AND b.py BETWEEN a.py - 1 AND a.py + 1
        |  GROUP BY a.px, a.py)
        |SELECT px, py,
        |  round(degrees(atan(sqrt(power(sx / 8.0, 2) + power(sy / 8.0, 2)))) + 5e-7, 4) AS slope
        |FROM g WHERE n = 9 ORDER BY px, py""".stripMargin
    },

    /** Horn aspect (downslope bearing, degrees clockwise from north) over
      * the same exchanged window as r8/r9 — completes the terrain-family
      * oracle coverage (slope/hillshade had gate queries; aspect was
      * spec-only). Flat cells (both gradients zero) have no bearing and
      * drop, like partial windows. */
    QueryDef("r10_aspect") { (s, d) =>
      focalCells(graft.operators.Focal.aspect(focalBlocks(s, d), cellSize = 1.0),
        "aspect")
    } {
      // Horn aspect: same neighbor self-join gradients as r8; bearing =
      // atan2(−gx, gy) normalized to [0, 360); flat cells have no bearing
      """WITH grid AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (
        |  SELECT a.px, a.py, count(*) AS n,
        |    sum((b.px - a.px) * (2 - abs(b.py - a.py)) * b.v) AS sx,
        |    sum((b.py - a.py) * (2 - abs(b.px - a.px)) * b.v) AS sy
        |  FROM grid a JOIN grid b
        |    ON b.px BETWEEN a.px - 1 AND a.px + 1 AND b.py BETWEEN a.py - 1 AND a.py + 1
        |  GROUP BY a.px, a.py)
        |SELECT px, py,
        |  round((degrees(atan2(-(sx / 8.0), sy / 8.0)) % 360 + 360) % 360 + 5e-7, 4)
        |    AS aspect
        |FROM g WHERE n = 9 AND NOT (sx = 0 AND sy = 0) ORDER BY px, py""".stripMargin
    },

    /** Hillshade with the default NW sun. The sun's trig folds to the same
      * Scala-computed literals on both sides (see the oracle), so only
      * sqrt + division run cross-engine. */
    QueryDef("r9_hillshade") { (s, d) =>
      focalCells(graft.operators.Focal.hillshade(focalBlocks(s, d), cellSize = 1.0),
        "shade")
    } {
      // the same plan-time sun constants the Spark side folds in
      val az = math.toRadians(315.0); val alt = math.toRadians(45.0)
      val (sa, ca) = (math.sin(alt), math.cos(alt))
      val (sz, cz) = (math.sin(az), math.cos(az))
      s"""WITH grid AS (
         |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS v
         |  FROM lineitem GROUP BY 1, 2),
         |g AS (
         |  SELECT a.px, a.py, count(*) AS n,
         |    sum((b.px - a.px) * (2 - abs(b.py - a.py)) * b.v) / 8.0 AS gx,
         |    sum((b.py - a.py) * (2 - abs(b.px - a.px)) * b.v) / 8.0 AS gy
         |  FROM grid a JOIN grid b
         |    ON b.px BETWEEN a.px - 1 AND a.px + 1 AND b.py BETWEEN a.py - 1 AND a.py + 1
         |  GROUP BY a.px, a.py)
         |SELECT px, py,
         |  round(greatest(0.0, ($sa + (gy * $cz - gx * $sz) * $ca)
         |    / sqrt(gx*gx + gy*gy + 1)) * 255.0 + 5e-7, 4) AS shade
         |FROM g WHERE n = 9 ORDER BY px, py""".stripMargin
    },

    /** R3: cross-CRS warp gather — WarpReader's per-pixel math in
      * declarative form so DuckDB can oracle it. Each pixel of a 128×128
      * WebMercator world raster inverse-projects its center to 4326
      * (closed-form, `Reproject.invMercator*`) and floor-indexes a 10°
      * source lattice built from `part`; cells with no source data
      * nodata-fill with -1 (the K4 pad). This is rasterio WarpedVRT
      * nearest-kernel semantics (`tiles/raster_src_tile.py:188-210`). */
    QueryDef("r3_warp_3857", headline = true) { (s, d) =>
      val ext = Reproject.webMercatorMax
      val n = 128
      val res = 2 * ext / n
      val cells = Tables.part(s, d)
        .groupBy((col("p_partkey") % 36).as("cx"), (col("p_partkey") % 18).as("cy"))
        .agg(count(lit(1)).as("n_parts"), round(max("p_retailprice"), 2).as("max_price"))
      s.range(n.toLong * n)
        .select((col("id") % n).as("i"), expr(s"id DIV $n").as("j"))
        .withColumn("lng", Reproject.invMercatorLng(lit(-ext) + (col("i") + 0.5) * res))
        .withColumn("lat", Reproject.invMercatorLat(lit(ext) - (col("j") + 0.5) * res))
        .withColumn("cx", floor((col("lng") + 180.0) / 10.0))
        .withColumn("cy", floor((lit(90.0) - col("lat")) / 10.0))
        .join(broadcast(cells), Seq("cx", "cy"), "left")
        .select(col("i"), col("j"),
          coalesce(col("n_parts"), lit(-1L)).as("n_parts"),
          coalesce(col("max_price"), lit(-1.0)).as("max_price"))
        .orderBy("i", "j")
    } {
      """WITH px AS (SELECT v % 128 AS i, v // 128 AS j FROM generate_series(0, 16383) t(v)),
        |ll AS (SELECT i, j,
        |  (-20037508.342789244 + (i + 0.5) * (2 * 20037508.342789244 / 128)) / 20037508.342789244 * 180.0 AS lng,
        |  degrees(2 * atan(exp((20037508.342789244 - (j + 0.5) * (2 * 20037508.342789244 / 128)) / 6378137.0)) - pi() / 2) AS lat
        |  FROM px),
        |cells AS (SELECT p_partkey % 36 AS cx, p_partkey % 18 AS cy, count(*) AS n_parts,
        |  round(max(p_retailprice), 2) AS max_price FROM part GROUP BY 1, 2)
        |SELECT i, j, coalesce(n_parts, -1) AS n_parts, coalesce(max_price, -1.0) AS max_price
        |FROM ll LEFT JOIN cells ON cells.cx = floor((lng + 180.0) / 10.0) AND cells.cy = floor((90.0 - lat) / 10.0)
        |ORDER BY i, j""".stripMargin
    },

    /** Zevenbergen–Thorne general curvature over the r8/r9 focal lattice —
      * a pure second-difference cross, so every output is an exact decimal
      * rational (no trig at all; the one terrain measure that needs no
      * epsilon). Same single halo exchange as slope. */
    QueryDef("r11_curvature") { (s, d) =>
      focalCells(graft.operators.Focal.curvature(focalBlocks(s, d), cellSize = 1.0),
        "curv")
    } {
      // Zevenbergen–Thorne general curvature: −100·(z_W+z_E+z_N+z_S−4z_C)/L²,
      // L = 1 — the 4-connected cross re-summed from the neighborhood join
      """WITH grid AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (
        |  SELECT a.px, a.py, count(*) AS n,
        |    sum(CASE WHEN abs(b.px - a.px) + abs(b.py - a.py) = 1 THEN b.v ELSE 0 END)
        |      AS cross_sum,
        |    max(CASE WHEN b.px = a.px AND b.py = a.py THEN b.v END) AS z0
        |  FROM grid a JOIN grid b
        |    ON b.px BETWEEN a.px - 1 AND a.px + 1 AND b.py BETWEEN a.py - 1 AND a.py + 1
        |  GROUP BY a.px, a.py)
        |SELECT px, py, round(-100.0 * (cross_sum - 4 * z0) + 5e-7, 4) AS curv
        |FROM g WHERE n = 9 ORDER BY px, py""".stripMargin
    },

    /** The gdaldem index family — TPI, Riley TRI, roughness — in ONE
      * window pass over the shared focal lattice: the struct-valued kernel
      * proves the halo-exchange skeleton amortizes across co-computed
      * outputs (three indices, one exchange — never three). TPI and
      * roughness are exact (dyadic /8 resp. max−min over integers); only
      * TRI's sqrt runs cross-engine. */
    QueryDef("r12_terrain_idx", headline = true) { (s, d) =>
      graft.operators.Focal.terrainIndices(focalBlocks(s, d))
        .select(col("block_x"), col("block_y"),
          posexplode(arrays_zip(col("values"), col("valid"))))
        .filter(col("col.valid"))
        .select(
          (col("block_x") * fbw + col("pos") % fbw).cast("long").as("px"),
          (col("block_y") * fbh + floor(col("pos") / fbw)).cast("long").as("py"),
          round(col("col.values.tpi") + lit(5e-7), 4).as("tpi"),
          round(col("col.values.tri") + lit(5e-7), 4).as("tri"),
          col("col.values.rough").cast("long").as("rough"))
        .orderBy("px", "py")
    } {
      // TPI = z0 − (Σ9 − z0)/8; Riley TRI = √Σ(zi − z0)² (center adds 0);
      // roughness = max − min of the window — all from ONE neighborhood join
      """WITH grid AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |g AS (
        |  SELECT a.px, a.py, a.v AS z0, count(*) AS n, sum(b.v) AS s9,
        |    sum((b.v - a.v) * (b.v - a.v)) AS sq,
        |    max(b.v) AS mx, min(b.v) AS mn
        |  FROM grid a JOIN grid b
        |    ON b.px BETWEEN a.px - 1 AND a.px + 1 AND b.py BETWEEN a.py - 1 AND a.py + 1
        |  GROUP BY a.px, a.py, a.v)
        |SELECT px, py,
        |  round(z0 - (s9 - z0) / 8.0 + 5e-7, 4) AS tpi,
        |  round(sqrt(sq) + 5e-7, 4) AS tri,
        |  CAST(mx - mn AS BIGINT) AS rough
        |FROM g WHERE n = 9 ORDER BY px, py""".stripMargin
    },

    /** D8 flow direction over the shared focal lattice — drop² cross-
      * multiplied compares (no sqrt), smallest-code ties, sinks/flats 0.
      * See [[graft.operators.Focal.flowDirD8]]. */
    QueryDef("r13_flow_dir") { (s, d) =>
      focalCells(graft.operators.Focal.flowDirD8(focalBlocks(s, d)), "flow_dir")
    }(r13FlowSql),

    /** Flow ACCUMULATION over r13's direction lattice: cells become a
      * functional acyclic graph (one downhill out-edge each; drops are
      * strictly positive so no cycles), and the upstream-cell count
      * relaxes via [[graft.operators.Graph.ancestorCount]]. Values are
      * integers in [1, 50], so every flow path strictly descends through
      * < 50 distinct values — 50 rounds provably converge. The oracle
      * computes the true transitive closure (recursive CTE) instead. */
    QueryDef("r14_flow_accum") { (s, d) =>
      val fd = focalCells(
        graft.operators.Focal.flowDirD8(focalBlocks(s, d)), "flow_dir")
      val dxc = when(col("flow_dir").isin(1.0, 2.0, 128.0), 1L)
        .when(col("flow_dir").isin(8.0, 16.0, 32.0), -1L).otherwise(0L)
      val dyc = when(col("flow_dir").isin(2.0, 4.0, 8.0), 1L)
        .when(col("flow_dir").isin(32.0, 64.0, 128.0), -1L).otherwise(0L)
      val edges = fd.filter(col("flow_dir") > 0)
        .select((col("py") * 100 + col("px")).as("src"),
          ((col("py") + dyc) * 100 + (col("px") + dxc)).as("dst"))
      graft.operators.Graph.ancestorCount(edges, iters = 50)
        .select((col("id") % 100).as("px"), expr("id div 100").as("py"),
          col("acc"))
        .orderBy("px", "py")
    } {
      // true ancestor closure over the D8 out-edges (recursive CTE on the
      // functional graph — each vertex has one out-edge, paths are unique)
      s"""WITH RECURSIVE fdir AS ($r13FlowSql),
         |edges AS (SELECT
         |    py * 100 + px AS src,
         |    (py + CASE WHEN flow_dir IN (2, 4, 8) THEN 1
         |               WHEN flow_dir IN (32, 64, 128) THEN -1 ELSE 0 END) * 100
         |    + (px + CASE WHEN flow_dir IN (1, 2, 128) THEN 1
         |                 WHEN flow_dir IN (8, 16, 32) THEN -1 ELSE 0 END) AS dst
         |  FROM fdir WHERE flow_dir > 0),
         |nodes AS (SELECT DISTINCT id FROM (
         |  SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
         |paths(u, v) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT p.u, e.dst FROM paths p JOIN edges e ON e.src = p.v),
         |anc AS (SELECT v AS id, count(*) AS acc FROM paths GROUP BY v)
         |SELECT CAST(id % 100 AS BIGINT) AS px, CAST(id // 100 AS BIGINT) AS py,
         |  CAST(coalesce(anc.acc, 0) AS BIGINT) AS acc
         |FROM nodes LEFT JOIN anc USING (id) ORDER BY px, py""".stripMargin
    },

    /** Majority (focal mode) filter — categorical smoothing with pinned
      * smallest-value ties. See
      * [[graft.operators.Focal.majorityFilter]]. */
    QueryDef("r15_majority") { (s, d) =>
      focalCells(graft.operators.Focal.majorityFilter(focalBlocks(s, d)),
        "majority")
    } {
      // per-window frequency argmax: count per value, ties to the
      // smallest value, full windows only
      """WITH grid AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |nb AS (
        |  SELECT a.px, a.py, b.v
        |  FROM grid a JOIN grid b
        |    ON b.px BETWEEN a.px - 1 AND a.px + 1 AND b.py BETWEEN a.py - 1 AND a.py + 1),
        |cnt AS (SELECT px, py, v, count(*) AS c FROM nb GROUP BY 1, 2, 3),
        |tot AS (SELECT px, py, sum(c) AS n FROM cnt GROUP BY 1, 2),
        |r AS (SELECT px, py, v,
        |    row_number() OVER (PARTITION BY px, py ORDER BY c DESC, v ASC) AS rn
        |  FROM cnt)
        |SELECT r.px, r.py, round(v + 5e-7, 4) AS majority
        |FROM r JOIN tot USING (px, py) WHERE rn = 1 AND n = 9
        |ORDER BY px, py""".stripMargin
    },

    /** Watershed delineation over r13's D8 flow lattice — each cell
      * labeled by the sink (outlet) its flow path reaches, completing
      * the hydrology family (direction → accumulation → basins). Flow
      * paths strictly descend through < 50 integer values, so 6 pointer-
      * doubling rounds (2⁶ = 64) provably cover every path. See
      * [[graft.operators.Graph.terminalLabel]]. */
    QueryDef("r16_watershed", headline = true, sf1MinOf2 = true) { (s, d) =>
      // pinned: the direction lattice feeds the edge build AND the
      // cell-set join-back that drops synthetic off-grid outlet nodes
      val fd = graft.core.Caching.shared(focalCells(
        graft.operators.Focal.flowDirD8(focalBlocks(s, d)), "flow_dir"))
      val dxc = when(col("flow_dir").isin(1.0, 2.0, 128.0), 1L)
        .when(col("flow_dir").isin(8.0, 16.0, 32.0), -1L).otherwise(0L)
      val dyc = when(col("flow_dir").isin(2.0, 4.0, 8.0), 1L)
        .when(col("flow_dir").isin(32.0, 64.0, 128.0), -1L).otherwise(0L)
      // sinks/flats (flow_dir = 0) carry a self-edge so every lattice
      // cell appears in the node set with itself as terminal; border
      // cells draining off-lattice keep the off-grid id as their basin
      // ("drains off-map"), but only REAL cells emit rows
      val edges = fd.select(
        (col("py") * 100 + col("px")).as("src"),
        when(col("flow_dir") > 0,
          (col("py") + dyc) * 100 + (col("px") + dxc))
          .otherwise(col("py") * 100 + col("px")).as("dst"))
      val cells = fd.select((col("py") * 100 + col("px")).as("id"))
      graft.operators.Graph.terminalLabel(edges, rounds = 6)
        .join(cells, "id")
        .select((col("id") % 100).as("px"), expr("id div 100").as("py"),
          col("basin"))
        .orderBy("px", "py")
    } {
      // basin = the sink each flow path reaches: recursive walk over the
      // functional D8 out-edges, joined to the fixed points
      s"""WITH RECURSIVE fdir AS ($r13FlowSql),
         |edges AS (SELECT
         |    py * 100 + px AS src,
         |    CASE WHEN flow_dir > 0 THEN
         |      (py + CASE WHEN flow_dir IN (2, 4, 8) THEN 1
         |                 WHEN flow_dir IN (32, 64, 128) THEN -1 ELSE 0 END) * 100
         |      + (px + CASE WHEN flow_dir IN (1, 2, 128) THEN 1
         |                   WHEN flow_dir IN (8, 16, 32) THEN -1 ELSE 0 END)
         |    ELSE py * 100 + px END AS dst
         |  FROM fdir),
         |cells AS (SELECT py * 100 + px AS id FROM fdir),
         |succ AS (SELECT c.id, coalesce(e.dst, c.id) AS s
         |  FROM cells c LEFT JOIN edges e ON e.src = c.id),
         |walk(id, v) AS (
         |  SELECT id, s FROM succ
         |  UNION
         |  SELECT w.id, s2.s FROM walk w JOIN succ s2 ON s2.id = w.v
         |  WHERE w.v <> s2.s),
         |term AS (SELECT id FROM succ WHERE s = id
         |  UNION
         |  SELECT DISTINCT dst FROM edges
         |  WHERE dst NOT IN (SELECT id FROM cells))
         |SELECT CAST(w.id % 100 AS BIGINT) AS px,
         |  CAST(w.id // 100 AS BIGINT) AS py,
         |  CAST(w.v AS BIGINT) AS basin
         |FROM walk w JOIN term k ON k.id = w.v
         |ORDER BY px, py""".stripMargin
    })
}
