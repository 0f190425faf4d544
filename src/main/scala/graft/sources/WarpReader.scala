package graft.sources

import graft.plans.LayerJob
import org.apache.spark.sql.functions._

/** Warping block reader (the WarpedVRT role of the reference,
  * `gfw_pixetl/tiles/raster_src_tile.py:188-210`): reads target-grid blocks
  * from source files whose grid does NOT match the output grid — different
  * origin, resolution, and/or CRS. Nearest-neighbor gather per target pixel:
  * the pixel center is projected from the target CRS into the source CRS
  * (closed-form 4326↔3857, `functions/Reproject`), then floor-indexed into
  * the source grid — exactly rasterio's WarpedVRT nearest path. Aggregate
  * kernels compose with `operators/Resample` when the ratio is an integer.
  *
  * Out-of-source-range target pixels become nodata — the reference's
  * empty-pad edge case (`tiles/utils/window_utils.py:119-127`).
  *
  * Scale: each task holds a small LRU of decoded source tiles, so a run of
  * adjacent target blocks re-reads nothing; source fetches are ranged
  * (tile-granular), matching the reference's windowed VSI reads. The
  * per-pixel trig of a cross-CRS gather is nanoseconds against the I/O it
  * amortizes; no shuffle is introduced — the reader stays a mapPartitions.
  * Sources carrying overview pyramids (internal chained IFDs or a
  * `.ovr` sidecar) are read at the level matched to the target
  * resolution — GDAL's best-overview rule — so a factor-2^k reduction
  * job touches 4^k× fewer source bytes than a base-level gather.
  */
object WarpReader {

  /** Tap radius per interpolating kernel — shared with the integer-
    * decimation block kernel so both resampling paths blend identical
    * weights (see [[graft.functions.ResampleTaps]]). */
  private val kernelRadius: Map[String, Int] = graft.functions.ResampleTaps.radius

  /** Footprint-box aggregate kernels (valid at any ratio). */
  private val boxKernels: Set[String] =
    Set("average", "sum", "min", "max", "mode", "med", "q1", "q3", "rms")

  /** Per-task cap on parsed source handles (pyramids). 16 distinct URIs is
    * generous for a block run (mosaic inputs overlapping one tile), and at
    * ~O(blocks) strile longs per handle it bounds the worst case — a
    * partition that touches thousands of catalog files — to a few MB. */
  private[sources] val handleCacheCap: Int = 16

  private def kernelWeight(kernel: String): Double => Double =
    graft.functions.ResampleTaps.weight(kernel)

  /** A `LayerJob.BlockReader` gathering from sources in `sourceCrs` onto a
    * target grid in `targetCrs` (e.g. a 4326 source feeding a `zoom_N`
    * WebMercator grid). Requires blockWork to carry the tile bounds
    * (left/top) so target blocks are geolocated.
    *
    * `resampling`: `nearest` (default); interpolating `bilinear` (2×2
    * taps), `cubic` (4×4 cubic convolution, a=-0.5), `cubic_spline` (4×4
    * cubic B-spline, smoothing), `lanczos` (6×6 3-lobe windowed sinc),
    * `gauss` (truncated 2^(−t²) — GDAL's binomial overview kernel); or
    * box aggregates `average`/`sum`/`min`/`max`/`mode`/`med`/`q1`/`q3`/
    * `rms` over every source pixel whose center falls inside the target
    * pixel's footprint — the GDAL warp aggregates, valid at ANY ratio
    * incl. non-integer. Invalid/nodata taps drop out and the remaining
    * weights renormalize (GDAL's masked resampling); a pixel with no
    * valid tap is nodata. `operators/Resample` remains the cheaper
    * one-Catalyst-expression path for already-aligned integer-factor
    * decimation. */
  def reader(targetXres: Double, targetYres: Double, blockSize: Int,
             targetCrs: String, sourceCrs: String,
             resampling: String = "nearest"): LayerJob.BlockReader =
    blockWork => {
      val toSrc = graft.functions.Reproject.pointTransform(targetCrs, sourceCrs)
      require(resampling == "nearest" || boxKernels.contains(resampling) ||
          kernelRadius.contains(resampling),
        s"WarpReader supports nearest, interpolating (bilinear/cubic/" +
          s"cubic_spline/lanczos/gauss) and box (average/sum/min/max/mode/" +
          s"med/q1/q3/rms) kernels, got $resampling")
      val spark = blockWork.sparkSession
      import spark.implicits._
      val confBytes = HadoopConfs.capture(spark.sparkContext.hadoopConfiguration)
      blockWork
        .select(col("tile_id"), col("band"), col("file_band"),
          col("block_row"), col("block_col"),
          col("width"), col("height"), col("uri"), col("priority"),
          col("left"), col("top"))
        .as[(String, Int, Int, Int, Int, Int, Int, String, Int, Double, Double)]
        .mapPartitions { rows =>
          HadoopConfs.install(confBytes)
          // pyramid per source (base + internal/sidecar overviews, sorted
          // finest-first); a downsampling warp then reads the overview
          // level matched to the target resolution instead of the base —
          // at a factor-2^k reduction this cuts the source I/O 4^k×, the
          // reason GDAL's warper does the same (GDALBandGetBestOverviewLevel2)
          // LRU of parsed pyramids, capped like the pixel cache below: one
          // entry per distinct source URI, but each holds IFD/strile arrays
          // for EVERY overview level (O(blocks) longs), and a partition over
          // a large catalog would otherwise grow it without bound — the one
          // unbounded per-task structure the r13 audit found in the read
          // path. Tiff is a pure metadata value (readTile opens and closes
          // its own range reader per call), so eviction frees memory only —
          // a re-touched URI just re-parses its ~KB header on a ranged read.
          val open = new java.util.LinkedHashMap[String, Seq[GeoTiff.Tiff]](
            32, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[String, Seq[GeoTiff.Tiff]]): Boolean =
              size() > handleCacheCap
          }
          // LRU of decoded source tiles: (uri, band, level, tr, tc) → pixels
          val cache = new java.util.LinkedHashMap[(String, Int, Int, Int, Int), Array[Double]](
            64, 0.75f, true) {
            override def removeEldestEntry(
                e: java.util.Map.Entry[(String, Int, Int, Int, Int), Array[Double]]): Boolean =
              size() > 48
          }
          rows.map { case (tileId, band, fileBand, br, bc, w, h, uri, priority, tileLeft, tileTop) =>
            val levels = {
              val hit = open.get(uri)
              if (hit != null) hit else {
                val parsed = GeoTiff.openWithOverviews(uri).sortBy(_.profile.xres)
                open.put(uri, parsed)
                parsed
              }
            }
            val baseP = levels.head.profile
            // geo origin of this target block (also used by the pixel loop)
            val bLeft = tileLeft + bc * blockSize * targetXres
            val bTop = tileTop - br * blockSize * targetYres
            // how many BASE source pixels one target pixel spans, projected
            // at the block center (4326↔3857 is axis-separable, so the
            // center ratio holds across the block)
            // 'sum' is NOT scale-free: an overview pixel holds a resampled
            // (typically averaged) value, so folding overview pixels into a
            // sum changes the magnitude ~factor² vs the base — always
            // gather sums from the base level (every other kernel estimates
            // a scale-free statistic the pyramid approximates, the same
            // trade GDAL's warper makes when it reads overviews)
            val lvlIdx = if (levels.length == 1 || resampling == "sum") 0 else {
              val ctx = bLeft + 0.5 * w * targetXres
              val cty = bTop - 0.5 * h * targetYres
              val (c1x, c1y) = toSrc(ctx, cty)
              val (c2x, c2y) = toSrc(ctx + targetXres, cty - targetYres)
              val ratio = math.min(math.abs(c2x - c1x) / baseP.xres,
                math.abs(c1y - c2y) / baseP.yres)
              // GDAL's best-overview rule: the coarsest level still finer
              // than ~1.2× the demanded resolution; upsampling keeps base
              val fit = levels.lastIndexWhere(_.profile.xres / baseP.xres <= ratio * 1.2)
              math.max(0, fit)
            }
            val t = levels(lvlIdx)
            val p = t.profile
            val nd = p.noData
            val out = new Array[Double](w * h)
            val valid = new Array[Boolean](w * h)
            // source pixel fetch through the tile LRU; NaN = out of range
            // or nodata (so kernel taps drop out uniformly)
            def sample(sx: Int, sy: Int): Double =
              if (sx < 0 || sy < 0 || sx >= p.width || sy >= p.height) Double.NaN
              else {
                val tr = sy / p.tileHeight; val tc = sx / p.tileWidth
                val key = (uri, fileBand, lvlIdx, tr, tc)
                var tile = cache.get(key)
                if (tile == null) {
                  tile = t.readTile(fileBand, tr, tc)
                  cache.put(key, tile)
                }
                val v = tile((sy % p.tileHeight) * p.tileWidth + (sx % p.tileWidth))
                if (nd.exists(x => if (x.isNaN) v.isNaN else x == v)) Double.NaN else v
              }
            // kernel over continuous source coords (pixel-center registered):
            // separable taps at radius 1 (bilinear), 2 (cubic/cubic_spline),
            // 3 (lanczos). Masked taps drop out and the remaining weights
            // renormalize; cubic/lanczos have negative lobes, so a heavily
            // masked window can sum its VALID weights to ~0 or negative,
            // where renormalizing would explode/flip sign — degrade to the
            // nearest sample instead (itself NaN if the window is all-masked).
            val kRadius = kernelRadius.getOrElse(resampling, 0)
            val kWeight = if (kRadius > 0) kernelWeight(resampling) else null
            val isBox = boxKernels.contains(resampling)
            val isNearest = resampling == "nearest"
            def interpolate(gx: Double, gy: Double): Double =
              if (isNearest)
                sample(math.floor(gx + 0.5).toInt, math.floor(gy + 0.5).toInt)
              else {
                val x0 = math.floor(gx).toInt; val y0 = math.floor(gy).toInt
                val fx = gx - x0; val fy = gy - y0
                var acc = 0.0; var wsum = 0.0
                var dy = 1 - kRadius
                while (dy <= kRadius) {
                  val wy = kWeight(dy - fy)
                  if (wy != 0.0) {
                    var dx = 1 - kRadius
                    while (dx <= kRadius) {
                      val v = sample(x0 + dx, y0 + dy)
                      if (!v.isNaN) {
                        val wt = kWeight(dx - fx) * wy
                        acc += wt * v; wsum += wt
                      }
                      dx += 1
                    }
                  }
                  dy += 1
                }
                if (wsum > 1e-12) acc / wsum
                else sample(math.floor(gx + 0.5).toInt, math.floor(gy + 0.5).toInt)
              }
            // box kernels: aggregate the source pixels whose centers land
            // inside the projected target-pixel footprint (GDAL average/
            // sum/min/max/mode/med/q1/q3/rms — valid at ANY ratio incl.
            // non-integer); falls back to the nearest center when the
            // footprint covers none (upsampling)
            // rank kernels (mode/med/q1/q3) must materialize the footprint;
            // streaming kernels fold incrementally, so extreme decimation
            // ratios cost no allocation at all
            val rankKernel = resampling == "mode" || resampling == "med" ||
              resampling == "q1" || resampling == "q3"
            var scratch = new Array[Double](64)
            def boxAgg(x0: Double, x1: Double, y0: Double, y1: Double,
                       cgx: Double, cgy: Double): Double = {
              var sx0 = math.ceil(x0).toInt; var sx1 = math.floor(x1).toInt
              var sy0 = math.ceil(y0).toInt; var sy1 = math.floor(y1).toInt
              if (sx0 > sx1) { sx0 = math.round(cgx).toInt; sx1 = sx0 }
              if (sy0 > sy1) { sy0 = math.round(cgy).toInt; sy1 = sy0 }
              // Long math: at extreme decimation (no pyramid, 'sum' forced
              // to base) an Int cap overflows and writes past the array
              val capL = (sx1 - sx0 + 1).toLong * (sy1 - sy0 + 1)
              if (rankKernel) {
                require(capL <= (1L << 24),
                  s"$resampling footprint of $capL source pixels per target " +
                    "pixel needs materialization: build overviews (addo) or " +
                    "use a streaming kernel (average/sum/min/max/rms)")
                if (capL > scratch.length) scratch = new Array[Double](capL.toInt)
              }
              var n = 0L
              var acc = 0.0   // sum / sum-of-squares
              var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
              var sy = sy0
              while (sy <= sy1) {
                var sx = sx0
                while (sx <= sx1) {
                  val v = sample(sx, sy)
                  if (!v.isNaN) {
                    if (rankKernel) scratch(n.toInt) = v
                    else resampling match {
                      case "average" | "sum" => acc += v
                      case "rms" => acc += v * v
                      case "min" => if (v < mn) mn = v
                      case "max" => if (v > mx) mx = v
                    }
                    n += 1
                  }
                  sx += 1
                }
                sy += 1
              }
              if (n == 0) return Double.NaN
              resampling match {
                case "average" => acc / n
                case "sum"     => acc
                case "rms"     => math.sqrt(acc / n)
                case "min"     => mn
                case "max"     => mx
                case "mode" =>
                  // most frequent; ties → smallest value (deterministic,
                  // matching operators/Resample)
                  val nn = n.toInt
                  java.util.Arrays.sort(scratch, 0, nn)
                  var best = scratch(0); var bestRun = 1
                  var run = 1; var i = 1
                  while (i < nn) {
                    run = if (scratch(i) == scratch(i - 1)) run + 1 else 1
                    if (run > bestRun) { bestRun = run; best = scratch(i) }
                    i += 1
                  }
                  best
                case "med" | "q1" | "q3" =>
                  val q = resampling match {
                    case "med" => 0.5; case "q1" => 0.25; case _ => 0.75
                  }
                  val nn = n.toInt
                  java.util.Arrays.sort(scratch, 0, nn)
                  scratch(math.max(1, math.ceil(nn * q).toInt) - 1)
              }
            }
            var j = 0
            while (j < h) {
              val ty = bTop - (j + 0.5) * targetYres
              var i = 0
              while (i < w) {
                val tx = bLeft + (i + 0.5) * targetXres
                // project the target pixel center into the source CRS, then
                // to continuous source pixel coords (centers at k + 0.5)
                val (cx, cy) = toSrc(tx, ty)
                val gx = (cx - p.originX) / p.xres - 0.5
                val gy = (p.originY - cy) / p.yres - 0.5
                val idx = j * w + i
                val v =
                  if (isBox) {
                    // ALL FOUR footprint corners project: under a rotated
                    // transform (UTM grid convergence, conic parallels) the
                    // projected pixel is a quadrilateral whose bounding box
                    // two diagonal corners under-cover; for the separable
                    // 4326↔3857 pair the extra two projections are exact
                    // no-ops on the envelope
                    val (ax, ay) = toSrc(tx - targetXres / 2, ty + targetYres / 2)
                    val (bx, by) = toSrc(tx + targetXres / 2, ty - targetYres / 2)
                    val (ex, ey) = toSrc(tx + targetXres / 2, ty + targetYres / 2)
                    val (fx, fy) = toSrc(tx - targetXres / 2, ty - targetYres / 2)
                    val lo = math.min(math.min(ax, bx), math.min(ex, fx))
                    val hi = math.max(math.max(ax, bx), math.max(ex, fx))
                    val tp = math.max(math.max(ay, by), math.max(ey, fy))
                    val bt = math.min(math.min(ay, by), math.min(ey, fy))
                    boxAgg(
                      (lo - p.originX) / p.xres - 0.5,
                      (hi - p.originX) / p.xres - 0.5,
                      (p.originY - tp) / p.yres - 0.5,
                      (p.originY - bt) / p.yres - 0.5,
                      gx, gy)
                  } else interpolate(gx, gy)
                if (v.isNaN) {
                  out(idx) = nd.getOrElse(0.0)
                  valid(idx) = false
                } else {
                  out(idx) = v
                  valid(idx) = true
                }
                i += 1
              }
              j += 1
            }
            (tileId, band, br, bc, w, h, uri, priority, out, valid)
          }
        }
        .toDF("tile_id", "band", "block_row", "block_col", "width", "height",
          "uri", "priority", "values", "valid")
    }
}
