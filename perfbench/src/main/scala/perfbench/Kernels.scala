package perfbench

import graft.core.LayerSpec
import graft.functions.{GeoFunctions, Reproject}
import graft.operators.{Raster, Rasterize}
import graft.plans.LayerJob
import graft.sources.{GeoTiff, WarpReader}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Kernel micro-legs on fixed inputs made from the seed. Decode, encode,
  * projection and pixel cover run on the calling thread; warp and clip run
  * the public DataFrame functions over ONE partition, so one task thread
  * does the work; calc runs `LayerJob` on the whole session. Each leg
  * reports the median of its repetitions. */
object Kernels {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Median seconds of `reps` timed calls of `f` (after one untimed call). */
  private def timeIt(reps: Int)(f: => Unit): Double = {
    f
    median((1 to reps).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 })
  }

  private def writeBlocks(path: Path, seed: Long, size: Int, lzw: Boolean): Long = {
    val f = new Fixtures.Field(seed)
    val tile = 256
    val profile = GeoTiff.Profile(width = size, height = size, bands = 1, dataType = "uint16",
      tileWidth = tile, tileHeight = tile, noData = Some(0.0), epsg = 4326,
      originX = 0, originY = 10, xres = 0.001, yres = 0.001,
      lzw = lzw, predictor = if (lzw) 2 else 1)
    val w = new GeoTiff.Writer(path.toString, profile)
    try for (tr <- 0 until profile.tilesDown; tc <- 0 until profile.tilesAcross)
      w.writeTile(1, tr, tc, Array.tabulate(tile * tile) { i =>
        val x = tc * tile + i % tile; val y = tr * tile + i / tile
        math.round(f.smooth(x * 0.01, y * 0.01) + Fixtures.noise(seed, x, y)).toDouble
      })
    finally w.close()
    size.toLong * size
  }

  /** Single-thread decode of every block of a file: ns per pixel. */
  private def decodeNs(path: Path, px: Long, reps: Int): Double = {
    val t = GeoTiff.open(path.toString)
    val p = t.profile
    timeIt(reps) {
      var s = 0.0
      for (tr <- 0 until p.tilesDown; tc <- 0 until p.tilesAcross) s += t.readTile(1, tr, tc)(0)
      if (s < 0) println(s)
    } * 1e9 / px
  }

  /** Every leg's metric, keyed by its per-layer name, plus the counts the
    * legs computed (not measured on any device) for the run record. */
  def run(spark: SparkSession, seed: Long, dir: Path, vector: Fixtures.Vector): (Map[String, Double], Map[String, Double]) = {
    Files.createDirectories(dir)
    val edge = 1024
    val lzwPath = dir.resolve("lzw.tif"); val deflatePath = dir.resolve("deflate.tif")
    val px = writeBlocks(lzwPath, seed, edge, lzw = true)
    writeBlocks(deflatePath, seed, edge, lzw = false)
    val decodeLzw = decodeNs(lzwPath, px, 5)
    val decodeDeflate = decodeNs(deflatePath, px, 5)

    // encode: Deflate writer over the decoded blocks of the fixture
    val src = GeoTiff.open(deflatePath.toString)
    val blocks = for (tr <- 0 until src.profile.tilesDown; tc <- 0 until src.profile.tilesAcross)
      yield (tr, tc, src.readTile(1, tr, tc))
    val encPath = dir.resolve("encode.tif")
    val encode = timeIt(5) {
      val w = new GeoTiff.Writer(encPath.toString, src.profile)
      try blocks.foreach { case (tr, tc, b) => w.writeTile(1, tr, tc, b) } finally w.close()
    } * 1e9 / px

    // projection: WebMercator → lat/lng at the 2^20 pixel centres of the zoom_2 tile
    val toWgs = Reproject.pointTransform("EPSG:3857", "EPSG:4326")
    val pts = 1 << 20
    val ext = 20037508.342789244
    val project = timeIt(5) {
      var s = 0.0; var i = 0
      while (i < pts) {
        val (a, b) = toWgs(-ext + (i % 1024 + 0.5) * 39135.76, ext - (i / 1024 + 0.5) * 39135.76)
        s += a + b; i += 1
      }
      if (s.isNaN) println(s)
    } * 1e9 / pts

    // warp: bilinear 3857 ← 4326 gather of the zoom-3 tile's 64 blocks
    val worldDir = dir.resolve("world"); Files.createDirectories(worldDir)
    val rw = Fixtures.Reproject(srcRes = 0.3, grid = "zoom_3", calcScale = 1, calcOffset = 0)
    Fixtures.writeReprojectSources(seed, rw, worldDir)
    val g = graft.core.grid.GridFactory("zoom_3")
    val warpPx = g.cols.toLong * g.cols
    val warp = {
      import spark.implicits._
      val b = g.tileBounds(g.tileId(0))
      val n = g.cols / g.blockSize
      val uri = worldDir.resolve("world.tif").toAbsolutePath.toString
      val work = (for (br <- 0 until n; bc <- 0 until n)
        yield (g.tileId(0), 1, 1, br, bc, g.blockSize, g.blockSize, uri, 1, b.left, b.top))
        .toDF("tile_id", "band", "file_band", "block_row", "block_col", "width", "height",
          "uri", "priority", "left", "top").coalesce(1)
      val read = WarpReader.reader(g.xres, g.yres, g.blockSize, g.crs, "EPSG:4326", "bilinear")(work)
      timeIt(3)(read.agg(sum(size(col("values")))).collect()) * 1e9 / warpPx
    }

    // calc: LayerJob over the synthetic reader (no I/O), forced through size()
    val calcSpec = LayerSpec(dataset = "kernel", version = "v1", sourceType = "raster",
      pixelMeaning = "x", dataType = "uint16", calc = Some("A * 2 + 1"), grid = "90/1008",
      sourceUri = Some(Seq("mem")), noData = Some(Seq(0.0)))
    val calcPx = 2L * 1008 * 1008
    val calc = {
      import spark.implicits._
      val catalog = Seq(("mem://kernel.tif", 1,
        GeoFunctions.write(GeoFunctions.envelope(-180, -90, 180, 90)))).toDF("uri", "band", "footprint")
      timeIt(3) {
        LayerJob.run(spark, calcSpec, catalog, b => Raster.synthesizeBand(b.drop("band"), band = 1),
          subset = Some(Seq("90N_180W", "90N_090W"))).blocks.agg(sum(size(col("band_1")))).collect()
      } * 1e9 / calcPx
    }

    // clip and pixel cover over the vector workload's features
    val feats = Fixtures.vectorFeatures(seed, vector)
    val vg = graft.core.grid.GridFactory(vector.grid)
    val (clip, pairs) = {
      import spark.implicits._
      val tiles = (0L until vg.numTiles).map { i =>
        val b = vg.tileBounds(vg.tileId(i))
        GeoFunctions.write(GeoFunctions.envelope(b.left, b.bottom, b.right, b.top))
      }
      val pairsDf = (for (f <- feats; t <- tiles) yield (GeoFunctions.write(f.geom), t))
        .toDF("geom", "tile_env").coalesce(1)
      val q = pairsDf.filter(GeoFunctions.st_intersection(col("geom"), col("tile_env")).isNotNull)
      val n = feats.size.toLong * tiles.size
      (timeIt(3)(q.count()) * 1e6 / n, n)
    }
    val wkbs = feats.map(f => GeoFunctions.write(f.geom))
    var rows = 0L
    val cover = {
      val t = timeIt(3) {
        rows = 0L
        wkbs.foreach(w => rows += Rasterize.pixelCoverIterator(w, -180.0, 90.0, vg.xres, vg.yres).size)
      }
      t * 1e9 / math.max(1L, rows)
    }
    (Map(
      "sources.decode_lzw_ns_per_px" -> decodeLzw,
      "sources.decode_deflate_ns_per_px" -> decodeDeflate,
      "sources.encode_deflate_ns_per_px" -> encode,
      "sources.warp_ns_per_px" -> warp,
      "functions.project_ns_per_pt" -> project,
      "functions.calc_ns_per_px" -> calc,
      "functions.clip_us_per_pair" -> clip,
      "operators.pixel_cover_ns_per_px" -> cover),
     Map(
      "kernel_block_px" -> px.toDouble,
      "kernel_raw_bytes_computed" -> (px * 2).toDouble,
      "kernel_warp_px" -> warpPx.toDouble,
      "kernel_calc_px" -> calcPx.toDouble,
      "kernel_clip_pairs" -> pairs.toDouble,
      "kernel_cover_px" -> rows.toDouble))
  }
}
