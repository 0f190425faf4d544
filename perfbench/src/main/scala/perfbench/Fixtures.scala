package perfbench

import graft.core.LayerSpec
import graft.functions.GeoFunctions
import graft.sources.GeoTiff
import java.nio.file.{Files, Path}
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LinearRing, Polygon}

/** Seeded inputs for the two workloads, written with the repo's own
  * writers (`GeoTiff.Writer` for rasters, `GeoFunctions.write` WKB into a
  * parquet table for features), plus the expected published pixels each
  * one must produce. The same seed always yields the same files. */
object Fixtures {

  /** A smooth field over (lon, lat) degrees, values in ~[250, 1750]; the
    * seed moves its phases only, so every seed costs the codecs the same. */
  final class Field(seed: Long) {
    private val r = new java.util.Random(seed)
    private val p1 = r.nextDouble() * 2 * math.Pi
    private val p2 = r.nextDouble() * 2 * math.Pi
    private val p3 = r.nextDouble() * 2 * math.Pi
    def smooth(lon: Double, lat: Double): Double =
      1000 + 500 * math.sin(3 * math.toRadians(lon) + p1) * math.cos(2 * math.toRadians(lat) + p2) +
        250 * math.sin(5 * math.toRadians(lon + lat) + p3)
  }

  /** Noise in [-2, 2] from a pixel's integer position, so the codecs see
    * real entropy: the stored value is `round(smooth + noise)`. */
  def noise(seed: Long, x: Long, y: Long): Int = {
    var h = seed * 0x9E3779B97F4A7C15L + x * 0xC2B2AE3D27D4EB4FL + y * 0x165667B19E3779F9L
    h ^= h >>> 29; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 32
    (java.lang.Long.remainderUnsigned(h, 5) - 2).toInt
  }

  // ------------------------------------------------------ raster_reproject
  /** One whole-world EPSG:4326 Deflate source at a resolution that does not
    * match the WebMercator target grid. */
  final case class Reproject(srcRes: Double, grid: String, calcScale: Int, calcOffset: Int)

  def writeReprojectSources(seed: Long, w: Reproject, dir: Path): Unit = {
    Files.createDirectories(dir)
    val f = new Field(seed)
    val width = math.round(360 / w.srcRes).toInt
    val height = math.round(180 / w.srcRes).toInt
    val tile = 256
    val profile = GeoTiff.Profile(width = width, height = height, bands = 1,
      dataType = "uint16", tileWidth = tile, tileHeight = tile, noData = Some(0.0),
      epsg = 4326, originX = -180, originY = 90, xres = w.srcRes, yres = w.srcRes)
    val writer = new GeoTiff.Writer(dir.resolve("world.tif").toString, profile)
    try {
      val px = new Array[Double](tile * tile)
      for (tr <- 0 until profile.tilesDown; tc <- 0 until profile.tilesAcross) {
        var i = 0
        while (i < px.length) {
          val x = tc * tile + i % tile; val y = tr * tile + i / tile
          px(i) =
            if (x >= width || y >= height) 0
            else math.round(f.smooth(-180 + (x + 0.5) * w.srcRes, 90 - (y + 0.5) * w.srcRes) +
              noise(seed, x, y)).toDouble
          i += 1
        }
        writer.writeTile(1, tr, tc, px)
      }
    } finally writer.close()
  }

  def reprojectSpec(w: Reproject, srcUri: String): LayerSpec = LayerSpec.fromJson(
    s"""{"dataset":"bench_reproject","version":"v1","source_type":"raster",
       |"pixel_meaning":"value","data_type":"uint16","no_data":0,"grid":"${w.grid}",
       |"resampling":"bilinear","calc":"A * ${w.calcScale} + ${w.calcOffset}",
       |"compute_stats":true,"source_uri":["$srcUri"]}""".stripMargin)

  /** Expected output of the single zoom tile at the smooth field's value
    * (before noise and rounding): the check allows a tolerance for those. */
  def reprojectExpected(seed: Long, w: Reproject, spec: LayerSpec): Array[Int] = {
    val f = new Field(seed)
    val g = spec.gridDef
    val n = g.cols
    val b = g.tileBounds(g.tileId(0))
    val out = new Array[Int](n * n)
    var y = 0
    while (y < n) {
      val my = b.top - (y + 0.5) * g.yres
      val (_, lat) = graft.functions.Reproject.toWgs84(0.0, my)
      var x = 0
      while (x < n) {
        val (lon, _) = graft.functions.Reproject.toWgs84(b.left + (x + 0.5) * g.xres, my)
        out(y * n + x) = math.round(f.smooth(lon, lat) * w.calcScale + w.calcOffset).toInt
        x += 1
      }
      y += 1
    }
    out
  }

  // ---------------------------------------------------------- vector_burn
  /** Non-overlapping polygons — stars, stars with a hole, two-part
    * multipolygons — one per 1°-cell of a lattice centred on integer
    * degrees in (0°, 20°)², so cells on the 10° lines span two or four
    * tiles of the world grid. */
  final case class Vector(grid: String, features: Int)

  final case class Feature(geom: Geometry, value: Long)

  private val gf = new GeometryFactory()

  private def star(r: java.util.Random, cx: Double, cy: Double, rad: Double,
                   minFrac: Double): LinearRing = {
    val n = 8 + r.nextInt(17)
    val pts = (0 until n).map { k =>
      val a = 2 * math.Pi * (k + 0.2 + 0.6 * r.nextDouble()) / n
      val rr = rad * (minFrac + (1 - minFrac) * r.nextDouble())
      new Coordinate(cx + rr * math.cos(a), cy + rr * math.sin(a))
    }
    gf.createLinearRing((pts :+ pts.head).toArray)
  }

  def vectorFeatures(seed: Long, w: Vector): Seq[Feature] = {
    val r = new java.util.Random(seed ^ 0x766563L)
    val cells = scala.util.Random.javaRandomToRandom(r)
      .shuffle((for (i <- 1 to 19; j <- 1 to 19) yield (i, j)).toVector).take(w.features)
    cells.zipWithIndex.map { case ((i, j), k) =>
      // random vertices: no pixel centre lands exactly on an edge, so the
      // even-odd reference and JTS `covers` agree
      val cx = i + 0.1 * (r.nextDouble() - 0.5)
      val cy = j + 0.1 * (r.nextDouble() - 0.5)
      val rad = 0.2 + 0.04 * r.nextDouble()
      val g: Geometry = k % 3 match {
        case 0 => gf.createPolygon(star(r, cx, cy, rad, 0.6))
        case 1 => gf.createPolygon(star(r, cx, cy, rad, 0.6),
          Array(star(r, cx, cy, rad * 0.3, 0.5)))
        case _ => gf.createMultiPolygon(Array(
          gf.createPolygon(star(r, cx - rad / 2, cy, rad * 0.4, 0.6)),
          gf.createPolygon(star(r, cx + rad / 2, cy, rad * 0.4, 0.6))))
      }
      Feature(g, 1 + r.nextInt(254))
    }
  }

  def writeVectorFeatures(spark: org.apache.spark.sql.SparkSession, feats: Seq[Feature],
                          path: Path): Unit = {
    import spark.implicits._
    feats.map(f => (GeoFunctions.write(f.geom), f.value)).toDF("geom", "value")
      .coalesce(1).write.mode("overwrite").parquet(path.toString)
  }

  def vectorSpec(w: Vector): LayerSpec = LayerSpec.fromJson(
    s"""{"dataset":"bench_vector","version":"v1","source_type":"vector",
       |"pixel_meaning":"value","data_type":"uint8","no_data":0,"grid":"${w.grid}",
       |"rasterize_method":"value","order":"asc"}""".stripMargin)

  /** Rings of a polygonal geometry as flat (x, y) arrays. */
  private def rings(g: Geometry): Seq[Array[Double]] =
    (0 until g.getNumGeometries).map(g.getGeometryN).flatMap { case p: Polygon =>
      (p.getExteriorRing +: (0 until p.getNumInteriorRing).map(p.getInteriorRingN))
        .map(_.getCoordinates.flatMap(c => Array(c.x, c.y)))
    }

  /** Even-odd point-in-polygon over all rings — an independent re-statement
    * of pixel-centre coverage (GDAL ALL_TOUCHED=FALSE) for inputs with no
    * pixel centre on an edge. */
  private def inside(rs: Seq[Array[Double]], x: Double, y: Double): Boolean = {
    var in = false
    for (ring <- rs) {
      var i = 0; val n = ring.length / 2 - 1
      while (i < n) {
        val (x1, y1, x2, y2) = (ring(2 * i), ring(2 * i + 1), ring(2 * i + 2), ring(2 * i + 3))
        if ((y1 > y) != (y2 > y) && x < x1 + (y - y1) * (x2 - x1) / (y2 - y1)) in = !in
        i += 1
      }
    }
    in
  }

  /** Expected published pixels per processed tile (tiles with at least one
    * covered pixel centre). */
  def vectorExpected(feats: Seq[Feature], spec: LayerSpec): Map[String, Array[Int]] = {
    val g = spec.gridDef
    val n = g.cols
    val tiles = scala.collection.mutable.Map.empty[String, Array[Int]]
    for (f <- feats) {
      val rs = rings(f.geom)
      val env = f.geom.getEnvelopeInternal
      val px0 = math.floor((env.getMinX + 180) / g.xres).toLong
      val px1 = math.ceil((env.getMaxX + 180) / g.xres).toLong
      val py0 = math.floor((90 - env.getMaxY) / g.yres).toLong
      val py1 = math.ceil((90 - env.getMinY) / g.yres).toLong
      var py = py0
      while (py < py1) {
        val cy = 90 - (py + 0.5) * g.yres
        var px = px0
        while (px < px1) {
          val cx = -180 + (px + 0.5) * g.xres
          if (inside(rs, cx, cy)) {
            val id = g.pointTileId(-180 + (px / n * n + 0.5) * g.xres, 90 - (py / n * n + 0.5) * g.yres)
            val arr = tiles.getOrElseUpdate(id, new Array[Int](n * n))
            arr(((py % n) * n + px % n).toInt) = f.value.toInt
          }
          px += 1
        }
        py += 1
      }
    }
    tiles.toMap
  }
}
