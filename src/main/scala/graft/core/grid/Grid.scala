package graft.core.grid

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Axis-aligned bounding box, the `Bounds` of the reference
  * (`gfw_pixetl/models/types.py:6`). */
final case class Bounds(left: Double, bottom: Double, right: Double, top: Double) {
  def width: Double  = right - left
  def height: Double = top - bottom
  def intersects(o: Bounds): Boolean = // interiors intersect (excludes mere touching)
    left < o.right && o.left < right && bottom < o.top && o.bottom < top
  def intersection(o: Bounds): Option[Bounds] = {
    val l = math.max(left, o.left); val b = math.max(bottom, o.bottom)
    val r = math.min(right, o.right); val t = math.min(top, o.top)
    if (l < r && b < t) Some(Bounds(l, b, r, t)) else None
  }
  def union(o: Bounds): Bounds = Bounds(
    math.min(left, o.left), math.min(bottom, o.bottom),
    math.max(right, o.right), math.max(top, o.top))
}

/** Deterministic spatial partitioning scheme — the unit of parallelism.
  *
  * Re-expression of the reference's `Grid` ABC
  * (`gfw_pixetl/grids/grid.py:14-165`): a grid assigns every tile a stable id
  * and bounds, and every tile is subdivided into square blocks. A layer job
  * never enumerates the world: [[tilesTouching]] finds a shape's tiles by
  * index arithmetic on the tile lattice, so a zoom-22 grid (268M tiles)
  * plans in the time its sources' tiles take. `tilesDF` is the whole grid
  * as a distributed `spark.range` + pure column arithmetic, for the
  * operators that scan every tile (Focal, the ledger).
  */
sealed trait Grid {
  def name: String
  def crs: String
  /** pixels per tile edge (cols == rows in every reference grid) */
  def cols: Int
  def rows: Int = cols
  /** GDAL-style block edge in pixels */
  def blockSize: Int
  def numTiles: Long
  def xres: Double
  def yres: Double
  /** world tile-lattice columns — `tile_idx` is row-major over this */
  def tileCols: Int
  /** tile id for a linear index in [0, numTiles) — row-major */
  def tileId(index: Long): String
  def tileBounds(tileId: String): Bounds
  /** tile id containing an (x, y) point */
  def pointTileId(x: Double, y: Double): String

  /** (left of tile column 0, top of tile row 0, tile edge): tiles are square. */
  protected def lattice: (Double, Double, Double)

  /** The tiles whose closed bounds intersect `b`, by index arithmetic on
    * the tile lattice: the index range under `b`, widened by one tile each
    * side and clamped to the world, kept by an inclusive test on
    * [[tileBounds]]' own doubles — every tile `b`'s shape can touch,
    * whatever the rounding. An empty `b`, or one off the world, yields none. */
  def tilesTouching(b: Bounds): Iterator[String] = {
    val (x0, y0, span) = lattice
    // lattice indices of offsets lo..hi, widened by one and clamped to
    // [0, n); an offset far off the lattice clamps before it can overflow
    def range(lo: Double, hi: Double, n: Long) = {
      def at(v: Double) = math.max(-1.0, math.min(n.toDouble, math.floor(v / span))).toLong
      if (lo <= hi) math.max(0L, at(lo) - 1) to math.min(n - 1, at(hi) + 1) else 0L until 0L
    }
    for {
      r <- range(y0 - b.top, y0 - b.bottom, numTiles / tileCols).iterator
      c <- range(b.left - x0, b.right - x0, tileCols)
      id = tileId(r * tileCols + c)
      t = tileBounds(id)
      if t.left <= b.right && b.left <= t.right && t.bottom <= b.top && b.bottom <= t.top
    } yield id
  }

  /** Distributed grid seed: (tile_idx, tile_id, left, bottom, right, top),
    * operator S1 as a table scan of every tile
    * (`gfw_pixetl/grids/lat_lng_grid.py:119-138`). */
  def tilesDF(spark: SparkSession): DataFrame
}

/** Lat/lng grid `width°/cols-px` (e.g. `10/40000`), tile ids like `10N_010E`
  * naming the top-left corner (`gfw_pixetl/grids/lat_lng_grid.py:14-210`).
  * Supports the half-tile lat/lng offsets of grids whose tile count per
  * hemisphere is odd (`lat_lng_grid.py:47-49`). */
final case class LatLngGrid(width: Int, override val cols: Int) extends Grid {
  require(360 % width == 0, "Tiles must fully fit into 360 degree extent")
  require(cols % 16 == 0, "Column number must be a multiple of 16")

  val height: Int = width
  val lngOffset: Int = if ((360 / width) % 2 != 0) width / 2 else 0
  val latOffset: Int = if ((180.0 / height) % 2 != 0) height / 2 else 0

  override def name = s"$width/$cols"
  override def crs  = "EPSG:4326"
  override val xres: Double = width.toDouble / cols
  override val yres: Double = height.toDouble / rows

  /** Largest multiple-of-16 block edge in [128, 512] dividing the tile evenly
    * (`lat_lng_grid.py:175-201`). */
  override val blockSize: Int =
    (128 to 512 by 16).filter(cols % _ == 0).lastOption.getOrElse(
      throw new IllegalArgumentException("Cannot create blocks between 128 and 512 pixels"))

  // top-left origins: lng in [-180+off, 180-off) step width; lat tops
  private def minLng: Int = -180 + lngOffset
  private def maxTop: Int = 90 - latOffset
  val nLngTiles: Int = (360 - 2 * lngOffset) / width
  val nLatTiles: Int = (180 - 2 * latOffset) / height
  override val numTiles: Long = nLngTiles.toLong * nLatTiles
  override def tileCols: Int = nLngTiles
  override protected def lattice = (minLng.toDouble, maxTop.toDouble, width.toDouble)

  private def fmtId(top: Int, left: Int): String = {
    val lat = if (top >= 0) f"${top}%02dN" else f"${-top}%02dS"
    val lng = if (left >= 0) f"${left}%03dE" else f"${-left}%03dW"
    s"${lat}_$lng"
  }

  override def tileId(index: Long): String = {
    val r = (index / nLngTiles).toInt
    val c = (index % nLngTiles).toInt
    fmtId(maxTop - r * height, minLng + c * width)
  }

  override def tileBounds(tileId: String): Bounds = {
    val Array(latS, lngS) = tileId.split("_")
    val top  = latS.dropRight(1).toInt * (if (latS.endsWith("S")) -1 else 1)
    val left = lngS.dropRight(1).toInt * (if (lngS.endsWith("W")) -1 else 1)
    Bounds(left, top - height, left + width, top)
  }

  override def pointTileId(x: Double, y: Double): String = {
    // floor/ceil to the (possibly offset) lattice, matching
    // `lat_lng_grid.py:60-75,143-173`
    var lng = math.floor(x / width).toInt * width
    if (lngOffset != 0) {
      val off = if (lng != 0) lngOffset * lng.sign else lngOffset
      lng -= off
      if (x < lng) lng -= width else if (x > lng + width) lng += width
    }
    var lat = math.ceil(y / height).toInt * height
    if (latOffset != 0) {
      val off = if (lat != 0) -(latOffset * lat.sign) else -latOffset
      lat += off
      if (y > lat) lat += height else if (y < lat - height) lat -= height
    }
    fmtId(lat, lng)
  }

  /** Snap a coordinate to this grid's pixel lattice, top-left bias
    * (`grids/grid.py:71-97`). */
  def snap(lat: Double, lng: Double): (Double, Double) = {
    var top  = math.ceil(lat)
    var left = math.floor(lng)
    while (top - lat > yres) top -= yres
    while (lng - left > xres) left += xres
    (top, left)
  }

  override def tilesDF(spark: SparkSession): DataFrame = {
    val w = lit(width); val h = lit(height)
    val df = spark.range(numTiles)
      .withColumn("tile_row", (col("id") / nLngTiles).cast("int"))
      .withColumn("tile_col", (col("id") % nLngTiles).cast("int"))
      .withColumn("top", lit(maxTop) - col("tile_row") * h)
      .withColumn("left", lit(minLng) + col("tile_col") * w)
    df.select(
      col("id").as("tile_idx"),
      concat(
        when(col("top") >= 0, format_string("%02dN", col("top")))
          .otherwise(format_string("%02dS", -col("top"))),
        lit("_"),
        when(col("left") >= 0, format_string("%03dE", col("left")))
          .otherwise(format_string("%03dW", -col("left")))).as("tile_id"),
      col("left").cast("double").as("left"),
      (col("top") - h).cast("double").as("bottom"),
      (col("left") + w).cast("double").as("right"),
      col("top").cast("double").as("top"))
  }
}

/** WebMercator grid for a zoom level; `max(1, 2^z/256)^2` tiles of at most
  * 65536² px, 256-px blocks, ids `rrrR_cccC`
  * (`gfw_pixetl/grids/wm_grid.py:14-120`). */
final case class WebMercatorGrid(zoom: Int) extends Grid {
  require(zoom >= 0 && zoom <= 22, s"zoom must be in [0, 22], got $zoom")

  /** WebMercator world half-extent in meters (EPSG:3857). */
  val extent: Double = 20037508.342789244
  val tilesPerSide: Int = math.max(1, (math.pow(2, zoom) / 256).toInt)

  override def name = s"zoom_$zoom"
  override def crs  = "EPSG:3857"
  override val numTiles: Long = tilesPerSide.toLong * tilesPerSide
  override def tileCols: Int = tilesPerSide
  override val cols: Int = ((math.pow(2, zoom) * 256) / tilesPerSide).toInt
  override val blockSize: Int = 256
  override val xres: Double = 2 * extent / (256 * math.pow(2, zoom))
  override val yres: Double = xres

  private def tileSpan: Double = 2 * extent / tilesPerSide
  override protected def lattice = (-extent, extent, tileSpan)

  override def tileId(index: Long): String = {
    val r = (index / tilesPerSide).toInt
    val c = (index % tilesPerSide).toInt
    f"${r}%03dR_${c}%03dC"
  }

  override def tileBounds(tileId: String): Bounds = {
    val Array(rS, cS) = tileId.split("_")
    val r = rS.dropRight(1).toInt
    val c = cS.dropRight(1).toInt
    Bounds(
      left = c * tileSpan - extent,
      bottom = extent - (r + 1) * tileSpan,
      right = (c + 1) * tileSpan - extent,
      top = extent - r * tileSpan)
  }

  override def pointTileId(x: Double, y: Double): String = {
    val c = math.min(tilesPerSide - 1, math.max(0, math.floor((x + extent) / tileSpan).toInt))
    val r = math.min(tilesPerSide - 1, math.max(0, math.floor((extent - y) / tileSpan).toInt))
    f"${r}%03dR_${c}%03dC"
  }

  override def tilesDF(spark: SparkSession): DataFrame = {
    val span = lit(tileSpan); val ext = lit(extent)
    spark.range(numTiles)
      .withColumn("tile_row", (col("id") / tilesPerSide).cast("int"))
      .withColumn("tile_col", (col("id") % tilesPerSide).cast("int"))
      .select(
        col("id").as("tile_idx"),
        format_string("%03dR_%03dC", col("tile_row"), col("tile_col")).as("tile_id"),
        (col("tile_col") * span - ext).as("left"),
        (ext - (col("tile_row") + 1) * span).as("bottom"),
        ((col("tile_col") + 1) * span - ext).as("right"),
        (ext - col("tile_row") * span).as("top"))
  }
}

/** Grid registry mirroring `gfw_pixetl/grids/grid_factory.py:15-27`. */
object GridFactory {
  val grids: Map[String, Grid] = Map(
    "1/4000"   -> LatLngGrid(1, 4000),
    "3/33600"  -> LatLngGrid(3, 33600),
    "10/40000" -> LatLngGrid(10, 40000),
    "10/100000" -> LatLngGrid(10, 100000),
    "8/32000"  -> LatLngGrid(8, 32000),
    "90/27008" -> LatLngGrid(90, 27008),
    "90/9984"  -> LatLngGrid(90, 9984),
    "90/1008"  -> LatLngGrid(90, 1008)) ++
    (0 to 22).map(z => s"zoom_$z" -> WebMercatorGrid(z)).toMap

  private val customLatLng = "^(\\d+)/(\\d+)$".r

  /** Registered grids resolve to the reference's exact fixtures; any other
    * `width/cols` name constructs a custom LatLngGrid (validated by its own
    * invariants) — the registry is a catalog, not a capability limit. */
  def apply(name: String): Grid = grids.getOrElse(name, name match {
    case customLatLng(w, c) => LatLngGrid(w.toInt, c.toInt)
    case _ => throw new IllegalArgumentException(s"Unknown grid name: $name")
  })
}
