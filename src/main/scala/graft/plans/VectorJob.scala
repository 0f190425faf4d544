package graft.plans

import graft.core.LayerSpec
import graft.functions.GeoFunctions
import graft.operators.{Raster, Rasterize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The vector→raster layer job — Spark re-expression of the reference's
  * vector pipe (`gfw_pixetl/pipes/vector_pipe.py`,
  * `tiles/vector_src_tile.py`):
  *
  *   features (S7: any relation with a WKB `geom` + attributes; JDBC or
  *   parquet snapshot) → burn-value calc (P3, SQL CASE) → tile semi-join
  *   (F4, ONE spatial join replacing the reference's per-tile LIMIT-1
  *   probes) → clip to tile (P4) → pixel-cover generator (G1) → burn
  *   aggregation (A1 count / A2 value) → dense block packing → the same
  *   GeoTIFF sink as the raster path.
  *
  * Scale design: the feature⋈tile join broadcasts the TILE side (the seed
  * after pruning is small); pixel rows shuffle twice — the burn aggregate
  * (keyed by pixel, map-side combined) and the block packing (keyed by
  * tile/block). The reference's per-tile PostGIS queries (with a
  * 4-connection cap, vector_pipe.py:57) become one partitioned scan.
  */
object VectorJob {

  /** `features` must carry `geom` (WKB binary); `burnField` names the value
    * column for A2 (ignored for count). */
  def run(spark: SparkSession, spec: LayerSpec, features: DataFrame,
          burnField: String = "value", subset: Option[Seq[String]] = None): LayerJob.Result = {
    val grid = spec.gridDef

    // features arrive in EPSG:4326; WebMercator grids reproject geometries
    // into grid coordinates first (P5 on the data path, ST_Transform)
    val projected =
      if (grid.crs == "EPSG:3857")
        features.withColumn("geom",
          GeoFunctions.st_transform(col("geom"), lit("EPSG:4326"), lit("EPSG:3857")))
      else features

    // P3: burn value via SQL calc (CASE WHEN …), default = raw field
    val valued = spec.calc match {
      case Some(c) => projected.withColumn("value", expr(c).cast("long"))
      case None    => projected.withColumn("value", col(burnField).cast("long"))
    }

    // F4/J5: features ⋈ tiles on envelope intersection; tiles broadcast
    val seed = grid.tilesDF(spark)
    val tiles = subset.fold(seed)(ids => seed.filter(col("tile_id").isin(ids: _*)))
    val tileEnv = GeoFunctions.st_makeEnvelope(col("left"), col("bottom"), col("right"), col("top"))
    val joined = valued.join(broadcast(tiles.withColumn("tile_env", tileEnv)),
      GeoFunctions.st_intersects(col("geom"), col("tile_env")))

    // P4: clip each feature to its tile, keep polygonal parts
    val clipped = joined
      .withColumn("clipped", GeoFunctions.st_intersection(col("geom"), col("tile_env")))
      .filter(col("clipped").isNotNull)

    // G1: pixel cover on the grid lattice (global pixel indices)
    val (originX, originY) = grid match {
      case wm: graft.core.grid.WebMercatorGrid => (-wm.extent, wm.extent)
      case _ => (-180.0, 90.0)
    }
    val pixels = Rasterize.explodeToPixels(
      clipped.select(col("tile_id"), col("clipped").as("geom"), col("value")),
      originX, originY, grid.xres, grid.yres)

    // A1/A2 burn
    val burned = spec.rasterizeMethod.getOrElse("value") match {
      case "count" => Rasterize.rasterizeCount(pixels)
      case _       => Rasterize.rasterizeValue(pixels, spec.order.forall(_ == "asc"))
    }

    // dense block packing: pixel rows → (tile, block) arrays for the sink.
    // Typed mapGroups with an imperative fill — O(block² + pixels) per
    // block and immune to Catalyst inlining a map-construction expression
    // into a per-element lambda (which turns declarative packing O(n²)).
    import spark.implicits._
    val block = grid.blockSize
    val pxPerTile = grid.cols
    val nd = spec.pixelType.noData.getOrElse(0.0).toLong
    val packed = burned
      .select(
        floor(col("py") / pxPerTile).cast("int").as("tile_row_g"),
        floor(col("px") / pxPerTile).cast("int").as("tile_col_g"),
        ((col("py") % pxPerTile) / block).cast("int").as("block_row"),
        ((col("px") % pxPerTile) / block).cast("int").as("block_col"),
        (((col("py") % pxPerTile) % block) * block + (col("px") % pxPerTile) % block)
          .cast("int").as("idx"),
        col("value").cast("long").as("value"))
      .as[(Int, Int, Int, Int, Int, Long)]
      .groupByKey(r => (r._1, r._2, r._3, r._4))
      .mapGroups { (key: (Int, Int, Int, Int), rows: Iterator[(Int, Int, Int, Int, Int, Long)]) =>
        val arr = Array.fill(block * block)(nd)
        rows.foreach(r => arr(r._5) = r._6)
        (key._1, key._2, key._3, key._4, arr)
      }
      .toDF("tile_row_g", "tile_col_g", "block_row", "block_col", "band_1")

    // attach tile ids + bounds from the grid lattice
    val withTile = packed.join(
      broadcast(tiles.select(col("tile_id"), col("left"), col("bottom"), col("right"), col("top"),
        floor((col("left") - originX) / (pxPerTile * grid.xres)).cast("int").as("tile_col_g"),
        floor((lit(originY) - col("top")) / (pxPerTile * grid.yres)).cast("int").as("tile_row_g"))),
      Seq("tile_row_g", "tile_col_g"))
      .select("tile_id", "left", "bottom", "right", "top",
        "block_row", "block_col", "band_1")
      .withColumn("width", lit(block)).withColumn("height", lit(block))

    // K3 manifests for vector layers too (pipes/pipe.py:163-167); a tile
    // without burnt pixels does not intersect (vector_pipe.py:62)
    val tileSets = LayerJob.Tiles(tiles, tiles, tiles, "skipped (does not intersect)")
    new LayerJob.Result(withTile, tileSets, spec, withTile.select(col("tile_id"),
      Raster.bandPartials(Seq(col("band_1")), spec.pixelType.noData).as("stats")), None)
  }
}
