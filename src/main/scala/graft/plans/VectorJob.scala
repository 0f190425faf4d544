package graft.plans

import graft.core.LayerSpec
import graft.functions.GeoFunctions
import graft.operators.Rasterize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The vector→raster layer job — Spark re-expression of the reference's
  * vector pipe (`gfw_pixetl/pipes/vector_pipe.py`,
  * `tiles/vector_src_tile.py`):
  *
  *   features (S7: any relation with a WKB `geom` + attributes; JDBC or
  *   parquet snapshot) → burn-value calc (P3, SQL CASE) → tile semi-join
  *   (F4, ONE spatial join replacing the reference's per-tile LIMIT-1
  *   probes) → clip to tile (P4) → per-block burn (G1 pixel cover +
  *   A1 count / A2 value, [[Rasterize.burnBlocks]]) → the same GeoTIFF
  *   sink as the raster path.
  *
  * Scale design: the feature⋈tile join broadcasts the TILE side (the seed
  * after pruning is small); the clipped pieces shuffle once, keyed by
  * (tile, block), and each block burns into its dense array — no pixel
  * rows. The reference's per-tile PostGIS queries (with a 4-connection
  * cap, vector_pipe.py:57) become one partitioned scan.
  */
object VectorJob {

  /** `features` must carry `geom` (WKB binary) and, unless the spec has a
    * `calc`, the burn `value`. */
  def run(spark: SparkSession, spec: LayerSpec, features: DataFrame,
          subset: Option[Seq[String]] = None): LayerJob.Result = {
    val grid = spec.gridDef

    // features arrive in EPSG:4326; WebMercator grids reproject geometries
    // into grid coordinates first (P5 on the data path, ST_Transform)
    val projected =
      if (grid.crs == "EPSG:3857")
        features.withColumn("geom",
          GeoFunctions.st_transform(col("geom"), lit("EPSG:4326"), lit("EPSG:3857")))
      else features

    // P3: burn value via SQL calc (CASE WHEN …), default = raw field
    val valued = projected.withColumn("value", spec.calc.fold(col("value"))(expr).cast("long"))

    // F4/J5: features ⋈ tiles on envelope intersection; tiles broadcast
    val seed = grid.tilesDF(spark)
    val tiles = subset.fold(seed)(ids => seed.filter(col("tile_id").isin(ids: _*)))
    val tileEnv = GeoFunctions.st_makeEnvelope(col("left"), col("bottom"), col("right"), col("top"))
    val joined = valued.join(broadcast(tiles.withColumn("tile_env", tileEnv)),
      GeoFunctions.st_intersects(col("geom"), col("tile_env")))

    // P4: clip each feature to its tile, keep polygonal parts
    val clipped = joined
      .select(col("tile_id"), col("left"), col("top"),
        GeoFunctions.st_intersection(col("geom"), col("tile_env")).as("geom"), col("value"))
      .filter(col("geom").isNotNull)

    // G1 + A1/A2: burn each piece into the blocks of its tile, on the
    // grid lattice (global pixel indices); the blocks carry what the sink
    // reads
    val (originX, originY) = grid match {
      case wm: graft.core.grid.WebMercatorGrid => (-wm.extent, wm.extent)
      case _ => (-180.0, 90.0)
    }
    val blocks = Rasterize.burnBlocks(clipped, originX, originY, grid.xres, grid.yres,
      grid.cols, grid.blockSize, spec.pixelType.noData.getOrElse(0.0).toLong,
      count = spec.rasterizeMethod.contains("count"), ascending = spec.order.forall(_ == "asc"))

    // K3 manifests for vector layers too (pipes/pipe.py:163-167); a tile
    // without burnt pixels does not intersect (vector_pipe.py:62)
    LayerJob.Result(blocks, LayerJob.Tiles(tiles, tiles, tiles, "skipped (does not intersect)"))
  }
}
