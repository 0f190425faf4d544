package graft.plans

import graft.core.LayerSpec
import graft.functions.GeoFunctions
import graft.operators.Rasterize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.prep.PreparedGeometryFactory

/** The vector→raster layer job — Spark re-expression of the reference's
  * vector pipe (`gfw_pixetl/pipes/vector_pipe.py`,
  * `tiles/vector_src_tile.py`):
  *
  *   features (S7: any relation with a WKB `geom` + attributes; JDBC or
  *   parquet snapshot) → burn-value calc (P3, SQL CASE) → tile routing
  *   (F4: each feature's lattice candidates, [[Grid.tilesTouching]], kept
  *   by an exact intersects — replacing the reference's per-tile LIMIT-1
  *   probes) → clip to tile (P4) → per-block burn (G1 pixel cover +
  *   A1 count / A2 value, [[Rasterize.burnBlocks]]) → the same GeoTIFF
  *   sink as the raster path.
  *
  * Scale design: routing and clipping are one narrow `flatMap`, costing
  * the tiles each feature touches, not the grid's size; the pieces shuffle
  * once, keyed by (tile, block), and each block burns into its dense array
  * — no pixel rows. The reference's per-tile PostGIS queries (with a
  * 4-connection cap, vector_pipe.py:57) become one partitioned scan.
  */
object VectorJob {

  /** `features` must carry `geom` (WKB binary) and, unless the spec has a
    * `calc`, the burn `value`. */
  def run(spark: SparkSession, spec: LayerSpec, features: DataFrame,
          subset: Option[Seq[String]] = None): LayerJob.Result = {
    import spark.implicits._
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

    // F4/J5 + P4: each feature's lattice candidates within the subset, kept
    // when they intersect it, and the feature clipped to each
    val seed = LayerJob.seedOf(grid, subset)
    val clipped = valued.filter(col("geom").isNotNull).select("geom", "value")
      .as[(Array[Byte], java.lang.Long)].flatMap { case (wkb, value) =>
        val g = GeoFunctions.read(wkb) // parsed and prepared once per feature
        val prepared = PreparedGeometryFactory.prepare(g)
        LayerJob.candidates(grid, seed, g).collect {
          case (id, b, t) if prepared.intersects(t) => (id, b, g.intersection(t))
        }.collect { case (id, b, piece) if !piece.isEmpty =>
          (id, b.left, b.top, GeoFunctions.write(piece), value)
        }
      }.toDF("tile_id", "left", "top", "geom", "value")

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
    val n = seed.fold(grid.numTiles)(_.size.toLong)
    LayerJob.Result(blocks, LayerJob.Tiles(n, n, n, "skipped (does not intersect)"))
  }
}
