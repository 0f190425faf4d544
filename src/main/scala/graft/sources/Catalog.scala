package graft.sources

import graft.functions.GeoFunctions
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, GeometryFactory}

/** Source-catalog scans (operators S2/S3/S8).
  *
  * The file catalog is the control-plane relation every raster job plans
  * against: one row per (uri, band) with a footprint geometry and profile.
  * It is small (hundreds–thousands of rows), so it is collected once and
  * planned on the driver, and broadcast into the tile joins (J1/J2) as a
  * local relation.
  */
object Catalog {

  private val gf = new GeometryFactory()

  /** S2: tiles.geojson manifest scan (`gfw_pixetl/layers.py:114-128`).
    * Each feature = (footprint polygon, file uri in properties.name). */
  def fromTilesGeojson(spark: SparkSession, path: String, band: Int = 1): DataFrame = {
    val polyToWkb = udf((rings: Seq[Seq[Seq[Double]]]) => {
      val shell = rings.head.map(p => new Coordinate(p(0), p(1))).toArray
      val holes = rings.tail.map(r =>
        gf.createLinearRing(r.map(p => new Coordinate(p(0), p(1))).toArray)).toArray
      GeoFunctions.write(gf.createPolygon(gf.createLinearRing(shell), holes))
    })
    // manifest `name`s are dest-relative (prefix/tile.tif — the K3 sink
    // contract); resolve them against where THIS manifest lives so a
    // downstream job (a depends_on resample) can read the published tiles
    // from any dest root or scheme
    val manifestDir = path.substring(0, path.lastIndexOf('/').max(0))
    val resolveUri = udf((name: String) =>
      if (name.contains("://") || name.startsWith("/") || manifestDir.isEmpty) name
      else {
        val slash = name.lastIndexOf('/')
        val (nameDir, base) = (name.substring(0, slash.max(0)), name.substring(slash + 1))
        // segment-boundary match only: a manifest dir '…/xdata' must NOT
        // swallow a name dir 'data' via a raw suffix match
        if (nameDir.nonEmpty &&
            (manifestDir == nameDir || manifestDir.endsWith("/" + nameDir)))
          s"$manifestDir/$base"
        else s"$manifestDir/$name"
      })
    spark.read.option("multiLine", "true").json(path)
      .select(posexplode(col("features")).as(Seq("manifest_idx", "f")))
      .select(
        resolveUri(col("f.properties.name")).as("uri"),
        lit(band).as("band"),           // global band position (J4 alignment)
        lit(1).as("file_band"),         // band index INSIDE the file
        polyToWkb(col("f.geometry.coordinates")).as("footprint"),
        // feature order = gdalbuildvrt listing order; later entries override
        // earlier ones in the J3 mosaic (utils/gdal.py:56-95)
        col("manifest_idx"))
  }

  /** S3: object-store/folder listing scan (`layers.py:131-161`): all .tif
    * keys under a prefix, via the Hadoop FS glob (works for s3a://, gs://,
    * file:// alike). Footprints are harvested later by the metadata job. */
  def listFolder(spark: SparkSession, prefix: String, suffix: String = ".tif"): DataFrame = {
    import spark.implicits._
    val path = new Path(if (prefix.endsWith("/")) s"$prefix*" else s"$prefix/*")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = Option(fs.globStatus(path)).getOrElse(Array.empty)
    statuses.filter(s => s.isFile && s.getPath.getName.endsWith(suffix))
      .map(s => (s.getPath.toString, s.getLen))
      .toSeq.toDF("uri", "size")
  }

  /** Reproject axis-aligned catalog footprints into the grid CRS — the
    * reference's `reproject_bounds` (`sources.py:137-168`), applied at plan
    * time so cross-CRS jobs (4326 sources → `zoom_N` grid) join tiles and
    * sources in ONE CRS. Envelope-in, envelope-out: the footprint of a
    * warped source is the projected bbox, which is exact for the
    * axis-separable 4326↔3857 pair. */
  def reprojectFootprints(cat: DataFrame, fromCrs: String, toCrs: String): DataFrame = {
    import graft.core.grid.Bounds
    import graft.functions.Reproject
    val rep = udf { (wkb: Array[Byte]) =>
      val env = GeoFunctions.read(wkb).getEnvelopeInternal
      val b = Reproject.bounds(
        Bounds(env.getMinX, env.getMinY, env.getMaxX, env.getMaxY), fromCrs, toCrs)
      GeoFunctions.write(GeoFunctions.envelope(b.left, b.bottom, b.right, b.top))
    }
    cat.withColumn("footprint", rep(col("footprint")))
  }

  /** S8: existence probe (`sources.py:254-263`) — used by the F3 anti-join
    * to skip already-materialized tiles. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Listing of existing outputs under a destination prefix as a DataFrame
    * of tile ids — the right side of the F3/J6 anti-join. Only `<id>.tif`
    * names are tiles: the manifests, PAM and `.ovr` sidecars published
    * next to them are not. */
  def existingTiles(spark: SparkSession, destPrefix: String): DataFrame = {
    import spark.implicits._
    listed(spark, destPrefix, ".tif").toDF("tile_id")
  }

  /** Tile ids of the `<id><suffix>` files directly under `dir`, listed on
    * the driver. */
  def listed(spark: SparkSession, dir: String, suffix: String): Seq[String] = {
    val path = new Path(s"$dir/*$suffix")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(path)).getOrElse(Array.empty)
      .map(_.getPath.getName.stripSuffix(suffix)).toSeq
  }
}
