package graft

import graft.core.{Caching, GraftSession, LayerSpec}
import graft.plans.{LayerJob, VectorJob}
import graft.sources.{Catalog, GeoTiffSpark}
import java.nio.file.{Files, Paths}

/** CLI parity with the reference's `pixetl` entry point
  * (`gfw_pixetl/pixetl.py:24-133`):
  *
  *   pixetl --dest <dir> [--overwrite] [--subset id …] '<layer json>'
  *
  * Parses + validates the layer spec, plans against the source catalog,
  * executes the tile pipeline, writes per-tile GeoTIFFs and the
  * tiles.geojson / extent.geojson manifests, prints the status tally, and
  * exits 0 on success / 1 on failure — the reference's exit-code contract
  * (`pixetl.py:73-88`; 137 was its OOM-subprocess code, which has no Spark
  * equivalent because executors retry tasks instead of dying).
  */
object Pixetl {

  def main(args: Array[String]): Unit = {
    var dest = "out"
    var overwrite = false
    var subset = Vector.empty[String]
    var json: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dest" | "-d"     => dest = args(i + 1); i += 2
        case "--overwrite"       => overwrite = true; i += 1
        case "--subset"          => subset :+= args(i + 1); i += 2
        case other if other.startsWith("@") => // spec from file
          json = Some(Files.readString(Paths.get(other.drop(1)))); i += 1
        case other               => json = Some(other); i += 1
      }
    }
    val spec = LayerSpec.fromJson(json.getOrElse {
      System.err.println("usage: pixetl [--dest DIR] [--overwrite] [--subset TILE]… '<layer json>'")
      sys.exit(2)
    })

    val spark = GraftSession.local(s"pixetl ${spec.dataset}/${spec.version}")
    try {
      run(spark, spec, dest, overwrite,
        if (subset.nonEmpty) Some(subset.toSeq) else None)
        .foreach { case (s, n) => println(s"$s: $n") }
      sys.exit(0)
    } catch {
      case e: Throwable =>
        System.err.println(failure("pixetl", e))
        sys.exit(1)
    } finally spark.stop()
  }

  /** CLI failure text: `<tool> failed:` then the class and message of the
    * error and of each cause under it — a bare `getMessage` is often null
    * (an NPE) or only a wrapper's summary (a task's `SparkException`). */
  private[graft] def failure(tool: String, e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(32)
      .map(c => s"${c.getClass.getName}: ${c.getMessage}")
      .mkString(s"$tool failed: ", "\n  caused by: ", "")

  /** Tile sink + the spec's pyramid choice: internal overviews (chained
    * IFDs, optionally COG head-first) ride the SAME write; the external
    * layout publishes plain tiles then builds `.ovr` sidecars next to
    * them (gdaladdo -ro semantics — the tiles stay byte-stable). Returns
    * the sink's per-tile rows, pinned and materialized: the only pass
    * over the pixel plane, which every later step reads instead. */
  private def writeWithPyramid(spark: org.apache.spark.sql.SparkSession,
      blocks: org.apache.spark.sql.DataFrame, spec: LayerSpec,
      outDir: String): org.apache.spark.sql.DataFrame = {
    val external = spec.overviewLayout == "external" && spec.overviewFactors.nonEmpty
    val written = Caching.shared(
      if (external) GeoTiffSpark.writeTiles(blocks, spec, outDir)
      else GeoTiffSpark.writeTiles(blocks, spec, outDir,
        overviewFactors = spec.overviewFactors,
        overviewMethod = spec.overviewResampling,
        cogLayout = spec.cog,
        overviewSeamExact = spec.overviewSeamExact))
    written.count()
    if (external)
      GeoTiffSpark.addOverviewSidecars(spark, outDir, spec,
        spec.overviewFactors, spec.overviewResampling,
        seamExact = spec.overviewSeamExact).count()
    written
  }

  /** Resolve `pixetl://dataset/attr/grid/tiles.geojson` source uris (emitted
    * by [[SubmitJob]] for resampled `depends_on` grids) to the upstream
    * job's manifest under the same dest prefix — the reference's data-lake
    * naming convention. */
  private[graft] def resolvePixetlUris(spec: LayerSpec, dest: String): LayerSpec = {
    val Re = "pixetl://([^/]+)/([^/]+)/([^/]+/[^/]+)/tiles\\.geojson".r
    spec.copy(sourceUri = spec.sourceUri.map(_.map {
      case Re(ds, attr, grid) =>
        s"$dest/${spec.copy(dataset = ds, pixelMeaning = attr, grid = grid).prefix()}/tiles.geojson"
      case u => u
    }))
  }

  /** In-process job entry (SubmitJob's executor): the same pipeline as the
    * CLI on the CALLER's SparkSession — independent layer jobs interleave
    * their stages on one cluster instead of paying a session each. Throws
    * on failure; returns the status tally.
    *
    * One pass over the pixel plane: the tile sink is its only consumer,
    * and each sink task writes its tile's stats sidecar next to the tile.
    * After the sink, two small Spark jobs ([[LayerJob.derive]]): one pass
    * over the sink's per-tile rows writes tiles.geojson, folds the extent
    * and counts the processed tiles; one count over the plan-side tile
    * sets gives the rest of the status tally. */
  def run(spark: org.apache.spark.sql.SparkSession, spec0: LayerSpec, dest: String,
          overwrite: Boolean, sub: Option[Seq[String]]): Seq[(String, Long)] = {
    val spec = resolvePixetlUris(spec0, dest)
    val outDir = s"$dest/${spec.prefix()}"
    // the run's pins (tile sets, sink rows) are released when it
    // returns; an explicit scope rather than a `Caching.scoped` closure
    // keeps each Spark job's call site on its own line of `run`, which is
    // how perfbench's step trace attributes the jobs written inline here
    val pins = Caching.open()
    try {
      val (blocks, tiles) = spec.sourceType match {
        case "raster" =>
          // plan-time catalog, a local relation on the driver: manifest uris
          // ending in .geojson are S2 manifests; anything else is a folder
          // of sources harvested from file metadata (S4) in one Spark job.
          // Each source_uri contributes the next global band (A, B, C…) —
          // the reference's band concatenation (layers.py:171-237)
          import spark.implicits._
          val uris = spec.sourceUri.get
          val geojson = uris.forall(_.endsWith(".geojson"))
          val catalog0 =
            if (geojson) {
              val manifests = uris.zipWithIndex
                .map { case (u, i) => Catalog.fromTilesGeojson(spark, u, band = i + 1) }
                .reduce(_ unionByName _)
              spark.createDataFrame(java.util.Arrays.asList(manifests.collect(): _*),
                manifests.schema)
            } else GeoTiffSpark.harvestFolders(spark, uris)
          val bands = catalog0.select("band").as[Int].collect().toSet
          for ((u, i) <- uris.zipWithIndex) require(bands.contains(i + 1),
            s"no sources found for ${spec.dataset}/${spec.version}: catalog resolved from $u is empty")
          val srcEpsg =
            if (geojson) 4326 // tiles.geojson footprints are always 4326 (pixetl_prep.py:60-76)
            else {
              val epsgs = catalog0.select("epsg").as[Int].collect().distinct.toSeq
              require(epsgs.size == 1, s"sources span multiple CRSs: $epsgs")
              epsgs.head
            }
          // cross-CRS job (e.g. 4326 sources → zoom_N grid): plan in the
          // grid CRS and gather through the warp reader — the WarpedVRT
          // role of tiles/raster_src_tile.py:188-210
          val grid = spec.gridDef
          val gridEpsg = if (grid.crs == "EPSG:3857") 3857 else 4326
          // same CRS is NOT enough for the aligned block reader: a resample
          // job (90/27008 fed from 10/40000 output — the catalog's
          // depends_on chains) matches CRS but not lattice, and a source
          // spanning several tiles or offset by part of a block matches
          // resolution but not block corners. Check EVERY source's lattice
          // (the reference opens every source, sources.py:179-210): a mixed
          // source set must not take the aligned shortcut just because one
          // source sits on the grid's blocks; the rest warp in the same CRS.
          // A manifest's sources are harvested for their lattices
          val aligned = srcEpsg == gridEpsg &&
            (if (geojson) GeoTiffSpark.harvestCatalog(spark,
              catalog0.select("uri").as[String].collect().distinct.toSeq) else catalog0)
              .select("lattice.*").as[GeoTiffSpark.SourceLattice].collect()
              .forall(GeoTiffSpark.onBlockLattice(_, grid))
          // every spec kernel runs in the warp gather: interpolating ones
          // as separable taps, aggregates as footprint-box folds
          val (catalog, reader) =
            if (aligned) (catalog0, GeoTiffSpark.reader)
            else if (srcEpsg == gridEpsg)
              (catalog0, graft.sources.WarpReader.reader(grid.xres, grid.yres,
                grid.blockSize, grid.crs, grid.crs, spec.resampling))
            else (Catalog.reprojectFootprints(catalog0, s"EPSG:$srcEpsg", grid.crs),
              graft.sources.WarpReader.reader(grid.xres, grid.yres, grid.blockSize,
                grid.crs, s"EPSG:$srcEpsg", spec.resampling))
          val existing = Catalog.existingTiles(spark, outDir)
          val result = LayerJob.run(spark, spec, catalog, reader,
            subset = sub, existing = Some(existing), overwrite = overwrite)
          // pinned: the sink reads the tile sets (through `pending`), and
          // so does the status count after it
          val LayerJob.Tiles(_, withSource, pending, _) = result.tiles
          Caching.shared(withSource)
          if (pending ne withSource) Caching.shared(pending)
          (result.blocks, result.tiles)
        case "vector" =>
          // S7: features from a live PostGIS via ONE partitioned JDBC scan
          // with the envelope predicate pushed into the database
          // (schema = dataset, table = version, sources.py:32-36), or from
          // a parquet snapshot when no database is configured. The burn
          // calc stays engine-side (P3 in VectorJob) either way.
          val features = sys.env.get("GRAFT_JDBC_URL") match {
            case Some(url) =>
              graft.sources.VectorSource.readJdbc(spark, url,
                schema = spec.dataset, table = spec.version,
                field = "value", calc = None,
                bounds = graft.core.grid.Bounds(-180, -90, 180, 90),
                order = spec.order)
            case None => spark.read.parquet(sys.env.getOrElse("GRAFT_FEATURES",
              s"$dest/features.parquet"))
          }
          val result = VectorJob.run(spark, spec, features, subset = sub)
          (result.blocks, result.tiles)
      }

      val written = writeWithPyramid(spark, blocks, spec, outDir)
      if (spec.sourceType == "raster") {
        // dual destination profiles (tiles/tile.py:54-97): the
        // `gdal-geotiff` variant differs only in creation options the
        // codec normalizes away, so it materializes as a copy —
        // DISTRIBUTED (Hadoop-FS per task): a driver-side loop would
        // serialize the whole second profile at 100k tiles
        val gdalDir = s"$dest/${spec.prefix(fmt = "gdal-geotiff")}"
        def abs(p: String) =
          if (p.contains("://")) p else Paths.get(p).toAbsolutePath.toString
        if (gdalDir.contains("://")) {
          val p = new org.apache.hadoop.fs.Path(gdalDir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
        } else Files.createDirectories(Paths.get(gdalDir))
        val (srcRoot, dstRoot) = (abs(outDir), abs(gdalDir))
        locally {
          import spark.implicits._
          val confBytes = graft.sources.HadoopConfs.capture(
            spark.sparkContext.hadoopConfiguration)
          Catalog.existingTiles(spark, outDir).as[String].mapPartitions { ids =>
            graft.sources.HadoopConfs.install(confBytes)
            val conf = graft.sources.HadoopConfs.get
            ids.map { id =>
              // the tile AND any external .ovr sidecar — a dual profile
              // must not silently drop the pyramid the primary one has
              for (name <- Seq(s"$id.tif", s"$id.tif.ovr")) {
                val src = new org.apache.hadoop.fs.Path(s"$srcRoot/$name")
                val dst = new org.apache.hadoop.fs.Path(s"$dstRoot/$name")
                val sfs = src.getFileSystem(conf)
                val dfs = dst.getFileSystem(conf)
                dfs.setWriteChecksum(false)
                if (sfs.exists(src))
                  org.apache.hadoop.fs.FileUtil.copy(sfs, src, dfs, dst, false, true, conf)
              }
              id
            }
          }.count()
        }
      }
      // one pass over the sink's rows streams tiles.geojson (zoom-22-safe)
      // and folds the extent; the status tally comes from counts
      val (extent, status) = LayerJob.writeTilesGeojson(spec, tiles, written,
        s"$outDir/tiles.geojson")
      val out = LayerJob.createText(spark, s"$outDir/extent.geojson")
      try out.write(LayerJob.renderExtentGeojson(extent)) finally out.close()
      status
    } finally pins.close()
  }
}

/** `gdaladdo -ro` twin CLI: build EXTERNAL `.ovr` overview sidecars for an
  * already-published destination without rewriting the tiles — the step
  * consumers of the reference's overview-less COGs run through GDAL today.
  *
  *   addo [--dest DIR] [--method KERNEL] [--factors 2,4,8] '<layer json>'
  *
  * The layer json is the SAME spec the publish ran with (it carries the
  * grid/data-type/prefix); factors default to the spec's own
  * `overviews`/auto chain. Exit 0 on success, 1 on failure. */
object Addo {
  def main(args: Array[String]): Unit = {
    var dest = "out"
    var method: Option[String] = None // default: the spec's own kernel
    var factors = Seq.empty[Int]
    var subset = Vector.empty[String]
    var json: Option[String] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dest" | "-d" => dest = args(i + 1); i += 2
        case "--method"      => method = Some(args(i + 1)); i += 2
        case "--subset"      => subset :+= args(i + 1); i += 2
        case "--factors"     =>
          factors = args(i + 1).split(",").map(_.trim.toInt).toSeq; i += 2
        case other if other.startsWith("@") =>
          json = Some(Files.readString(Paths.get(other.drop(1)))); i += 1
        case other           => json = Some(other); i += 1
      }
    }
    val spec = LayerSpec.fromJson(json.getOrElse {
      System.err.println(
        "usage: addo [--dest DIR] [--method KERNEL] [--factors 2,4,…] '<layer json>'")
      sys.exit(2)
    })
    val resolved =
      if (factors.nonEmpty) factors
      else if (spec.overviewFactors.nonEmpty) spec.overviewFactors
      else spec.copy(autoOverviews = true, overviews = Nil).overviewFactors
    val spark = GraftSession.local(s"addo ${spec.dataset}/${spec.version}")
    try {
      val written = GeoTiffSpark.addOverviewSidecars(spark,
        s"$dest/${spec.prefix()}", spec, resolved,
        // the SAME kernel the spec publishes with, unless overridden —
        // an 'average' default would corrupt categorical (mode) pyramids
        method.getOrElse(spec.overviewResampling),
        subset = if (subset.nonEmpty) Some(subset.toSet) else None).collect()
      written.foreach(r => println(s"${r.getString(0)}: ${r.getString(1)}"))
      println(s"overviews: ${written.length} sidecars, factors ${resolved.mkString(",")}")
      sys.exit(0)
    } catch {
      case e: Throwable =>
        System.err.println(Pixetl.failure("addo", e))
        sys.exit(1)
    } finally spark.stop()
  }
}

/** CLI parity with `pixetl_prep` (`gfw_pixetl/pixetl_prep.py:18-100`): build
  * tiles.geojson + extent.geojson manifests from raw file uris — the
  * one-stage metadata job of SURVEY §3.2. */
object PixetlPrep {
  def main(args: Array[String]): Unit = {
    val (flags, uris) = args.partition(_.startsWith("--"))
    val dest = flags.collectFirst { case f if f.startsWith("--dest=") => f.drop(7) }
      .getOrElse("out")
    val mergeExisting = flags.contains("--merge_existing")
    require(uris.nonEmpty,
      "usage: pixetl_prep [--dest=DIR] [--merge_existing] <uri.tif>…")
    val spark = GraftSession.local("pixetl_prep")
    try {
      run(spark, dest, uris.toSeq, mergeExisting)
      sys.exit(0)
    } catch {
      case e: Throwable => System.err.println(Pixetl.failure("pixetl_prep", e)); sys.exit(1)
    } finally spark.stop()
  }

  /** Build tiles.geojson + extent.geojson at `dest` from the harvested
    * uris. With `mergeExisting`, features already listed in
    * `dest/tiles.geojson` are CARRIED OVER into the new manifests —
    * the reference's `--merge_existing` (`pixetl_prep.py:39-53`, merged
    * as processed + existing in `utils/upload_geometries.py:41-44`);
    * a uri present in both keeps its freshly harvested footprint. */
  def run(spark: org.apache.spark.sql.SparkSession, dest: String,
          uris: Seq[String], mergeExisting: Boolean = false): Unit = {
    import graft.functions.{GeoFunctions, GeomUnionAgg}
    import org.apache.spark.sql.functions._
    val cat = GeoTiffSpark.harvestCatalog(spark, uris)
      .select(col("uri"), col("footprint"))
    val existingManifest = s"$dest/tiles.geojson"
    val all =
      if (mergeExisting && graft.sources.Catalog.exists(spark, existingManifest)) {
        val existing = graft.sources.Catalog
          .fromTilesGeojson(spark, existingManifest)
          .select(col("uri"), col("footprint"))
          .join(cat.select("uri"), Seq("uri"), "left_anti")
        cat.unionByName(existing)
      } else cat
    val tiles = all.select(col("uri"),
      GeoFunctions.st_asGeoJson(col("footprint")).as("geometry"))
      .orderBy("uri").collect()
      .map(r => s"""{"type":"Feature","geometry":${r.getString(1)},""" +
        s""""properties":{"name":"${r.getString(0)}"}}""")
    val extent = all.agg(GeomUnionAgg.column(col("footprint")).as("u"))
      .select(GeoFunctions.st_asGeoJson(col("u"))).collect()(0).getString(0)
    Files.createDirectories(Paths.get(dest))
    Files.writeString(Paths.get(s"$dest/tiles.geojson"),
      s"""{"type":"FeatureCollection","features":[${tiles.mkString(",")}]}""")
    Files.writeString(Paths.get(s"$dest/extent.geojson"),
      s"""{"type":"FeatureCollection","features":[{"type":"Feature","geometry":$extent,"properties":{}}]}""")
  }
}
