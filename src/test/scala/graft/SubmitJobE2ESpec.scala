package graft

import graft.sources.GeoTiff
import org.apache.commons.io.FileUtils

/** End-to-end orchestration: a two-grid catalog chain where the dependent
  * grid resamples the base grid's PUBLISHED output through the pixetl://
  * manifest convention — the reference's depends_on pipeline
  * (submit_job.py:66-76 + sources.yaml resampled grids) run as two
  * in-process Spark jobs on one session. */
class SubmitJobE2ESpec extends SparkSpec {

  test("pixetl_prep --merge_existing supersets the old and new manifests") {
    val work = new java.io.File("target/tmp/preprep")
    FileUtils.deleteQuietly(work)
    work.mkdirs()
    val dest = new java.io.File(work, "dest").getAbsolutePath
    def writeTif(name: String, originX: Double): String = {
      val path = new java.io.File(work, name).getAbsolutePath
      val p = GeoTiff.Profile(width = 16, height = 16, bands = 1,
        dataType = "uint16", tileWidth = 16, tileHeight = 16,
        noData = Some(0.0), epsg = 4326,
        originX = originX, originY = 10.0, xres = 0.5, yres = 0.5)
      val w = new GeoTiff.Writer(path, p)
      w.writeTile(1, 0, 0, Array.fill(256)(3.0))
      w.close()
      path
    }
    val first = writeTif("first.tif", originX = -10.0) // extent [-10,-2]
    val second = writeTif("second.tif", originX = 20.0) // extent [20,28]

    PixetlPrep.run(spark, dest, Seq(first))
    val manifest1 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dest/tiles.geojson"))
    assert(manifest1.contains("first.tif") && !manifest1.contains("second.tif"))

    // merge: the new manifest must superset BOTH inputs
    PixetlPrep.run(spark, dest, Seq(second), mergeExisting = true)
    val merged = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dest/tiles.geojson"))
    assert(merged.contains("first.tif") && merged.contains("second.tif"),
      s"merged manifest must keep the existing feature: $merged")
    // extent union spans both rasters
    val extent = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dest/extent.geojson"))
    assert(extent.contains("-10") && extent.contains("28"), extent)

    // without the flag, a re-run OVERWRITES (reference default:
    // ignore_existing_tiles) — first.tif drops out
    PixetlPrep.run(spark, dest, Seq(second))
    val fresh = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dest/tiles.geojson"))
    assert(!fresh.contains("first.tif") && fresh.contains("second.tif"))
  }

  test("pixetl_prep writes its manifests under a file:// dest") {
    val work = new java.io.File("target/tmp/prepfileuri")
    FileUtils.deleteQuietly(work)
    work.mkdirs()
    val src = new java.io.File(work, "a.tif").getAbsolutePath
    val w = new GeoTiff.Writer(src, GeoTiff.Profile(width = 16, height = 16, bands = 1,
      dataType = "uint16", tileWidth = 16, tileHeight = 16, noData = Some(0.0), epsg = 4326,
      originX = 0.0, originY = 10.0, xres = 0.5, yres = 0.5))
    w.writeTile(1, 0, 0, Array.fill(256)(3.0))
    w.close()
    val dest = new java.io.File(work, "dest").getAbsoluteFile
    for (merge <- Seq(false, true)) {
      PixetlPrep.run(spark, s"file://$dest", Seq(src), mergeExisting = merge)
      val tiles = java.nio.file.Files.readString(dest.toPath.resolve("tiles.geojson"))
      assert("\"type\":\"Feature\"".r.findAllMatchIn(tiles).size == 1, tiles)
      assert(tiles.contains(s"\"name\":\"$src\""), tiles)
      assert(java.nio.file.Files.readString(dest.toPath.resolve("extent.geojson"))
        .contains("Polygon"))
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get("file:")),
      "a relative file: directory in the working dir")
  }

  test("depends_on chain: base job publishes, dependent resamples its manifest") {
    val work = new java.io.File("target/tmp/submitjob")
    FileUtils.deleteQuietly(work)
    work.mkdirs()
    val srcDir = new java.io.File(work, "src"); srcDir.mkdirs()
    val dest = new java.io.File(work, "dest").getAbsolutePath

    // source: constant 7s exactly on the 90/1008 lattice over tile 90N_180W
    val p = GeoTiff.Profile(width = 1008, height = 1008, bands = 1,
      dataType = "uint16", tileWidth = 336, tileHeight = 336,
      noData = Some(0.0), epsg = 4326,
      originX = -180.0, originY = 90.0, xres = 90.0 / 1008, yres = 90.0 / 1008)
    val w = new GeoTiff.Writer(s"${srcDir.getAbsolutePath}/base.tif", p)
    for (tr <- 0 until 3; tc <- 0 until 3)
      w.writeTile(1, tr, tc, Array.fill(336 * 336)(7.0))
    w.close()

    val catalog =
      s"""{"testlayer": {"val": {"version": "v1", "data_type": "uint16", "no_data": 0,
         |  "grids": {
         |    "90/1008": {"type": "raster", "uri": "${srcDir.getAbsolutePath}"},
         |    "90/336":  {"type": "raster", "depends_on": "testlayer/val/90/1008",
         |                "resampling": "average"}}}}}""".stripMargin

    val results = SubmitJob.runCatalog(catalog, parallelism = 2)(
      SubmitJob.pixetlExecutor(spark, dest))
    assert(results.size == 2, s"got $results")
    results.foreach { case (k, r) => assert(r.isSuccess, s"$k → $r") }

    // base published tiles + manifest
    val basePrefix = s"$dest/testlayer/v1/raster/epsg-4326/90x1008/val/geotiff"
    assert(new java.io.File(s"$basePrefix/90N_180W.tif").exists())
    assert(new java.io.File(s"$basePrefix/tiles.geojson").exists())

    // dependent resampled from the base OUTPUT (not the raw source): the
    // aligned-reader shortcut must not fire for the lattice mismatch
    val depPrefix = s"$dest/testlayer/v1/raster/epsg-4326/90x336/val/geotiff"
    val dep = GeoTiff.open(s"$depPrefix/90N_180W.tif")
    assert(dep.profile.width == 336 && dep.profile.epsg == 4326)
    val px = dep.readTile(1, 0, 0)
    assert(px.length == 336 * 336)
    assert(px.forall(_ == 7.0), s"expected constant 7s, got ${px.distinct.take(5).toSeq}")
  }
}
