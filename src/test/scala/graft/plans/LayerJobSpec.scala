package graft.plans

import graft.SparkSpec
import graft.core.LayerSpec
import graft.functions.GeoFunctions
import graft.operators.Raster
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end layer job: the status algebra + filters + stats + manifests of
  * the reference pipe tests (tests/test_pipe.py, tests/test_raster_pipe.py),
  * driven fully inside Spark with a synthetic block reader and published
  * through the tile sink ([[Publish]]). */
class LayerJobSpec extends SparkSpec {
  import spark.implicits._

  private val spec = LayerSpec(
    dataset = "d", version = "v1", sourceType = "raster", pixelMeaning = "x",
    dataType = "uint16", calc = Some("A * 2"), grid = "90/1008",
    sourceUri = Some(Seq("s3://b/tiles.geojson")), noData = Some(Seq(0.0)))

  // two footprints: western hemisphere file + an overlapping equatorial file
  private def catalog: DataFrame = Seq(
    ("s3://b/west.tif", 1, GeoFunctions.write(GeoFunctions.envelope(-180, -90, -30, 90))),
    ("s3://b/equator.tif", 1, GeoFunctions.write(GeoFunctions.envelope(-60, -45, 60, 45))))
    .toDF("uri", "band", "footprint")

  /** Reader: deterministic pixels everywhere, all valid. */
  private val reader: LayerJob.BlockReader = blocks =>
    Raster.synthesizeBand(blocks.drop("band"), band = 1)

  private lazy val result =
    LayerJob.run(spark, spec, catalog, reader)

  private def dir(name: String): String = s"target/tmp/layerjob/$name"

  /** `result` published with stats. */
  private lazy val published = Publish(result, spec.copy(computeStats = true), dir("stats"))

  test("F2 prunes tiles outside the source extent") {
    // grid 90/1008 has 8 tiles; eastern-north/south pair (90..180) has no coverage
    val tiles = published.tileIds
    assert(tiles.size == 6)
    assert(!tiles.exists(t => t.endsWith("090E")))
  }

  test("output blocks carry calc + fill semantics") {
    val row = result.blocks.limit(1).select(element_at(col("band_1"), 1)).collect()(0)
    assert(!row.isNullAt(0)) // filled uint16 (int compute type)
  }

  test("A3 stats exist per processed tile and are sane") {
    val bands = published.features.map(_.get("properties").get("bands"))
    assert(bands.length == 6)
    bands.foreach { b =>
      assert(b.size == 1) // one band per tile
      assert(b.get(0).get("max").asDouble <= 2 * 255)
      assert(b.get(0).get("count").asLong > 0)
    }
  }

  test("manifest + extent render as FeatureCollections (K3)") {
    val tiles = published.tilesGeojson
    assert(tiles.startsWith("""{"type":"FeatureCollection""""))
    assert(tiles.contains("d/v1/raster/epsg-4326/90x1008/x/geotiff/"))
    val extent = LayerJob.renderExtentGeojson(published.extent)
    assert(extent.contains("\"type\":\"Polygon\"") || extent.contains("\"type\":\"MultiPolygon\""))
  }

  test("manifest with stats carries per-band properties (Metadata.bands shape)") {
    val js = published.tilesGeojson
    assert(js.contains("\"bands\":[{\"band\":1,"))
    assert(js.contains("\"std_dev\":"))
  }

  test("a manifest frame's tiles.geojson equals the publish's without stats") {
    val plain = Publish(result, spec, dir("plain"))
    assert(!plain.tilesGeojson.contains("\"bands\""))
    val grid = spec.gridDef
    val manifest = plain.tileIds.toSeq.map { id =>
      val b = grid.tileBounds(id)
      (id, s"${spec.prefix()}/$id.tif",
        GeoFunctions.toGeoJson(GeoFunctions.envelope(b.left, b.bottom, b.right, b.top)))
    }.toDF("tile_id", "uri", "geometry")
    val path = s"${dir("plain")}/frame.geojson"
    LayerJob.writeTilesGeojson(manifest, path)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(path)) == plain.tilesGeojson)
  }

  test("PAM stats sidecars: one aux.xml per tile with per-band statistics") {
    val dir = java.nio.file.Paths.get("target/tmp/layerjob_aux")
    java.nio.file.Files.createDirectories(dir)
    val written = graft.sources.GeoTiffSpark
      .writeTiles(result.blocks, spec.copy(computeStats = true), dir.toString)
      .collect()
    assert(written.length == 6)
    val xml = new String(java.nio.file.Files.readAllBytes(
      dir.resolve(written(0).getString(0) + ".tif.aux.xml")), "UTF-8")
    assert(xml.startsWith("<PAMDataset>"))
    assert(xml.contains("<PAMRasterBand band=\"1\">"))
    assert(xml.contains("STATISTICS_MINIMUM") && xml.contains("STATISTICS_VALID_PERCENT"))
  }

  test("status algebra: processed counts (pipe.py:137-168)") {
    val tally = published.status
    assert(tally("processed") == 6)
    // the eastern pair has no source coverage (raster_pipe.py:62-68)
    assert(tally("skipped (does not intersect)") == 2)
    assert(!tally.contains("existing"))
  }

  test("F3: existing tiles skipped unless overwrite (test_pipe.py:50-107)") {
    val existing = Seq("90N_180W").toDF("tile_id")
    val r2 = LayerJob.run(spark, spec, catalog, reader, existing = Some(existing))
    val tally2 = Publish(r2, spec, dir("existing")).status
    assert(tally2("processed") == 5 && tally2("existing") == 1)
    val r3 = LayerJob.run(spark, spec, catalog, reader, existing = Some(existing),
      overwrite = true)
    val tally3 = Publish(r3, spec, dir("overwrite")).status
    assert(tally3("processed") == 6)
  }

  test("F1: subset restricts the seed (pipe.py:77-88)") {
    val r = LayerJob.run(spark, spec, catalog, reader, subset = Some(Seq("90N_180W")))
    assert(Publish(r, spec, dir("subset")).features.size == 1)
  }

  test("F1: a duplicate, an off-grid and a malformed subset id count once, never throw") {
    val ids = Seq("90N_180W", "90N_180W", "90N_045W", "not-a-tile", "90N_", "")
    val r = LayerJob.run(spark, spec, catalog, reader, subset = Some(ids))
    assert(r.tiles == LayerJob.Tiles(1, 1, 1, "skipped (has no data)"))
    assert(Publish(r, spec, dir("subset_odd")).status == Map("processed" -> 1L))
  }

  test("a bare LayerJob.run pins nothing") {
    spark.catalog.clearCache()
    val r = LayerJob.run(spark, spec, catalog, reader,
      existing = Some(Seq("90N_180W").toDF("tile_id")))
    assert(r.blocks.count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("union_bands: default intersects per-band footprints, true unions them") {
    // band 1 covers -180..0, band 2 covers -90..90 → intersection is -90..0
    // (2 tiles), union is -180..90 (6 tiles) on the 90° grid
    val spec2 = spec.copy(calc = Some("A + B"),
      sourceUri = Some(Seq("s3://b/a.tif", "s3://b/b.tif")))
    val cat2 = Seq(
      ("s3://b/a.tif", 1, GeoFunctions.write(GeoFunctions.envelope(-180, -90, 0, 90))),
      ("s3://b/b.tif", 2, GeoFunctions.write(GeoFunctions.envelope(-90, -90, 90, 90))))
      .toDF("uri", "band", "footprint")
    val constReader: LayerJob.BlockReader = blocks =>
      blocks
        .withColumn("values",
          transform(sequence(lit(0), col("width") * col("height") - 1), _ => lit(1.0)))
        .withColumn("valid",
          transform(sequence(lit(0), col("width") * col("height") - 1), _ => lit(true)))
    val inter = Publish(LayerJob.run(spark, spec2, cat2, constReader), spec2,
      dir("intersection")).tileIds
    assert(inter == Set("90N_090W", "00N_090W"), s"intersection got $inter")
    // the union publishes all six tiles; where only one band covers a
    // block, the other band's pixels are masked, so "A + B" is nodata there
    val uniDir = dir("union_bands")
    val uni = Publish(LayerJob.run(spark, spec2.copy(unionBands = true), cat2, constReader),
      spec2, uniDir).tileIds
    assert(uni.size == 6 && inter.subsetOf(uni), s"union got $uni")
    def pixels(id: String) = graft.sources.GeoTiff.open(s"$uniDir/$id.tif").readTile(1, 0, 0)
    assert(pixels("90N_090W").forall(_ == 2.0)) // both bands: 1 + 1
    Seq("90N_180W", "00N_180W").foreach { id => // band 1 only
      val px = pixels(id)
      assert(px.nonEmpty && px.forall(_ == 0.0), s"$id is not all nodata")
    }
  }

  test("non-overlapping bands fail with the reference's error (layers.py:255-257)") {
    val spec2 = spec.copy(calc = Some("A + B"),
      sourceUri = Some(Seq("s3://b/a.tif", "s3://b/b.tif")))
    val disjoint = Seq(
      ("s3://b/a.tif", 1, GeoFunctions.write(GeoFunctions.envelope(-180, -90, -90, 90))),
      ("s3://b/b.tif", 2, GeoFunctions.write(GeoFunctions.envelope(0, -90, 90, 90))))
      .toDF("uri", "band", "footprint")
    val constReader: LayerJob.BlockReader = blocks =>
      blocks
        .withColumn("values",
          transform(sequence(lit(0), col("width") * col("height") - 1), _ => lit(1.0)))
        .withColumn("valid",
          transform(sequence(lit(0), col("width") * col("height") - 1), _ => lit(true)))
    val e = intercept[IllegalArgumentException](
      LayerJob.run(spark, spec2, disjoint, constReader))
    assert(e.getMessage.contains("Input bands do not overlap"))
    // an EMPTY multi-band catalog fails the same way, not with empty.reduce
    val empty = disjoint.limit(0)
    val e2 = intercept[IllegalArgumentException](
      LayerJob.run(spark, spec2, empty, constReader))
    assert(e2.getMessage.contains("Input bands do not overlap"))
  }

  /** Two bands, three uris each, listed out of uri order. */
  private def threeByTwo: DataFrame = Seq(
    ("s3://b/c.tif", 1, 3, -170.0, -80.0, -20.0, 70.0),
    ("s3://b/a.tif", 1, 1, -120.0, -60.0, 10.0, 50.0),
    ("s3://b/b.tif", 1, 2, -60.0, -30.0, 40.0, 85.0),
    ("s3://b/z.tif", 2, 2, -100.0, -70.0, -5.0, 20.0),
    ("s3://b/x.tif", 2, 3, -30.0, -10.0, 170.0, 60.0),
    ("s3://b/y.tif", 2, 1, -150.0, 15.0, -40.0, 80.0))
    .map { case (u, b, i, l, bo, r, t) =>
      (u, b, i, GeoFunctions.write(GeoFunctions.envelope(l, bo, r, t))) }
    .toDF("uri", "band", "manifest_idx", "footprint")

  test("driver-side priority matches the catalog Window formulas") {
    import org.apache.spark.sql.expressions.Window
    // the Window derivation the driver-side one replaced, kept as the oracle
    def oracle(cat: DataFrame): Set[(String, Int, Int)] = {
      val ordered =
        if (cat.columns.contains("manifest_idx")) cat
        else cat.withColumn("manifest_idx", row_number().over(Window.orderBy("band", "uri")))
      ordered.withColumn("priority", row_number().over(
          Window.partitionBy("band").orderBy(col("manifest_idx").desc)))
        .select("uri", "band", "priority").as[(String, Int, Int)].collect().toSet
    }
    for (cat <- Seq(threeByTwo, threeByTwo.drop("manifest_idx"))) {
      val got = LayerJob.prioritize(cat)
      assert(got.map(s => (s.uri, s.band, s.priority)).toSet == oracle(cat), cat.columns.toSeq)
      assert(got.forall(s => s.fileBand == s.band)) // no file_band: the band stands in
    }
    // with manifest_idx the last-listed file wins; without, the last uri
    assert(LayerJob.prioritize(threeByTwo).filter(_.priority == 1).map(_.uri).toSet ==
      Set("s3://b/c.tif", "s3://b/x.tif"))
    assert(LayerJob.prioritize(threeByTwo.drop("manifest_idx")).filter(_.priority == 1)
      .map(_.uri).toSet == Set("s3://b/c.tif", "s3://b/z.tif"))
  }

  test("a two-band intersection layer selects the tiles of the aggregated band unions") {
    val spec2 = spec.copy(grid = "10/40000", calc = Some("A + B"),
      sourceUri = Some(Seq("s3://b/a.tif", "s3://b/b.tif")))
    val cat = threeByTwo
    // the distributed per-band union aggregate the driver-side fold replaced
    val layerGeom = cat.groupBy("band")
      .agg(graft.functions.GeomUnionAgg.column(col("footprint")).as("g"))
      .collect().map(r => GeoFunctions.read(r.getAs[Array[Byte]]("g")))
      .reduce(GeoFunctions.intersectionPolygonal)
    val grid = spec2.gridDef
    val expected = grid.tilesDF(spark)
      .select("tile_id", "left", "bottom", "right", "top")
      .as[(String, Double, Double, Double, Double)].collect()
      .collect { case (id, l, b, r, t)
        if GeoFunctions.intersectsInterior(GeoFunctions.envelope(l, b, r, t), layerGeom) => id }
      .toSet
    // the reader fills every block, so the blocks' tiles are `withSource`
    val r = LayerJob.run(spark, spec2, cat, reader)
    val got = r.blocks.select("tile_id").distinct().as[String].collect().toSet
    assert(expected.size > 10 && got == expected, s"${got.size} tiles vs ${expected.size}")
    assert(r.tiles.withSource == expected.size)
  }

  test("tiles.geojson from a range-partitioned pass equals the one-partition pass") {
    val written = graft.core.Caching.shared(graft.sources.GeoTiffSpark.writeTiles(
      result.blocks, spec.copy(computeStats = true), "target/tmp/layerjob_pass"))
    assert(written.count() >= 3)
    def manifest(name: String, passTiles: Long): Array[Byte] = {
      val path = s"target/tmp/layerjob_pass_$name.geojson"
      LayerJob.writeTilesGeojson(spec.copy(computeStats = true), result.tiles, written,
        path, passTiles)
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    }
    val one = manifest("one", LayerJob.PassTiles)
    val ranged = manifest("ranged", 2)
    assert(one.nonEmpty && java.util.Arrays.equals(one, ranged))
  }

  test("J3 mosaic: higher-priority file wins where files overlap") {
    // reader that encodes the uri priority into the pixel value
    val priorityReader: LayerJob.BlockReader = blocks =>
      blocks.withColumn("values",
          transform(sequence(lit(0), col("width") * col("height") - 1),
            _ => col("priority").cast("double")))
        .withColumn("valid",
          transform(sequence(lit(0), col("width") * col("height") - 1), _ => lit(true)))
    val r = LayerJob.run(spark, spec.copy(calc = Some("A"), noData = None),
      catalog, priorityReader)
    // tile 45N_060W overlaps both files → mosaic picks priority 1 (first file)
    val v = r.blocks.filter(col("tile_id") === "90N_090W")
      .select(element_at(col("band_1"), 1)).limit(1).collect()(0)
    assert(v.getInt(0) == 1)
  }

  test("tiled layout (one source per tile, many per band) takes the mosaic bypass") {
    // ADVICE r15: the bypass used to key on catalog rows PER BAND, so the
    // common tiled layout — non-overlapping uris, one per tile — always
    // paid the collect_list mosaic shuffle despite one layer per block.
    // Keying on sources per (tile, band) lets it bypass; genuinely
    // overlapping catalogs (the `catalog` fixture) must still fold.
    val tiled = Seq(
      ("s3://b/w1.tif", 1, GeoFunctions.write(GeoFunctions.envelope(-180, 0, -90, 90))),
      ("s3://b/w2.tif", 1, GeoFunctions.write(GeoFunctions.envelope(-90, 0, 0, 90))))
      .toDF("uri", "band", "footprint")
    // the fold path's signature in the physical plan is the collect_list
    // overlay aggregate (the shuffle the bypass exists to avoid);
    // mosaic_fold itself hides inside unprinted aggregate result exprs
    def planOf(cat: DataFrame): String =
      LayerJob.run(spark, spec, cat, reader)
        .blocks.queryExecution.executedPlan.toString
    assert(!planOf(tiled).contains("collect_list"),
      "tiled one-source-per-tile layout must skip the overlay shuffle")
    assert(planOf(catalog).contains("collect_list"),
      "overlapping sources must still run the fold")
  }
}
