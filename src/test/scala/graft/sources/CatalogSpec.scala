package graft.sources

import graft.SparkSpec
import graft.functions.GeoFunctions
import java.nio.file.{Files, Paths}

/** Source catalog scans: tiles.geojson manifest (S2), folder listing (S3),
  * existence probe (S8) — ports the manifest fixtures of
  * tests/fixtures/tiles.geojson. */
class CatalogSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = Paths.get("target/tmp/catalog")
    Files.createDirectories(d)
    d.resolve(name).toString
  }

  test("S2: tiles.geojson manifest scan yields (uri, band, footprint)") {
    val path = tmp("tiles.geojson")
    Files.writeString(Paths.get(path),
      """{"type": "FeatureCollection", "features": [
        | {"type": "Feature",
        |  "geometry": {"type": "Polygon",
        |    "coordinates": [[[10, 0], [20, 0], [20, 10], [10, 10], [10, 0]]]},
        |  "properties": {"name": "/vsis3/bucket/10N_010E.tif"}},
        | {"type": "Feature",
        |  "geometry": {"type": "Polygon",
        |    "coordinates": [[[-20, 0], [-10, 0], [-10, 10], [-20, 10], [-20, 0]]]},
        |  "properties": {"name": "/vsis3/bucket/10N_020W.tif"}}]}""".stripMargin)
    val cat = Catalog.fromTilesGeojson(spark, path)
    val rows = cat.collect()
    assert(rows.length == 2)
    val byUri = rows.map(r => r.getString(0) -> r.getAs[Array[Byte]]("footprint")).toMap
    val g = GeoFunctions.read(byUri("/vsis3/bucket/10N_010E.tif"))
    assert(g.getArea == 100.0)
    assert(g.getEnvelopeInternal.getMinX == 10.0)
  }

  test("S2: manifest-relative names resolve on path-segment boundaries only") {
    val feature =
      """{"type": "FeatureCollection", "features": [
        | {"type": "Feature",
        |  "geometry": {"type": "Polygon",
        |    "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]]},
        |  "properties": {"name": "data/t.tif"}}]}""".stripMargin
    // manifest dir ends in '.../xdata' — a raw suffix match would swallow
    // the 'data' segment and point at .../xdata/t.tif, which doesn't exist
    val odd = Paths.get("target/tmp/catalog/xdata")
    Files.createDirectories(odd)
    Files.writeString(odd.resolve("tiles.geojson"), feature)
    val u1 = Catalog.fromTilesGeojson(spark, odd.resolve("tiles.geojson").toString)
      .select("uri").collect()(0).getString(0)
    assert(u1.endsWith("xdata/data/t.tif"), u1)
    // manifest dir ending in the full '/data' segment IS the dedup case:
    // prefix-qualified names in a manifest living in that prefix
    val seg = Paths.get("target/tmp/catalog/out/data")
    Files.createDirectories(seg)
    Files.writeString(seg.resolve("tiles.geojson"), feature)
    val u2 = Catalog.fromTilesGeojson(spark, seg.resolve("tiles.geojson").toString)
      .select("uri").collect()(0).getString(0)
    assert(u2.endsWith("out/data/t.tif") && !u2.endsWith("data/data/t.tif"), u2)
  }

  test("S3: folder listing scan filters by suffix") {
    val dir = Paths.get("target/tmp/catalog/files")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("a.tif"), "x")
    Files.writeString(dir.resolve("b.tif"), "y")
    Files.writeString(dir.resolve("c.txt"), "z")
    val listed = Catalog.listFolder(spark, dir.toString)
    assert(listed.count() == 2)
  }

  test("S8: existence probe") {
    assert(Catalog.exists(spark, tmp("tiles.geojson")))
    assert(!Catalog.exists(spark, tmp("nope.geojson")))
  }

  test("existing-output listing derives tile ids for the F3 anti-join") {
    val dir = Paths.get("target/tmp/catalog/out")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("10N_010E.tif"), "x")
    Files.writeString(dir.resolve("20N_010E.tif"), "x")
    // what a publish leaves next to its tiles is not a tile
    for (other <- Seq("tiles.geojson", "extent.geojson", "10N_010E.tif.aux.xml",
                      "10N_010E.tif.ovr"))
      Files.writeString(dir.resolve(other), "x")
    val tiles = Catalog.existingTiles(spark, dir.toString)
      .collect().map(_.getString(0)).toSeq
    assert(tiles.sorted == Seq("10N_010E", "20N_010E"), tiles)
  }
}
