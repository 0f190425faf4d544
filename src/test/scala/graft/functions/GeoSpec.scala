package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** JTS geometry surface + union Aggregator — ports tests/test_utils.py
  * (geometry union/intersection) and the spatial predicates. */
class GeoSpec extends SparkSpec {
  import GeoFunctions._
  import spark.implicits._

  test("envelope + WKB round trip") {
    val g = envelope(0, 0, 10, 10)
    val back = read(write(g))
    assert(back.equalsExact(g))
    assert(back.getArea == 100.0)
  }

  test("interiors-intersect excludes touching (raster_src_tile.py:155-161)") {
    val df = Seq(
      ("overlap", (0.0, 0.0, 10.0, 10.0), (5.0, 5.0, 15.0, 15.0)),
      ("touch",   (0.0, 0.0, 10.0, 10.0), (10.0, 0.0, 20.0, 10.0)),
      ("apart",   (0.0, 0.0, 10.0, 10.0), (20.0, 0.0, 30.0, 10.0)))
      .map { case (n, a, b) => (n, write(envelope(a._1, a._2, a._3, a._4)),
        write(envelope(b._1, b._2, b._3, b._4))) }
      .toDF("name", "ga", "gb")
    val r = df.select(col("name"), col("ga"), col("gb"),
      st_intersects(col("ga"), col("gb")).as("i")).collect()
      .map { r =>
        val (a, b) = (read(r.getAs[Array[Byte]](1)), read(r.getAs[Array[Byte]](2)))
        r.getString(0) -> (intersectsInterior(a, b), r.getBoolean(3), a.touches(b))
      }.toMap
    assert(r("overlap") == ((true, true, false)))
    assert(r("touch") == ((false, true, true)))
    assert(r("apart") == ((false, false, false)))
  }

  test("st_intersection clips to the tile envelope (P4)") {
    val df = Seq((write(envelope(0, 0, 10, 10)), write(envelope(5, 5, 15, 15))))
      .toDF("a", "b")
    val clipped = df.select(st_intersection(col("a"), col("b")).as("g"))
      .select(st_area(col("g")).as("area")).collect()(0).getDouble(0)
    assert(clipped == 25.0)
  }

  test("GeomUnionAgg unions footprints distributively (A6, geometry.py:41-48)") {
    // 4 unit squares tiling a 2x2 block, shuffled across partitions
    val squares = Seq((0, 0), (0, 1), (1, 0), (1, 1))
      .map { case (x, y) => write(envelope(x, y, x + 1, y + 1)) }
    val df = spark.sparkContext.parallelize(squares, 3).toDF("g")
    val union = df.select(GeomUnionAgg.column(col("g")).as("u")).collect()(0)
      .getAs[Array[Byte]](0)
    val g = read(union)
    assert(g.getArea == 4.0)
    assert(g.getEnvelopeInternal.getMinX == 0 && g.getEnvelopeInternal.getMaxX == 2)
  }

  test("geojson rendering of polygons (manifest sink shape, geometry.py:14-38)") {
    val js = toGeoJson(envelope(0, 0, 1, 1))
    assert(js.startsWith("""{"type":"Polygon","coordinates":[[["""))
    assert(js.contains("[0.0,0.0]") && js.contains("[1.0,1.0]"))
  }

  test("wkt parse/render round trip") {
    val g = readWkt("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    assert(writeWkt(read(write(g))).startsWith("POLYGON"))
  }
}
