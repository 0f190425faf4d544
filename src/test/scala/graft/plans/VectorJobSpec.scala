package graft.plans

import graft.SparkSpec
import graft.core.LayerSpec
import graft.functions.{GeoFunctions, Reproject}
import graft.operators.Rasterize
import org.apache.spark.sql.functions._

/** Vector pipe end-to-end — ports tests/test_vector_src_tile.py:60-138
  * (fetch → rasterize → value range) on crafted features. */
class VectorJobSpec extends SparkSpec {
  import spark.implicits._

  private val spec = LayerSpec(
    dataset = "d", version = "v1", sourceType = "vector", pixelMeaning = "is",
    dataType = "uint8", calc = Some("1"), grid = "90/1008",
    rasterizeMethod = Some("value"), noData = Some(Seq(0.0)))

  test("burn calc='1' over polygons yields 0/1 raster (test layer semantics)") {
    // a polygon well inside tile 90N_180W (top-left quadrant)
    val g = GeoFunctions.write(GeoFunctions.envelope(-170, 10, -150, 30))
    val features = Seq((g, 7L)).toDF("geom", "value")
    val r = VectorJob.run(spark, spec, features)
    val blocks = r.blocks.collect()
    assert(blocks.nonEmpty)
    assert(blocks.forall(_.getString(0) == "90N_180W"))
    val vals = r.blocks.select(explode(col("band_1")).as("v"))
      .groupBy("v").count().collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(vals.keySet == Set(0L, 1L)) // gdalinfo stats min=0 max=1
    // 20°x20° at 90/1008 res (0.0893°/px) ≈ 224x224 px
    val burnt = vals(1L)
    assert(burnt > 200L * 200 && burnt < 250L * 250, s"burnt=$burnt")
  }

  test("vector job emits K3 manifests (pipes/pipe.py:163-167)") {
    val g = GeoFunctions.write(GeoFunctions.envelope(-170, 10, -150, 30))
    val r = VectorJob.run(spark, spec, Seq((g, 7L)).toDF("geom", "value"))
    val out = Publish(r, spec, "target/tmp/vectorjob/manifest")
    val m = out.features
    assert(m.length == 1 && out.tileIds == Set("90N_180W"))
    assert(m(0).get("properties").get("name").asText.endsWith("/90N_180W.tif"))
    assert(m(0).get("geometry").get("type").asText == "Polygon")
    assert(LayerJob.renderExtentGeojson(out.extent).contains("Polygon"))
  }

  test("burn-count mode adds overlapping features") {
    val a = GeoFunctions.write(GeoFunctions.envelope(-170, 10, -160, 20))
    val b = GeoFunctions.write(GeoFunctions.envelope(-165, 10, -155, 20))
    val features = Seq((a, 1L), (b, 1L)).toDF("geom", "value")
    val r = VectorJob.run(spark, spec.copy(rasterizeMethod = Some("count"), calc = None),
      features)
    val mx = r.blocks.select(explode(col("band_1")).as("v")).agg(max("v"))
      .collect()(0).getLong(0)
    assert(mx == 2) // overlap region counts both
  }

  test("feature spanning tiles burns into each (F4 semi-join, P4 clip)") {
    val g = GeoFunctions.write(GeoFunctions.envelope(-100, -20, -80, 20)) // crosses equator+tile edge
    val features = Seq((g, 1L)).toDF("geom", "value")
    val r = VectorJob.run(spark, spec, features)
    val tiles = r.blocks.select("tile_id").distinct().as[String].collect().toSet
    assert(tiles == Set("90N_180W", "00N_180W", "90N_090W", "00N_090W"))
  }

  test("WebMercator grid: features reproject and burn on the 3857 lattice") {
    val wmSpec = spec.copy(grid = "zoom_4") // single 4096-px world tile
    val g = GeoFunctions.write(GeoFunctions.envelope(10, 10, 30, 30))
    val r = VectorJob.run(spark, wmSpec, Seq((g, 1L)).toDF("geom", "value"))
    val tiles = r.blocks.select("tile_id").distinct().as[String].collect().toSet
    assert(tiles == Set("000R_000C"))
    val burnt = r.blocks.select(explode(col("band_1")).as("v"))
      .filter(col("v") === 1).count()
    // ~20°x20° at zoom-4 resolution ≈ 228x244 px burned
    assert(burnt > 150L * 150 && burnt < 300L * 300, s"burnt=$burnt")
  }

  test("a feature touching a tile without covering a pixel centre there skips the tile") {
    // crosses into 90N_090W by 0.01°, under half a 0.089° pixel
    val g = GeoFunctions.write(GeoFunctions.envelope(-170, 10, -89.99, 30))
    val r = VectorJob.run(spark, spec, Seq((g, 1L)).toDF("geom", "value"))
    assert(r.blocks.select("tile_id").distinct().as[String].collect().toSeq == Seq("90N_180W"))
    assert(Publish(r, spec, "target/tmp/vectorjob/sliver").status
      == Map("processed" -> 1L, "skipped (does not intersect)" -> 7L))
  }

  test("per-block burn equals a per-pixel cover oracle (scalacheck: holes, multipolygons)") {
    import org.scalacheck.{Gen, Prop, Test}
    // 90/1040: 8 tiles of 5 x 5 blocks (208 px); features straddle the
    // tile corner at (-90, 0) and the block edges around it
    val grid = graft.core.grid.GridFactory("90/1040")
    val (xres, block) = (grid.xres, grid.blockSize)
    /** A star-shaped ring around (cx, cy): one vertex per radius, at even angles. */
    def ring(cx: Double, cy: Double, radii: Seq[Double]): String = {
      val pts = radii.zipWithIndex.map { case (r, k) =>
        val a = 2 * math.Pi * k / radii.size
        s"${cx + r * math.cos(a)} ${cy + r * math.sin(a)}"
      }
      (pts :+ pts.head).mkString("(", ", ", ")")
    }
    def radii(r: Double, lo: Double, hi: Double): Gen[Seq[Double]] =
      Gen.choose(5, 9).flatMap(n => Gen.listOfN(n, Gen.choose(lo * r, hi * r)))
    // outer radii ≥ 0.6 r keep every edge beyond 0.48 r, clear of a ≤ 0.3 r hole
    def polygon(cx: Double, cy: Double): Gen[String] = for {
      r <- Gen.choose(0.5, 12.0); shell <- radii(r, 0.6, 1.0)
      hole <- Gen.option(radii(r, 0.15, 0.3))
    } yield (ring(cx, cy, shell) +: hole.map(ring(cx, cy, _)).toSeq).mkString("(", ", ", ")")
    val centre = Gen.zip(Gen.choose(-110.0, -70.0), Gen.choose(-20.0, 20.0))
    // a multipolygon's second part sits 30° east of its first: they never meet
    val feature: Gen[String] = Gen.frequency(
      2 -> centre.flatMap { case (x, y) => polygon(x, y).map("POLYGON " + _) },
      1 -> centre.flatMap { case (x, y) =>
        Gen.zip(polygon(x, y), polygon(x + 30, y)).map { case (a, b) => s"MULTIPOLYGON ($a, $b)" }
      })
    val features = Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, Gen.zip(feature, Gen.choose(1L, 200L))))

    val prop = Prop.forAllNoShrink(features) { fs =>
      val wkbs = fs.map { case (wkt, v) => (GeoFunctions.write(GeoFunctions.readWkt(wkt)), v) }
      val covers = wkbs.flatMap { case (g, v) =>
        Rasterize.pixelCoverIterator(g, -180, 90, xres, xres).map(_ -> v) }.groupMap(_._1)(_._2)
      val df = wkbs.toDF("geom", "value")
      Seq(("count", "asc"), ("value", "asc"), ("value", "desc")).forall { case (method, order) =>
        val oracle = covers.map { case (px, vs) =>
          px -> (if (method == "count") vs.size.toLong else if (order == "asc") vs.max else vs.min)
        }
        val s = spec.copy(grid = "90/1040", calc = None, rasterizeMethod = Some(method),
          order = Some(order))
        val got = VectorJob.run(spark, s, df).blocks
          .select("left", "top", "block_row", "block_col", "band_1")
          .as[(Double, Double, Int, Int, Seq[Long])].collect().toSeq.flatMap {
            case (left, top, br, bc, arr) =>
              assert(arr.exists(_ != 0L), "a burned block holds a burned pixel")
              val c0 = math.round((left + 180) / xres).toInt + bc * block
              val r0 = math.round((90 - top) / xres).toInt + br * block
              arr.zipWithIndex.collect { case (v, i) if v != 0L =>
                (c0 + i % block, r0 + i / block) -> v }
          }
        assert(got.size == got.map(_._1).distinct.size)
        got.toMap == oracle
      }
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(12)
      .withInitialSeed(org.scalacheck.rng.Seed(20261019L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("status tally counts processed tiles") {
    val g = GeoFunctions.write(GeoFunctions.envelope(-170, 10, -150, 30))
    val r = VectorJob.run(spark, spec, Seq((g, 1L)).toDF("geom", "value"))
    assert(Publish(r, spec, "target/tmp/vectorjob/status").status
      == Map("processed" -> 1L, "skipped (does not intersect)" -> 7L))
  }

  test("F1: a duplicate, an off-grid and a malformed subset id count once, never throw") {
    // the feature spans four tiles; the subset names one of them twice
    val g = GeoFunctions.write(GeoFunctions.envelope(-100, -20, -80, 20))
    val ids = Seq("00N_090W", "00N_090W", "45N_045W", "not-a-tile", "90N_", "")
    val r = VectorJob.run(spark, spec, Seq((g, 1L)).toDF("geom", "value"), subset = Some(ids))
    assert(r.tiles == LayerJob.Tiles(1, 1, 1, "skipped (does not intersect)"))
    assert(r.blocks.select("tile_id").distinct().as[String].collect().toSeq == Seq("00N_090W"))
    assert(Publish(r, spec, "target/tmp/vectorjob/subset_odd").status == Map("processed" -> 1L))
  }
}

/** P5 reprojection math. */
class ReprojectSpec extends SparkSpec {
  import graft.core.grid.Bounds

  test("4326 ↔ 3857 round trip") {
    val (x, y) = Reproject.toWebMercator(10.0, 45.0)
    val (lng, lat) = Reproject.toWgs84(x, y)
    assert(math.abs(lng - 10.0) < 1e-9 && math.abs(lat - 45.0) < 1e-9)
  }

  test("world corners map to the WebMercator extent") {
    val (x, y) = Reproject.toWebMercator(180.0, Reproject.maxLat)
    assert(math.abs(x - Reproject.webMercatorMax) < 1e-6)
    assert(math.abs(y - Reproject.webMercatorMax) < 1e-3)
  }

  test("out-of-range latitudes clamp instead of inf (type_casting.py:28-33)") {
    val (_, y) = Reproject.toWebMercator(0.0, 90.0)
    assert(y == Reproject.webMercatorMax)
    val b = Reproject.bounds(Bounds(-180, -90, 180, 90), "EPSG:4326", "EPSG:3857")
    assert(b.top == Reproject.webMercatorMax && b.bottom == -Reproject.webMercatorMax)
  }

  test("same-CRS transform is identity; unsupported pair rejected") {
    val b = Bounds(0, 0, 1, 1)
    assert(Reproject.bounds(b, "EPSG:4326", "WGS84") == b)
    // UTM is in the projection registry now (ProjectionSpec); a CRS the
    // registry doesn't ship still fails loudly
    val utm = Reproject.bounds(Bounds(14, 40, 16, 41), "EPSG:4326", "EPSG:32633")
    assert(utm.left > 350000 && utm.right < 650000 && utm.bottom > 4300000)
    // OSGB joined the well-known table in round 8 — EOV stays unshipped
    intercept[IllegalArgumentException](
      Reproject.bounds(b, "EPSG:4326", "EPSG:23700"))
  }
}
