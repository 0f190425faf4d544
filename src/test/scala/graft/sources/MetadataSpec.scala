package graft.sources

import graft.SparkSpec
import com.fasterxml.jackson.databind.ObjectMapper

/** S4 gdalinfo-JSON twin (`utils/gdal.py:170-238`) and the PAM stats
  * sidecar read-back — VERDICT r14 missing-items 3. */
class MetadataSpec extends SparkSpec {
  import spark.implicits._

  private def writeTiff(path: String, vals: Int => Double,
                        noData: Option[Double] = Some(0.0)): String = {
    val profile = GeoTiff.Profile(
      width = 32, height = 32, bands = 1, dataType = "uint16",
      tileWidth = 16, tileHeight = 16, noData = noData, epsg = 4326,
      originX = -10.0, originY = 20.0, xres = 0.25, yres = 0.25)
    val w = new GeoTiff.Writer(path, profile)
    for (tr <- 0 to 1; tc <- 0 to 1)
      w.writeTile(1, tr, tc, Array.tabulate(256)(i => vals(tr * 1024 + tc * 512 + i)))
    w.close()
    path
  }

  private val mapper = new ObjectMapper

  test("fetchMetadata emits the gdalinfo -json shape get_metadata parses") {
    val p = java.nio.file.Files.createTempDirectory("graft_meta")
    val src = writeTiff(s"$p/a.tif", i => (i % 5 + 1).toDouble)
    val rows = GeoTiffSpark.fetchMetadata(spark, Seq(src)).collect()
    assert(rows.length == 1 && rows(0).getString(0) == src)
    val m = mapper.readTree(rows(0).getString(1))
    // exactly the fields utils/gdal.py:191-205 reads
    assert(m.get("size").get(0).asInt == 32 && m.get("size").get(1).asInt == 32)
    assert(m.get("driverShortName").asText == "GTiff")
    assert(m.get("geoTransform").get(1).asDouble == 0.25)
    assert(m.get("geoTransform").get(5).asDouble == -0.25)
    assert(m.get("cornerCoordinates").get("lowerLeft").get(0).asDouble == -10.0)
    assert(m.get("cornerCoordinates").get("lowerLeft").get(1).asDouble == 12.0)
    assert(m.get("cornerCoordinates").get("upperRight").get(0).asDouble == -2.0)
    assert(m.get("cornerCoordinates").get("upperRight").get(1).asDouble == 20.0)
    assert(m.get("coordinateSystem").get("wkt").asText.contains("4326"))
    assert(m.get("metadata").get("IMAGE_STRUCTURE").get("COMPRESSION").asText == "DEFLATE")
    val b = m.get("bands").get(0)
    assert(b.get("type").asText == "UInt16") // reverse of data_type.py:163-167
    assert(b.get("block").get(0).asInt == 16 && b.get("block").get(1).asInt == 16)
    assert(b.get("noDataValue").asDouble == 0.0)
    assert(b.get("minimum") == null) // no -stats: stats keys absent
  }

  test("fetchMetadata -stats: exact nodata-excluded fold") {
    val p = java.nio.file.Files.createTempDirectory("graft_meta")
    // half the pixels nodata(0), the rest alternate 2 and 4
    val src = writeTiff(s"$p/b.tif", i => if (i % 2 == 0) 0.0 else if (i % 4 == 1) 2.0 else 4.0)
    val m = mapper.readTree(GeoTiffSpark
      .fetchMetadata(spark, Seq(src), computeStats = true)
      .collect()(0).getString(1))
    val b = m.get("bands").get(0)
    assert(b.get("minimum").asDouble == 2.0 && b.get("maximum").asDouble == 4.0)
    assert(b.get("mean").asDouble == 3.0)
    assert(b.get("stdDev").asDouble == 1.0) // values equally split 2/4 → σ=1
  }

  test("fetchMetadata -hist: 256 integer-style buckets whose mass is the valid count") {
    val p = java.nio.file.Files.createTempDirectory("graft_meta")
    val src = writeTiff(s"$p/c.tif", i => (i % 3 + 1).toDouble) // 1,2,3 — no nodata hits
    val m = mapper.readTree(GeoTiffSpark
      .fetchMetadata(spark, Seq(src), computeHistogram = true)
      .collect()(0).getString(1))
    val h = m.get("bands").get(0).get("histogram")
    assert(h.get("count").asInt == 256)
    assert(h.get("min").asDouble == 0.5 && h.get("max").asDouble == 3.5)
    val buckets = (0 until 256).map(h.get("buckets").get(_).asLong)
    assert(buckets.sum == 32L * 32)            // every pixel valid
    assert(buckets.count(_ > 0) == 3)          // exactly the 3 values
  }

  test("stats sidecar round-trips: sink-written sidecar → readStatsSidecar") {
    // a 2-band layer on 90/256 (one 256-px block per tile); band 2 of
    // 90N_090W is all nodata
    val spec = graft.core.LayerSpec(dataset = "pam", version = "v1",
      sourceType = "raster", pixelMeaning = "x", dataType = "uint16",
      grid = "90/256", noData = Some(Seq(0.0, 0.0)), bandCount = 2,
      computeStats = true, sourceUri = Some(Seq("unused")))
    val px = 256 * 256
    val band: Map[(String, Int), Int => Int] = Map(
      ("90N_180W", 1) -> (i => i % 7 + 1), ("90N_180W", 2) -> (i => if (i % 10 == 0) 0 else 40),
      ("90N_090W", 1) -> (i => i % 3), ("90N_090W", 2) -> (_ => 0))
    val blocks = Seq("90N_180W" -> -180.0, "90N_090W" -> -90.0).map { case (id, left) =>
      (id, left, 90.0, 0, 0, Array.tabulate(px)(band((id, 1))),
        Array.tabulate(px)(band((id, 2))))
    }.toDF("tile_id", "left", "top", "block_row", "block_col", "band_1", "band_2")
    val dir = java.nio.file.Files.createTempDirectory("graft_pam").toString
    val written = GeoTiffSpark.writeTiles(blocks, spec, dir).collect()
    assert(written.length == 2)
    for (id <- Seq("90N_180W", "90N_090W"); b <- 1 to 2) {
      val back = GeoTiffSpark.readStatsSidecar(s"$dir/$id.tif.aux.xml")
      assert(back.keySet == Set(1, 2))
      val valid = (0 until px).map(band((id, b))).filter(_ != 0).map(_.toDouble)
      val got = back(b)
      assert(got("STATISTICS_VALID_PERCENT") == 100.0 * valid.size / px, s"$id band $b")
      if (valid.isEmpty) assert(got.keySet == Set("STATISTICS_VALID_PERCENT"), s"$id band $b")
      else {
        val mean = valid.sum / valid.size
        assert(got("STATISTICS_MINIMUM") == valid.min && got("STATISTICS_MAXIMUM") == valid.max)
        assert(math.abs(got("STATISTICS_MEAN") - mean) < 1e-9, s"$id band $b")
        assert(math.abs(got("STATISTICS_STDDEV") -
          math.sqrt(valid.map(v => (v - mean) * (v - mean)).sum / valid.size)) < 1e-9)
      }
    }
  }
}
