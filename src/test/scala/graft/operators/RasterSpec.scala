package graft.operators

import graft.SparkSpec
import graft.core.grid.LatLngGrid
import org.apache.spark.sql.functions._

/** The end-to-end per-tile slice: tiles → blocks → calc → cast/fill → stats,
  * asserted relationally like the reference e2e suite
  * (tests/test_raster_src_tile.py:36-227). */
class RasterSpec extends SparkSpec {

  // one 90° tile, 3×3 blocks of 336² px — small but real
  private val grid = LatLngGrid(90, 1008)
  private lazy val blocks =
    Raster.tilesToBlocks(grid.tilesDF(spark).limit(1), grid).cache()

  test("tile expands to its block grid (raster_src_tile.py:328-378)") {
    assert(grid.blockSize == 336)
    assert(blocks.count() == 9) // (1008/336)^2
  }

  test("identity transform: output == input (test_raster_src_tile.py:36-79)") {
    val in = Raster.synthesizeBand(blocks, band = 1)
    val out = in.withColumn("out",
      Raster.blockCalcThen("A", Seq(col("values")), Seq(col("valid")))(_.cast("double")).head)
    val bad = out.filter(col("out") =!= col("values")).count()
    assert(bad == 0)
  }

  test("A+B: output == input0 + input1 (test_raster_src_tile.py:125-172)") {
    val a = Raster.synthesizeBand(blocks, band = 1)
      .select(col("tile_id"), col("block_row"), col("block_col"),
        col("values").as("va"), col("valid").as("ka"))
    val b = Raster.synthesizeBand(blocks, band = 2)
      .select(col("tile_id"), col("block_row"), col("block_col"),
        col("values").as("vb"), col("valid").as("kb"))
    val joined = a.join(b, Seq("tile_id", "block_row", "block_col")) // J4 zip
    val out = joined.withColumn("out",
      Raster.blockCalc("A + B", Seq(col("va"), col("vb")), Seq(col("ka"), col("kb"))).head)
    // elementwise check via the expected zip
    val expect = zip_with(col("va"), col("vb"), (x, y) => x + y)
    assert(joined.withColumn("e", expect).join(
      out.select(col("tile_id"), col("block_row"), col("block_col"), col("out")),
      Seq("tile_id", "block_row", "block_col"))
      .filter(col("e") =!= col("out")).count() == 0)
  }

  test("multiband out: np.ma.array([A, B, A+B]) (test_raster_src_tile.py:175-227)") {
    val a = Raster.synthesizeBand(blocks, band = 1)
    val withB = a.withColumn("vb", col("values")).withColumn("kb", col("valid"))
    val out = Raster.blockCalc("np.ma.array([A, B, A + B])",
      Seq(col("values"), col("vb")), Seq(col("valid"), col("kb")))
    assert(out.length == 3)
    val r = withB.select(
      element_at(out(0), 1).as("b0"), element_at(out(1), 1).as("b1"),
      element_at(out(2), 1).as("b2"), element_at(col("values"), 1).as("v"))
      .collect()
    r.foreach { row =>
      assert(row.getDouble(0) == row.getDouble(3))
      assert(row.getDouble(2) == 2 * row.getDouble(3))
    }
  }

  test("masked pixels null out and fill with nodata (set_datatype, array_utils.py:12-41)") {
    val in = Raster.synthesizeBand(blocks, band = 1, nodataEvery = 7)
    // calc + cast/fill fused in one kernel, the form LayerJob.run uses
    val filled = in.withColumn("f", Raster.blockCalcThen("A + 1", Seq(col("values")),
      Seq(col("valid")))(v => coalesce(v, lit(255.0)).cast("int")).head)
    // every invalid position got the sentinel; valid positions got v+1
    val bad = filled.select(explode(arrays_zip(col("values"), col("valid"), col("f"))).as("p"))
      .filter(when(col("p.valid"), col("p.f") =!= col("p.values") + 1)
        .otherwise(col("p.f") =!= 255))
    assert(filled.filter(array_contains(col("valid"), false)).count() > 0)
    assert(bad.count() == 0)
  }

  test("empty-block filter F5 + valid count A5 (array_utils.py:44-58)") {
    val in = Raster.synthesizeBand(blocks, band = 1, nodataEvery = 1) // all masked
    // the F5 filter of LayerJob.run: a block survives if any pixel is valid
    val calced = in.withColumn("out",
      Raster.blockCalc("A", Seq(col("values")), Seq(col("valid"))).head)
    assert(calced.filter(size(filter(col("out"), _.isNotNull)) > 0).count() == 0)
  }

  test("partial block stats fold + combine == global stats (A3)") {
    val in = Raster.synthesizeBand(blocks, band = 1, nodataEvery = 5)
    import spark.implicits._
    val stats = in.select(Raster.blockPartialStats(col("values"), col("valid")).as("p"))
      .select("p.*").as[Raster.StatsPartial].collect().reduce(_ merge _).finish
    // ground truth by exploding pixels (slow path, test only)
    val truth = in.select(explode(zip_with(col("values"), col("valid"),
        (v, ok) => when(ok, v))).as("v"))
      .filter(col("v").isNotNull)
      .agg(min("v"), max("v"), avg("v"), count(lit(1))).collect()(0)
    assert(stats.min == truth.getDouble(0))
    assert(stats.max == truth.getDouble(1))
    assert(math.abs(stats.mean - truth.getDouble(2)) < 1e-9)
    assert(stats.n == truth.getLong(3))
  }
}
