package graft.operators

import graft.SparkSpec
import graft.functions.GeoFunctions

/** Vector rasterization — ports tests/test_vector_src_tile.py (burn count /
  * burn value semantics) against hand-computed pixel covers. */
class RasterizeSpec extends SparkSpec {
  import spark.implicits._

  private def cover(wkb: Array[Byte], originX: Double, originY: Double,
                    xres: Double, yres: Double): Set[(Int, Int)] =
    Rasterize.pixelCoverIterator(wkb, originX, originY, xres, yres).toSet

  /** Burns `features` (geom, value) as pieces of ONE tile whose top-left
    * pixel is the lattice origin: `tilePx`² pixels in `block`² blocks.
    * Returns the burned blocks' keys and their burned (px, py) → value. */
  private def burn(features: Seq[(Array[Byte], Long)], xres: Double, tilePx: Int,
                   block: Int, count: Boolean = false, ascending: Boolean = true)
      : (Set[(Int, Int)], Map[(Int, Int), Long]) = {
    val (left, top) = (-180.0, 90.0)
    val pieces = features.map { case (g, v) => ("t", left, top, g, v) }
      .toDF("tile_id", "left", "top", "geom", "value")
    val rows = Rasterize.burnBlocks(pieces, left, top, xres, xres, tilePx, block,
        noData = 0L, count = count, ascending = ascending)
      .select("block_row", "block_col", "band_1").as[(Int, Int, Seq[Long])].collect()
    val pixels = for {
      (br, bc, arr) <- rows.toSeq
      (v, i) <- arr.zipWithIndex if v != 0L
    } yield (bc * block + i % block, br * block + i / block) -> v
    (rows.map(r => (r._1, r._2)).toSet, pixels.toMap)
  }

  test("pixelCover: unit square on a 1° lattice covers exactly its pixels") {
    val wkb = GeoFunctions.write(GeoFunctions.envelope(10, 20, 13, 22))
    // 3° × 2° → 6 pixels; px from 10..12, py from 90-22=68..69
    assert(cover(wkb, originX = 0, originY = 90, xres = 1, yres = 1) ==
      (for (px <- 10 to 12; py <- 68 to 69) yield (px, py)).toSet)
  }

  test("pixel centers decide coverage (ALL_TOUCHED=FALSE default)") {
    // half-pixel sliver: covers no pixel center in its row
    val wkb = GeoFunctions.write(GeoFunctions.envelope(0, 0, 0.4, 1))
    assert(cover(wkb, 0, 90, 1, 1).isEmpty)
  }

  test("burn count: overlap adds (vector_src_tile.py:164-167, A1)") {
    val f1 = GeoFunctions.write(GeoFunctions.envelope(-180, 88, -178, 90)) // py 0..1, px 0..1
    val f2 = GeoFunctions.write(GeoFunctions.envelope(-179, 88, -177, 90)) // px 1..2
    val (_, counted) = burn(Seq((f1, 5L), (f2, 7L)), xres = 1, tilePx = 8, block = 4,
      count = true)
    assert(counted((0, 0)) == 1 && counted((1, 0)) == 2 && counted((2, 1)) == 1)
    assert(counted.size == 6)
  }

  test("burn value: ordered burn ≡ max/min (A2, deterministic)") {
    val f1 = GeoFunctions.write(GeoFunctions.envelope(-180, 88, -178, 90))
    val f2 = GeoFunctions.write(GeoFunctions.envelope(-179, 88, -177, 90))
    val features = Seq((f1, 5L), (f2, 7L))
    val (_, asc) = burn(features, xres = 1, tilePx = 8, block = 4)
    assert(asc((0, 0)) == 5 && asc((1, 0)) == 7) // overlap → larger wins
    val (_, desc) = burn(features, xres = 1, tilePx = 8, block = 4, ascending = false)
    assert(desc((1, 0)) == 5) // desc order → smaller wins last
  }

  test("polygon with hole covers only the ring area") {
    val g = GeoFunctions.readWkt(
      "POLYGON ((0 80, 10 80, 10 90, 0 90, 0 80), (3 83, 7 83, 7 87, 3 87, 3 83))")
    assert(cover(GeoFunctions.write(g), 0, 90, 1, 1).size == 100 - 16)
  }

  test("a piece spanning many blocks burns identically to one scanline") {
    val g = GeoFunctions.write(GeoFunctions.readWkt(
      "POLYGON ((-170 60, -150 60, -150 80, -170 80, -170 60), " +
        "(-165 65, -155 65, -155 75, -165 75, -165 65))"))
    // 80 x 80 pixels over 16-pixel blocks, the hole straddling block edges
    val (blocks, burned) = burn(Seq((g, 1L)), xres = 0.25, tilePx = 128, block = 16)
    val oracle = cover(g, -180, 90, 0.25, 0.25)
    assert(burned.keySet == oracle && burned.values.forall(_ == 1L))
    assert(oracle.size == 80 * 80 - 40 * 40)
    assert(blocks == oracle.map { case (px, py) => (py / 16, px / 16) })
  }

  test("a block no piece covers a pixel centre of emits nothing (F5)") {
    // slivers narrower than half a pixel, one inside block (0, 0) and one
    // crossing into block (0, 1): no centre covered, no block
    val slivers = Seq(GeoFunctions.envelope(-180, 89, -179.6, 90),
      GeoFunctions.envelope(-176.2, 88, -175.9, 90)).map(g => (GeoFunctions.write(g), 3L))
    assert(burn(slivers, xres = 1, tilePx = 8, block = 4) == ((Set.empty, Map.empty)))
    // next to a covering piece, the empty block still drops out
    val square = GeoFunctions.write(GeoFunctions.envelope(-180, 88, -178, 90))
    val (blocks, burned) = burn(slivers :+ ((square, 9L)), xres = 1, tilePx = 8, block = 4)
    assert(blocks == Set((0, 0)) && burned.size == 4 && burned.values.forall(_ == 9L))
  }
}
