package graft.operators

import graft.functions.GeoFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.locationtech.jts.geom.{Coordinate, Envelope}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory

/** Rasterization as a per-block burn (operators A1/A2 + generator G1).
  *
  * The reference shells out to `gdal_rasterize` with two burn modes
  * (`gfw_pixetl/tiles/vector_src_tile.py:158-212`, enum
  * `models/enums.py:9-11`):
  *   - count: `-burn 1 -add`  → pixel value = COUNT of covering features
  *   - value: `-a field` after `ORDER BY field` → last write wins, i.e.
  *     pixel value = max/min of the field over covering features.
  *
  * Spark-first re-expression: each tile-clipped feature piece goes, as
  * one row, to every block of its tile its envelope touches; ONE exchange
  * keyed by (tile, block) gathers a block's pieces, and one task burns
  * them straight into the block's dense array — the scanline of
  * [[pixelCoverIterator]] limited to the block's pixel window. No row per
  * pixel ever exists, and a block key spreads a large feature's work by
  * itself. The write-order dependence of the reference becomes a
  * deterministic `max`/`min` — documented improvement (SURVEY §7.4.5).
  */
object Rasterize {

  /** A clipped piece routed to one block, (tile_id, left, top, block_row,
    * block_col, geom, value), and a burned block, (tile_id, left, top,
    * block_row, block_col, band_1). */
  private type Piece = (String, Double, Double, Int, Int, Array[Byte], Long)
  private type Block = (String, Double, Double, Int, Int, Array[Long])

  /** The pixel window [px0, px1) × [py0, py1) of `env`'s snap to the
    * lattice, as (px0, px1, py0, py1). */
  private def pixelWindow(env: Envelope, originX: Double, originY: Double,
                          xres: Double, yres: Double): (Int, Int, Int, Int) =
    (math.floor((env.getMinX - originX) / xres).toInt,
     math.ceil((env.getMaxX - originX) / xres).toInt,
     math.floor((originY - env.getMaxY) / yres).toInt,
     math.ceil((originY - env.getMinY) / yres).toInt)

  /** Lazy scanline iterator over the pixels a geometry covers, as (px, py)
    * global pixel indices — NEVER materializes the full cover (a
    * continent-sized feature at a fine zoom covers 10⁸+ pixels). Pixel
    * centres decide coverage (GDAL default ALL_TOUCHED=FALSE).
    * `rowLo`/`rowHi` and `colLo`/`colHi` optionally restrict the scan to a
    * pixel window (a block in [[burnBlocks]]); centres stay on the global
    * lattice, so a window changes which pixels are tested, never how. */
  def pixelCoverIterator(wkb: Array[Byte], originX: Double, originY: Double,
                         xres: Double, yres: Double,
                         rowLo: Int = Int.MinValue, rowHi: Int = Int.MaxValue,
                         colLo: Int = Int.MinValue, colHi: Int = Int.MaxValue)
      : Iterator[(Int, Int)] = {
    val g = GeoFunctions.read(wkb)
    val pf = g.getFactory
    val (px0, px1, py0, py1) = pixelWindow(g.getEnvelopeInternal, originX, originY, xres, yres)
    val prepared = PreparedGeometryFactory.prepare(g)
    for {
      py <- Iterator.range(math.max(py0, rowLo), math.min(py1, rowHi))
      cy = originY - (py + 0.5) * yres
      px <- Iterator.range(math.max(px0, colLo), math.min(px1, colHi))
      cx = originX + (px + 0.5) * xres
      if prepared.covers(pf.createPoint(new Coordinate(cx, cy)))
    } yield (px, py)
  }

  /** pieces(tile_id, left, top, geom: WKB clipped to its tile, value:
    * long) → blocks(tile_id, left, top, block_row, block_col, band_1:
    * `block²` longs, row-major), one row per (tile, block) that burns at
    * least one pixel (F5); the rest of the block holds `noData`.
    *
    * Burn modes: `count` (A1) adds 1 per covering piece; otherwise (A2)
    * the ordered burn keeps the max value when `ascending`
    * (ORDER BY asc + last-write-wins), else the min
    * (`vector_src_tile.py:67-74,142-147`).
    *
    * The exchange's partition count is explicit: its rows are small
    * geometries, which AQE's advisory size would coalesce into one task. */
  def burnBlocks(pieces: DataFrame, originX: Double, originY: Double,
                 xres: Double, yres: Double, tilePx: Int, block: Int, noData: Long,
                 count: Boolean, ascending: Boolean): DataFrame = {
    val spark = pieces.sparkSession
    import spark.implicits._
    // the tile's first global pixel column / row (tiles lie on the lattice)
    def col0(left: Double): Int = math.round((left - originX) / xres).toInt
    def row0(top: Double): Int = math.round((originY - top) / yres).toInt
    // the blocks of a tile starting at global pixel t0 that [lo, hi) touches
    def blocks(lo: Int, hi: Int, t0: Int): Range = {
      val a = math.max(lo, t0) - t0
      val b = math.min(hi, t0 + tilePx) - t0
      if (a < b) (a / block) to ((b - 1) / block) else Range(0, 0)
    }
    val combine: (Long, Long) => Long =
      if (count) (acc, _) => acc + 1
      else if (ascending) math.max
      else math.min

    /** Burns the run of pieces keyed like `it.head`; None if none covers a
      * pixel centre of the block. */
    def burnRun(it: BufferedIterator[Piece]): Option[Block] = {
      val (id, left, top, br, bc, _, _) = it.head
      val r0 = row0(top) + br * block
      val c0 = col0(left) + bc * block
      val arr = new Array[Long](block * block)
      java.util.Arrays.fill(arr, noData)
      val hit = new java.util.BitSet(block * block)
      while (it.hasNext && it.head._1 == id && it.head._4 == br && it.head._5 == bc) {
        val (_, _, _, _, _, wkb, value) = it.next()
        val first = if (count) 1L else value
        pixelCoverIterator(wkb, originX, originY, xres, yres,
            rowLo = r0, rowHi = r0 + block, colLo = c0, colHi = c0 + block)
          .foreach { case (px, py) =>
            val i = (py - r0) * block + (px - c0)
            arr(i) = if (hit.get(i)) combine(arr(i), value) else first
            hit.set(i)
          }
      }
      if (hit.isEmpty) None else Some((id, left, top, br, bc, arr))
    }

    pieces.select(col("tile_id"), col("left"), col("top"), col("geom"), col("value").cast("long"))
      .as[(String, Double, Double, Array[Byte], Long)]
      .flatMap { case (id, left, top, wkb, value) =>
        val (px0, px1, py0, py1) = pixelWindow(
          GeoFunctions.read(wkb).getEnvelopeInternal, originX, originY, xres, yres)
        for (br <- blocks(py0, py1, row0(top)); bc <- blocks(px0, px1, col0(left)))
          yield (id, left, top, br, bc, wkb, value)
      }
      .toDF("tile_id", "left", "top", "block_row", "block_col", "geom", "value")
      .repartition(graft.core.Partitions.sessionParallelism(spark),
        col("tile_id"), col("block_row"), col("block_col"))
      .sortWithinPartitions("tile_id", "block_row", "block_col")
      .as[Piece]
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[Option[Block]] {
          override def hasNext: Boolean = it.hasNext
          override def next() = burnRun(it)
        }.flatten
      }
      .toDF("tile_id", "left", "top", "block_row", "block_col", "band_1")
  }
}
