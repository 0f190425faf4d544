package graft.plans

import graft.core.LayerSpec
import graft.core.grid.{Bounds, Grid}
import graft.functions.{GeoFunctions, GeomUnionAgg}
import graft.operators.Raster
import graft.operators.Raster.BandStats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.Geometry
import scala.jdk.CollectionConverters._

/** The raster layer job — the Spark re-expression of the pixetl CLI
  * lifecycle (SURVEY §3.1). All of the reference's process boundaries
  * (parallelpipe stages, per-window forks, GDAL subprocesses) collapse into
  * ONE lazy DataFrame program, from the work list to the output blocks:
  *
  *   subset filter (F1) → source-intersect tiles (F2/J1) → existing
  *   anti-join (F3/J6) → file assignment (J2) — all four on the driver, from
  *   each footprint's lattice candidates ([[Grid.tilesTouching]]) → block
  *   expansion → block read (S5, pluggable reader) → mosaic coalesce (J3) →
  *   band zip (J4) → calc (P1) → cast/fill (P2) → empty-block filter (F5).
  *
  * A publish (`Pixetl.run`) sinks the blocks as tiles
  * ([[graft.sources.GeoTiffSpark.writeTiles]], which also folds each
  * tile's A3 stats), then [[writeTilesGeojson]] derives the manifest (K3),
  * extent (A6) and status tally (A8) from the sink's per-tile rows.
  *
  * Scale design: no job enumerates the grid. The source catalog is
  * collected once on the driver ([[prioritize]]); priority, the layer
  * geometry, the (tile, source) work list and its single-source probe come
  * from its rows, and the work list enters Spark as a local relation. The
  * only shuffles before the sink are the spread of the block work list
  * (narrow descriptors, no pixels) and, when some (tile, band) has more
  * than one source, the block groupBy for mosaic overlap — keyed (tile,
  * band, block), map-side combined.
  */
object LayerJob {

  /** A block reader turns (tile_id, band, block_row, block_col, width,
    * height, uri, priority) work rows into pixel rows (+values, +valid).
    * Production: [[graft.sources.GeoTiffSpark.reader]] for sources on the
    * grid's block lattice, [[graft.sources.WarpReader.reader]] otherwise;
    * tests and perfbench's calc kernel leg: Raster.synthesizeBand. */
  type BlockReader = DataFrame => DataFrame

  /** The plan-side tile counts of a publish, no pixels: |seed|, the tiles
    * after the subset filter (F1); |withSource|, those a source covers (F2);
    * |pending|, those left to build (F3) — the rest of `withSource` is
    * already published and skipped. A pending tile that yields no pixels is
    * tallied as `emptyStatus`. */
  final case class Tiles(seed: Long, withSource: Long, pending: Long, emptyStatus: String)

  /** F1: the tiles a run may touch — every tile of `grid` (None), or the
    * distinct ids of `subset` that name one; an id off the grid or
    * malformed selects nothing. */
  private[plans] def seedOf(grid: Grid, subset: Option[Seq[String]]): Option[Set[String]] =
    subset.map(_.filter(id => scala.util.Try(
      grid.tilesTouching(grid.tileBounds(id)).contains(id)).getOrElse(false)).toSet)

  /** `g`'s lattice candidates within `seed`, each with its bounds and its
    * envelope, both from `tileBounds` (the doubles of `tilesDF`). */
  private[plans] def candidates(grid: Grid, seed: Option[Set[String]],
                                g: Geometry): Iterator[(String, Bounds, Geometry)] = {
    val e = g.getEnvelopeInternal
    grid.tilesTouching(Bounds(e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
      .filter(id => seed.forall(_(id))).map { id =>
        val b = grid.tileBounds(id)
        (id, b, GeoFunctions.envelope(b.left, b.bottom, b.right, b.top))
      }
  }

  /** A layer job's plan (raster here, vector in [[VectorJob]]): the
    * output pixel `blocks` (post calc/fill, empty blocks dropped) and the
    * plan-side [[Tiles]]. A publish sinks the blocks
    * ([[graft.sources.GeoTiffSpark.writeTiles]]) and derives manifests,
    * extent and status from the sink's rows ([[writeTilesGeojson]]). */
  final case class Result(blocks: DataFrame, tiles: Tiles)

  /** The plan of `spec` over `catalog` read through `reader`. Its tile sets
    * are planned on the driver from each footprint's lattice candidates
    * ([[Grid.tilesTouching]]): the driver holds one entry per candidate
    * (tile, source) pair — about the tiles published, which [[derive]]
    * streams through the driver anyway — never one per tile of the world.
    * `existing`, a listing of published tiles, is collected. */
  def run(spark: SparkSession, spec: LayerSpec, catalog: DataFrame,
          reader: BlockReader, subset: Option[Seq[String]] = None,
          existing: Option[DataFrame] = None, overwrite: Boolean = false): Result = {
    import spark.implicits._
    val grid = spec.gridDef
    // the catalog, collected once: free for a local relation
    val sources = prioritize(catalog)
    val seed = seedOf(grid, subset)

    // F2/J1: the seed tiles whose interior intersects `g`'s — the
    // interiors-intersect test of raster_src_tile.py:155-161
    def tilesUnder(g: Geometry): Seq[String] = candidates(grid, seed, g)
      .collect { case (id, _, t) if GeoFunctions.intersectsInterior(t, g) => id }.toSeq
    val pairs = sources.flatMap(s => tilesUnder(GeoFunctions.read(s.footprint)).map(_ -> s))

    // the tiles of the LAYER geometry: the union (union_bands=true) or
    // polygonal INTERSECTION (the reference default) of the per-band
    // footprint unions (layers.py:239-258, utils/utils.py:187-225); single
    // band and union shortcut to the tiles of any footprint (same result)
    val inBandCount = spec.sourceUri.map(_.length).getOrElse(1)
    val withSource =
      if (spec.unionBands || inBandCount == 1) pairs.map(_._1).distinct
      else {
        val bandGeoms = sources.groupBy(_.band).values
          .map(ss => GeomUnionAgg.unionAll(ss.map(s => GeoFunctions.read(s.footprint))))
        require(bandGeoms.nonEmpty, "Input bands do not overlap") // empty catalog
        val layerGeom = bandGeoms.reduce(GeoFunctions.intersectionPolygonal)
        require(!layerGeom.isEmpty, "Input bands do not overlap") // layers.py:255-257
        tilesUnder(layerGeom)
      }

    // F3/J6: skip already-materialized tiles unless overwrite
    val done = existing.filter(_ => !overwrite)
      .fold(Set.empty[String])(_.select("tile_id").as[String].collect().toSet)
    val pending = withSource.filterNot(done)

    // J2: file assignment — which files feed which pending tile, per band
    val isPending = pending.toSet
    val work = pairs.filter(p => isPending(p._1)).distinctBy { case (id, s) => (id, s.uri, s.band) }

    // --- blocks: expand, read, mosaic, zip ------------------------------
    // Spread the block grid across the session's full parallelism BEFORE
    // the read: the exploded work list inherits the local relation's
    // partitions, so a 2-tile subset job would otherwise read + compute its
    // ~200 Mpx on TWO cores (measured r15 — the bench pipeline ran at 2/32
    // occupancy). The shuffled rows are narrow work descriptors (ids +
    // uri), not pixels.
    val blockWork = Raster.tilesToBlocks(work.map { case (id, s) =>
        val b = grid.tileBounds(id)
        (id, b.left, b.bottom, b.right, b.top, s.uri, s.band, s.fileBand, s.priority)
      }.toDF("tile_id", "left", "bottom", "right", "top", "uri", "band", "file_band", "priority"),
      grid)
      .repartition(graft.core.Partitions.sessionParallelism(spark))
    val readBlocks = reader(blockWork)

    // J3: mosaic overlap — per pixel, the first layer in priority order
    // whose VALID bit is set wins (VRT order semantics of
    // utils/gdal.py:56-95). Readers emit non-null value arrays with nodata
    // signaled only in `valid`, so invalid pixels are nulled out BEFORE the
    // fold — a nodata hole in the top file falls through to lower files
    // instead of leaking its sentinel as real data.
    //
    // SINGLE-SOURCE BYPASS: when no (tile, band) of the plan-time work
    // assignment sees more than one source, every block has exactly one
    // (uri, priority) row and the overlay is the identity. The groupBy
    // would shuffle EVERY pixel array just to wrap and unwrap it — at
    // 100 TB that is the single largest avoidable exchange of the job —
    // and the downstream calc re-derives the masking from `valid`, so the
    // pre-fold null-out is unnecessary too: the whole pixel plane stays
    // NARROW from read to sink. Keyed per (tile, band), NOT per band
    // (ADVICE r15): the common tiled layout — many non-overlapping uris
    // per band, one per tile — has catalog-wide counts ≫ 1 but exactly one
    // layer per block, and must bypass. The driver's work list answers it
    // exactly, with no Spark job.
    val multiSource = work.groupBy { case (id, s) => (id, s.band) }.values.exists(_.size > 1)
    val mosaicked = if (!multiSource) {
      readBlocks.select(col("tile_id"), col("band"), col("block_row"),
        col("block_col"), col("width"), col("height"), col("values"), col("valid"))
    } else {
      val masked = readBlocks.withColumn("values",
        Raster.maskValues(col("values"), col("valid")))
      masked
        .groupBy("tile_id", "band", "block_row", "block_col", "width", "height")
        .agg(sort_array(collect_list(struct(col("priority"), col("values"), col("valid"))))
          .as("layers"))
        // primitive overlay fold (graft.functions.MosaicFold): first
        // non-null value per pixel in priority order + 3VL OR of validity,
        // one pass over the layer list, both arrays built together
        .withColumn("__m", graft.functions.BlockKernels.mosaicFold(col("layers")))
        .withColumn("values", col("__m")("values"))
        .withColumn("valid", col("__m")("valid"))
        .drop("layers", "__m")
    }

    // J4: band alignment zip — full outer join across bands on the block
    // key; a band with no coverage of a block contributes all-masked
    // pixels (K4 padding), which the calc masks as the reference's
    // masked-array calc does. One band needs no zip and no padding.
    val key = Seq("tile_id", "block_row", "block_col", "width", "height")
    val perBand = (1 to inBandCount).map { b =>
      mosaicked.filter(col("band") === b)
        .select(key.map(col) :+ col("values").as(s"v$b") :+ col("valid").as(s"k$b"): _*)
    }
    val zipped = if (inBandCount == 1) perBand.head else {
      val px = col("width") * col("height")
      perBand.reduce((l, r) => l.join(r, key, "full_outer"))
        .select(key.map(col) ++ (1 to inBandCount).flatMap(b => Seq(
          coalesce(col(s"v$b"), array_repeat(lit(0.0), px)).as(s"v$b"),
          coalesce(col(s"k$b"), array_repeat(lit(false), px)).as(s"k$b"))): _*)
    }

    // P1 + P2 in ONE kernel pass per band: calc over band arrays (defaults
    // to identity on band A) with the cast + nodata fill fused into the
    // same per-pixel formula — the intermediate calc-typed array never
    // materializes (it was a full block write + read per band).
    val calcExpr = spec.calc.getOrElse("A")
    val bandVals = (1 to inBandCount).map(b => col(s"v$b"))
    val bandOks  = (1 to inBandCount).map(b => col(s"k$b"))
    val pt = spec.pixelType
    val outBands = Raster.blockCalcThen(calcExpr, bandVals, bandOks) { v =>
      (pt.noData match {
        case Some(nd) => coalesce(v, lit(nd))
        case None     => v
      }).cast(pt.sparkType.simpleString)
    }
    require(outBands.length == spec.bandCount,
      s"calc produced ${outBands.length} bands, spec declares ${spec.bandCount} (array_utils.py:74-80)")
    val outCols = outBands.zipWithIndex.map { case (b, i) => b.as(s"band_${i + 1}") }
    val computed = zipped.select(key.map(col) ++ outCols: _*)

    // F5/F6: drop empty blocks (null-only arrays)
    val nonEmptyBare = pt.noData match {
      case Some(_) => computed // filled blocks always have data
      case None => computed.filter(
        (1 to spec.bandCount).map(i =>
          size(filter(col(s"band_$i"), _.isNotNull)) > 0).reduce(_ || _))
    }
    // re-attach tile georeferencing for the sink (tiny broadcast join —
    // the bounds were shed before the mosaic shuffle to keep rows narrow)
    val nonEmpty = nonEmptyBare.join(broadcast(pending.map { id =>
      val b = grid.tileBounds(id); (id, b.left, b.bottom, b.right, b.top)
    }.toDF("tile_id", "left", "bottom", "right", "top")), "tile_id")

    Result(nonEmpty, Tiles(seed.fold(grid.numTiles)(_.size.toLong), withSource.size,
      pending.size, "skipped (has no data)"))
  }

  /** One catalog source as the joins see it: its GLOBAL `band` (A, B, C…),
    * `fileBand` inside the file (J4, layers.py:171-237) and its J3
    * `priority` within the band (1 wins). */
  private[plans] final case class Source(uri: String, band: Int, fileBand: Int,
                                         footprint: Array[Byte], priority: Int)

  /** J2 file assignment from ONE collect of `catalog` (`uri`, `band`,
    * `footprint`; optional `file_band` and `manifest_idx`). Priority =
    * manifest order (layers.py:196-228) under gdalbuildvrt overlay
    * semantics (utils/gdal.py:56-95): the LAST-listed file per band gets
    * rank 1 and wins the J3 fold. Without a `manifest_idx` (tiles.geojson
    * feature order), (band, uri) order stands in for it. */
  private[plans] def prioritize(catalog: DataFrame): Seq[Source] = {
    import catalog.sparkSession.implicits._
    def opt(c: String, default: Column): Column =
      if (catalog.columns.contains(c)) col(c) else default
    val rows = catalog.select(col("uri"), col("band"), opt("file_band", col("band")),
        col("footprint"), opt("manifest_idx", lit(0L)).cast("long"))
      .as[(String, Int, Int, Array[Byte], Long)].collect().toSeq
    val ordered =
      if (catalog.columns.contains("manifest_idx")) rows
      else rows.sortBy(r => (r._2, r._1)).zipWithIndex.map { case (r, i) => r.copy(_5 = i + 1L) }
    ordered.groupBy(_._2).toSeq.sortBy(_._1).flatMap { case (_, band) =>
      band.sortBy(-_._5).zipWithIndex.map { case ((u, b, fb, fp, _), i) => Source(u, b, fb, fp, i + 1) }
    }
  }

  /** One processed tile as [[derive]] hands it on: its K3 manifest fields
    * and its A3 stats (band order). */
  final case class Published(tileId: String, bounds: Bounds, uri: String,
                             stats: Seq[BandStats]) {
    def footprint: Geometry =
      GeoFunctions.envelope(bounds.left, bounds.bottom, bounds.right, bounds.top)
    def geometry: String = GeoFunctions.toGeoJson(footprint)
  }

  /** Tiles per partition of [[derive]]'s pass: the driver holds at most
    * this many (tile_id, stats) rows at a time. */
  private[plans] val PassTiles = 1L << 20

  /** Footprints buffered per union step of the extent fold. */
  private val UnionBatch = 4096

  /** The one derivation of what a publish reports beside its tiles, from
    * `processed`, the tile sink's rows: one row per tile with `tile_id`
    * and `stats` (finalized per-band [[BandStats]]). One Spark job: a pass
    * over `processed` in tile_id order, which hands each tile to `onTile`
    * (K3 manifest, A3 stats), folds the A6 extent — the union of the tile
    * footprints, [[GeomUnionAgg.unionAll]] over batches — and counts the
    * processed tiles. The pass streams: the driver holds one partition of
    * at most `passTiles` rows ([[PassTiles]] in a publish) at a time.
    *
    * Returns the extent's GeoJSON geometry (None when nothing was
    * processed) and the A8 status tally (status, count; pipe.py:137-168,
    * skip reasons raster_pipe.py:62-81). The tally comes from the pass's
    * count and the plan's [[Tiles]]: processed; empty = |pending| −
    * processed; does-not-intersect = |seed| − |withSource|; existing =
    * |withSource| − |pending|. Zero
    * tallies are omitted and the rest sorted by status. */
  private[plans] def derive(spec: LayerSpec, tiles: Tiles, processed: DataFrame,
                            passTiles: Long)
                           (onTile: Published => Unit): (Option[String], Seq[(String, Long)]) = {
    val spark = processed.sparkSession
    import spark.implicits._
    val Tiles(seed, withSource, pending, _) = tiles
    val parts = ((pending + passTiles - 1) / passTiles).toInt
    val rows = processed.select("tile_id", "stats")
    val ordered =
      if (parts <= 1) rows.coalesce(1) else rows.repartitionByRange(parts, col("tile_id"))
    val grid = spec.gridDef
    val prefix = spec.prefix()
    var extent: Geometry = null
    val batch = scala.collection.mutable.ArrayBuffer.empty[Geometry]
    def union(): Unit = {
      extent = GeomUnionAgg.unionAll(Option(extent).toSeq ++ batch)
      batch.clear()
    }
    var n = 0L
    val it = ordered.sortWithinPartitions("tile_id")
      .as[(String, Seq[BandStats])].toLocalIterator()
    while (it.hasNext) {
      val (id, stats) = it.next()
      val t = Published(id, grid.tileBounds(id), s"$prefix/$id.tif", stats)
      onTile(t)
      batch += t.footprint
      if (batch.size == UnionBatch) union()
      n += 1
    }
    if (batch.nonEmpty) union()
    val status = Seq("processed" -> n, tiles.emptyStatus -> (pending - n),
        "skipped (does not intersect)" -> (seed - withSource),
        "existing" -> (withSource - pending))
      .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0).toSeq.sorted
    (Option(extent).map(GeoFunctions.toGeoJson), status)
  }

  /** One tiles.geojson feature (K3): footprint, dst uri and, when given,
    * each band's stats in the reference's `Metadata.bands` shape
    * (`models/pydantic.py:81-114`), NaN-sanitized like
    * `utils/geometry.py:51-59`. */
  private[graft] def feature(geometry: String, uri: String,
                             bands: Option[Seq[(Int, BandStats)]]): String = {
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
    val props = bands.fold("")(_.map { case (b, s) =>
      s"""{"band":$b,"min":${num(s.min)},"max":${num(s.max)},"mean":${num(s.mean)},""" +
        s""""std_dev":${num(s.std)},"count":${s.n}}"""
    }.mkString(""","bands":[""", ",", "]"))
    s"""{"type":"Feature","geometry":$geometry,"properties":{"name":"$uri"$props}}"""
  }

  /** A UTF-8 writer creating (or replacing) the file at `path` through its
    * Hadoop file system: a bare path is local, a scheme-qualified one
    * (`file://`, `s3a://`) goes to its scheme, parents are created. */
  private[graft] def createText(spark: SparkSession, path: String): java.io.Writer = {
    val hp = new org.apache.hadoop.fs.Path(
      if (path.contains("://")) path
      else java.nio.file.Paths.get(path).toAbsolutePath.toString)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false) // no .crc droppings next to manifests
    new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(fs.create(hp, true), "UTF-8"), 1 << 20)
  }

  /** A FeatureCollection streamed to the file at `path` ([[createText]]):
    * `body` emits its features. */
  private[graft] def writeCollection[T](spark: SparkSession, path: String)
                                       (body: (String => Unit) => T): T = {
    val out = createText(spark, path)
    try {
      out.write("{\"type\":\"FeatureCollection\",\"features\":[")
      var first = true
      val result = body { f =>
        if (!first) out.write(",")
        out.write(f)
        first = false
      }
      out.write("]}")
      result
    } finally out.close()
  }

  /** A publish's K3 sink: [[derive]] over the tile sink's rows, streaming
    * each processed tile's feature into tiles.geojson at `path` — with
    * its per-band stats when the spec computes them. Returns derive's
    * (extent, status). */
  def writeTilesGeojson(spec: LayerSpec, tiles: Tiles, processed: DataFrame,
                        path: String): (Option[String], Seq[(String, Long)]) =
    writeTilesGeojson(spec, tiles, processed, path, PassTiles)

  /** [[writeTilesGeojson]] with [[derive]]'s pass size. */
  private[plans] def writeTilesGeojson(spec: LayerSpec, tiles: Tiles, processed: DataFrame,
                                       path: String, passTiles: Long)
      : (Option[String], Seq[(String, Long)]) =
    writeCollection(processed.sparkSession, path) { emit =>
      derive(spec, tiles, processed, passTiles) { t =>
        emit(feature(t.geometry, t.uri,
          if (spec.computeStats) Some(t.stats.zipWithIndex.map { case (s, i) => (i + 1, s) })
          else None))
      }
    }

  /** K3 sink for a manifest frame (`tile_id`, `uri`, `geometry`): one
    * feature per row in tile_id order, without stats, streamed to the
    * file via `toLocalIterator` — one partition of driver memory, so a
    * zoom-22 manifest (268 M tiles) writes without materializing. */
  def writeTilesGeojson(manifest: DataFrame, path: String): Unit =
    writeCollection(manifest.sparkSession, path) { emit =>
      manifest.orderBy("tile_id").select("geometry", "uri").toLocalIterator().asScala
        .foreach(r => emit(feature(r.getString(0), r.getString(1), None)))
    }

  /** extent.geojson: one feature whose geometry is [[derive]]'s extent
    * (null when nothing was processed). */
  def renderExtentGeojson(extent: Option[String]): String =
    s"""{"type":"FeatureCollection","features":[{"type":"Feature","geometry":${extent.getOrElse("null")},"properties":{}}]}"""
}
