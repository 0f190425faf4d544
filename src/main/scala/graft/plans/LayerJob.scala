package graft.plans

import graft.core.LayerSpec
import graft.core.grid.Bounds
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
  * ONE lazy DataFrame program, from the tile seed to the output blocks:
  *
  *   tiles seed (S1) → subset filter (F1) → source-intersect semi-join (F2/J1,
  *   catalog broadcast) → existing anti-join (F3/J6) → file assignment (J2) →
  *   block expansion → block read (S5, pluggable reader) → mosaic coalesce
  *   (J3) → band zip (J4) → calc (P1) → cast/fill (P2) → empty-block filter
  *   (F5).
  *
  * A publish (`Pixetl.run`) sinks the blocks as tiles
  * ([[graft.sources.GeoTiffSpark.writeTiles]], which also folds each
  * tile's A3 stats), then [[writeTilesGeojson]] derives the manifest (K3),
  * extent (A6) and status tally (A8) from the sink's per-tile rows.
  *
  * Scale design: everything partitions by tile_id from the seed on; the
  * only shuffles before the sink are the spread of the block work list
  * (narrow descriptors, no pixels) and, when some (tile, band) has more
  * than one source, the block groupBy for mosaic overlap — keyed (tile,
  * band, block), map-side combined. The source catalog is collected once
  * on the driver ([[prioritize]]); priority, per-band uri counts and the
  * layer geometry come from its rows, and it joins the tiles as a
  * broadcast local relation.
  */
object LayerJob {

  /** A block reader turns (tile_id, band, block_row, block_col, width,
    * height, uri, priority) work rows into pixel rows (+values, +valid).
    * Production: [[graft.sources.GeoTiffSpark.reader]] for sources on the
    * grid's block lattice, [[graft.sources.WarpReader.reader]] otherwise;
    * tests and perfbench's calc kernel leg: Raster.synthesizeBand. */
  type BlockReader = DataFrame => DataFrame

  /** The plan-side tile sets of a publish — footprint joins, no pixels:
    * the seed after the subset filter (F1), the tiles a source covers (F2),
    * and the tiles left to build (F3); the rest of `withSource` is already
    * published and skipped. A pending tile that yields no pixels is
    * tallied as `emptyStatus`. */
  final case class Tiles(seed: DataFrame, withSource: DataFrame, pending: DataFrame,
                         emptyStatus: String)

  /** A layer job's plan (raster here, vector in [[VectorJob]]): the
    * output pixel `blocks` (post calc/fill, empty blocks dropped) and the
    * plan-side [[Tiles]]. A publish sinks the blocks
    * ([[graft.sources.GeoTiffSpark.writeTiles]]) and derives manifests,
    * extent and status from the sink's rows ([[writeTilesGeojson]]). */
  final case class Result(blocks: DataFrame, tiles: Tiles)

  /** The plan of `spec` over `catalog` read through `reader`. It pins
    * nothing: a caller that consumes the tile sets more than once pins
    * `withSource` and `pending` itself (`Pixetl.run`). */
  def run(spark: SparkSession, spec: LayerSpec, catalog: DataFrame,
          reader: BlockReader, subset: Option[Seq[String]] = None,
          existing: Option[DataFrame] = None, overwrite: Boolean = false): Result = {
    import spark.implicits._
    val grid = spec.gridDef
    // the catalog, collected once: free for a local relation
    val sources = prioritize(catalog)

    // --- plan: tiles after F1/F2/F3 -------------------------------------
    val seed = grid.tilesDF(spark)
    val subsetted = subset.fold(seed)(ids => seed.filter(col("tile_id").isin(ids: _*)))

    // F2/J1: keep tiles whose interior intersects the LAYER geometry —
    // the union (union_bands=true) or polygonal INTERSECTION (the
    // reference default) of the per-band footprint unions
    // (layers.py:239-258, utils/utils.py:187-225). Single-band layers and
    // union semantics shortcut to the any-footprint broadcast semi-join
    // (identical result, no geometry fold); the predicate is the
    // interiors-intersect test of raster_src_tile.py:155-161.
    val tileEnv = GeoFunctions.st_makeEnvelope(col("left"), col("bottom"), col("right"), col("top"))
    val inBandCount = spec.sourceUri.map(_.length).getOrElse(1)
    val withSource =
      if (spec.unionBands || inBandCount == 1)
        subsetted.join(broadcast(sources.map(_.footprint).toDF("src_fp")),
          GeoFunctions.st_intersectsInterior(tileEnv, col("src_fp")), "left_semi")
      else {
        val bandGeoms = sources.groupBy(_.band).values
          .map(ss => GeomUnionAgg.unionAll(ss.map(s => GeoFunctions.read(s.footprint))))
        require(bandGeoms.nonEmpty, "Input bands do not overlap") // empty catalog
        val layerGeom = bandGeoms.reduce(GeoFunctions.intersectionPolygonal)
        require(!layerGeom.isEmpty, "Input bands do not overlap") // layers.py:255-257
        subsetted.filter(
          GeoFunctions.st_intersectsInterior(tileEnv, lit(GeoFunctions.write(layerGeom))))
      }

    // F3/J6: skip already-materialized tiles unless overwrite
    val pending = existing match {
      case Some(ex) if !overwrite => withSource.join(broadcast(ex), Seq("tile_id"), "left_anti")
      case _ => withSource
    }

    // J2: file assignment — which files feed which tile, per band
    val prioritized = sources
      .map(s => (s.uri, s.band, s.fileBand, s.footprint, s.priority))
      .toDF("uri", "band", "file_band", "footprint", "priority")
    val work = pending.join(broadcast(prioritized),
      GeoFunctions.st_intersectsInterior(tileEnv, col("footprint")))

    // --- blocks: expand, read, mosaic, zip ------------------------------
    // Spread the block grid across the session's full parallelism BEFORE
    // the read: the exploded work list inherits the tile seed's partition
    // count, so a 2-tile subset job would otherwise read + compute its
    // ~200 Mpx on TWO cores (measured r15 — the bench pipeline ran at 2/32
    // occupancy). The shuffled rows are narrow work descriptors (ids +
    // uri), not pixels.
    val blockWork = Raster.tilesToBlocks(
      work.select("tile_id", "left", "bottom", "right", "top", "uri", "band",
          "file_band", "priority")
        .dropDuplicates("tile_id", "uri", "band"), grid)
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
    // layer per block, and must bypass. TWO-TIER probe (VERDICT r16 #2):
    // a band with ≤1 uri catalog-wide can never overlay, so the collected
    // catalog's per-band uri count settles the common single-source case
    // outright; only multi-uri bands escalate to the exact per-(tile,band)
    // probe over the tile⋈catalog join (ids only, no pixels). Run
    // unconditionally, that exact probe's extra Spark job doubled the
    // bench pipeline's build constant (the r15→r16 drift).
    val multiUri = sources.groupBy(_.band)
      .collect { case (b, ss) if ss.map(_.uri).distinct.size > 1 => b }.toSeq
    val multiSource = multiUri.nonEmpty &&
      work.filter(col("band").isin(multiUri: _*))
        .groupBy(col("tile_id"), col("band"))
        .agg(countDistinct(col("uri")).as("n"))
        .filter(col("n") > 1).limit(1).count() > 0
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
    val nonEmpty = nonEmptyBare.join(
      broadcast(pending.select("tile_id", "left", "bottom", "right", "top")), "tile_id")

    Result(nonEmpty, Tiles(subsetted, withSource, pending, "skipped (has no data)"))
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
    * and `stats` (finalized per-band [[BandStats]]). Two Spark jobs:
    *  - one count over the plan-side [[Tiles]] ([[tileCounts]]);
    *  - one pass over `processed` in tile_id order, which hands each tile
    *    to `onTile` (K3 manifest, A3 stats), folds the A6 extent — the
    *    union of the tile footprints, [[GeomUnionAgg.unionAll]] over
    *    batches — and counts the processed tiles. The pass streams: the
    *    driver holds one partition of at most `passTiles` rows
    *    ([[PassTiles]] in a publish) at a time.
    *
    * Returns the extent's GeoJSON geometry (None when nothing was
    * processed) and the A8 status tally (status, count; pipe.py:137-168,
    * skip reasons raster_pipe.py:62-81). The tally comes from counts:
    * processed; empty = |pending| − processed; does-not-intersect =
    * |seed| − |withSource|; existing = |withSource| − |pending|. Zero
    * tallies are omitted and the rest sorted by status. */
  private[plans] def derive(spec: LayerSpec, tiles: Tiles, processed: DataFrame,
                            passTiles: Long)
                           (onTile: Published => Unit): (Option[String], Seq[(String, Long)]) = {
    val spark = processed.sparkSession
    import spark.implicits._
    val (seed, withSource, pending) = tileCounts(tiles)
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

  /** |seed|, |withSource| and |pending| of a publish in ONE Spark job: an
    * RDD aggregate over the union of the tagged sets, so no exchange or
    * query stage of its own (the raster sets are pinned, and the sink has
    * already materialized them). A relation passed as more than one set
    * (vector passes the seed for all three) is counted once. */
  private def tileCounts(t: Tiles): (Long, Long, Long) = {
    val spark = t.seed.sparkSession
    import spark.implicits._
    val all = Seq(t.seed, t.withSource, t.pending)
    val sets = all.foldLeft(Vector.empty[DataFrame])((s, df) => if (s.exists(_ eq df)) s else s :+ df)
    val n = sets.zipWithIndex.map { case (df, i) => df.select(lit(i).as("set")) }
      .reduce(_ union _).as[Int].rdd
      .aggregate(new Array[Long](sets.size))((acc, i) => { acc(i) += 1; acc },
        (a, b) => { for (i <- a.indices) a(i) += b(i); a })
    val Seq(seed, withSource, pending) = all.map(df => n(sets.indexWhere(_ eq df)))
    (seed, withSource, pending)
  }

  /** One tiles.geojson feature (K3): footprint, dst uri and, when given,
    * each band's stats in the reference's `Metadata.bands` shape
    * (`models/pydantic.py:81-114`), NaN-sanitized like
    * `utils/geometry.py:51-59`. */
  private def feature(geometry: String, uri: String,
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
  private def writeCollection[T](spark: SparkSession, path: String)
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
