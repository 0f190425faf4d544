package graft

import graft.core.LayerSpec
import graft.functions.GeoFunctions
import graft.plans.LayerJob
import graft.sources.{Catalog, GeoTiff, GeoTiffSpark, WarpReader}
import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import scala.jdk.CollectionConverters._

/** Local files under the `onepass://` scheme, counting every open and
  * every byte read through it. */
class CountingFileSystem extends RawLocalFileSystem {
  private var uri: URI = _
  override def initialize(name: URI, conf: Configuration): Unit = {
    uri = URI.create(s"${name.getScheme}://${Option(name.getAuthority).getOrElse("")}/")
    super.initialize(name, conf)
  }
  override def getUri: URI = if (uri == null) super.getUri else uri
  override def getScheme: String = CountingFileSystem.Scheme
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    CountingFileSystem.opens.incrementAndGet()
    new FSDataInputStream(new CountingFileSystem.Counted(in))
  }
}

object CountingFileSystem {
  val Scheme = "onepass"
  def uriOf(p: Path): String = s"$Scheme://test${p.toAbsolutePath}"
  val opens = new AtomicLong
  val bytes = new AtomicLong
  /** (opens, bytes read) since the last call. */
  def take(): (Long, Long) = (opens.getAndSet(0), bytes.getAndSet(0))

  final class Counted(in: FSDataInputStream) extends FSInputStream {
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def read(): Int = { val b = in.read(); if (b >= 0) bytes.incrementAndGet(); b }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(buf, off, len); if (n > 0) bytes.addAndGet(n); n
    }
    override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(pos, buf, off, len); if (n > 0) bytes.addAndGet(n); n
    }
    override def close(): Unit = in.close()
  }
}

/** Rows out of every parquet scan the session runs (the scan nodes'
  * "number of output rows" metric). */
final class ParquetScanRows extends SparkListener {
  private val ids = scala.collection.mutable.Set.empty[Long]
  private val values = scala.collection.mutable.Map.empty[Long, Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => scan(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => scan(u.sparkPlanInfo)
      case _ =>
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    for ((id, info) <- sc.stageInfo.accumulables if ids.contains(id); v <- info.value)
      values(id) = math.max(values.getOrElse(id, 0L), v.toString.toLong)
  }

  private def scan(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan parquet"))
      p.metrics.filter(_.name == "number of output rows").foreach(ids += _.accumulatorId)
    p.children.foreach(scan)
  }

  def rows: Long = synchronized(ids.toSeq.flatMap(values.get).sum)
}

/** `Pixetl.run` end to end: the tile sink is the only pass over the pixel
  * plane, and what a publish writes beside its tiles agrees with them. */
class PixetlSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): Path = {
    val d = Paths.get(s"target/tmp/pixetl/$name").toAbsolutePath
    if (Files.exists(d)) org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    Files.createDirectories(d)
  }

  private def names(dir: Path, suffix: String): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(suffix)).toSeq.sorted
    finally s.close()
  }

  /** One uint16 source per 90/256 tile: 90N_180W all 5s, 90N_090W all
    * nodata (0). Returns the source directory. */
  private def halfEmptySources(name: String): Path = {
    val src = fresh(name)
    val grid = graft.core.grid.GridFactory("90/256")
    for ((id, v) <- Seq("90N_180W" -> 5.0, "90N_090W" -> 0.0)) {
      val b = grid.tileBounds(id)
      val w = new GeoTiff.Writer(src.resolve(s"$id.tif").toString, GeoTiff.Profile(
        width = grid.cols, height = grid.rows, bands = 1, dataType = "uint16",
        tileWidth = grid.blockSize, tileHeight = grid.blockSize, noData = Some(0.0),
        epsg = 4326, originX = b.left, originY = b.top, xres = grid.xres, yres = grid.yres))
      w.writeTile(1, 0, 0, Array.fill(grid.blockSize * grid.blockSize)(v))
      w.close()
    }
    src
  }

  private def statsLayer(src: Path, noData: String): LayerSpec = LayerSpec.fromJson(
    s"""{"dataset": "stats", "version": "v1", "source_type": "raster",
       |"pixel_meaning": "x", "data_type": "uint16", "grid": "90/256",$noData
       |"compute_stats": true, "source_uri": ["$src"]}""".stripMargin)

  test("a tile whose blocks are all null gets neither a .tif nor a stats sidecar") {
    // no no_data on the output type: a masked pixel stays null, and a tile
    // with nothing but masked pixels publishes nothing
    val spec = statsLayer(halfEmptySources("orphan/src"), "")
    assert(spec.pixelType.noData.isEmpty)
    val dest = fresh("orphan/dest")
    val status = Pixetl.run(spark, spec, dest.toString, overwrite = false, sub = None).toMap
    assert(status == Map("processed" -> 1L, "skipped (has no data)" -> 1L,
      "skipped (does not intersect)" -> 6L), status)
    val out = dest.resolve(spec.prefix())
    val tifs = names(out, ".tif").map(_.stripSuffix(".tif"))
    val sidecars = names(out, ".tif.aux.xml").map(_.stripSuffix(".tif.aux.xml"))
    assert(tifs == Seq("90N_180W"))
    assert(sidecars == tifs, s"stats sidecars $sidecars, tiles $tifs")
    val stats = GeoTiffSpark.readStatsSidecar(out.resolve("90N_180W.tif.aux.xml").toString)
    assert(stats(1)("STATISTICS_MINIMUM") == 5.0 && stats(1)("STATISTICS_MAXIMUM") == 5.0)
  }

  test("a published all-nodata tile has no statistics, only a 0% valid share") {
    val spec = statsLayer(halfEmptySources("nodata/src"), """ "no_data": 0,""")
    val dest = fresh("nodata/dest")
    val status = Pixetl.run(spark, spec, dest.toString, overwrite = false, sub = None).toMap
    assert(status == Map("processed" -> 2L, "skipped (does not intersect)" -> 6L), status)
    val out = dest.resolve(spec.prefix())
    assert(names(out, ".tif.aux.xml") == Seq("90N_090W.tif.aux.xml", "90N_180W.tif.aux.xml"))
    val empty = GeoTiffSpark.readStatsSidecar(out.resolve("90N_090W.tif.aux.xml").toString)
    assert(empty(1) == Map("STATISTICS_VALID_PERCENT" -> 0.0), empty)
    val manifest = Files.readString(out.resolve("tiles.geojson"))
    assert(manifest.contains(""""bands":[{"band":1,"min":null,"max":null,"mean":null,""" +
      """"std_dev":null,"count":0}]"""), manifest)
  }

  test("a raster publish reads its sources once: harvest + one tile sink") {
    spark.sparkContext.hadoopConfiguration.set(s"fs.${CountingFileSystem.Scheme}.impl",
      classOf[CountingFileSystem].getName)
    // a whole-world EPSG:4326 source warped onto the 1-tile, 4-block zoom_1 grid
    val src = fresh("onepass/src")
    val profile = GeoTiff.Profile(width = 360, height = 180, bands = 1, dataType = "uint16",
      tileWidth = 64, tileHeight = 64, noData = Some(0.0), epsg = 4326,
      originX = -180, originY = 90, xres = 1.0, yres = 1.0)
    val w = new GeoTiff.Writer(src.resolve("world.tif").toString, profile)
    for (tr <- 0 until profile.tilesDown; tc <- 0 until profile.tilesAcross)
      w.writeTile(1, tr, tc, Array.tabulate(64 * 64)(i => (1 + (tr * 64 + i / 64 + tc + i) % 900).toDouble))
    w.close()
    val srcUri = CountingFileSystem.uriOf(src)
    val spec = LayerSpec.fromJson(
      s"""{"dataset": "onepass", "version": "v1", "source_type": "raster",
         |"pixel_meaning": "x", "data_type": "uint16", "no_data": 0, "grid": "zoom_1",
         |"resampling": "bilinear", "calc": "A * 2", "compute_stats": true,
         |"source_uri": ["$srcUri"]}""".stripMargin)

    CountingFileSystem.take()
    val dest = fresh("onepass/dest")
    val status = Pixetl.run(spark, spec, dest.toString, overwrite = false, sub = None).toMap
    val publish = CountingFileSystem.take()
    assert(status == Map("processed" -> 1L))
    assert(names(dest.resolve(spec.prefix()), ".tif.aux.xml").size == 1)

    // the same plan by hand: one harvest, then one writeTiles
    val uris = Catalog.listFolder(spark, srcUri).as[(String, Long)].collect().map(_._1).toSeq
    val harvested = GeoTiffSpark.harvestCatalog(spark, uris)
      .select("uri", "band", "file_band", "footprint").collect()
    val harvest = CountingFileSystem.take()
    val grid = spec.gridDef
    val catalog = Catalog.reprojectFootprints(
      harvested.toSeq.map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getAs[Array[Byte]](3)))
        .toDF("uri", "band", "file_band", "footprint"), "EPSG:4326", grid.crs)
    val reader = WarpReader.reader(grid.xres, grid.yres, grid.blockSize, grid.crs,
      "EPSG:4326", "bilinear")
    val result = LayerJob.run(spark, spec, catalog, reader)
    GeoTiffSpark.writeTiles(result.blocks, spec, fresh("onepass/sink").toString).count()
    val sink = CountingFileSystem.take()
    assert(sink._1 > 0 && sink._2 > 0)
    assert(publish == ((harvest._1 + sink._1, harvest._2 + sink._2)),
      s"publish read (opens, bytes) $publish; harvest $harvest + one sink $sink")
  }

  test("a vector publish scans its features once") {
    val dest = fresh("vector1")
    val polys = Seq(
      GeoFunctions.envelope(-170, 10, -150, 30), GeoFunctions.envelope(-100, -60, 20, 5),
      GeoFunctions.envelope(100, 40, 120, 80))
    polys.zipWithIndex.map { case (g, i) => (GeoFunctions.write(g), i + 1L) }
      .toDF("geom", "value").write.parquet(dest.resolve("features.parquet").toString)
    val spec = LayerSpec.fromJson(
      """{"dataset": "burn", "version": "v1", "source_type": "vector",
        |"pixel_meaning": "is", "data_type": "uint8", "no_data": 0, "grid": "90/256",
        |"rasterize_method": "value"}""".stripMargin)
    val scans = new ParquetScanRows
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(scans)
    try {
      val status = Pixetl.run(spark, spec, dest.toString, overwrite = false, sub = None).toMap
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      assert(status == Map("processed" -> 7L, "skipped (does not intersect)" -> 1L), status)
      assert(scans.rows == polys.size, s"feature rows scanned: ${scans.rows}")
    } finally spark.sparkContext.removeSparkListener(scans)
    val out = dest.resolve(spec.prefix())
    assert(names(out, ".tif").size == 7)
    val manifest = Files.readString(out.resolve("tiles.geojson"))
    assert("\"type\":\"Feature\"".r.findAllMatchIn(manifest).size == 7)
  }

  test("CLI failure text names each cause's class") {
    val e = new org.apache.spark.SparkException("Job aborted",
      new IllegalStateException("tile 10N_010E", new NullPointerException()))
    val text = Pixetl.failure("pixetl", e)
    assert(text.startsWith("pixetl failed: org.apache.spark.SparkException: Job aborted"))
    assert(text.contains("caused by: java.lang.IllegalStateException: tile 10N_010E"))
    assert(text.contains("caused by: java.lang.NullPointerException: null"))
  }
}
