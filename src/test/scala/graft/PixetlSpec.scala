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
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted}
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

/** The session's jobs in start order: the SQL execution id and the call
  * site of the action that started each — the execution's for SQL jobs
  * (which may run on broadcast or AQE threads), the job's own otherwise
  * (an RDD action's, kept in its stages' details). */
final class JobLog extends SparkListener {
  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val started = new java.util.concurrent.ConcurrentLinkedQueue[(Option[Long], String)]()
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId, s.details)
    case _ =>
  }
  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val p = Option(js.properties)
    started.add((p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
      p.flatMap(x => Option(x.getProperty("callSite.long"))).filter(_.nonEmpty)
        .orElse(js.stageInfos.headOption.map(_.details)).getOrElse("")))
  }
  def jobs: Seq[(Option[Long], String)] = started.asScala.toSeq.map { case (e, site) =>
    (e, e.flatMap(id => Option(execSites.get(id))).getOrElse(site))
  }
}

/** `Pixetl.run` end to end: the tile sink is the only pass over the pixel
  * plane, and what a publish writes beside its tiles agrees with them. */
class PixetlSpec extends SparkSpec {
  import PixetlSpec._
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

  test("a file:// dest holds the tiles and both manifests") {
    val spec = statsLayer(halfEmptySources("fileuri/src"), """ "no_data": 0,""")
    val dest = fresh("fileuri/dest")
    Pixetl.run(spark, spec, s"file://$dest", overwrite = false, sub = None)
    val out = dest.resolve(spec.prefix())
    assert(names(out, ".tif") == Seq("90N_090W.tif", "90N_180W.tif"))
    assert(names(out, ".geojson") == Seq("extent.geojson", "tiles.geojson"))
    assert(!Files.exists(Paths.get("file:")), "a relative file: directory in the working dir")
  }

  /** A whole-world EPSG:4326 uint16 source (`world.tif`, 1° pixels) under
    * `name`, served through the counting `onepass://` file system. Returns
    * the folder's uri. */
  private def worldSource(name: String): String = {
    spark.sparkContext.hadoopConfiguration.set(s"fs.${CountingFileSystem.Scheme}.impl",
      classOf[CountingFileSystem].getName)
    val src = fresh(name)
    val profile = GeoTiff.Profile(width = 360, height = 180, bands = 1, dataType = "uint16",
      tileWidth = 64, tileHeight = 64, noData = Some(0.0), epsg = 4326,
      originX = -180, originY = 90, xres = 1.0, yres = 1.0)
    val w = new GeoTiff.Writer(src.resolve("world.tif").toString, profile)
    for (tr <- 0 until profile.tilesDown; tc <- 0 until profile.tilesAcross)
      w.writeTile(1, tr, tc, Array.tabulate(64 * 64)(i => (1 + (tr * 64 + i / 64 + tc + i) % 900).toDouble))
    w.close()
    CountingFileSystem.uriOf(src)
  }

  /** A layer warping `srcUri` onto the 1-tile, 4-block zoom_1 grid. */
  private def warpLayer(srcUri: String, extra: String = ""): LayerSpec = LayerSpec.fromJson(
    s"""{"dataset": "onepass", "version": "v1", "source_type": "raster",
       |"pixel_meaning": "x", "data_type": "uint16", "no_data": 0, "grid": "zoom_1",
       |"resampling": "bilinear", "calc": "A * 2", "compute_stats": true,$extra
       |"source_uri": ["$srcUri"]}""".stripMargin)

  test("a raster publish reads its sources once: harvest + one tile sink") {
    val srcUri = worldSource("onepass/src")
    val spec = warpLayer(srcUri)

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

  test("internal overviews do not re-read the sources") {
    val srcUri = worldSource("ovr/src")
    def opens(name: String, spec: LayerSpec): Long = {
      CountingFileSystem.take()
      Pixetl.run(spark, spec, fresh(name).toString, overwrite = false, sub = None)
      CountingFileSystem.take()._1
    }
    val plain = opens("ovr/plain", warpLayer(srcUri))
    val pyramid = opens("ovr/cog", warpLayer(srcUri, """ "overviews": [2], "cog": true,"""))
    info(s"source opens: $plain plain, $pyramid with overviews")
    assert(plain > 0 && pyramid == plain, s"source opens: $plain plain, $pyramid with overviews")
  }

  /** The jobs a publish of `spec` starts before its tile sink's SQL
    * execution, as (execution id, call site). */
  private def jobsBeforeSink(spec: LayerSpec, dest: Path): Seq[(Option[Long], String)] = {
    val log = new JobLog
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(log)
    try {
      Pixetl.run(spark, spec, dest.toString, overwrite = false, sub = None)
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(log)
    val jobs = log.jobs
    val sink = jobs.indexWhere(_._2.contains("graft.Pixetl$.writeWithPyramid"))
    assert(sink >= 0)
    jobs.take(sink)
  }

  test("a one-band folder publish starts one Spark job before the sink: the harvest") {
    val warp = warpLayer(worldSource("prologue/warp"))
    // one 512x256 source on the 90/256 block lattice: the aligned reader
    val grid = graft.core.grid.GridFactory("90/256")
    val src = fresh("prologue/aligned")
    val w = new GeoTiff.Writer(src.resolve("span.tif").toString, GeoTiff.Profile(
      width = 512, height = 256, bands = 1, dataType = "uint16",
      tileWidth = grid.blockSize, tileHeight = grid.blockSize, noData = Some(0.0),
      epsg = 4326, originX = -180, originY = 90, xres = grid.xres, yres = grid.yres))
    w.writeTile(1, 0, 0, Array.fill(256 * 256)(5.0))
    w.writeTile(1, 0, 1, Array.fill(256 * 256)(7.0))
    w.close()
    val aligned = statsLayer(src, """ "no_data": 0,""")
    for ((name, spec) <- Seq("warp" -> warp, "aligned" -> aligned)) {
      val before = jobsBeforeSink(spec, fresh(s"prologue/$name-dest"))
      info(s"$name prologue: ${before.size} jobs")
      assert(before.size == 1 && before.head._2.contains("graft.sources.GeoTiffSpark$.harvest"),
        s"$name: jobs before the sink:\n" +
          before.map(_._2.linesIterator.take(4).mkString(" | ")).mkString("\n"))
    }
  }

  test("a folder that lists no source fails the plan on every reader path") {
    val empty = fresh("nosrc/src")
    Files.writeString(empty.resolve("readme.txt"), "no rasters here")
    // 90/256 shares the sources' CRS; zoom_1 is a cross-CRS (warp) layer
    for (grid <- Seq("90/256", "zoom_1")) {
      val spec = LayerSpec.fromJson(
        s"""{"dataset": "nosrc", "version": "v1", "source_type": "raster",
           |"pixel_meaning": "x", "data_type": "uint16", "no_data": 0, "grid": "$grid",
           |"source_uri": ["$empty"]}""".stripMargin)
      val e = intercept[IllegalArgumentException](
        Pixetl.run(spark, spec, fresh("nosrc/dest").toString, overwrite = false, sub = None))
      assert(e.getMessage.contains(
        s"no sources found for nosrc/v1: catalog resolved from $empty is empty"), e.getMessage)
    }
  }

  test("an unreadable source fails the publish with its uri") {
    for ((name, bytes) <- Seq("empty" -> Array.emptyByteArray,
        "text" -> "not a tiff at all".getBytes("UTF-8"))) {
      val src = fresh(s"badsrc/$name")
      val bad = src.resolve(s"$name.tif")
      Files.write(bad, bytes)
      val spec = statsLayer(src, """ "no_data": 0,""")
      val e = intercept[Exception](
        Pixetl.run(spark, spec, fresh("badsrc/dest").toString, overwrite = false, sub = None))
      val text = Pixetl.failure("pixetl", e)
      assert(text.contains(s"cannot read source file:$bad"), text)
    }
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

  /** One uint16 90/256 source per tile and band under `name/b<band>`;
    * `value(tile, band)(pixel index)`. Returns the band directories. */
  private def bandSources(name: String, tiles: Seq[String])
                         (value: (String, Int) => Int => Double): Seq[Path] = {
    val grid = graft.core.grid.GridFactory("90/256")
    (1 to 2).map { band =>
      val src = fresh(s"$name/b$band")
      for (id <- tiles) {
        val b = grid.tileBounds(id)
        val w = new GeoTiff.Writer(src.resolve(s"$id.tif").toString, GeoTiff.Profile(
          width = grid.cols, height = grid.rows, bands = 1, dataType = "uint16",
          tileWidth = grid.blockSize, tileHeight = grid.blockSize, noData = Some(0.0),
          epsg = 4326, originX = b.left, originY = b.top, xres = grid.xres, yres = grid.yres))
        w.writeTile(1, 0, 0, Array.tabulate(grid.blockSize * grid.blockSize)(value(id, band)))
        w.close()
      }
      src
    }
  }

  private def twoBandLayer(srcs: Seq[Path]): LayerSpec = LayerSpec.fromJson(
    s"""{"dataset": "two", "version": "v1", "source_type": "raster",
       |"pixel_meaning": "x", "data_type": "uint16", "grid": "90/256",
       |"no_data": 0, "band_count": 2, "calc": "np.ma.array([A, B])",
       |"compute_stats": true,
       |"source_uri": [${srcs.map(p => s"\"$p\"").mkString(", ")}]}""".stripMargin)

  /** Band 2 of 90N_090W is all nodata. */
  private def twoBandValue(id: String, band: Int): Int => Double = (id, band) match {
    case ("90N_180W", 1) => i => (i % 7 + 1).toDouble
    case ("90N_180W", _) => i => if (i % 10 == 0) 0.0 else (40 + i % 5).toDouble
    case (_, 1) => i => (i % 3).toDouble
    case _ => _ => 0.0
  }

  test("a publish's manifests and stats sidecars keep their reference bytes") {
    val tiles = Seq("90N_180W", "90N_090W")
    val spec = twoBandLayer(bandSources("bytes/src", tiles)(twoBandValue))
    val dest = fresh("bytes/dest")
    val status = Pixetl.run(spark, spec, dest.toString, overwrite = false, sub = None).toMap
    assert(status == Map("processed" -> 2L, "skipped (does not intersect)" -> 6L), status)
    val out = dest.resolve(spec.prefix())
    assert(Files.readString(out.resolve("tiles.geojson")) == ExpectedTilesGeojson)
    for ((id, xml) <- ExpectedAuxXml)
      assert(Files.readString(out.resolve(s"$id.tif.aux.xml")) == xml, id)
    val extent = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.resolve("extent.geojson").toFile)
      .get("features").get(0).get("geometry")
    val ring = extent.get("coordinates").get(0)
    val got = GeoFunctions.readWkt((0 until ring.size).map(i =>
        s"${ring.get(i).get(0).asDouble} ${ring.get(i).get(1).asDouble}")
      .mkString("POLYGON ((", ", ", "))"))
    assert(extent.get("type").asText == "Polygon" &&
      got.equalsTopo(GeoFunctions.readWkt(ExpectedExtentWkt)), got)
  }

  test("the epilogue after the tile sink runs at most two Spark jobs") {
    val tiles = Seq("90N_180W", "90N_090W")
    val raster = twoBandLayer(bandSources("jobs/src", tiles)(twoBandValue))
    val vdest = fresh("jobs/vector")
    Seq((GeoFunctions.write(GeoFunctions.envelope(-170, 10, -150, 30)), 1L))
      .toDF("geom", "value").write.parquet(vdest.resolve("features.parquet").toString)
    val vector = LayerSpec.fromJson(
      """{"dataset": "burn", "version": "v1", "source_type": "vector",
        |"pixel_meaning": "is", "data_type": "uint8", "no_data": 0, "grid": "90/256",
        |"rasterize_method": "value"}""".stripMargin)
    // the raster publish skips one already-published tile
    val rdest = fresh("jobs/raster")
    Pixetl.run(spark, raster, rdest.toString, overwrite = false, sub = Some(Seq("90N_180W")))
    for ((spec, dest, dualCopy, tally) <- Seq(
        (raster, rdest, true, Map("processed" -> 1L, "existing" -> 1L,
          "skipped (does not intersect)" -> 6L)),
        (vector, vdest, false, Map("processed" -> 1L, "skipped (does not intersect)" -> 7L)))) {
      val log = new JobLog
      org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(log)
      try {
        assert(Pixetl.run(spark, spec, dest.toString, overwrite = false, sub = None).toMap
          == tally)
        org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(log)
      val jobs = log.jobs
      val sink = jobs.lastIndexWhere(_._2.contains("graft.Pixetl$.writeWithPyramid"))
      assert(sink >= 0)
      var after = jobs.drop(sink + 1).filter(j => j._1.isEmpty || j._1 != jobs(sink)._1)
      if (dualCopy) {
        // the gdal-geotiff copy: the first SQL execution after the sink
        val copy = after.head
        assert(copy._1.isDefined && copy._2.linesIterator
          .find(_.trim.startsWith("graft.")).exists(_.contains("graft.Pixetl$.run(")), copy)
        after = after.filterNot(_._1 == copy._1)
      }
      info(s"${spec.sourceType} epilogue: ${after.size} jobs")
      assert(after.size <= 2, s"${spec.sourceType} epilogue jobs:\n" +
        after.map(_._2.linesIterator.take(4).mkString(" | ")).mkString("\n"))
    }
  }

  test("a source spanning two tiles publishes each tile's own window") {
    // one 512x256 source on the 90/256 lattice: 90N_180W all 5s, 90N_090W
    // all nodata; the aligned reader must read the second source block
    // for the second tile, not the first one again
    val grid = graft.core.grid.GridFactory("90/256")
    val src = fresh("span/src")
    val w = new GeoTiff.Writer(src.resolve("span.tif").toString, GeoTiff.Profile(
      width = 512, height = 256, bands = 1, dataType = "uint16",
      tileWidth = grid.blockSize, tileHeight = grid.blockSize, noData = Some(0.0),
      epsg = 4326, originX = -180, originY = 90, xres = grid.xres, yres = grid.yres))
    w.writeTile(1, 0, 0, Array.fill(256 * 256)(5.0))
    w.writeTile(1, 0, 1, Array.fill(256 * 256)(0.0))
    w.close()
    val spec = statsLayer(src, """ "no_data": 0,""")
    val dest = fresh("span/dest")
    Pixetl.run(spark, spec, dest.toString, overwrite = false, sub = None)
    val out = dest.resolve(spec.prefix())
    assert(GeoTiff.open(out.resolve("90N_180W.tif").toString).readTile(1, 0, 0)
      .forall(_ == 5.0))
    val east = out.resolve("90N_090W.tif")
    assert(!Files.exists(east) || GeoTiff.open(east.toString).readTile(1, 0, 0)
      .forall(_ == 0.0), "90N_090W published the window of 90N_180W")
  }

  test("a tile's bytes do not depend on the order its blocks arrive in") {
    // zoom_2: one 1024-px tile of 4x4 256-px blocks
    val spec = LayerSpec.fromJson(
      """{"dataset": "order", "version": "v1", "source_type": "raster",
        |"pixel_meaning": "x", "data_type": "uint16", "no_data": 0,
        |"grid": "zoom_2", "source_uri": ["unused"]}""".stripMargin)
    val grid = spec.gridDef
    val b = grid.tileBounds("000R_000C")
    val n = grid.cols / grid.blockSize
    val blocks = for (br <- 0 until n; bc <- 0 until n) yield
      ("000R_000C", b.left, b.top, br, bc,
        Array.tabulate(grid.blockSize * grid.blockSize)(i => (br * 31 + bc * 7 + i) % 1000))
    def publish(name: String, rows: Seq[(String, Double, Double, Int, Int, Array[Int])],
                overviews: Seq[Int]): Array[Byte] = {
      val dir = fresh(s"order/$name")
      GeoTiffSpark.writeTiles(
        rows.toDF("tile_id", "left", "top", "block_row", "block_col", "band_1")
          .repartition(3), spec, dir.toString, overviewFactors = overviews).collect()
      Files.readAllBytes(dir.resolve("000R_000C.tif"))
    }
    for (overviews <- Seq(Nil, Seq(2, 4))) {
      val a = publish(s"fwd${overviews.size}", blocks, overviews)
      val z = publish(s"rev${overviews.size}", blocks.reverse, overviews)
      assert(java.util.Arrays.equals(a, z), s"overviews $overviews")
    }
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

/** Expected outputs of PixetlSpec's two-band layer, captured before the
  * derivation moved to per-tile rows, which must keep these bytes. */
object PixetlSpec {
  val ExpectedTilesGeojson: String =
    "{\"type\":\"FeatureCollection\",\"features\":[{\"type\":\"Feature\",\"geometry\":{\"type\":\"Polygon\",\"coordinates\":[[[-90.0,0.0],[-90.0,90.0],[0.0,90.0],[0.0,0.0],[-90.0,0.0]]]},\"properties\":{\"name\":\"two/v1/raster/epsg-4326/90x256/x/geotiff/90N_090W.tif\",\"bands\":[{\"band\":1,\"min\":1.0,\"max\":2.0,\"mean\":1.5,\"std_dev\":0.5,\"count\":43690},{\"band\":2,\"min\":null,\"max\":null,\"mean\":null,\"std_dev\":null,\"count\":0}]}" +
    "},{\"type\":\"Feature\",\"geometry\":{\"type\":\"Polygon\",\"coordinates\":[[[-180.0,0.0],[-180.0,90.0],[-90.0,90.0],[-90.0,0.0],[-180.0,0.0]]]},\"properties\":{\"name\":\"two/v1/raster/epsg-4326/90x256/x/geotiff/90N_180W.tif\",\"bands\":[{\"band\":1,\"min\":1.0,\"max\":7.0,\"mean\":3.9999237060546875,\"std_dev\":2.000019071940202,\"count\":65536},{\"band\":2,\"min\":40.0,\"max\":44.0,\"mean\":42.22220338408328,\"std_dev\":1.3146947448053714,\"count\":58982}]}}]}"
  val ExpectedAuxXml: Seq[(String, String)] = Seq(
    "90N_180W" -> (
      "<PAMDataset>\n" +
      "  <PAMRasterBand band=\"1\">\n" +
      "    <Metadata>\n" +
      "      <MDI key=\"STATISTICS_MINIMUM\">1.0</MDI>\n" +
      "      <MDI key=\"STATISTICS_MAXIMUM\">7.0</MDI>\n" +
      "      <MDI key=\"STATISTICS_MEAN\">3.9999237060546875</MDI>\n" +
      "      <MDI key=\"STATISTICS_STDDEV\">2.000019071940202</MDI>\n" +
      "      <MDI key=\"STATISTICS_VALID_PERCENT\">100.0</MDI>\n" +
      "    </Metadata>\n" +
      "  </PAMRasterBand>\n" +
      "  <PAMRasterBand band=\"2\">\n" +
      "    <Metadata>\n" +
      "      <MDI key=\"STATISTICS_MINIMUM\">40.0</MDI>\n" +
      "      <MDI key=\"STATISTICS_MAXIMUM\">44.0</MDI>\n" +
      "      <MDI key=\"STATISTICS_MEAN\">42.22220338408328</MDI>\n" +
      "      <MDI key=\"STATISTICS_STDDEV\">1.3146947448053714</MDI>\n" +
      "      <MDI key=\"STATISTICS_VALID_PERCENT\">89.9993896484375</MDI>\n" +
      "    </Metadata>\n" +
      "  </PAMRasterBand>\n" +
      "</PAMDataset>\n"),
    "90N_090W" -> (
      "<PAMDataset>\n" +
      "  <PAMRasterBand band=\"1\">\n" +
      "    <Metadata>\n" +
      "      <MDI key=\"STATISTICS_MINIMUM\">1.0</MDI>\n" +
      "      <MDI key=\"STATISTICS_MAXIMUM\">2.0</MDI>\n" +
      "      <MDI key=\"STATISTICS_MEAN\">1.5</MDI>\n" +
      "      <MDI key=\"STATISTICS_STDDEV\">0.5</MDI>\n" +
      "      <MDI key=\"STATISTICS_VALID_PERCENT\">66.6656494140625</MDI>\n" +
      "    </Metadata>\n" +
      "  </PAMRasterBand>\n" +
      "  <PAMRasterBand band=\"2\">\n" +
      "    <Metadata>\n" +
      "      <MDI key=\"STATISTICS_VALID_PERCENT\">0.0</MDI>\n" +
      "    </Metadata>\n" +
      "  </PAMRasterBand>\n" +
      "</PAMDataset>\n"))
  val ExpectedExtentWkt = "POLYGON ((-180 0, -180 90, -90 90, 0 90, 0 0, -90 0, -180 0))"
}
