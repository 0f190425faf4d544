package perfbench

import graft.sources.GeoTiff
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The per-run output check: every published tile decoded and digested,
  * plus the manifests, sidecars, the second destination profile and the
  * status tally `Pixetl.run` returned. Only integer pixel data is digested
  * — float stats text may differ in its last bits with partition order. */
object Check {

  /** Everything one correct run must publish. `digests` maps each processed
    * tile id to the SHA-256 of its pixels; `near` optionally holds an
    * expected pixel plane per tile and a tolerance (for resampled output
    * whose exact bits the benchmark does not re-derive). */
  final case class Expected(digests: Map[String, String], status: Map[String, Long],
                            near: Map[String, (Array[Int], Int)] = Map.empty,
                            statsSidecars: Boolean, gdalCopy: Boolean)

  /** Row-major pixels of band 1 of a published tile. */
  def readPixels(path: Path): Array[Int] = {
    val t = GeoTiff.open(path.toString)
    val p = t.profile
    val out = new Array[Int](p.width * p.height)
    for (tr <- 0 until p.tilesDown; tc <- 0 until p.tilesAcross) {
      val px = t.readTile(1, tr, tc)
      var i = 0
      while (i < px.length) {
        val x = tc * p.tileWidth + i % p.tileWidth
        val y = tr * p.tileHeight + i / p.tileWidth
        if (x < p.width && y < p.height) out(y * p.width + x) = px(i).toInt
        i += 1
      }
    }
    out
  }

  def digest(px: Array[Int]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(1 << 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < px.length) {
      buf.putInt(px(i)); i += 1
      if (!buf.hasRemaining) { md.update(buf.array(), 0, buf.position()); buf.clear() }
    }
    md.update(buf.array(), 0, buf.position())
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def list(dir: Path, suffix: String): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(suffix)).toSeq.sorted
      finally s.close()
    }

  private val FeatureRe = "\"type\":\"Feature\"".r

  /** Problems found in one run's output (empty when the run is correct) and
    * the digest of every published tile. `outDir` is the primary profile's
    * tile directory, `gdalDir` the `gdal-geotiff` profile's. An empty
    * expected digest is not compared. */
  def problems(exp: Expected, outDir: Path, gdalDir: Path,
               status: Seq[(String, Long)]): (Seq[String], Map[String, String]) = {
    val errs = Seq.newBuilder[String]
    val digests = Map.newBuilder[String, String]
    val got = status.toMap
    if (got != exp.status) errs += s"status tally $got != ${exp.status}"
    val tiles = list(outDir, ".tif").map(_.stripSuffix(".tif"))
    if (tiles != exp.digests.keys.toSeq.sorted)
      errs += s"published tiles ${tiles.mkString(",")} != ${exp.digests.keys.toSeq.sorted.mkString(",")}"
    for (id <- tiles if exp.digests.contains(id)) {
      val px = readPixels(outDir.resolve(s"$id.tif"))
      val d = digest(px)
      digests += id -> d
      if (exp.digests(id).nonEmpty && d != exp.digests(id)) errs += s"tile $id digest $d != ${exp.digests(id)}"
      exp.near.get(id).foreach { case (want, tol) =>
        var bad = 0; var worst = 0; var i = 0
        while (i < px.length) {
          val e = math.abs(px(i) - want(i))
          if (e > tol) bad += 1
          worst = math.max(worst, e)
          i += 1
        }
        if (bad > 0) errs += s"tile $id: $bad pixels off the expected field by > $tol (worst $worst)"
      }
    }
    val manifest = outDir.resolve("tiles.geojson")
    if (!Files.exists(manifest)) errs += "no tiles.geojson"
    else {
      val n = FeatureRe.findAllMatchIn(Files.readString(manifest)).size
      if (n != exp.digests.size) errs += s"tiles.geojson lists $n features, expected ${exp.digests.size}"
    }
    val extent = outDir.resolve("extent.geojson")
    if (!Files.exists(extent) || Files.readString(extent).contains("\"geometry\":null"))
      errs += "extent.geojson missing or empty"
    if (exp.statsSidecars && list(outDir, ".tif.aux.xml").size != exp.digests.size)
      errs += s"${list(outDir, ".tif.aux.xml").size} stats sidecars, expected ${exp.digests.size}"
    if (exp.gdalCopy) {
      val copies = list(gdalDir, ".tif")
      if (copies.map(_.stripSuffix(".tif")) != tiles) errs += s"gdal-geotiff profile holds ${copies.size} tiles"
      else for (c <- copies if !java.util.Arrays.equals(Files.readAllBytes(gdalDir.resolve(c)),
                                                        Files.readAllBytes(outDir.resolve(c))))
        errs += s"gdal-geotiff copy of $c differs"
    }
    (errs.result(), digests.result())
  }
}
