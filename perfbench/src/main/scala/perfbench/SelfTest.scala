package perfbench

import graft.sources.GeoTiff
import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** Shows the output check catches a corrupted tile: one clean run must
  * pass, and the same output with one pixel of one tile changed must fail. */
object SelfTest {
  def run(spark: SparkSession, p: Main.Prepared, dest: Path): Boolean = {
    val clean = Main.runOnce(spark, p, dest, None, keep = true)
    val outDir = dest.resolve(p.spec.prefix())
    val id = p.expected.digests.keys.min
    val path = outDir.resolve(s"$id.tif").toString
    val t = GeoTiff.open(path)
    val prof = t.profile
    val blocks = for (tr <- 0 until prof.tilesDown; tc <- 0 until prof.tilesAcross)
      yield (tr, tc, t.readTile(1, tr, tc))
    blocks.head._3(0) += 1
    val w = new GeoTiff.Writer(path, prof)
    try blocks.foreach { case (tr, tc, px) => w.writeTile(1, tr, tc, px) } finally w.close()
    val status = p.expected.status.toSeq
    val (problems, _) = Check.problems(p.expected, outDir,
      dest.resolve(p.spec.prefix(fmt = "gdal-geotiff")), status)
    val caught = problems.exists(_.contains(s"tile $id digest"))
    println(s"""{"self_test":{"clean_run_problems":${clean.problems.size},""" +
      s""""corrupted_tile":"$id","caught":$caught}}""")
    clean.problems.isEmpty && caught
  }
}
