package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Payload of the large-manifest render soak — run in its OWN JVM under a
  * small -Xmx so COMPLETION is the memory proof (the GpxSoakSpec pattern).
  * Writes a 150k-tile manifest whose rendered tiles.geojson (~600 MB) is
  * larger than the whole heap, so ANY full-string or full-collect
  * materialization on the K3 path would OOM; then proves the streamed
  * bytes well-formed (prefix/suffix + exact feature count) and byte-
  * identical to the collect-based render on a small input. */
object ManifestSoakMain {
  val HeapMb = 512
  val Tiles = 150000
  val PadLen = 4000 // ~4 KB geometry per feature → ~600 MB total

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_manifest_soak").toString)
    // 64 shuffle partitions: the render's orderBy + toLocalIterator holds
    // one range partition of the ~600 MB output on the driver at a time
    val spark = graft.core.GraftSession.builder("manifest-soak", "64")
      .master("local[8]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // synthetic deep-zoom manifest: valid JSON geometry padded to ~4 KB
      val manifest = spark.range(Tiles).select(
        format_string("tile_%08d", col("id")).as("tile_id"),
        format_string("mem://out/tile_%08d.tif", col("id")).as("uri"),
        concat(lit("{\"type\":\"Polygon\",\"coordinates\":" +
            "[[[0,0],[0,1],[1,1],[1,0],[0,0]]],\"pad\":\""),
          rpad(col("id").cast("string"), PadLen, "x"), lit("\"}"))
          .as("geometry"))
      val path = s"$outDir/tiles.geojson"
      val t0 = System.nanoTime()
      LayerJob.writeTilesGeojson(manifest, path)
      val secs = (System.nanoTime() - t0) / 1e9

      // streamed well-formedness: prefix, suffix, exact feature count —
      // counted in bounded chunks (the file must never be one string here)
      val p = java.nio.file.Paths.get(path)
      val size = java.nio.file.Files.size(p)
      require(size > Tiles.toLong * PadLen,
        s"manifest suspiciously small: $size bytes")
      val in = new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(p), 1 << 20)
      val needle = "{\"type\":\"Feature\"".getBytes("UTF-8")
      var count = 0L
      var head = new Array[Byte](64)
      val headN = in.read(head)
      require(new String(head, 0, headN, "UTF-8")
        .startsWith("{\"type\":\"FeatureCollection\",\"features\":["),
        "bad manifest prefix")
      // restart and scan with an overlap window so needles spanning chunk
      // boundaries still count
      in.close()
      val in2 = new java.io.BufferedInputStream(
        java.nio.file.Files.newInputStream(p), 1 << 20)
      val buf = new Array[Byte]((1 << 20) + needle.length)
      var carry = 0
      var last2 = Array[Byte](0, 0)
      var n = in2.read(buf, carry, buf.length - carry)
      while (n > 0) {
        val limit = carry + n
        var i = 0
        while (i <= limit - needle.length) {
          var j = 0
          while (j < needle.length && buf(i + j) == needle(j)) j += 1
          if (j == needle.length) count += 1
          i += 1
        }
        if (limit >= 2) { last2(0) = buf(limit - 2); last2(1) = buf(limit - 1) }
        // keep the tail as overlap for boundary-spanning needles
        carry = math.min(needle.length - 1, limit)
        System.arraycopy(buf, limit - carry, buf, 0, carry)
        n = in2.read(buf, carry, buf.length - carry)
      }
      in2.close()
      require(new String(last2, "UTF-8") == "]}", "bad manifest suffix")
      require(count == Tiles, s"feature count $count != $Tiles")

      // small-input byte-identity: collect render == streamed bytes
      val small = manifest.limit(7)
      val smallPath = s"$outDir/small.geojson"
      LayerJob.writeTilesGeojson(small, smallPath)
      val streamed = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(smallPath)), "UTF-8")
      require(LayerJob.renderTilesGeojson(small) == streamed,
        "small-input render != streamed bytes")
      val xmxGb = Runtime.getRuntime.maxMemory / 1e9
      println(f"MANIFEST_SOAK_OK secs=$secs%.1f file_gb=${size / 1e9}%.2f " +
        f"tiles=$Tiles xmx_gb=$xmxGb%.2f")
    } finally {
      spark.stop()
      // best-effort cleanup of the ~600 MB artifact
      try {
        java.nio.file.Files.walk(java.nio.file.Paths.get(outDir)).sorted(
          java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
      } catch { case _: Throwable => () }
    }
  }
}

/** Large-manifest K3 soak (VERDICT r15 #5): the streaming tiles.geojson
  * writer keeps driver memory bounded by ONE partition for deep-zoom
  * grids. Forked at -Xmx512m while the rendered output is ~600 MB — a
  * collect-based path (or any full-string materialization) cannot fit,
  * so completion is the proof. Runs in the default suite (~40 s). */
class ManifestSoakSpec extends AnyFunSuite {
  test("150k-tile manifest streams through writeTilesGeojson inside a 512 MB heap") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_manifest_soak").toString
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin, s"-Xmx${ManifestSoakMain.HeapMb}m",
      "-cp", sys.props("java.class.path")) ++ addOpens ++
      Seq("graft.plans.ManifestSoakMain", outDir)
    val out = new StringBuilder
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    var line = rd.readLine()
    while (line != null) { out.append(line).append('\n'); line = rd.readLine() }
    val exit = proc.waitFor()
    val okLine = out.toString.linesIterator.find(_.startsWith("MANIFEST_SOAK_OK"))
    assert(exit == 0 && okLine.isDefined,
      s"manifest soak JVM exited $exit\n${out.toString.linesIterator.toSeq.takeRight(40).mkString("\n")}")
    info(okLine.get)
  }
}
