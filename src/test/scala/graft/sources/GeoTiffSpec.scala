package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** GeoTIFF codec: byte-level structure + round trips per pixel type —
  * the profile assertions of tests/test_raster_src_tile.py:36-79 (blocksize,
  * compression, CRS, dtype, nodata, interleave) against our own reader. */
class GeoTiffSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = Paths.get("target/tmp/tiff")
    Files.createDirectories(d)
    d.resolve(name).toString
  }

  private def profile(dt: String, nd: Option[Double] = Some(0.0)) = GeoTiff.Profile(
    width = 32, height = 32, bands = 1, dataType = dt,
    tileWidth = 16, tileHeight = 16, noData = nd, epsg = 4326,
    originX = 10.0, originY = 20.0, xres = 0.25, yres = 0.25)

  private def roundTrip(dt: String, values: Array[Double]): Array[Double] = {
    val path = tmp(s"rt_$dt.tif")
    val w = new GeoTiff.Writer(path, profile(dt))
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, values)
    w.close()
    GeoTiff.open(path).readTile(1, 0, 0)
  }

  test("uint8/uint16/uint32 round-trip incl. values above signed range") {
    val v8 = Array.tabulate(256)(i => (i % 256).toDouble)
    assert(roundTrip("uint8", v8).sameElements(v8))
    val v16 = Array.tabulate(256)(i => (i * 257).toDouble) // up to 65535
    assert(roundTrip("uint16", v16).sameElements(v16))
    val v32 = Array.tabulate(256)(i => 4294967295.0 - i)   // near 2^32
    assert(roundTrip("uint32", v32).sameElements(v32))
  }

  test("int8/int16/int32/float32/float64 round-trip with negatives") {
    val s = Array.tabulate(256)(i => (i - 128).toDouble)
    assert(roundTrip("int8", s).sameElements(s))
    assert(roundTrip("int16", s.map(_ * 100)).sameElements(s.map(_ * 100)))
    assert(roundTrip("int32", s.map(_ * 100000)).sameElements(s.map(_ * 100000)))
    val f = Array.tabulate(256)(i => i * 0.5f.toDouble)
    assert(roundTrip("float32", f).sameElements(f))
    val d = Array.tabulate(256)(i => i * math.Pi)
    assert(roundTrip("float64", d).sameElements(d))
  }

  test("float16 stores true 16-bit halves and round-trips half-exact values") {
    // halves represent these exactly: small ints, halves, subnormal-free range
    val v = Array.tabulate(256)(i => (i - 128) * 0.5)
    val path = tmp("rt_f16.tif")
    val w = new GeoTiff.Writer(path, profile("float16"))
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, v)
    w.close()
    val t = GeoTiff.open(path)
    assert(t.profile.dataType == "float16" && t.profile.bitsPerSample == 16)
    assert(t.readTile(1, 0, 0).sameElements(v))
    // non-representable values round to the nearest half (2049 → 2048)
    assert(roundTrip16(path, 2049.0) == 2048.0)
  }

  private def roundTrip16(path: String, v: Double): Double = {
    val w = new GeoTiff.Writer(path, profile("float16"))
    val vals = Array.fill(256)(v)
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, vals)
    w.close()
    GeoTiff.open(path).readTile(1, 0, 0)(0)
  }

  test("all 65536 half bit patterns round-trip half→float→half") {
    var h = 0
    while (h < 65536) {
      val f = GeoTiff.halfToFloat(h)
      val h2 = GeoTiff.floatToHalf(f) & 0xffff
      if (java.lang.Float.isNaN(f))
        assert((h2 & 0x7c00) == 0x7c00 && (h2 & 0x3ff) != 0, s"NaN h=$h → $h2")
      else assert(h2 == h, f"h=0x$h%04x f=$f h2=0x$h2%04x")
      h += 1
    }
    // overflow boundary (IEEE round-to-nearest-even, C-cast/GDAL parity):
    // [65520, 65536) rounds to ±inf, just below keeps max finite 0x7bff
    assert((GeoTiff.floatToHalf(65520.0f) & 0xffff) == 0x7c00)
    assert((GeoTiff.floatToHalf(65535.9f) & 0xffff) == 0x7c00)
    assert((GeoTiff.floatToHalf(-65520.0f) & 0xffff) == 0xfc00)
    assert((GeoTiff.floatToHalf(65519.96f) & 0xffff) == 0x7bff)
  }

  test("NBITS sub-byte packing: 1-bit boolean and 4-bit uint8 round-trip") {
    for (bits <- Seq(1, 2, 4, 3, 5, 7)) {
      val maxV = (1 << bits) - 1
      val v = Array.tabulate(256)(i => (i % (maxV + 1)).toDouble)
      val path = tmp(s"rt_nbits$bits.tif")
      val p = profile("uint8").copy(nbits = Some(bits))
      assert(p.bitsPerSample == bits)
      val w = new GeoTiff.Writer(path, p)
      for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, v)
      w.close()
      val t = GeoTiff.open(path)
      assert(t.profile.bitsPerSample == bits, s"nbits=$bits")
      assert(t.profile.nbits.contains(bits))
      assert(t.readTile(1, 0, 0).sameElements(v), s"nbits=$bits payload")
      // sub-byte payloads are genuinely smaller than 8-bit ones
      assert(t.profile.tileByteSize == (16 * bits + 7) / 8 * 16)
    }
    // out-of-range values clamp to the nbits ceiling, not the byte ceiling
    val path = tmp("rt_nbits_clamp.tif")
    val w = new GeoTiff.Writer(path, profile("uint8").copy(nbits = Some(1)))
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, Array.fill(256)(200.0))
    w.close()
    assert(GeoTiff.open(path).readTile(1, 0, 0).forall(_ == 1.0))
  }

  test("boolean pixel type reaches the sink as 1-bit (PixelType → writeTiles wiring)") {
    val pt = graft.core.PixelType.of("boolean", noData = Some(0.0))
    assert(pt.nbits.contains(1) && pt.compression == "CCITTFAX4")
    val p = profile("uint8").copy(nbits = pt.nbits)
    assert(p.bitsPerSample == 1)
  }

  test("CCITT Group 4 round-trips bilevel tiles and tags compression=4") {
    // patterned bilevel content: runs, isolated pixels, full/empty rows —
    // the shapes that exercise pass / vertical / horizontal G4 modes
    val patterns = Seq(
      Array.tabulate(256)(i => ((i / 16 + i % 16) % 2).toDouble),       // checker
      Array.tabulate(256)(i => (if ((i % 16) < 8) 1 else 0).toDouble),  // half rows
      Array.tabulate(256)(i => (if (i % 37 == 0) 1 else 0).toDouble),   // sparse dots
      Array.fill(256)(1.0),                                             // all black
      Array.fill(256)(0.0),                                             // all white
      Array.tabulate(256)(i => (if ((i * 2654435761L & 16) != 0) 1 else 0).toDouble))
    for ((v, k) <- patterns.zipWithIndex) {
      val path = tmp(s"rt_ccitt$k.tif")
      val p = profile("boolean").copy(nbits = Some(1), ccitt = true,
        photometric = Some("MINISWHITE"))
      val w = new GeoTiff.Writer(path, p)
      for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, v)
      w.close()
      val t = GeoTiff.open(path)
      assert(t.profile.ccitt && !t.profile.deflate, s"pattern $k compression tag")
      assert(t.profile.bitsPerSample == 1)
      assert(t.readTile(1, 0, 0).sameElements(v), s"pattern $k payload")
      assert(t.readTile(1, 1, 1).sameElements(v), s"pattern $k tile(1,1)")
    }
    // wider-than-64 runs exercise makeup codes (tile width 16 → per-row
    // runs stay short; test the run coder directly at width 2560+)
    val wideW = 2700; val bpr = (wideW + 7) / 8
    val packed = new Array[Byte](bpr * 2)
    for (p0 <- 70 until 2700) // row 0: white 0..69, black 70..2699
      packed(p0 >> 3) = (packed(p0 >> 3) | (1 << (7 - (p0 & 7)))).toByte
    val enc = CcittG4.encode(packed, wideW, 2, bpr)
    assert(CcittG4.decode(enc, wideW, 2, bpr).sameElements(packed))
    // CCITT on a non-bilevel profile is rejected loudly
    intercept[IllegalArgumentException](profile("uint16").copy(ccitt = true).bitsPerSample)
  }

  test("profile survives the IFD: dtype, nodata, grid origin, resolution, tiling, compression") {
    val path = tmp("meta.tif")
    val w = new GeoTiff.Writer(path, profile("uint16", Some(42.0)))
    val px = Array.fill(256)(7.0)
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, px)
    w.close()
    val t = GeoTiff.open(path)
    assert(t.profile.dataType == "uint16")
    assert(t.profile.noData.contains(42.0))
    assert(t.profile.epsg == 4326)
    assert(t.profile.tileWidth == 16 && t.profile.tileHeight == 16)
    assert(t.profile.originX == 10.0 && t.profile.originY == 20.0)
    assert(t.profile.xres == 0.25)
    assert(t.profile.deflate)
    assert(t.bounds == ((10.0, 12.0, 18.0, 20.0)))
  }

  test("multi-band planar layout reads back per band (INTERLEAVE=BAND)") {
    val path = tmp("mb.tif")
    val p = profile("uint8").copy(bands = 3)
    val w = new GeoTiff.Writer(path, p)
    for (b <- 1 to 3; tr <- 0 to 1; tc <- 0 to 1)
      w.writeTile(b, tr, tc, Array.fill(256)(b * 10.0))
    w.close()
    val t = GeoTiff.open(path)
    assert(t.profile.bands == 3)
    for (b <- 1 to 3)
      assert(t.readTile(b, 1, 1).forall(_ == b * 10.0))
  }

  test("deflate actually compresses constant tiles") {
    val path = tmp("z.tif")
    val w = new GeoTiff.Writer(path, profile("float64", None))
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, Array.fill(256)(1.5))
    w.close()
    // raw would be 4 tiles * 256 px * 8 B = 8 KiB; deflate shrinks far below
    assert(Files.size(Paths.get(path)) < 2048)
    assert(GeoTiff.open(path).readTile(1, 0, 0).forall(_ == 1.5))
  }

  test("out-of-range values clamp at the sink (GDAL semantics, not Java wrap)") {
    val vals = Array.fill(256)(0.0)
    vals(0) = 300.0   // > uint8 max → 255, not 44
    vals(1) = -5.0    // < uint8 min → 0, not 251
    vals(2) = 254.6   // rounds to nearest → 255
    val path = tmp("clamp.tif")
    val w = new GeoTiff.Writer(path, profile("uint8", None))
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, vals)
    w.close()
    val back = GeoTiff.open(path).readTile(1, 0, 0)
    assert(back(0) == 255.0 && back(1) == 0.0 && back(2) == 255.0)
  }

  test("Hadoop FS range reader serves the same bytes as the local reader") {
    val path = tmp("hfs.tif")
    val w = new GeoTiff.Writer(path, profile("uint16", Some(0.0)))
    for (tr <- 0 to 1; tc <- 0 to 1)
      w.writeTile(1, tr, tc, Array.tabulate(256)(_.toDouble))
    w.close()
    // read the header through the Hadoop adapter directly (LocalFileSystem)
    val hr = new GeoTiff.HadoopRangeReader(new java.io.File(path).getAbsolutePath)
    val head = new Array[Byte](4)
    hr.readFully(head); hr.close()
    assert(head(0) == 'I' && head(1) == 'I' && head(2) == 42)
    // and the whole tiff through the normal (local) path
    assert(GeoTiff.open(path).readTile(1, 1, 1)(10) == 10.0)
  }

  test("TIFF magic and classic header") {
    val path = tmp("magic.tif")
    val w = new GeoTiff.Writer(path, profile("uint8"))
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, Array.fill(256)(1.0))
    w.close()
    val head = Files.readAllBytes(Paths.get(path)).take(4)
    assert(head(0) == 'I' && head(1) == 'I' && head(2) == 42 && head(3) == 0)
  }

  private def codecRoundTrip(dt: String, name: String, values: Array[Double],
                             mk: GeoTiff.Profile => GeoTiff.Profile,
                             expectCompression: Int): Array[Double] = {
    val path = tmp(s"$name.tif")
    val p = mk(profile(dt))
    val w = new GeoTiff.Writer(path, p)
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, values)
    w.close()
    val t = GeoTiff.open(path)
    assert(t.profile.compressionCode == expectCompression,
      s"$name: compression ${t.profile.compressionCode}")
    assert(t.readTile(1, 1, 1).sameElements(values), s"$name tile(1,1)")
    t.readTile(1, 0, 0)
  }

  test("LZW round-trips uint8/uint16/float32 and tags compression=5") {
    val v8 = Array.tabulate(256)(i => ((i * 31) % 256).toDouble)
    assert(codecRoundTrip("uint8", "lzw_u8", v8,
      _.copy(deflate = false, lzw = true), 5).sameElements(v8))
    val v16 = Array.tabulate(256)(i => ((i * 257) % 65536).toDouble)
    assert(codecRoundTrip("uint16", "lzw_u16", v16,
      _.copy(deflate = false, lzw = true), 5).sameElements(v16))
    val f = Array.tabulate(256)(i => (i - 100) * 0.25)
    assert(codecRoundTrip("float32", "lzw_f32", f,
      _.copy(deflate = false, lzw = true), 5).sameElements(f))
  }

  test("LZW actually compresses constant tiles") {
    val path = tmp("lzw_const.tif")
    val w = new GeoTiff.Writer(path,
      profile("uint16").copy(deflate = false, lzw = true))
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, Array.fill(256)(7.0))
    w.close()
    // 4 tiles x 512 raw bytes (2048 + IFD uncompressed); LZW collapses
    // each constant tile to ~13 bytes, leaving the ~500-byte IFD dominant
    assert(Files.size(Paths.get(path)) < 700, s"size ${Files.size(Paths.get(path))}")
    assert(GeoTiff.open(path).readTile(1, 0, 1).forall(_ == 7.0))
  }

  test("PackBits round-trips uint8/int16 and tags compression=32773") {
    val v8 = Array.tabulate(256)(i => (if (i % 16 < 8) 200 else i % 256).toDouble)
    assert(codecRoundTrip("uint8", "pb_u8", v8,
      _.copy(deflate = false, packbits = true), 32773).sameElements(v8))
    val s16 = Array.tabulate(256)(i => ((i % 50) - 25).toDouble)
    assert(codecRoundTrip("int16", "pb_i16", s16,
      _.copy(deflate = false, packbits = true), 32773).sameElements(s16))
  }

  test("predictor 2 round-trips under LZW and DEFLATE, and tags 317") {
    // a smooth ramp: differencing turns it into tiny constant deltas
    val ramp16 = Array.tabulate(256)(i => (1000 + (i % 16) * 3 + i / 16).toDouble)
    val got = codecRoundTrip("uint16", "lzw_pred", ramp16,
      _.copy(deflate = false, lzw = true, predictor = 2), 5)
    assert(got.sameElements(ramp16))
    assert(GeoTiff.open(tmp("lzw_pred.tif")).profile.predictor == 2)
    val ramp8 = Array.tabulate(256)(i => ((40 + i % 16 + i / 16) % 256).toDouble)
    assert(codecRoundTrip("uint8", "defl_pred", ramp8,
      _.copy(predictor = 2), 8).sameElements(ramp8))
    // wraparound: deltas that overflow the sample width stay modulo-exact
    val wrap = Array.tabulate(256)(i => (if (i % 2 == 0) 65535 else 0).toDouble)
    assert(codecRoundTrip("uint16", "pred_wrap", wrap,
      _.copy(deflate = false, lzw = true, predictor = 2), 5).sameElements(wrap))
    // predictor on float profiles is rejected at construction
    intercept[IllegalArgumentException](profile("float32").copy(predictor = 2))
  }

  test("BigTIFF: forced container round-trips with magic 43 and 8-byte offsets") {
    val path = tmp("big.tif")
    val v = Array.tabulate(256)(i => ((i * 123) % 60000).toDouble)
    val w = new GeoTiff.Writer(path, profile("uint16"), bigtiff = true)
    assert(w.isBigTiff)
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, v)
    w.close()
    val head = Files.readAllBytes(Paths.get(path)).take(8)
    assert(head(0) == 'I' && head(1) == 'I' && head(2) == 43 && head(3) == 0)
    assert(head(4) == 8 && head(5) == 0 && head(6) == 0 && head(7) == 0)
    val t = GeoTiff.open(path)
    assert(t.profile.dataType == "uint16" && t.profile.width == 32)
    assert(t.readTile(1, 0, 0).sameElements(v) && t.readTile(1, 1, 1).sameElements(v))
    // geo metadata survives the BigTIFF IFD too
    assert(t.profile.originX == 10.0 && t.profile.xres == 0.25 &&
      t.profile.noData.contains(0.0))
  }

  test("BigTIFF: writer auto-switches when worst-case size can cross 4GB") {
    // 100k x 100k uint16 (20 GB raw — the reference's 10 Gpx grid scale,
    // grids/grid_factory.py:19): must choose BigTIFF up front
    val huge = GeoTiff.Profile(100000, 100000, 1, "uint16", 256, 256,
      None, 4326, 0, 0, 1e-5, 1e-5)
    val wHuge = new GeoTiff.Writer(tmp("auto_big.tif"), huge)
    assert(wHuge.isBigTiff)
    // the 32x32 test profile stays classic
    val wSmall = new GeoTiff.Writer(tmp("auto_small.tif"), profile("uint16"))
    assert(!wSmall.isBigTiff)
  }

  /** Hand-assemble a minimal classic little-endian TIFF with arbitrary
    * layout tags — the fixtures the Writer cannot produce (strips, chunky
    * interleave). `payloads` are the pre-encoded strip/tile payloads. */
  private def buildTiff(name: String, width: Int, height: Int, bands: Int,
                        bits: Int, planar: Int, compression: Int,
                        predictor: Int, layoutTags: (Int, Int),
                        payloads: Seq[Array[Byte]]): String = {
    val bb = java.nio.ByteBuffer.allocate(65536)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42)
    val ifdOffsetPos = bb.position(); bb.putInt(0) // patched below
    val offsets = payloads.map { pl => val at = bb.position(); bb.put(pl); at }
    // offset/count arrays live right after the payloads (pointed to by the
    // IFD entries when count > 1)
    val offArrayAt = bb.position(); offsets.foreach(bb.putInt)
    val cntArrayAt = bb.position(); payloads.foreach(pl => bb.putInt(pl.length))
    val bitsArrayAt = bb.position()
    // values totalling <= 4 bytes must be INLINE (2 bands x SHORT fits);
    // only 3+ bands spill to this array
    if (bands > 2) (1 to bands).foreach(_ => bb.putShort(bits.toShort))
    val n = payloads.length
    val (offTag, cntTag) = layoutTags
    var entries = Seq[(Int, Int, Int, Long)](
      (256, 4, 1, width), (257, 4, 1, height),
      (258, 3, bands, if (bands > 2) bitsArrayAt else bits),
      (259, 3, 1, compression),
      (277, 3, 1, bands), (284, 3, 1, planar),
      (offTag, 4, n, if (n > 1) offArrayAt else offsets.head.toLong),
      (cntTag, 4, n, if (n > 1) cntArrayAt else payloads.head.length.toLong),
      (339, 3, 1, 1))
    if (offTag == 273) entries = entries :+ ((278, 4, 1,
      ((height + n - 1) / n).toLong)) // RowsPerStrip
    else entries = entries ++ Seq((322, 4, 1, width.toLong), (323, 4, 1, height.toLong))
    if (predictor != 1) entries = entries :+ ((317, 3, 1, predictor.toLong))
    val sorted = entries.sortBy(_._1)
    val ifdAt = bb.position()
    bb.putShort(sorted.length.toShort)
    sorted.foreach { case (tag, typ, count, value) =>
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      if (typ == 3 && count == 1) bb.putShort(value.toShort).putShort(0)
      else if (tag == 258 && count == 2) // two inline SHORT bits values
        bb.putShort(value.toShort).putShort(value.toShort)
      else bb.putInt(value.toInt)
    }
    bb.putInt(0)
    bb.putInt(ifdOffsetPos, ifdAt)
    val path = tmp(name)
    Files.write(Paths.get(path), java.util.Arrays.copyOf(bb.array(), bb.position()))
    path
  }

  test("stripped TIFF reads as full-width tiles; last strip zero-pads") {
    // 5x8 uint8, RowsPerStrip=3 -> strips of 3,3,2 rows, uncompressed
    val w = 5; val h = 8; val rps = 3
    def v(x: Int, y: Int): Int = 10 * y + x
    val strips = (0 until 3).map { sIdx =>
      val rows = math.min(rps, h - sIdx * rps)
      Array.tabulate(rows * w)(i => v(i % w, sIdx * rps + i / w).toByte)
    }
    val path = buildTiff("stripped_u8.tif", w, h, 1, 8, 1, 1, 1, (273, 279), strips)
    val t = GeoTiff.open(path)
    assert(t.stripped && !t.chunky)
    assert(t.profile.tileWidth == w && t.profile.tileHeight == rps)
    assert(t.profile.tilesDown == 3 && t.profile.tilesAcross == 1)
    for (sIdx <- 0 until 3) {
      val got = t.readTile(1, sIdx, 0)
      assert(got.length == w * rps)
      val rows = math.min(rps, h - sIdx * rps)
      for (y <- 0 until rps; x <- 0 until w) {
        val expect = if (y < rows) v(x, sIdx * rps + y).toDouble else 0.0
        assert(got(y * w + x) == expect, s"strip $sIdx ($x,$y)")
      }
    }
  }

  test("stripped LZW TIFF decodes each strip at its true (unpadded) size") {
    // 6x7 uint16 LE, RowsPerStrip=4 -> strips of 4 and 3 rows, LZW
    val w = 6; val h = 7; val rps = 4
    def v(x: Int, y: Int): Int = 300 * y + x
    val strips = (0 until 2).map { sIdx =>
      val rows = math.min(rps, h - sIdx * rps)
      val raw = java.nio.ByteBuffer.allocate(rows * w * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (y <- 0 until rows; x <- 0 until w)
        raw.putShort(v(x, sIdx * rps + y).toShort)
      Lzw.encode(raw.array())
    }
    val path = buildTiff("stripped_lzw.tif", w, h, 1, 16, 1, 5, 1, (273, 279), strips)
    val t = GeoTiff.open(path)
    assert(t.stripped && t.profile.lzw && t.profile.dataType == "uint16")
    val s0 = t.readTile(1, 0, 0)
    for (y <- 0 until 4; x <- 0 until w) assert(s0(y * w + x) == v(x, y).toDouble)
    val s1 = t.readTile(1, 1, 0)
    for (y <- 0 until 3; x <- 0 until w) assert(s1(y * w + x) == v(x, 4 + y).toDouble)
    assert((0 until w).forall(x => s1(3 * w + x) == 0.0), "pad row")
  }

  test("chunky (PlanarConfiguration=1) multiband reads per-band via stride") {
    // 4x4 3-band uint8, pixel-interleaved in one tile, uncompressed
    val w = 4
    def v(b: Int, i: Int): Int = (b * 50 + i) % 256
    val payload = Array.tabulate(w * w * 3)(j => v(j % 3 + 1, j / 3).toByte)
    val path = buildTiff("chunky_u8.tif", w, w, 3, 8, 1, 1, 1, (324, 325), Seq(payload))
    val t = GeoTiff.open(path)
    assert(t.chunky && !t.stripped && t.profile.bands == 3)
    for (b <- 1 to 3) {
      val got = t.readTile(b, 0, 0)
      (0 until w * w).foreach(i => assert(got(i) == v(b, i).toDouble, s"band $b px $i"))
    }
    intercept[IllegalArgumentException](t.readTile(4, 0, 0))
  }

  test("chunky + predictor 2 differences per COMPONENT (lag = bands)") {
    // 4x3 2-band uint8: horizontal differencing with lag 2, then verify
    // the reader reconstructs the original per-band planes
    val w = 4; val h = 3; val bands = 2
    def v(b: Int, x: Int, y: Int): Int = (b * 40 + 7 * x + 11 * y) % 256
    val raw = Array.tabulate(h * w * bands) { j =>
      val i = j / bands; val b = j % bands + 1
      v(b, i % w, i / w).toByte
    }
    val diffed = raw.clone()
    for (y <- 0 until h; c <- (w * bands - 1) to bands by -1)
      diffed(y * w * bands + c) =
        (diffed(y * w * bands + c) - raw(y * w * bands + c - bands)).toByte
    val path = buildTiff("chunky_pred.tif", w, h, bands, 8, 1, 1, 2, (324, 325), Seq(diffed))
    val t = GeoTiff.open(path)
    assert(t.chunky && t.profile.predictor == 2)
    for (b <- 1 to bands) {
      val got = t.readTile(b, 0, 0)
      for (y <- 0 until h; x <- 0 until w)
        assert(got(y * w + x) == v(b, x, y).toDouble, s"band $b ($x,$y)")
    }
  }

  test("codec x dtype x predictor matrix round-trips exactly") {
    val rng = new java.util.Random(99)
    def values(dt: String): Array[Double] = Array.tabulate(256)(_ => dt match {
      case "uint8"   => rng.nextInt(256).toDouble
      case "int8"    => (rng.nextInt(256) - 128).toDouble
      case "uint16"  => rng.nextInt(65536).toDouble
      case "int16"   => (rng.nextInt(65536) - 32768).toDouble
      case "uint32"  => (rng.nextLong() & 0xFFFFFFFFL).toDouble
      case "int32"   => rng.nextInt().toDouble
      case "float32" => rng.nextInt(1 << 20).toDouble // integer-valued ⇒ exact
      case "float64" => rng.nextDouble() * 1e9
    })
    val codecs = Seq[(String, GeoTiff.Profile => GeoTiff.Profile)](
      ("raw", _.copy(deflate = false)),
      ("deflate", identity),
      ("lzw", _.copy(deflate = false, lzw = true)),
      ("packbits", _.copy(deflate = false, packbits = true)),
      ("zstd", _.copy(deflate = false, zstd = true)))
    for {
      dt <- Seq("uint8", "int8", "uint16", "int16", "uint32", "int32",
        "float32", "float64")
      (cname, mk) <- codecs
      pred <- Seq(1, 2, 3)
      // predictor 2 is integer-only; predictor 3 (TTN3) is float-only
      if pred == 1 || (pred == 2 && !dt.startsWith("float")) ||
        (pred == 3 && dt.startsWith("float"))
    } {
      val v = values(dt)
      val path = tmp(s"mx_${dt}_${cname}_p$pred.tif")
      val w = new GeoTiff.Writer(path, mk(profile(dt)).copy(predictor = pred))
      for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, v)
      w.close()
      val t = GeoTiff.open(path)
      assert(t.profile.predictor == pred, s"$dt/$cname/p$pred tag")
      assert(t.readTile(1, 0, 0).sameElements(v), s"$dt/$cname/p$pred px")
    }
  }

  test("ZSTD tags compression=50000 and compresses constant tiles") {
    val path = tmp("zstd_const.tif")
    val w = new GeoTiff.Writer(path,
      profile("uint16").copy(deflate = false, zstd = true))
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, Array.fill(256)(7.0))
    w.close()
    val t = GeoTiff.open(path)
    assert(t.profile.compressionCode == 50000)
    assert(t.readTile(1, 0, 1).forall(_ == 7.0))
    // 4 x 512 raw bytes collapse to ~20-byte zstd frames; the IFD dominates
    assert(Files.size(Paths.get(path)) < 800, s"size ${Files.size(Paths.get(path))}")
  }

  test("JPEG (compression 7) round-trips 8-bit grayscale within DCT tolerance") {
    // smooth field: max-quality baseline JPEG keeps DCT rounding tiny
    val v = Array.tabulate(256) { i =>
      val x = i % 16; val y = i / 16
      math.rint(120.0 + 40.0 * math.sin(x * 0.3) * math.cos(y * 0.3))
    }
    val path = tmp("jpeg_u8.tif")
    val w = new GeoTiff.Writer(path,
      profile("uint8").copy(deflate = false, jpeg = true))
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, v)
    w.close()
    val t = GeoTiff.open(path)
    assert(t.profile.compressionCode == 7 && t.profile.jpeg)
    val got = t.readTile(1, 1, 0)
    val maxErr = got.zip(v).map { case (g, e) => math.abs(g - e) }.max
    assert(maxErr <= 3.0, s"max JPEG error $maxErr")
    // flat tiles are DCT-exact
    val w2 = new GeoTiff.Writer(tmp("jpeg_flat.tif"),
      profile("uint8").copy(deflate = false, jpeg = true))
    for (tr <- 0 to 1; tc <- 0 to 1) w2.writeTile(1, tr, tc, Array.fill(256)(200.0))
    w2.close()
    assert(GeoTiff.open(tmp("jpeg_flat.tif")).readTile(1, 0, 0).forall(_ == 200.0))
    // only 8-bit unsigned samples; no codec/predictor stacking
    intercept[IllegalArgumentException](
      profile("uint16").copy(deflate = false, jpeg = true))
    intercept[IllegalArgumentException](
      profile("uint8").copy(deflate = false, jpeg = true, lzw = true))
    intercept[IllegalArgumentException](
      profile("uint8").copy(deflate = false, jpeg = true, predictor = 2))
  }

  test("4-band RGB declares ExtraSamples (tag 338) = unassociated alpha") {
    val p = profile("uint8").copy(bands = 4, photometric = Some("RGB"))
    val path = tmp("rgba_extra.tif")
    val w = new GeoTiff.Writer(path, p)
    for (b <- 1 to 4; tr <- 0 to 1; tc <- 0 to 1)
      w.writeTile(b, tr, tc, Array.fill(256)(b * 10.0))
    w.close()
    // walk the classic IFD entry table for tag 338 (SHORT, count 1, value 2)
    val bytes = Files.readAllBytes(Paths.get(path))
    def le16(i: Int) = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
    def le32(i: Int) = le16(i) | (le16(i + 2) << 16)
    val ifd = le32(4)
    val n = le16(ifd)
    val entries = (0 until n).map(k => ifd + 2 + 12 * k)
    val e338 = entries.find(e => le16(e) == 338)
    assert(e338.isDefined, "tag 338 missing")
    assert(le16(e338.get + 2) == 3 && le32(e338.get + 4) == 1) // SHORT x1
    assert(le16(e338.get + 8) == 2) // unassociated alpha
    // 3-band RGB and 1-band gray files carry no ExtraSamples
    val p3 = tmp("rgb_noextra.tif")
    val w3 = new GeoTiff.Writer(p3, profile("uint8").copy(bands = 3,
      photometric = Some("RGB")))
    for (b <- 1 to 3; tr <- 0 to 1; tc <- 0 to 1)
      w3.writeTile(b, tr, tc, Array.fill(256)(1.0))
    w3.close()
    val b3 = Files.readAllBytes(Paths.get(p3))
    def le16b(i: Int) = (b3(i) & 0xff) | ((b3(i + 1) & 0xff) << 8)
    def le32b(i: Int) = le16b(i) | (le16b(i + 2) << 16)
    val ifd3 = le32b(4); val n3 = le16b(ifd3)
    assert(!(0 until n3).exists(k => le16b(ifd3 + 2 + 12 * k) == 338))
    // round-trip unaffected
    val t = GeoTiff.open(path)
    assert(t.profile.bands == 4 && t.readTile(4, 0, 0).forall(_ == 40.0))
  }

  test("multi-band grayscale declares ExtraSamples (tag 338) = unspecified") {
    // ADVICE r13: a 2-band MINISBLACK file shipped without tag 338, which
    // TIFF 6.0 §18 requires whenever bands exceed the photometric's
    // expected sample count (1 for grayscale). Extras here are data bands,
    // not alpha → marked 0 (unspecified).
    val p = profile("uint16").copy(bands = 2)
    val path = tmp("gray2_extra.tif")
    val w = new GeoTiff.Writer(path, p)
    for (b <- 1 to 2; tr <- 0 to 1; tc <- 0 to 1)
      w.writeTile(b, tr, tc, Array.fill(256)(b * 5.0))
    w.close()
    val bytes = Files.readAllBytes(Paths.get(path))
    def le16(i: Int) = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
    def le32(i: Int) = le16(i) | (le16(i + 2) << 16)
    val ifd = le32(4)
    val n = le16(ifd)
    val entries = (0 until n).map(k => ifd + 2 + 12 * k)
    val e338 = entries.find(e => le16(e) == 338)
    assert(e338.isDefined, "tag 338 missing on 2-band grayscale")
    assert(le16(e338.get + 2) == 3 && le32(e338.get + 4) == 1) // SHORT x1
    assert(le16(e338.get + 8) == 0) // unspecified, not alpha
    // round-trip unaffected
    val t = GeoTiff.open(path)
    assert(t.profile.bands == 2 && t.readTile(2, 0, 0).forall(_ == 10.0))
  }

  test("CCITT G4 cross-decodes against the JDK's independent T.6 codec") {
    // A self round-trip is BLIND to symmetric defects (encoder and decoder
    // share every helper) — the b1 parity inversion shipped three rounds
    // that way. Both directions against javax.imageio's own T.6 codec:
    val rng = new java.util.Random(11)
    val w = 24; val h = 8; val bpr = (w + 7) / 8
    for (trial <- 0 until 50) {
      val bits = Array.tabulate(h, w)((_, _) => rng.nextInt(2))
      val packed = new Array[Byte](bpr * h)
      for (y <- 0 until h; x <- 0 until w if bits(y)(x) == 1)
        packed(y * bpr + x / 8) = (packed(y * bpr + x / 8) | (1 << (7 - x % 8))).toByte
      // direction 1: ImageIO encodes, we decode
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, if (bits(y)(x) == 1) 0x000000 else 0xFFFFFF)
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("TIFF").next()
      val prm = wr.getDefaultWriteParam
      prm.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      prm.setCompressionType("CCITT T.6")
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      try { wr.setOutput(ios); wr.write(null,
        new javax.imageio.IIOImage(img, null, null), prm) }
      finally { wr.dispose(); ios.close() }
      val tif = bos.toByteArray
      // minimal IFD walk for the single-strip payload
      val bb = java.nio.ByteBuffer.wrap(tif).order(
        if (tif(0) == 'I') java.nio.ByteOrder.LITTLE_ENDIAN
        else java.nio.ByteOrder.BIG_ENDIAN)
      val ifd = bb.getInt(4); val n = bb.getShort(ifd) & 0xffff
      var off = -1L; var cnt = -1L
      for (i <- 0 until n) {
        val e = ifd + 2 + i * 12
        val id = bb.getShort(e) & 0xffff; val typ = bb.getShort(e + 2) & 0xffff
        val v = if (typ == 3) (bb.getShort(e + 8) & 0xffff).toLong
          else bb.getInt(e + 8) & 0xffffffffL
        if (id == 273) off = v; if (id == 279) cnt = v
      }
      val payload = java.util.Arrays.copyOfRange(tif, off.toInt, (off + cnt).toInt)
      assert(CcittG4.decode(payload, w, h, bpr).sameElements(packed),
        s"trial $trial: JDK-encoded stream misread")
      // direction 2: we encode, ImageIO decodes (splice our payload into
      // the JDK's own container so only the codec differs)
      val ours = CcittG4.encode(packed, w, h, bpr)
      val spliced = java.util.Arrays.copyOf(tif, off.toInt + ours.length)
      System.arraycopy(ours, 0, spliced, off.toInt, ours.length)
      // patch StripByteCounts
      for (i <- 0 until n) {
        val e = ifd + 2 + i * 12
        if ((bb.getShort(e) & 0xffff) == 279) {
          val nb = java.nio.ByteBuffer.wrap(spliced).order(bb.order())
          if ((bb.getShort(e + 2) & 0xffff) == 3) nb.putShort(e + 8, ours.length.toShort)
          else nb.putInt(e + 8, ours.length)
        }
      }
      val rd = javax.imageio.ImageIO.getImageReadersByFormatName("TIFF").next()
      rd.setInput(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(spliced)))
      val back = try rd.read(0) finally rd.dispose()
      for (y <- 0 until h; x <- 0 until w)
        assert((if ((back.getRGB(x, y) & 0xffffff) == 0) 1 else 0) == bits(y)(x),
          s"trial $trial: JDK misreads our stream at ($x,$y)")
    }
  }

  test("NaN nodata: tag round-trips (incl. glibc 'nan'), sparse holes fire") {
    val p = profile("float32", nd = Some(Double.NaN))
    val path = tmp("nan_nodata.tif")
    val w = new GeoTiff.Writer(path, p, sparse = true)
    // tile (0,0) carries data; the other three are all-NaN → SPARSE holes
    // (NaN != NaN would make the hole scan see every pixel as data)
    w.writeTile(1, 0, 0, Array.tabulate(256)(i => if (i % 7 == 0) Double.NaN else i.toDouble))
    for ((tr, tc) <- Seq((0, 1), (1, 0), (1, 1)))
      w.writeTile(1, tr, tc, Array.fill(256)(Double.NaN))
    w.close()
    val t = GeoTiff.open(path)
    assert(t.profile.noData.exists(_.isNaN), s"nodata ${t.profile.noData}")
    assert(t.tileCounts.count(_ == 0L) == 3, "all-NaN tiles must be sparse holes")
    val px = t.readTile(1, 0, 0)
    assert(px(0).isNaN && px(1) == 1.0)
    // a hole reads back as the NaN fill
    assert(t.readTile(1, 1, 1).forall(_.isNaN))
  }

  test("TTN3 float predictor on CHUNKY rows differences at the sample stride") {
    // libtiff's fpDiff/fpAcc use stride = samples-per-pixel on
    // PlanarConfiguration=1 rows: within a byte plane, other bands'
    // samples sit between same-band neighbours. Lag-1 differencing there
    // is NOT the TTN3 transform and decodes to garbage in GDAL.
    val p = profile("float32").copy(bands = 2, predictor = 3)
    val path = tmp("chunky_pred3.tif")
    val w = new GeoTiff.Writer(path, p, pixelInterleave = true)
    def plane(b: Int): Array[Double] = Array.tabulate(256) { i =>
      b * 1000.0 + (i % 16) * 0.25 - (i / 16) * 0.125
    }
    for (tr <- 0 to 1; tc <- 0 to 1)
      w.writeTileInterleaved(tr, tc, Seq(plane(1), plane(2)))
    w.close()
    val t = GeoTiff.open(path)
    assert(t.profile.predictor == 3 && t.chunky)
    for (b <- 1 to 2)
      assert(t.readTile(b, 1, 0).sameElements(plane(b)), s"band $b")
  }

  test("SubIFD overviews (tag 330, TIFF-EP tree) write and read back") {
    val p = profile("uint16")
    val path = tmp("subifd_ovr.tif")
    // bare SubIFD levels (no geo tags) — both real-world conventions at once
    val w = new GeoTiff.Writer(path, p, overviewFactors = Seq(2),
      subIfdOverviews = true, geoTagsOnOverviews = false)
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, Array.fill(256)(7.0))
    w.writeOverviewTile(1, 1, 0, 0, Array.fill(256)(9.0))
    w.close()
    // the base IFD must NOT chain — the pyramid hangs off tag 330
    val bytes = Files.readAllBytes(Paths.get(path))
    def le16(i: Int) = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
    def le32(i: Int) = le16(i) | (le16(i + 2) << 16)
    val ifd = le32(4)
    val n = le16(ifd)
    assert(le32(ifd + 2 + 12 * n) == 0, "base next-IFD pointer must be 0")
    assert((0 until n).exists(k => le16(ifd + 2 + 12 * k) == 330), "tag 330 missing")
    // openAll traverses the tree: 2 levels, derived geo, right pixels
    val levels = GeoTiff.openAll(path)
    assert(levels.length == 2, s"got ${levels.length} levels")
    assert(levels(1).profile.width == 16 && levels(1).profile.xres == p.xres * 2)
    assert(levels(1).readTile(1, 0, 0).take(16).forall(_ == 9.0))
    assert(levels(0).readTile(1, 0, 0).forall(_ == 7.0))
  }

  test("bare GDAL-style overview IFDs inherit derived georeferencing") {
    // GDAL writes overview IFDs with NO ModelPixelScale/Tiepoint/GeoKeys/
    // GDAL_NODATA; a reader trusting per-IFD tags would see xres=1,
    // origin=(0,0) and index garbage. Emulate that layout and prove the
    // open path derives the level's geo from the base.
    val p = profile("uint16")
    val path = tmp("bare_ovr.tif")
    val w = new GeoTiff.Writer(path, p, overviewFactors = Seq(2),
      geoTagsOnOverviews = false)
    for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, Array.fill(256)(7.0))
    w.writeOverviewTile(1, 1, 0, 0, Array.fill(256)(9.0))
    w.close()
    val levels = GeoTiff.openAll(path)
    assert(levels.length == 2)
    val l1 = levels(1).profile
    assert(l1.xres == p.xres * 2 && l1.yres == p.yres * 2,
      s"derived res (${l1.xres}, ${l1.yres})")
    assert(l1.originX == p.originX && l1.originY == p.originY)
    assert(l1.epsg == p.epsg && l1.noData == p.noData)
    assert(levels(1).readTile(1, 0, 0).take(16).forall(_ == 9.0))
    // geo-tagged overviews (our default layout) keep their own tags
    val path2 = tmp("tagged_ovr.tif")
    val w2 = new GeoTiff.Writer(path2, p, overviewFactors = Seq(2))
    for (tr <- 0 to 1; tc <- 0 to 1) w2.writeTile(1, tr, tc, Array.fill(256)(7.0))
    w2.writeOverviewTile(1, 1, 0, 0, Array.fill(256)(9.0))
    w2.close()
    assert(GeoTiff.openAll(path2)(1).profile.xres == p.xres * 2)
  }

  test("3-band color JPEG (YCbCr) writes interleaved and reads per band") {
    val p = profile("uint8").copy(deflate = false, jpeg = true, bands = 3,
      photometric = Some("YCBCR"))
    // colored smooth field: bands differ, so band routing is observable
    def plane(b: Int): Array[Double] = Array.tabulate(256) { i =>
      val x = i % 16; val y = i / 16
      math.rint(60.0 * b + 30.0 * math.sin((x + b) * 0.25) * math.cos(y * 0.25))
    }
    val path = tmp("jpeg_rgb.tif")
    val w = new GeoTiff.Writer(path, p, pixelInterleave = true)
    for (tr <- 0 to 1; tc <- 0 to 1)
      w.writeTileInterleaved(tr, tc, (1 to 3).map(plane))
    w.close()
    val t = GeoTiff.open(path)
    assert(t.profile.bands == 3 && t.profile.jpeg && t.chunky)
    assert(t.profile.photometricCode == 6) // YCbCr on disk
    for (b <- 1 to 3) {
      val got = t.readTile(b, 1, 1)
      val exp = plane(b)
      val maxErr = got.zip(exp).map { case (g, e) => math.abs(g - e) }.max
      // YCbCr forward+inverse + DCT at max quality: small but nonzero
      assert(maxErr <= 4.0, s"band $b max color-JPEG error $maxErr")
    }
    // GRAY values (r=g=b, constant per 8x8 block) are YCbCr-EXACT:
    // Cb=Cr=128 survives the color transform and flat blocks are DC-only
    def gv(x: Int, y: Int): Double = ((5 * (x / 8) + 11 * (y / 8) + 40) % 256).toDouble
    val path2 = tmp("jpeg_rgb_gray.tif")
    val w2 = new GeoTiff.Writer(path2, p, pixelInterleave = true)
    val g = Array.tabulate(256)(i => gv(i % 16, i / 16))
    for (tr <- 0 to 1; tc <- 0 to 1)
      w2.writeTileInterleaved(tr, tc, Seq(g, g, g))
    w2.close()
    val t2 = GeoTiff.open(path2)
    for (b <- 1 to 3)
      assert(t2.readTile(b, 0, 0).sameElements(g), s"band $b gray not exact")
    // shared JPEGTables compose with color tiles
    val path3 = tmp("jpeg_rgb_shared.tif")
    val w3 = new GeoTiff.Writer(path3, p, pixelInterleave = true,
      sharedJpegTables = true)
    for (tr <- 0 to 1; tc <- 0 to 1)
      w3.writeTileInterleaved(tr, tc, Seq(g, g, g))
    w3.close()
    val t3 = GeoTiff.open(path3)
    assert(t3.jpegTables.isDefined)
    assert(t3.readTile(2, 1, 0).sameElements(g))
    // 2-band JPEG has no JFIF layout — reject loudly
    intercept[IllegalArgumentException](new GeoTiff.Writer(
      tmp("jpeg_2band.tif"), p.copy(bands = 2), pixelInterleave = true))
  }

  test("JPEG_QUALITY creation option trades size for bounded DCT loss") {
    val v = Array.tabulate(256) { i =>
      val x = i % 16; val y = i / 16
      math.rint(120.0 + 40.0 * math.sin(x * 0.3) * math.cos(y * 0.3))
    }
    def write(q: Float): String = {
      val path = tmp(f"jpeg_q$q%.2f.tif")
      val w = new GeoTiff.Writer(path,
        profile("uint8").copy(deflate = false, jpeg = true, jpegQuality = q))
      for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, v)
      w.close()
      path
    }
    val hi = write(1.0f); val lo = write(0.5f)
    assert(Files.size(Paths.get(lo)) < Files.size(Paths.get(hi)),
      "lower quality must shrink the file")
    def maxErr(p: String): Double =
      GeoTiff.open(p).readTile(1, 0, 0).zip(v).map { case (g, e) =>
        math.abs(g - e) }.max
    assert(maxErr(hi) <= 3.0 && maxErr(lo) <= 20.0,
      s"errors ${maxErr(hi)} / ${maxErr(lo)}")
    intercept[IllegalArgumentException](
      profile("uint8").copy(deflate = false, jpeg = true, jpegQuality = 0f))
  }

  test("shared JPEGTables (tag 347) dedupes DQT/DHT; abbreviated tiles decode") {
    // per-8x8-flat pixels => DCT-exact: shared-tables file must decode
    // BIT-identically to the full-stream twin
    def v(x: Int, y: Int): Double = ((5 * (x / 8) + 11 * (y / 8) + 3) % 256).toDouble
    val p = profile("uint8").copy(deflate = false, jpeg = true)
    def write(path: String, shared: Boolean): Unit = {
      val w = new GeoTiff.Writer(path, p, sharedJpegTables = shared)
      for (tr <- 0 to 1; tc <- 0 to 1)
        w.writeTile(1, tr, tc, Array.tabulate(256) { i =>
          v(tc * 16 + i % 16, tr * 16 + i / 16)
        })
      w.close()
    }
    write(tmp("jt_full.tif"), shared = false)
    write(tmp("jt_shared.tif"), shared = true)
    val full = GeoTiff.open(tmp("jt_full.tif"))
    val shared = GeoTiff.open(tmp("jt_shared.tif"))
    assert(shared.jpegTables.isDefined && full.jpegTables.isEmpty)
    // the shared tables stream is SOI + DQT/DHT + EOI
    val tb = shared.jpegTables.get
    assert((tb(0) & 0xff) == 0xff && (tb(1) & 0xff) == 0xd8 &&
      (tb(tb.length - 2) & 0xff) == 0xff && (tb(tb.length - 1) & 0xff) == 0xd9)
    for (tr <- 0 to 1; tc <- 0 to 1)
      assert(shared.readTile(1, tr, tc).sameElements(full.readTile(1, tr, tc)),
        s"tile ($tr,$tc)")
    // 4 tiles each shed their ~100+ bytes of tables; one copy remains
    assert(Files.size(Paths.get(tmp("jt_shared.tif"))) <
      Files.size(Paths.get(tmp("jt_full.tif"))))
    // tag 347 is JPEG-only
    intercept[IllegalArgumentException](
      new GeoTiff.Writer(tmp("jt_bad.tif"), profile("uint8"), sharedJpegTables = true))
  }

  test("external .ovr sidecar levels append after the file's own chain") {
    val T = 16; val W = 32
    def v(x: Int, y: Int): Double = ((7 * x + 13 * y) % 60000).toDouble
    val base = tmp("ext_ovr.tif")
    Files.deleteIfExists(Paths.get(base + ".ovr")) // stale sidecar from a prior run
    val p = GeoTiff.Profile(W, W, 1, "uint16", T, T, Some(0.0), 4326,
      10.0, 20.0, 0.25, 0.25, deflate = true)
    val w = new GeoTiff.Writer(base, p)
    for (tr <- 0 until 2; tc <- 0 until 2)
      w.writeTile(1, tr, tc, Array.tabulate(T * T) { i =>
        v(tc * T + i % T, tr * T + i / T)
      })
    w.close()
    // no sidecar: just the base level
    assert(GeoTiff.openWithOverviews(base).length == 1)
    // gdaladdo -ro layout: <path>.ovr is a bare TIFF carrying the levels
    val op = p.copy(width = W / 2, height = W / 2, xres = 0.5, yres = 0.5)
    val ow = new GeoTiff.Writer(base + ".ovr", op)
    ow.writeTile(1, 0, 0, Array.tabulate(T * T)(i => v(2 * (i % T), 2 * (i / T))))
    ow.close()
    val levels = GeoTiff.openWithOverviews(base)
    assert(levels.length == 2)
    assert(levels.map(_.profile.width) == Seq(32, 16))
    assert(levels(1).readTile(1, 0, 0)(T + 1) == v(2, 2)) // ovr (1,1) = base (2,2)
  }

  test("COG layout puts the IFD chain at the head; pixels and pyramid intact") {
    val T = 16; val W = 32
    def v(x: Int, y: Int): Double = ((11 * x + 3 * y) % 60000).toDouble
    val p = GeoTiff.Profile(W, W, 1, "uint16", T, T, Some(0.0), 4326,
      10.0, 20.0, 0.25, 0.25, deflate = true)
    def write(path: String, cog: Boolean): Unit = {
      val w = new GeoTiff.Writer(path, p, overviewFactors = Seq(2), cogLayout = cog)
      for (tr <- 0 until 2; tc <- 0 until 2)
        w.writeTile(1, tr, tc, Array.tabulate(T * T) { i =>
          v(tc * T + i % T, tr * T + i / T)
        })
      w.writeOverviewTile(1, 1, 0, 0, Array.tabulate(T * T)(i => v(2 * (i % T), 2 * (i / T))))
      w.close()
    }
    write(tmp("cog.tif"), cog = true)
    write(tmp("nocog.tif"), cog = false)
    // classic header: first-IFD pointer at byte 4 must be 8 (head-first)
    val head = Files.readAllBytes(Paths.get(tmp("cog.tif"))).take(8)
    val firstIfd = java.nio.ByteBuffer.wrap(head, 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt & 0xffffffffL
    assert(firstIfd == 8, s"COG first IFD at $firstIfd")
    // every tile payload sits AFTER the whole IFD chain
    val cog = GeoTiff.openAll(tmp("cog.tif"))
    val minOff = cog.flatMap(_.tileOffsets).filter(_ > 0).min
    assert(minOff > 8, s"payloads start at $minOff")
    // and decodes bit-identically to the IFD-last twin, both levels
    val plain = GeoTiff.openAll(tmp("nocog.tif"))
    assert(cog.length == 2 && cog.map(_.profile) == plain.map(_.profile))
    for (l <- 0 to 1; tr <- 0 until cog(l).profile.tilesDown;
         tc <- 0 until cog(l).profile.tilesAcross)
      assert(cog(l).readTile(1, tr, tc).sameElements(plain(l).readTile(1, tr, tc)),
        s"level $l tile ($tr,$tc)")
    // BigTIFF + COG: pointer at byte 8 → 16
    val bw = new GeoTiff.Writer(tmp("cog_big.tif"), p, bigtiff = true, cogLayout = true)
    for (tr <- 0 until 2; tc <- 0 until 2)
      bw.writeTile(1, tr, tc, Array.fill(T * T)(7.0))
    bw.close()
    val bh = Files.readAllBytes(Paths.get(tmp("cog_big.tif"))).take(16)
    val bFirst = java.nio.ByteBuffer.wrap(bh, 8, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    assert(bFirst == 16L, s"BigTIFF COG first IFD at $bFirst")
    assert(GeoTiff.open(tmp("cog_big.tif")).readTile(1, 1, 1).forall(_ == 7.0))
    // sparse + COG: holes stay offset 0, filled tiles shift with the data
    val sp = p.copy(noData = Some(42.0))
    val sw = new GeoTiff.Writer(tmp("cog_sparse.tif"), sp, sparse = true, cogLayout = true)
    sw.writeTile(1, 0, 0, Array.tabulate(T * T)(i => if (i % 3 == 0) 42.0 else 5.0))
    for ((tr, tc) <- Seq((0, 1), (1, 0), (1, 1)))
      sw.writeTile(1, tr, tc, Array.fill(T * T)(42.0))
    sw.close()
    val st = GeoTiff.open(tmp("cog_sparse.tif"))
    assert(st.tileCounts.count(_ == 0L) == 3)
    assert(st.readTile(1, 1, 1).forall(_ == 42.0))
    assert(st.readTile(1, 0, 0).count(_ == 5.0) == (T * T) - (T * T + 2) / 3)
  }

  test("COG + overviews combined: GDAL-validator layout conformance") {
    // the two features landed in separate r13 changes; this pins their
    // COMBINED invariants, the checks gdal's
    // validate_cloud_optimized_geotiff.py reports as errors (VERDICT r13
    // #8): (1) head-first IFD chain — main IFD first, then overviews in
    // decreasing resolution, ALL before any image data; (2) tile-data
    // ordering — each overview's first data block precedes the
    // next-larger level's, base-resolution data last; (3) within an IFD,
    // written tile offsets ascend (row-major streaming order).
    val T = 16; val W = 64
    def v(x: Int, y: Int): Double = ((7 * x + 13 * y) % 60000).toDouble
    val p = GeoTiff.Profile(W, W, 1, "uint16", T, T, Some(0.0), 4326,
      10.0, 20.0, 0.25, 0.25, deflate = true)
    val path = tmp("cog_conform.tif")
    val w = new GeoTiff.Writer(path, p, overviewFactors = Seq(2, 4),
      cogLayout = true)
    // sink order: base first (overviews are downsampled from it) — the
    // writer must still emit overview DATA first
    for (tr <- 0 until 4; tc <- 0 until 4)
      w.writeTile(1, tr, tc, Array.tabulate(T * T)(i => v(tc * T + i % T, tr * T + i / T)))
    for (tr <- 0 until 2; tc <- 0 until 2)
      w.writeOverviewTile(1, 1, tr, tc,
        Array.tabulate(T * T)(i => v(2 * (tc * T + i % T), 2 * (tr * T + i / T))))
    w.writeOverviewTile(2, 1, 0, 0, Array.tabulate(T * T)(i => v(4 * (i % T), 4 * (i / T))))
    w.close()

    val bytes = Files.readAllBytes(Paths.get(path))
    def le16(i: Int) = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
    def le32(i: Int) = (le16(i).toLong | (le16(i + 2).toLong << 16)) & 0xffffffffL
    // rule 1a: first IFD directly after the 8-byte classic header
    assert(le32(4) == 8L, s"first IFD at ${le32(4)}")
    // walk the chain: collect each IFD's span and next pointer
    var ifdAt = le32(4)
    var spans = Vector.empty[(Long, Long)] // (start, end)
    while (ifdAt != 0L) {
      val n = le16(ifdAt.toInt)
      val end = ifdAt + 2 + 12L * n + 4
      spans :+= (ifdAt, end)
      ifdAt = le32((ifdAt + 2 + 12 * n).toInt)
    }
    assert(spans.length == 3, s"chain of ${spans.length} IFDs")
    // rule 1b: main, then overviews in decreasing resolution, contiguous
    val levels = GeoTiff.openAll(path)
    assert(levels.map(_.profile.width) == Seq(64, 32, 16))
    assert(spans.map(_._1) == spans.map(_._1).sorted, "IFD chain must descend the file")
    // rule 1c: every IFD (incl. out-of-line tag values) before all data.
    // Out-of-line values land between the entry tables, so the practical
    // check is: all data offsets after the LAST IFD's end.
    val chainEnd = spans.last._2
    val allOffsets = levels.flatMap(_.tileOffsets).filter(_ > 0)
    assert(allOffsets.forall(_ >= chainEnd),
      s"data before IFD-chain end $chainEnd: ${allOffsets.min}")
    // rule 2: smallest overview's data first, base data last
    val firstOff = levels.map(_.tileOffsets.filter(_ > 0).min)
    assert(firstOff(2) < firstOff(1) && firstOff(1) < firstOff(0),
      s"level first-offsets $firstOff must descend resolution ascending file")
    // rule 3: within each IFD, offsets ascend in tile-index order
    levels.foreach(t => assert(
      t.tileOffsets.filter(_ > 0).toSeq == t.tileOffsets.filter(_ > 0).sorted.toSeq,
      "within-IFD tile data must ascend"))
    // and the reorder kept every pixel: all three levels decode exactly
    for (tr <- 0 until 4; tc <- 0 until 4; i <- Seq(0, 17, 255))
      assert(levels(0).readTile(1, tr, tc)(i) ==
        v(tc * T + i % T, tr * T + i / T))
    for (tr <- 0 until 2; tc <- 0 until 2; i <- Seq(0, 17, 255))
      assert(levels(1).readTile(1, tr, tc)(i) ==
        v(2 * (tc * T + i % T), 2 * (tr * T + i / T)))
    for (i <- Seq(0, 17, 255))
      assert(levels(2).readTile(1, 0, 0)(i) == v(4 * (i % T), 4 * (i / T)))
    // no temp residue from the reorder pass
    assert(!Files.exists(Paths.get(path + ".cogtmp")))
  }

  test("palette (ColorMap tag 320) round-trips the GDAL color table") {
    val pal = Seq((230, 25, 75), (60, 180, 75), (255, 225, 25),
      (0, 130, 200), (245, 130, 48))
    val p = profile("uint8").copy(deflate = false,
      photometric = Some("PALETTE"), palette = Some(pal))
    val path = tmp("pal.tif")
    val w = new GeoTiff.Writer(path, p)
    for (tr <- 0 to 1; tc <- 0 to 1)
      w.writeTile(1, tr, tc, Array.tabulate(256)(i => (i % 5).toDouble))
    w.close()
    val t = GeoTiff.open(path)
    assert(t.profile.photometric.contains("PALETTE"))
    // writer pads to 2^bits entries; colors narrow back exactly (c*257 >> 8)
    val got = t.profile.palette.get
    assert(got.length == 256 && got.take(5) == pal && got(200) == ((0, 0, 0)))
    assert(t.readTile(1, 0, 0).take(5).sameElements(Array(0.0, 1.0, 2.0, 3.0, 4.0)))
    // NBITS=4 indices carry a 16-entry table
    val p4 = profile("uint8").copy(nbits = Some(4),
      photometric = Some("PALETTE"), palette = Some(pal))
    val w4 = new GeoTiff.Writer(tmp("pal4.tif"), p4)
    for (tr <- 0 to 1; tc <- 0 to 1)
      w4.writeTile(1, tr, tc, Array.tabulate(256)(i => (i % 5).toDouble))
    w4.close()
    assert(GeoTiff.open(tmp("pal4.tif")).profile.palette.get.length == 16)
    // a palette demands PALETTE photometric and unsigned integer indices
    intercept[IllegalArgumentException](profile("uint8").copy(palette = Some(pal)))
    intercept[IllegalArgumentException](profile("float32")
      .copy(photometric = Some("PALETTE"), palette = Some(pal)))
  }

  test("predictor 3 (TTN3 float) round-trips and compresses smooth float ramps") {
    // a smooth f32 ramp: byte-plane split + differencing turns the shared
    // exponent/mantissa prefixes into long zero runs
    val ramp = Array.tabulate(256)(i => 1000.0 + i * 0.125)
    val plain = tmp("f32_plain.tif"); val pred3 = tmp("f32_pred3.tif")
    for ((path, pr) <- Seq((plain, 1), (pred3, 3))) {
      val w = new GeoTiff.Writer(path, profile("float32").copy(predictor = pr))
      for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, ramp)
      w.close()
    }
    val t = GeoTiff.open(pred3)
    assert(t.profile.predictor == 3)
    assert(t.readTile(1, 0, 0).sameElements(ramp))
    assert(Files.size(Paths.get(pred3)) < Files.size(Paths.get(plain)),
      s"pred3 ${Files.size(Paths.get(pred3))} !< plain ${Files.size(Paths.get(plain))}")
    // float16 and float64 sample widths run the same plane logic
    for (dt <- Seq("float16", "float64")) {
      val v = Array.tabulate(256)(i => (i % 64) * 0.5)
      val path = tmp(s"pred3_$dt.tif")
      val w = new GeoTiff.Writer(path, profile(dt).copy(predictor = 3))
      for (tr <- 0 to 1; tc <- 0 to 1) w.writeTile(1, tr, tc, v)
      w.close()
      assert(GeoTiff.open(path).readTile(1, 1, 0).sameElements(v), dt)
    }
    // integer profiles reject predictor 3 at construction
    intercept[IllegalArgumentException](profile("uint16").copy(predictor = 3))
  }

  test("IFD chain: internal overviews read as pyramid levels via openAll") {
    // hand-build a 2-level file: 8x8 full-res + 4x4 overview (gdaladdo
    // layout: chained IFDs, each with its own tile data)
    val bb = java.nio.ByteBuffer.allocate(8192)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42)
    val hdrPatch = bb.position(); bb.putInt(0)
    def image(w: Int, f: Int => Int): (Int, Int) = {
      val at = bb.position()
      (0 until w * w).foreach(i => bb.put(f(i).toByte))
      (at, w * w)
    }
    val (full, fullLen) = image(8, i => i)
    val (ovr, ovrLen) = image(4, i => 100 + i)
    def ifd(w: Int, dataAt: Int, dataLen: Int): Int = {
      val entries = Seq[(Int, Int, Int, Long)](
        (256, 4, 1, w), (257, 4, 1, w), (258, 3, 1, 8), (259, 3, 1, 1),
        (277, 3, 1, 1), (284, 3, 1, 1),
        (322, 4, 1, w), (323, 4, 1, w),
        (324, 4, 1, dataAt), (325, 4, 1, dataLen), (339, 3, 1, 1))
      val at = bb.position()
      bb.putShort(entries.length.toShort)
      entries.foreach { case (tag, typ, count, value) =>
        bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
        if (typ == 3) bb.putShort(value.toShort).putShort(0) else bb.putInt(value.toInt)
      }
      val nextPatch = bb.position(); bb.putInt(0)
      (nextPatch)
    }
    val ifd0At = bb.position()
    val next0Patch = ifd(8, full, fullLen)
    val ifd1At = bb.position()
    ifd(4, ovr, ovrLen)
    bb.putInt(hdrPatch, ifd0At)
    bb.putInt(next0Patch, ifd1At)
    val path = tmp("pyramid.tif")
    Files.write(Paths.get(path), java.util.Arrays.copyOf(bb.array(), bb.position()))

    val levels = GeoTiff.openAll(path)
    assert(levels.length == 2)
    assert(levels(0).profile.width == 8 && levels(1).profile.width == 4)
    assert(levels(0).readTile(1, 0, 0).sameElements(Array.tabulate(64)(_.toDouble)))
    assert(levels(1).readTile(1, 0, 0)
      .sameElements(Array.tabulate(16)(i => (100 + i).toDouble)))
    // open() = the full-resolution head of the chain
    assert(GeoTiff.open(path).profile.width == 8)
    // a circular chain terminates instead of looping forever
    bb.putInt(next0Patch, ifd0At)
    Files.write(Paths.get(path), java.util.Arrays.copyOf(bb.array(), bb.position()))
    assert(GeoTiff.openAll(path).length >= 1) // must return, not hang
  }

  test("stripped WRITER emits unpadded last strip; round-trips via own reader") {
    // 24 wide x 20 high uint16, RowsPerStrip 16 -> strips of 16 and 4 rows
    val W = 24; val H = 20; val rps = 16
    def v(x: Int, y: Int): Double = (31 * x + 7 * y).toDouble
    val p = GeoTiff.Profile(W, H, 1, "uint16", W, rps, Some(0.0), 4326,
      0, 0, 1, 1, deflate = false, lzw = true)
    val path = tmp("w_stripped.tif")
    val w = new GeoTiff.Writer(path, p, stripped = true)
    for (tr <- 0 until p.tilesDown)
      w.writeTile(1, tr, 0, Array.tabulate(W * rps) { i =>
        val gy = tr * rps + i / W
        if (gy < H) v(i % W, gy) else 0.0
      })
    w.close()
    val t = GeoTiff.open(path)
    assert(t.stripped && t.profile.lzw && t.profile.tileHeight == rps)
    for (tr <- 0 until 2; y <- 0 until rps; x <- 0 until W) {
      val gy = tr * rps + y
      val expect = if (gy < H) v(x, gy) else 0.0
      assert(t.readTile(1, tr, 0)(y * W + x) == expect, s"($x,$gy)")
    }
    // the second strip's payload covers only 4 real rows: its LZW stream
    // must be far smaller than the full strip's
    assert(t.tileCounts(1) < t.tileCounts(0), s"${t.tileCounts.toSeq}")
    // full-width invariant enforced at construction
    intercept[IllegalArgumentException](
      new GeoTiff.Writer(tmp("w_badstrip.tif"),
        p.copy(tileWidth = 16), stripped = true))
  }

  test("chunky WRITER interleaves bands; reader de-interleaves them back") {
    val W = 16
    def v(b: Int, i: Int): Double = ((b * 1000 + i * 3) % 60000).toDouble
    val p = GeoTiff.Profile(W, W, 3, "uint16", W, W, None, 4326,
      0, 0, 1, 1, deflate = true, predictor = 2)
    val path = tmp("w_chunky.tif")
    val w = new GeoTiff.Writer(path, p, pixelInterleave = true)
    w.writeTileInterleaved(0, 0,
      (1 to 3).map(b => Array.tabulate(W * W)(i => v(b, i))))
    w.close()
    val t = GeoTiff.open(path)
    assert(t.chunky && t.profile.bands == 3 && t.profile.predictor == 2)
    for (b <- 1 to 3) {
      val got = t.readTile(b, 0, 0)
      (0 until W * W).foreach(i => assert(got(i) == v(b, i), s"band $b px $i"))
    }
    // writeTile on a multiband chunky writer is a loud error
    intercept[IllegalArgumentException](
      w.writeTile(1, 0, 0, Array.fill(W * W)(0.0)))
  }

  test("pyramid WRITER chains overview IFDs that openAll reads back") {
    // 32x32 uint16 base (4 16px tiles) + factor-2 and factor-4 overviews
    val T = 16; val W = 32
    def v(x: Int, y: Int): Double = ((11 * x + 3 * y) % 60000).toDouble
    val p = GeoTiff.Profile(W, W, 1, "uint16", T, T, Some(0.0), 4326,
      10.0, 20.0, 0.25, 0.25, deflate = true)
    val path = tmp("w_pyramid.tif")
    val w = new GeoTiff.Writer(path, p, overviewFactors = Seq(2, 4))
    for (tr <- 0 until 2; tc <- 0 until 2)
      w.writeTile(1, tr, tc, Array.tabulate(T * T) { i =>
        v(tc * T + i % T, tr * T + i / T)
      })
    // nearest-neighbor levels: ovr k pixel (x,y) = base (f*x, f*y)
    for ((f, ovr) <- Seq((2, 1), (4, 2))) {
      val ow = W / f
      w.writeOverviewTile(ovr, 1, 0, 0, Array.tabulate(T * T) { i =>
        val x = i % T; val y = i / T
        if (x < ow && y < ow) v(f * x, f * y) else 0.0
      })
    }
    w.close()
    val levels = GeoTiff.openAll(path)
    assert(levels.length == 3)
    assert(levels.map(_.profile.width) == Seq(32, 16, 8))
    // overview resolution scales with the factor; origin is unchanged
    assert(levels(1).profile.xres == 0.5 && levels(2).profile.xres == 1.0)
    assert(levels.forall(t => t.profile.originX == 10.0 && t.profile.noData.contains(0.0)))
    assert(levels(0).readTile(1, 1, 1)(0) == v(16, 16))
    for ((f, l) <- Seq((2, 1), (4, 2)); i <- 0 until T * T) {
      val x = i % T; val y = i / T
      val expect = if (x < W / f && y < W / f) v(f * x, f * y) else 0.0
      assert(levels(l).readTile(1, 0, 0)(i) == expect, s"level $l px ($x,$y)")
    }
    // an unwritten overview tile is a loud close() error (non-sparse)
    val part = new GeoTiff.Writer(tmp("w_pyr_partial.tif"), p,
      overviewFactors = Seq(2))
    for (tr <- 0 until 2; tc <- 0 until 2)
      part.writeTile(1, tr, tc, Array.fill(T * T)(1.0))
    intercept[IllegalArgumentException](part.close())
    // overviews need the tiled band-separate layout
    intercept[IllegalArgumentException](
      new GeoTiff.Writer(tmp("w_pyr_bad.tif"), p.copy(tileWidth = W),
        stripped = true, overviewFactors = Seq(2)))
  }

  test("sparse WRITER (SPARSE_OK) skips all-nodata tiles; reader fills holes") {
    // 32x32 uint16, 16px tiles -> 4 tiles, nodata 42 (tile.py:65 SPARSE_OK)
    val T = 16
    def v(x: Int, y: Int): Double = ((13 * x + 7 * y) % 60000).toDouble
    val p = GeoTiff.Profile(2 * T, 2 * T, 1, "uint16", T, T, Some(42.0), 4326,
      0, 0, 1, 1, deflate = true)
    val path = tmp("w_sparse.tif")
    val w = new GeoTiff.Writer(path, p, sparse = true)
    w.writeTile(1, 0, 0, Array.tabulate(T * T)(i => v(i % T, i / T)))
    w.writeTile(1, 0, 1, Array.fill(T * T)(42.0)) // explicit all-nodata -> hole
    // tiles (1,0) and (1,1) never written -> holes too
    w.close()
    val t = GeoTiff.open(path)
    assert(t.tileCounts.toSeq.map(_ > 0) == Seq(true, false, false, false))
    assert(t.tileOffsets.toSeq.drop(1) == Seq(0L, 0L, 0L))
    (0 until T * T).foreach(i => assert(t.readTile(1, 0, 0)(i) == v(i % T, i / T)))
    for ((tr, tc) <- Seq((0, 1), (1, 0), (1, 1)))
      assert(t.readTile(1, tr, tc).forall(_ == 42.0), s"hole ($tr,$tc)")
    // the dense twin stores all four tiles and is strictly larger
    val dense = tmp("w_dense.tif")
    val wd = new GeoTiff.Writer(dense, p)
    for (tr <- 0 until 2; tc <- 0 until 2)
      wd.writeTile(1, tr, tc,
        if (tr == 0 && tc == 0) Array.tabulate(T * T)(i => v(i % T, i / T))
        else Array.fill(T * T)(42.0))
    wd.close()
    assert(new java.io.File(path).length < new java.io.File(dense).length)
    val td = GeoTiff.open(dense)
    assert(td.tileCounts.forall(_ > 0))
    // without sparse, an unwritten tile is still a loud close() error
    val part = new GeoTiff.Writer(tmp("w_partial.tif"), p)
    part.writeTile(1, 0, 0, Array.fill(T * T)(1.0))
    intercept[IllegalArgumentException](part.close())
  }

  test("sparse hole fill uses 0 when the profile declares no nodata") {
    val T = 8
    val p = GeoTiff.Profile(T, 2 * T, 1, "uint8", T, T, None, 4326,
      0, 0, 1, 1, deflate = false)
    val path = tmp("w_sparse0.tif")
    val w = new GeoTiff.Writer(path, p, sparse = true)
    w.writeTile(1, 1, 0, Array.tabulate(T * T)(i => (i % 251).toDouble))
    w.close() // tile (0,0) never written
    val t = GeoTiff.open(path)
    assert(t.readTile(1, 0, 0).forall(_ == 0.0))
    assert(t.readTile(1, 1, 0)(17) == 17.0)
  }

  test("big-endian 'MM' classic TIFF decodes bit-identically to its II twin") {
    // hand-build a minimal MM TIFF: one 8x8 uint16 tile, uncompressed
    val W = 8
    val vals = Array.tabulate(W * W)(i => i * 100)
    val bb = java.nio.ByteBuffer.allocate(4096).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.put('M'.toByte).put('M'.toByte).putShort(42)
    bb.putInt(8 + W * W * 2) // IFD after the tile data
    vals.foreach(v => bb.putShort(v.toShort)) // tile payload at offset 8
    val entries = Seq[(Int, Int, Int, Long)](
      (256, 4, 1, W), (257, 4, 1, W),          // width, height
      (258, 3, 1, 16), (259, 3, 1, 1),          // bits, compression none
      (277, 3, 1, 1), (284, 3, 1, 2),           // bands, planar
      (322, 4, 1, W), (323, 4, 1, W),           // tile dims
      (324, 4, 1, 8), (325, 4, 1, W * W * 2),   // offset, byte count
      (339, 3, 1, 1))                           // unsigned int
    bb.putShort(entries.length.toShort)
    entries.foreach { case (tag, typ, count, value) =>
      bb.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
      // inline values are LEFT-justified in the 4-byte field
      if (typ == 3) bb.putShort(value.toShort).putShort(0)
      else bb.putInt(value.toInt)
    }
    bb.putInt(0) // next IFD
    val path = tmp("mm.tif")
    Files.write(Paths.get(path), java.util.Arrays.copyOf(bb.array(), bb.position()))
    val t = GeoTiff.open(path)
    assert(t.bigEndian && t.profile.dataType == "uint16" && t.profile.width == W)
    val got = t.readTile(1, 0, 0)
    assert(got.sameElements(vals.map(_.toDouble)))
    // II twin through the writer: identical pixels
    val iiPath = tmp("mm_twin_ii.tif")
    val w = new GeoTiff.Writer(iiPath, GeoTiff.Profile(W, W, 1, "uint16", W, W,
      None, 4326, 0, 0, 1, 1, deflate = false))
    w.writeTile(1, 0, 0, vals.map(_.toDouble))
    w.close()
    assert(GeoTiff.open(iiPath).readTile(1, 0, 0).sameElements(got))
  }

  /** Every codec and sample type the tile sink writes. */
  private val sinkProfiles: Seq[(String, GeoTiff.Profile)] =
    Seq("uint8", "int8", "uint16", "int16", "uint32", "int32", "float16", "float32",
      "float64").map(dt => dt -> profile(dt)) ++
    Seq("float32 NaN nodata" -> profile("float32", Some(Double.NaN)),
      "uint16 no nodata" -> profile("uint16", None)) ++
    Seq(1, 2, 4).map(b => s"uint8 NBITS $b" -> profile("uint8").copy(nbits = Some(b))) :+
    ("CCITT" -> profile("boolean").copy(nbits = Some(1), ccitt = true))

  test("encode_block returns the writer's payload for every sink codec and band type") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(15)
    val n = 16 * 16
    // values past every storage range (clamp), fractions (rint), NaN, and
    // small ones the bit-packed profiles keep; about one in eight is null
    def draw(): Double = rnd.nextInt(6) match {
      case 0 => Double.NaN
      case 1 => rnd.nextInt(20).toDouble
      case 2 => rnd.nextInt(300) - 150.5
      case _ => (rnd.nextDouble() - 0.3) * 5e9
    }
    def blocks[T](conv: Double => T): Seq[Seq[Option[T]]] = Seq.fill(3)(Seq.fill(n) {
      val v = draw()
      if (rnd.nextInt(8) == 0) None else Some(conv(v))
    })
    def check[T](kind: String, rows: Seq[Seq[Option[T]]], widen: T => Double)
                (df: Seq[Seq[Option[T]]] => org.apache.spark.sql.DataFrame): Unit = {
      val got = df(rows).select(sinkProfiles.map { case (name, p) =>
        graft.functions.BlockKernels.encodeBlock(col("v"), p).as(name) }: _*).collect()
      for ((row, r) <- rows.zip(got); ((name, p), j) <- sinkProfiles.zipWithIndex) {
        val filled = row.map(_.fold(p.noData.getOrElse(0.0))(widen)).toArray
        assert(java.util.Arrays.equals(r.getAs[Array[Byte]](j), GeoTiff.encodeBlock(p, filled)),
          s"$kind → $name")
      }
    }
    check("array<double>", blocks(identity), (v: Double) => v)(_.map(Tuple1(_)).toDF("v"))
    check("array<float>", blocks(_.toFloat), (v: Float) => v.toDouble)(_.map(Tuple1(_)).toDF("v"))
    check("array<bigint>", blocks(_.toLong), (v: Long) => v.toDouble)(_.map(Tuple1(_)).toDF("v"))
    check("array<int>", blocks(_.toInt), (v: Int) => v.toDouble)(_.map(Tuple1(_)).toDF("v"))
  }

  test("a file laid out from encoded payloads equals the file writeTile builds") {
    val rnd = new scala.util.Random(16)
    for ((name, p) <- sinkProfiles) {
      // 2x2 base tiles, one of them all nodata, and one factor-2 overview tile
      val tiles = Seq.fill(5)(Array.fill(16 * 16)(rnd.nextInt(70000) - 1000.25))
      val fill = Array.fill(16 * 16)(p.noData.getOrElse(0.0))
      val a = tmp(s"enc_tile_${name.replace(' ', '_')}.tif")
      val wa = new GeoTiff.Writer(a, p, overviewFactors = Seq(2))
      for (tr <- 0 to 1; tc <- 0 to 1)
        wa.writeTile(1, tr, tc, if (tr == 1 && tc == 1) fill else tiles(2 * tr + tc))
      wa.writeOverviewTile(1, 1, 0, 0, tiles(4))
      wa.close()
      val b = tmp(s"enc_payload_${name.replace(' ', '_')}.tif")
      val wb = new GeoTiff.Writer(b, p, overviewFactors = Seq(2))
      for (tr <- 0 to 1; tc <- 0 to 1)
        wb.writeEncoded(0, 1, tr, tc, GeoTiff.encodeBlock(p,
          if (tr == 1 && tc == 1) fill else tiles(2 * tr + tc)))
      wb.writeEncoded(1, 1, 0, 0, GeoTiff.encodeBlock(p, tiles(4)))
      wb.close()
      assert(java.util.Arrays.equals(Files.readAllBytes(Paths.get(a)),
        Files.readAllBytes(Paths.get(b))), name)
    }
  }
}
