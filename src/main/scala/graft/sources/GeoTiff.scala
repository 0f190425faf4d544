package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{Deflater, Inflater}
import scala.collection.mutable

/** Pure-JVM tiled GeoTIFF codec — the K1 sink and S5/S4 scan of SURVEY §2
  * without GDAL (`gfw_pixetl/tiles/utils/window_utils.py:20-79`,
  * `utils/utils.py:99-120`).
  *
  * Scope: classic TIFF and BigTIFF, tiled layout, band-separate planes
  * (PlanarConfiguration=2 — the reference writes INTERLEAVE=BAND,
  * `tiles/tile.py:66`), DEFLATE (8) / LZW (5) / PackBits (32773) /
  * CCITT-G4 (4, bilevel) or uncompressed, horizontal-differencing
  * predictor 2 on read, all pixel types of the lattice (uint8..float64),
  * GDAL_NODATA tag, and the minimal GeoKey set for EPSG:4326 / EPSG:3857.
  * The reader takes both byte orders ('II' and 'MM' — older public
  * archives are big-endian); the writer emits little-endian and
  * auto-switches to BigTIFF when the profile's worst-case size can cross
  * the classic 4 GB offset limit (the reference's largest declared grid —
  * 10 Gpx tiles, `gfw_pixetl/grids/grid_factory.py:19` — physically
  * requires it). Tile payloads stream to disk as they arrive (any order)
  * and the IFD is written last — a 10-Gpx tile never needs more than one
  * block in memory.
  */
object GeoTiff {

  final case class Profile(
      width: Int, height: Int, bands: Int,
      dataType: String,            // pixel-type lattice name, e.g. "uint16"
      tileWidth: Int, tileHeight: Int,
      noData: Option[Double],
      epsg: Int,                   // 4326 | 3857
      originX: Double, originY: Double,
      xres: Double, yres: Double,
      deflate: Boolean = true,
      nbits: Option[Int] = None,  // sub-byte NBITS (data_type.py:112-149)
      photometric: Option[String] = None, // PHOTOMETRIC creation option (tile.py:68-71)
      ccitt: Boolean = false,     // CCITTFAX4 for bilevel (data_type.py:122-124)
      lzw: Boolean = false,       // LZW (TIFF 6.0 §13) — the common public-file codec
      packbits: Boolean = false,  // PackBits RLE (TIFF 6.0 §9)
      zstd: Boolean = false,      // ZSTD (tag 50000, GDAL COMPRESS=ZSTD)
      jpeg: Boolean = false,      // new-style JPEG (tag 7, TTN2) — lossy
      // JPEG_QUALITY creation option (GDAL parity): 1.0 = max quality
      // (DC-exact on flat 8x8 blocks); lower trades size for DCT loss
      jpegQuality: Float = 1.0f,
      // ColorMap (tag 320): index → (r, g, b) in 0-255, the GDAL color
      // table of a categorical/palette raster; padded to 2^bits entries
      palette: Option[Seq[(Int, Int, Int)]] = None,
      predictor: Int = 1) {       // 1=none, 2=horizontal, 3=floating-point (TTN3)
    require(predictor == 1 || predictor == 2 || predictor == 3,
      s"unsupported TIFF predictor $predictor (only 1=none, 2=horizontal, 3=float)")
    require(!jpeg || (predictor == 1 && !ccitt && !lzw && !packbits && !zstd),
      "JPEG compression excludes every other codec and predictor")
    require(jpegQuality > 0f && jpegQuality <= 1f,
      s"JPEG quality must be in (0, 1], got $jpegQuality")
    /** TIFF Compression tag (259). Explicit opt-ins (ccitt/lzw/packbits/
      * zstd/jpeg) take precedence over the `deflate = true` default so a
      * caller flipping one flag gets that codec. */
    val compressionCode: Int =
      if (ccitt) 4 else if (jpeg) 7 else if (lzw) 5 else if (packbits) 32773
      else if (zstd) 50000
      else if (deflate) 8 else 1
    /** TIFF PhotometricInterpretation code (tag 262). */
    val photometricCode: Int = photometric.map(_.toUpperCase) match {
      case None | Some("MINISBLACK") => 1
      case Some("MINISWHITE") => 0
      case Some("RGB")    => 2
      case Some("PALETTE") => 3
      case Some("CMYK")   => 5
      case Some("YCBCR")  => 6
      case Some("CIELAB") => 8
      case Some("ICCLAB") => 9
      case Some("ITULAB") => 10
      case Some(other) => throw new IllegalArgumentException(s"Unknown photometric $other")
    }
    val (containerBits: Int, sampleFormat: Int) = dataType match {
      case "uint8" | "boolean" => (8, 1)
      case "int8"    => (8, 2)   // SIGNEDBYTE: SampleFormat=INT at 8 bits
      case "uint16"  => (16, 1)
      case "int16"   => (16, 2)
      case "uint32"  => (32, 1)
      case "int32"   => (32, 2)
      case "float16" => (16, 3)  // IEEE half, stored at true 16-bit width
      case "float32" => (32, 3)
      case "float64" => (64, 3)
      case other => throw new IllegalArgumentException(s"Unsupported data type $other")
    }
    /** BitsPerSample as stored: an NBITS of 1–7 bit-packs unsigned samples
      * (boolean → 1-bit rows, the reference's NBITS creation option);
      * 9–15 / 17–31 keep the container width like GDAL's non-packing
      * codecs do. */
    val bitsPerSample: Int =
      nbits.filter(b => b >= 1 && b < 8 && sampleFormat == 1).getOrElse(containerBits)
    require(!ccitt || bitsPerSample == 1,
      s"CCITTFAX4 requires a bilevel profile (NBITS=1), got $bitsPerSample bits")
    require(!jpeg || (bitsPerSample == 8 && sampleFormat == 1),
      s"JPEG requires 8-bit unsigned samples, got $bitsPerSample-bit fmt $sampleFormat")
    palette.foreach { pal =>
      require(photometricCode == 3,
        "a palette (ColorMap tag 320) requires photometric = PALETTE")
      require(sampleFormat == 1 && bitsPerSample <= 16,
        s"palette indices must be unsigned <=16-bit, got $bitsPerSample-bit fmt $sampleFormat")
      require(pal.nonEmpty && pal.length <= (1 << bitsPerSample),
        s"palette has ${pal.length} entries, max ${1 << bitsPerSample} at $bitsPerSample bits")
      require(pal.forall { case (r, g, b) =>
        Seq(r, g, b).forall(c => c >= 0 && c <= 255) },
        "palette components must be in [0, 255]")
    }
    require(predictor != 2 || (sampleFormat != 3 && bitsPerSample >= 8),
      s"predictor 2 requires >=8-bit integer samples, got $bitsPerSample-bit fmt $sampleFormat")
    require(predictor != 3 || (sampleFormat == 3 && bitsPerSample >= 16),
      s"predictor 3 requires floating-point samples, got $bitsPerSample-bit fmt $sampleFormat")
    /** TIFF packs sub-byte rows MSB-first, each row padded to a byte. */
    def bytesPerRow: Int = (tileWidth * bitsPerSample + 7) / 8
    def tileByteSize: Int =
      if (bitsPerSample >= 8) tileWidth * tileHeight * (bitsPerSample / 8)
      else bytesPerRow * tileHeight
    def tilesAcross: Int = (width + tileWidth - 1) / tileWidth
    def tilesDown: Int   = (height + tileHeight - 1) / tileHeight
    def tilesPerBand: Int = tilesAcross * tilesDown
  }

  // IEEE 754 half-precision conversions (Java 17 lacks Float.floatToFloat16)
  private[sources] def floatToHalf(fval: Float): Short = {
    val fbits = java.lang.Float.floatToIntBits(fval)
    val sign = (fbits >>> 16) & 0x8000
    // round-to-nearest-EVEN like a C float→half cast: bias by half an ulp
    // minus one, plus the LSB of the retained mantissa
    val v = (fbits & 0x7fffffff) + 0xfff + ((fbits >>> 13) & 1)
    if (v >= 0x47800000) {
      if ((fbits & 0x7fffffff) >= 0x47800000) {
        if ((fbits & 0x7fffffff) <= 0x7f800000) (sign | 0x7c00).toShort // overflow / ±inf
        else (sign | 0x7c00 | ((fbits & 0x007fffff) >>> 13) | 1).toShort // NaN (mantissa kept non-zero)
      } else (sign | 0x7c00).toShort // [65520, 65536) rounds to ±inf (IEEE RN)
    }
    else if (v >= 0x38800000) (sign | ((v - 0x38000000) >>> 13)).toShort // normal
    else if (v < 0x33000000) sign.toShort // underflow → ±0
    else { // subnormal half
      val e = (fbits & 0x7fffffff) >>> 23
      (sign | ((((fbits & 0x7fffff) | 0x800000) + (0x800000 >>> (e - 102))) >>> (126 - e))).toShort
    }
  }

  private[sources] def halfToFloat(half: Int): Float = {
    val mant = half & 0x03ff
    val exp = half & 0x7c00
    if (exp == 0x7c00) // inf/NaN
      java.lang.Float.intBitsToFloat(((half & 0x8000) << 16) | 0x7f800000 | (mant << 13))
    else if (exp != 0)
      java.lang.Float.intBitsToFloat(((half & 0x8000) << 16) | ((exp + 0x1c000 | mant) << 13))
    else if (mant != 0) { // subnormal
      var e = 0x1c400; var m = mant
      while ((m & 0x400) == 0) { m <<= 1; e -= 0x400 }
      java.lang.Float.intBitsToFloat(((half & 0x8000) << 16) | ((e | (m & 0x3ff)) << 13))
    } else java.lang.Float.intBitsToFloat((half & 0x8000) << 16) // ±0
  }

  // ----------------------------------------------------------------- encode
  /** Encodes the blocks of one profile to their stored payloads: samples
    * narrow to the storage type (out-of-range values clamp, GDAL
    * semantics), then the predictor, then the codec. TIFF blocks compress
    * independently, so a payload does not depend on where its block sits
    * in the file: blocks can be encoded where they are computed and laid
    * out later by [[Writer.writeEncoded]]. Only the tile shape, sample
    * type, predictor and codec of `profile` matter, so one encoder serves
    * every overview level of a writer. Deflate reuses one `Deflater`,
    * reset between blocks; [[end]] frees it. A JPEG payload is a complete
    * JFIF stream; a writer with shared tables splits it. */
  final class BlockEncoder(profile: Profile) {
    private var deflater: Deflater = null
    private val deflateBuf = new Array[Byte](8192)

    /** The payload of one block: `rows` rows of `tileWidth * stride`
      * samples, row-major (`stride` bands interleaved per pixel). */
    def encode(pixels: Array[Double], rows: Int = profile.tileHeight,
               stride: Int = 1): Array[Byte] = {
      val rowSamples = profile.tileWidth * stride
      val raw = narrow(pixels, rows, rowSamples)
      if (profile.predictor == 2)
        diffPredictor2(raw, profile.bitsPerSample, rows, rowSamples, stride)
      else if (profile.predictor == 3)
        diffPredictor3(raw, rows, rowSamples, profile.bitsPerSample / 8, stride)
      val rowBytes =
        if (profile.bitsPerSample < 8) profile.bytesPerRow
        else rowSamples * (profile.bitsPerSample / 8)
      profile.compressionCode match {
        case 4     => CcittG4.encode(raw, profile.tileWidth, rows, profile.bytesPerRow)
        case 5     => Lzw.encode(raw)
        case 7 =>
          require(stride == 1 || stride == 3,
            "JPEG writes 1-band grayscale or 3-band interleaved color")
          if (stride == 3) jpegEncodeRgb(raw, profile.tileWidth, rows, profile.jpegQuality)
          else jpegEncode(raw, profile.tileWidth, rows, profile.jpegQuality)
        case 8     => deflate(raw)
        case 32773 => Packbits.encode(raw, rowBytes)
        case 50000 => zstdCompress(raw)
        case _     => raw
      }
    }

    /** Releases the Deflater; a later [[encode]] makes a new one. */
    def end(): Unit = if (deflater != null) { deflater.end(); deflater = null }

    private def deflate(data: Array[Byte]): Array[Byte] = {
      if (deflater == null) deflater = new Deflater(Deflater.DEFAULT_COMPRESSION)
      else deflater.reset()
      deflater.setInput(data); deflater.finish()
      val out = new ByteArrayOutputStream(data.length / 2 + 64)
      while (!deflater.finished()) out.write(deflateBuf, 0, deflater.deflate(deflateBuf))
      out.toByteArray
    }

    private def narrow(px: Array[Double], rows: Int, rowSamples: Int): Array[Byte] = {
      // out-of-range values CLAMP to the storage range (GDAL semantics);
      // Java's narrowing casts would silently wrap instead
      def cl(v: Double, lo: Long, hi: Long): Long =
        math.max(lo, math.min(hi, math.rint(v).toLong))
      val bits = profile.bitsPerSample
      val n = rows * rowSamples
      if (bits < 8) { // sub-byte NBITS: MSB-first packing, byte-padded rows
        val tw = profile.tileWidth; val bpr = profile.bytesPerRow
        val out = new Array[Byte](bpr * rows)
        val maxV = (1L << bits) - 1
        var r = 0
        while (r < rows) {
          var c = 0
          while (c < tw) {
            val v = cl(px(r * tw + c), 0, maxV)
            var remaining = bits; var bit = c * bits
            while (remaining > 0) { // a 3/5/6/7-bit sample can span two bytes
              val free = 8 - (bit % 8)
              val take = math.min(free, remaining)
              val chunk = (v >>> (remaining - take)) & ((1 << take) - 1)
              val i = r * bpr + bit / 8
              out(i) = (out(i) | (chunk << (free - take))).toByte
              bit += take; remaining -= take
            }
            c += 1
          }
          r += 1
        }
        return out
      }
      val bb = ByteBuffer.allocate(n * (bits / 8)).order(ByteOrder.LITTLE_ENDIAN)
      var i = 0
      (bits, profile.sampleFormat) match {
        case (8, 1)  => while (i < n) { bb.put(cl(px(i), 0, 255).toByte); i += 1 }
        case (8, 2)  => while (i < n) { bb.put(cl(px(i), -128, 127).toByte); i += 1 }
        case (16, 1) => while (i < n) { bb.putShort(cl(px(i), 0, 65535).toShort); i += 1 }
        case (16, 2) => while (i < n) { bb.putShort(cl(px(i), -32768, 32767).toShort); i += 1 }
        case (16, 3) => while (i < n) { bb.putShort(floatToHalf(px(i).toFloat)); i += 1 }
        case (32, 1) => while (i < n) { bb.putInt(cl(px(i), 0, 4294967295L).toInt); i += 1 }
        case (32, 2) => while (i < n) { bb.putInt(cl(px(i), Int.MinValue, Int.MaxValue).toInt); i += 1 }
        case (32, 3) => while (i < n) { bb.putFloat(px(i).toFloat); i += 1 }
        case (64, 3) => while (i < n) { bb.putDouble(px(i)); i += 1 }
        case other   => throw new IllegalStateException(s"encode $other")
      }
      bb.array()
    }
  }

  /** The stored payload of one padded block (`tileWidth * tileHeight`
    * samples, row-major) under `profile`: what [[Writer.writeTile]] lays
    * out for it. */
  def encodeBlock(profile: Profile, pixels: Array[Double]): Array[Byte] = {
    val e = new BlockEncoder(profile)
    try e.encode(pixels) finally e.end()
  }

  // ------------------------------------------------------------------ write
  /** Incremental writer: feed tiles in ANY order, close() writes the IFD.
    *
    * `bigtiff` forces the BigTIFF container (magic 43, 8-byte offsets);
    * left false, the writer AUTO-SWITCHES when the profile's worst-case
    * byte size (every tile at its codec's expansion bound) could cross
    * the classic 4 GB offset limit — the policy GDAL calls BIGTIFF=
    * IF_SAFER, and the only safe one for a streaming writer that cannot
    * know compressed sizes up front.
    *
    * `stripped` emits the classic strip layout (tags 273/278/279,
    * RowsPerStrip = profile.tileHeight, full-width rows, last strip
    * UNPADDED — GDAL's own default without TILED=YES); `pixelInterleave`
    * emits PlanarConfiguration=1 chunky planes (GDAL's INTERLEAVE=PIXEL
    * default) via [[writeTileInterleaved]].
    *
    * `sparse` is GDAL's SPARSE_OK=TRUE — the creation option the
    * reference sets on every gdal-geotiff destination
    * (`gfw_pixetl/tiles/tile.py:65`): a tile whose samples are ALL the
    * nodata value (0 when the profile has none) is not allocated at all;
    * its offset/count entries stay 0 and a reader materializes the fill.
    * For the mostly-empty tiles a global grid produces, this is the
    * difference between a ~KB file and a full-size one. */
  final class Writer(path: String, profile: Profile, bigtiff: Boolean = false,
                     stripped: Boolean = false, pixelInterleave: Boolean = false,
                     sparse: Boolean = false, overviewFactors: Seq[Int] = Nil,
                     sharedJpegTables: Boolean = false,
                     cogLayout: Boolean = false,
                     // emit declared overviews as a SubIFD tree (tag 330,
                     // the TIFF-EP layout) instead of the chained-IFD
                     // default; read back identically by openAll
                     subIfdOverviews: Boolean = false,
                     // GDAL writes its overview IFDs BARE (no geo tags /
                     // GeoKeys / GDAL_NODATA — the level is georeferenced
                     // by its size ratio); flip this off for byte parity
                     // with that layout. Readers derive the missing tags
                     // either way (inheritGeo).
                     geoTagsOnOverviews: Boolean = true) {
    require(!sharedJpegTables || profile.jpeg,
      "sharedJpegTables (tag 347) only applies to JPEG compression")
    require(!stripped || profile.tileWidth == profile.width,
      s"stripped layout needs full-width rows: tileWidth ${profile.tileWidth} != width ${profile.width}")
    require(!pixelInterleave || (profile.bitsPerSample >= 8 && !profile.ccitt),
      "pixel interleave needs whole-byte non-CCITT samples")
    require(!profile.jpeg || profile.bands == 1 ||
      (pixelInterleave && profile.bands == 3),
      "JPEG writes 1-band grayscale planes (band-separate) or 3-band " +
        "pixel-interleaved color (the YCbCr layout real aerial imagery uses)")
    require(overviewFactors.forall(_ >= 2) &&
      overviewFactors == overviewFactors.sorted.distinct,
      s"overview factors must be distinct, ascending, >= 2: $overviewFactors")
    require(overviewFactors.isEmpty || (!stripped && !pixelInterleave),
      "internal overviews need the tiled band-separate layout")
    private def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b
    /** Level 0 = the full-resolution profile; level i = the factor-f
      * reduced image (gdaladdo layout): ceil-scaled dims, same tile
      * size/codec/nodata, f× coarser resolution. */
    private[sources] val levelProfiles: Array[Profile] =
      (profile +: overviewFactors.map(f => profile.copy(
        width = ceilDiv(profile.width, f), height = ceilDiv(profile.height, f),
        xres = profile.xres * f, yres = profile.yres * f))).toArray
    private val nPlanes = if (pixelInterleave) 1 else profile.bands
    private val sampleStride = if (pixelInterleave) profile.bands else 1
    private val lvlOffsets = levelProfiles.map(p => new Array[Long](p.tilesPerBand * nPlanes))
    private val lvlCounts = levelProfiles.map(p => new Array[Long](p.tilesPerBand * nPlanes))
    private val nTiles = lvlOffsets.map(_.length).sum
    private def offsets = lvlOffsets(0)
    private def counts = lvlCounts(0)
    /** Rows actually stored at this tile row: strips do not pad the tail. */
    private def rowsAt(tileRow: Int): Int =
      if (stripped) math.min(profile.tileHeight,
        profile.height - tileRow * profile.tileHeight)
      else profile.tileHeight
    /** PER-CODEC worst-case expansion over raw, plus per-tile and IFD
      * slack: LZW's 12-bit-code bound is 1.5×, DEFLATE's stored-block
      * bound ~1.0003×, PackBits 1.008× (all ≤ 8/5); JPEG at max quality
      * on high-entropy tiles can exceed 2× raw (worst-case entropy coding
      * ~2–3 B/px) → 4×; CCITT-G4 on noise expands well past the packed
      * 1-bit raw (vertical-mode codes per pixel transition) → 6×. An
      * over-eager switch to BigTIFF is harmless; a mid-write 4 GB abort
      * after hours of streaming is what IF_SAFER exists to prevent. */
    private val worstCase: Long = {
      val mult: (Long, Long) =
        if (profile.jpeg) (4L, 1L) else if (profile.ccitt) (6L, 1L) else (8L, 5L)
      profile.tileByteSize.toLong * sampleStride * mult._1 / mult._2 + 96
    }
    private val big: Boolean = bigtiff ||
      16L + nTiles.toLong * worstCase +
        65536L * levelProfiles.length > 0xFFFFFFFFL
    private val raf = new RandomAccessFile(path, "rw")
    raf.setLength(0)
    if (big) {
      // BigTIFF header: II, 43, offset bytesize 8, pad 0, 8-byte IFD offset
      raf.write(Array[Byte]('I', 'I', 43, 0, 8, 0, 0, 0))
      raf.write(new Array[Byte](8))
    } else {
      // classic header: II, 42, 4-byte IFD offset placeholder
      raf.write(Array[Byte]('I', 'I', 42, 0))
      raf.write(new Array[Byte](4))
    }
    /** Whether this writer is emitting the BigTIFF container. */
    def isBigTiff: Boolean = big

    // captured from the first JPEG tile when sharedJpegTables is on;
    // emitted as tag 347 in every level's IFD
    private var jpegTablesBytes: Option[Array[Byte]] = None

    /** Write one tile's pixels (row-major, length tileWidth*tileHeight —
      * always the PADDED tile shape; a stripped writer stores only the
      * strip's real rows). Values are narrowed to the profile's storage
      * type here — the widen-compute/narrow-store boundary (SURVEY §1.2). */
    def writeTile(band: Int, tileRow: Int, tileCol: Int, pixels: Array[Double]): Unit = {
      require(!pixelInterleave || profile.bands == 1,
        "multiband pixel-interleaved files write via writeTileInterleaved")
      require(pixels.length == profile.tileWidth * profile.tileHeight,
        s"tile must be padded to ${profile.tileWidth}x${profile.tileHeight}")
      writePlane(0, band, tileRow, tileCol, pixels, 1)
    }

    /** Write one tile of the `ovr`-th declared overview level (1-based
      * into `overviewFactors`). Same padded row-major shape and same tile
      * size as the base — only the tile GRID is smaller. */
    def writeOverviewTile(ovr: Int, band: Int, tileRow: Int, tileCol: Int,
                          pixels: Array[Double]): Unit = {
      require(ovr >= 1 && ovr <= overviewFactors.length,
        s"overview $ovr of ${overviewFactors.length} declared")
      require(pixels.length == profile.tileWidth * profile.tileHeight,
        s"tile must be padded to ${profile.tileWidth}x${profile.tileHeight}")
      writePlane(ovr, band, tileRow, tileCol, pixels, 1)
    }

    /** Chunky (PlanarConfiguration=1) write: ALL bands of one tile at
      * once, each the padded row-major plane; samples interleave
      * per pixel on disk. */
    def writeTileInterleaved(tileRow: Int, tileCol: Int,
                             bands: Seq[Array[Double]]): Unit = {
      require(pixelInterleave, "writeTileInterleaved needs pixelInterleave=true")
      require(bands.length == profile.bands,
        s"expected ${profile.bands} band planes, got ${bands.length}")
      bands.foreach(b => require(b.length == profile.tileWidth * profile.tileHeight,
        s"each plane must be padded to ${profile.tileWidth}x${profile.tileHeight}"))
      val nb = profile.bands
      val merged = new Array[Double](profile.tileWidth * profile.tileHeight * nb)
      var j = 0
      while (j < merged.length) { merged(j) = bands(j % nb)(j / nb); j += 1 }
      writePlane(0, 1, tileRow, tileCol, merged, nb)
    }

    private val encoder = new BlockEncoder(profile)

    /** The SPARSE_OK hole test, then encode and lay out. */
    private def writePlane(level: Int, band: Int, tileRow: Int, tileCol: Int,
                           pixels: Array[Double], stride: Int): Unit = {
      val rows = rowsAt(tileRow)
      if (sparse) {
        // SPARSE_OK: an all-nodata plane leaves its offset/count at 0 —
        // only the STORED samples matter (a short last strip's virtual
        // pad rows sit past rows*rowSamples and are never on disk)
        val nd = profile.noData.getOrElse(0.0)
        val ndIsNaN = nd.isNaN // NaN != NaN, so a NaN sentinel needs its own test
        val stored = rows * profile.tileWidth * stride
        var i = 0; var hole = true
        while (hole && i < stored) {
          val v = pixels(i)
          if (if (ndIsNaN) !v.isNaN else v != nd) hole = false
          i += 1
        }
        if (hole) return
      }
      writeEncoded(level, band, tileRow, tileCol, encoder.encode(pixels, rows, stride))
    }

    /** Lay out one block's stored payload — a [[BlockEncoder]] result
      * under this writer's profile — as plane (`band`, `tileRow`,
      * `tileCol`) of writer level `level` (0 = base, k = the k-th declared
      * overview). An interleaved writer has one plane per tile: band 1.
      * With shared JPEG tables the payload's tables are split off here. */
    def writeEncoded(level: Int, band: Int, tileRow: Int, tileCol: Int,
                     payload: Array[Byte]): Unit = {
      require(level >= 0 && level < levelProfiles.length,
        s"level $level of ${levelProfiles.length} written")
      val lp = levelProfiles(level)
      require(band >= 1 && band <= nPlanes && tileRow >= 0 && tileRow < lp.tilesDown &&
        tileCol >= 0 && tileCol < lp.tilesAcross,
        s"level $level plane ($band,$tileRow,$tileCol) outside $nPlanes x ${lp.tilesDown} x ${lp.tilesAcross}")
      val idx = (band - 1) * lp.tilesPerBand + tileRow * lp.tilesAcross + tileCol
      val bytes =
        if (!sharedJpegTables) payload
        else {
          // factor DQT/DHT out into tag 347 (GDAL's default layout);
          // identical encoder settings ⇒ identical tables every tile
          val (tables, tile) = splitJpegTables(payload)
          jpegTablesBytes match {
            case None => jpegTablesBytes = Some(tables)
            case Some(prev) => require(java.util.Arrays.equals(prev, tables),
              "JPEG table segments changed between tiles")
          }
          tile
        }
      val at = raf.getFilePointer
      // classic TIFF stores offsets as 32-bit: fail loudly instead of
      // silently wrapping into a corrupt file (the auto-switch should
      // have chosen BigTIFF long before this fires)
      require(big || at + bytes.length <= 0xFFFFFFFFL,
        s"$path exceeds the classic TIFF 4GB limit at plane $idx")
      lvlOffsets(level)(idx) = at
      lvlCounts(level)(idx) = bytes.length
      raf.write(bytes)
    }

    def close(): Unit = {
      encoder.end()
      // a sparse writer's zero entries are deliberate holes (implicit
      // nodata fill — GDAL SPARSE_OK), including tiles never written
      require(sparse || lvlOffsets.forall(_.forall(_ > 0)),
        "not all tiles were written")
      // IFDs chain base → overviews (gdaladdo layout, read back by
      // openAll). An IFD's byte length is content-deterministic and
      // independent of its next-pointer/position, so a dry build sizes
      // the chain and the real build links it.
      //
      // cogLayout moves the whole chain to the FRONT of the file (the
      // Cloud-Optimized GeoTIFF property: one ranged head read gets every
      // offset, no seek to EOF) by shifting the streamed payload block up
      // once — the same single extra pass GDAL's COG driver pays.
      val dataEnd = raf.getFilePointer
      val first =
        if (!cogLayout) dataEnd
        else if (big) 16L else 8L
      val lens = levelProfiles.indices.map(l => buildIfd(l, first, 0L,
        if (subIfdOverviews && l == 0)
          Seq.fill(levelProfiles.length - 1)(0L) // placeholder: length-only
        else Nil).length)
      val chain = lens.sum.toLong
      // COG data ordering (gdal validate_cloud_optimized_geotiff.py): the
      // first data block of each overview must precede the next-larger
      // level's, base-resolution data LAST — so a progressive renderer
      // reads header + smallest overview in one short ranged read. The
      // streaming sinks write base tiles first (overviews are downsampled
      // FROM them), so with a pyramid present the payload block must be
      // REORDERED, not just shifted: one sequential re-write through a
      // sibling temp file (the same extra pass GDAL's COG driver pays).
      // Without overviews the order is trivially conformant and the
      // cheaper in-place up-shift suffices.
      val cogOrderOk = {
        // full conformant sequence: every written payload ascending when
        // walked smallest level → base, tile index ascending within level
        val walk = for (l <- levelProfiles.indices.reverse.toSeq;
                        off <- lvlOffsets(l) if off > 0) yield off
        walk == walk.sorted
      }
      var dst = raf
      var tmpPath: String = null
      var dataEndEff = dataEnd
      // any IO failure mid-reorder must close the sibling-tmp handle and
      // remove the residue next to the half-finalized original (ADVICE r14
      // — previously only the success path cleaned up)
      try {
      if (cogLayout && cogOrderOk) {
        val start = first
        var remaining = dataEnd - start
        val buf = new Array[Byte](math.min(8L << 20, math.max(1L, remaining)).toInt)
        while (remaining > 0) {
          val chunk = math.min(buf.length.toLong, remaining).toInt
          val at = start + remaining - chunk
          raf.seek(at); raf.readFully(buf, 0, chunk)
          raf.seek(at + chain); raf.write(buf, 0, chunk)
          remaining -= chunk
        }
        // sparse holes stay offset 0; everything real moves up with the data
        for (offs <- lvlOffsets; i <- offs.indices if offs(i) > 0)
          offs(i) += chain
        dataEndEff = dataEnd + chain
      } else if (cogLayout) {
        tmpPath = path + ".cogtmp"
        val out = new RandomAccessFile(tmpPath, "rw")
        out.setLength(0)
        val hdr = new Array[Byte](first.toInt)
        raf.seek(0); raf.readFully(hdr); out.write(hdr)
        out.seek(first + chain)
        val buf = new Array[Byte](8 << 20)
        for (l <- levelProfiles.indices.reverse;
             i <- lvlOffsets(l).indices if lvlOffsets(l)(i) > 0) {
          val len = lvlCounts(l)(i)
          val newOff = out.getFilePointer
          var copied = 0L
          while (copied < len) {
            val chunk = math.min(buf.length.toLong, len - copied).toInt
            raf.seek(lvlOffsets(l)(i) + copied); raf.readFully(buf, 0, chunk)
            out.write(buf, 0, chunk)
            copied += chunk
          }
          lvlOffsets(l)(i) = newOff
        }
        dataEndEff = math.max(out.getFilePointer, first + chain)
        dst = out
      }
      val pos = lens.scanLeft(first)(_ + _.toLong)
      val fileEnd = if (cogLayout) dataEndEff else pos.last
      require(big || fileEnd <= 0xFFFFFFFFL,
        s"$path exceeds the classic TIFF 4GB limit (IFD chain at $first)")
      for (l <- levelProfiles.indices) {
        // subIfdOverviews: base points at the levels via tag 330 (TIFF-EP
        // SubIFD tree) and NOTHING chains; default: next-IFD chain
        val next =
          if (subIfdOverviews) 0L
          else if (l == levelProfiles.length - 1) 0L else pos(l + 1)
        val subs = if (subIfdOverviews && l == 0) pos.slice(1, levelProfiles.length) else Nil
        dst.seek(pos(l))
        dst.write(buildIfd(l, pos(l), next, subs))
      }
      if (big) { dst.seek(8); dst.write(leLong(first)) }
      else { dst.seek(4); dst.write(leInt(first.toInt)) }
      raf.close()
      if (tmpPath != null) {
        dst.close()
        java.nio.file.Files.move(java.nio.file.Paths.get(tmpPath),
          java.nio.file.Paths.get(path),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        tmpPath = null // moved — nothing to clean up
      }
      } catch { case e: Throwable =>
        if (tmpPath != null) {
          if (dst ne raf) { try dst.close() catch { case _: Throwable => } }
          try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(tmpPath))
          catch { case _: Throwable => }
        }
        throw e
      }
    }

    // --- IFD construction -------------------------------------------------
    // classic: 2-byte entry count, 12-byte entries (4-byte count + value),
    // 4-byte next-IFD. BigTIFF: 8-byte count, 20-byte entries (8-byte
    // count + value), 8-byte next-IFD; offsets/counts use LONG8 (16).
    private case class Entry(tag: Int, typ: Int, count: Int, valueOrOffset: Array[Byte])
    private val TByte = 1; private val TAscii = 2; private val TShort = 3
    private val TLong = 4; private val TUndef = 7
    private val TDouble = 12; private val TLong8 = 16
    private val inlineCap = if (big) 8 else 4

    private def leShort(v: Int): Array[Byte] =
      ByteBuffer.allocate(2).order(ByteOrder.LITTLE_ENDIAN).putShort(v.toShort).array()
    private def leInt(v: Int): Array[Byte] =
      ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    private def leLong(v: Long): Array[Byte] =
      ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    private def leDouble(v: Double): Array[Byte] =
      ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(v).array()

    private def buildIfd(level: Int, ifdOffset: Long, nextIfd: Long,
                         subIfds: Seq[Long] = Nil): Array[Byte] = {
      val p = levelProfiles(level)
      val offs = lvlOffsets(level); val cnts = lvlCounts(level)
      val nT = offs.length
      val entries = mutable.ArrayBuffer.empty[Entry]
      val overflow = new ByteArrayOutputStream() // data blocks after the IFD

      def shortVal(v: Int) = leShort(v)
      def longVal(v: Long) = leInt(v.toInt)

      def add(tag: Int, typ: Int, count: Int, inline: Array[Byte]): Unit =
        entries += Entry(tag, typ, count, inline.padTo(inlineCap, 0.toByte))

      // data too big for the inline bytes goes to the overflow block;
      // its offset is resolved after the entry table size is known
      case class Deferred(tag: Int, typ: Int, count: Int, data: Array[Byte])
      val deferred = mutable.ArrayBuffer.empty[Deferred]
      def addBig(tag: Int, typ: Int, count: Int, data: Array[Byte]): Unit =
        if (data.length <= inlineCap) add(tag, typ, count, data)
        else deferred += Deferred(tag, typ, count, data)

      // overview IFDs mark themselves reduced-resolution (NewSubfileType
      // bit 0), as gdaladdo does for internal overviews
      if (level > 0) add(254, TLong, 1, longVal(1))
      // SubIFDs (330, TIFF-EP): the overview tree layout some products use
      // instead of chained IFDs; type IFD (13) classic, IFD8 (18) BigTIFF
      if (subIfds.nonEmpty) {
        if (big) addBig(330, 18, subIfds.length, subIfds.flatMap(leLong).toArray)
        else addBig(330, 13, subIfds.length,
          subIfds.flatMap(o => leInt(o.toInt)).toArray)
      }
      add(256, TLong, 1, longVal(p.width))
      add(257, TLong, 1, longVal(p.height))
      val bits = Array.fill(p.bands)(leShort(p.bitsPerSample)).flatten
      addBig(258, TShort, p.bands, bits)
      add(259, TShort, 1, shortVal(p.compressionCode))
      add(262, TShort, 1, shortVal(p.photometricCode))
      add(277, TShort, 1, shortVal(p.bands))
      // planar: separate (INTERLEAVE=BAND, the reference default) or
      // chunky (INTERLEAVE=PIXEL)
      add(284, TShort, 1, shortVal(if (pixelInterleave) 1 else 2))
      if (p.ccitt) add(293, TLong, 1, longVal(0)) // T6Options: no extensions
      if (p.predictor != 1) add(317, TShort, 1, shortVal(p.predictor))
      val (offTag, cntTag) =
        if (stripped) { add(278, TLong, 1, longVal(p.tileHeight)); (273, 279) }
        else {
          add(322, TLong, 1, longVal(p.tileWidth))
          add(323, TLong, 1, longVal(p.tileHeight))
          (324, 325)
        }
      if (big) {
        addBig(offTag, TLong8, nT, offs.flatMap(leLong))
        addBig(cntTag, TLong8, nT, cnts.flatMap(leLong))
      } else {
        addBig(offTag, TLong, nT, offs.flatMap(o => leInt(o.toInt)))
        addBig(cntTag, TLong, nT, cnts.flatMap(c => leInt(c.toInt)))
      }
      val fmts = Array.fill(p.bands)(leShort(p.sampleFormat)).flatten
      addBig(339, TShort, p.bands, fmts)
      // ExtraSamples (338): bands beyond the photometric interpretation's
      // expected sample count must be declared (TIFF 6.0 §18) or strict
      // foreign readers warn/reject — for EVERY photometric, not just RGB
      // (ADVICE r13: a 2-band MINISBLACK chunky file shipped without it).
      // RGB extras = 2 (unassociated alpha — what a baked RGBA tile's 4th
      // band is); grayscale/palette extras = 0 (unspecified: a data band,
      // not alpha).
      val expectedSamples = if (p.photometricCode == 2 || p.photometricCode == 6) 3 else 1
      if (p.bands > expectedSamples) {
        val mark = if (p.photometricCode == 2) 2 else 0
        addBig(338, TShort, p.bands - expectedSamples,
          Array.fill(p.bands - expectedSamples)(leShort(mark)).flatten)
      }
      // ColorMap (320): 3 planes of 2^bits SHORTs (all reds, greens,
      // blues), 8-bit colors widened as c*257 — the GDAL convention
      p.palette.foreach { pal =>
        val n = 1 << p.bitsPerSample
        val full = pal.padTo(n, (0, 0, 0))
        val data = (full.map(_._1) ++ full.map(_._2) ++ full.map(_._3))
          .flatMap(c => leShort(c * 257)).toArray
        addBig(320, TShort, 3 * n, data)
      }
      // JPEGTables (347, UNDEFINED): the shared DQT/DHT stream the
      // abbreviated per-tile payloads splice against on read
      jpegTablesBytes.foreach(tb => addBig(347, TUndef, tb.length, tb))
      if (level == 0 || geoTagsOnOverviews) {
        // ModelPixelScale (33550): (xres, yres, 0)
        addBig(33550, TDouble, 3,
          leDouble(p.xres) ++ leDouble(p.yres) ++ leDouble(0))
        // ModelTiepoint (33922): raster (0,0,0) → model (originX, originY, 0)
        addBig(33922, TDouble, 6,
          leDouble(0) ++ leDouble(0) ++ leDouble(0) ++
            leDouble(p.originX) ++ leDouble(p.originY) ++ leDouble(0))
        // GeoKeyDirectory (34735): version, rev, minor, nkeys + keys
        val geographic = p.epsg == 4326
        val keys: Array[Int] =
          Array(1, 1, 0, 3,
            1024, 0, 1, if (geographic) 2 else 1,          // GTModelType
            1025, 0, 1, 1,                                  // RasterPixelIsArea
            if (geographic) 2048 else 3072, 0, 1, p.epsg)   // CS key
        addBig(34735, TShort, keys.length, keys.flatMap(leShort))
        p.noData.foreach { nd =>
          val s = (if (nd == nd.toLong.toDouble) nd.toLong.toString else nd.toString) + "\u0000"
          addBig(42113, TAscii, s.length, s.getBytes("ASCII"))
        }
      }

      // resolve deferred offsets
      val nEntries = entries.length + deferred.length
      val ifdSize =
        if (big) 8 + nEntries * 20 + 8
        else 2 + nEntries * 12 + 4
      var overflowOffset = ifdOffset + ifdSize
      val resolved = deferred.map { d =>
        val e = Entry(d.tag, d.typ, d.count,
          (if (big) leLong(overflowOffset) else leInt(overflowOffset.toInt))
            .padTo(inlineCap, 0.toByte))
        overflow.write(d.data)
        overflowOffset += d.data.length
        e
      }
      val all = (entries ++ resolved).sortBy(_.tag)

      val out = new ByteArrayOutputStream()
      val dos = new DataOutputStream(out)
      if (big) dos.write(leLong(all.length.toLong))
      else dos.write(leShort(all.length))
      all.foreach { e =>
        dos.write(leShort(e.tag)); dos.write(leShort(e.typ))
        if (big) dos.write(leLong(e.count.toLong)) else dos.write(leInt(e.count))
        dos.write(e.valueOrOffset.take(inlineCap))
      }
      // next-IFD pointer: 0 terminates, else links the overview chain
      if (big) dos.write(leLong(nextIfd)) else dos.write(leInt(nextIfd.toInt))
      dos.write(overflow.toByteArray)
      out.toByteArray
    }
  }

  private def inflate(data: Array[Byte], expected: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(data)
    val out = new Array[Byte](expected)
    var off = 0
    while (!inf.finished() && off < expected) off += inf.inflate(out, off, expected - off)
    inf.end()
    out
  }

  // ZSTD (compression 50000, GDAL COMPRESS=ZSTD) rides Spark's own
  // zstd-jni — the same native codec GDAL links, so streams interoperate.
  private def zstdCompress(data: Array[Byte]): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(data)

  private def zstdDecompress(data: Array[Byte], expected: Int): Array[Byte] = {
    val out = com.github.luben.zstd.Zstd.decompress(data, expected)
    require(out.length == expected,
      s"ZSTD tile inflated to ${out.length} bytes, expected $expected")
    out
  }

  /** New-style JPEG (compression 7, TIFF TTN2): each tile payload is a
    * complete JFIF stream — GDAL/libtiff's layout for COMPRESS=JPEG
    * without shared JPEGTables. Grayscale per-plane 8-bit only; the JDK
    * encoder at explicit max quality keeps the loss to the DCT rounding
    * this codec inherently has. */
  private def jpegEncode(raw: Array[Byte], width: Int, rows: Int,
                         quality: Float = 1.0f): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, rows, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, width, rows, raw)
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val prm = w.getDefaultWriteParam
    prm.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    prm.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream(raw.length / 2 + 1024)
    // explicit memory-cached stream: ImageIO.createImageOutputStream routes
    // through the JVM-global useCache default (a temp-FILE round-trip per
    // tile once nothing force-disables it — ADVICE r17)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), prm)
    } finally { w.dispose(); ios.close() }
    bos.toByteArray
  }

  /** 3-band color JPEG (the PHOTOMETRIC=YCBCR + COMPRESS=JPEG layout of
    * real-world aerial/satellite ortho imagery): `raw` is the chunky
    * pixel-interleaved R,G,B byte stream; the JDK encoder converts to
    * YCbCr and writes a standard color JFIF at the encoder's default
    * 4:2:0 chroma subsampling — the same default GDAL's JPEG-in-TIFF
    * driver uses with PHOTOMETRIC=YCBCR. Flat-chroma content (including
    * any r=g=b gray) is unaffected by the subsampling; the decoder
    * honours whatever sampling factors a foreign stream declares. */
  private def jpegEncodeRgb(raw: Array[Byte], width: Int, rows: Int,
                            quality: Float = 1.0f): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, rows, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    // our own TYPE_3BYTE_BGR raster is backed by a plain byte[] in B,G,R
    // pixel order: one swap pass beats 3·w·h bounds-checked setSample calls
    val buf = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferByte].getData
    var i = 0
    while (i < raw.length) {
      buf(i) = raw(i + 2); buf(i + 1) = raw(i + 1); buf(i + 2) = raw(i)
      i += 3
    }
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val prm = w.getDefaultWriteParam
    prm.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    prm.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream(raw.length / 2 + 1024)
    // explicit memory-cached stream: ImageIO.createImageOutputStream routes
    // through the JVM-global useCache default (a temp-FILE round-trip per
    // tile once nothing force-disables it — ADVICE r17)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), prm)
    } finally { w.dispose(); ios.close() }
    bos.toByteArray
  }

  /** ImageIO.read over an explicit memory-cached stream — the
    * InputStream overload consults the JVM-global useCache default, which
    * is a temp-file round-trip per tile decode (ADVICE r17; Multimodal
    * uses the same pattern). ImageIO.read(ImageInputStream) closes the
    * stream itself on the found-a-reader path, so the cleanup close must
    * swallow the already-closed IOException rather than mask a good
    * decode. */
  private def jpegRead(data: Array[Byte]): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(data))
    try javax.imageio.ImageIO.read(iis)
    finally { try iis.close() catch { case _: java.io.IOException => () } }
  }

  /** Decode a color JFIF tile back to the chunky R,G,B interleaved byte
    * stream (the inverse of [[jpegEncodeRgb]]); the JDK decoder performs
    * the YCbCr→RGB conversion and any chroma upsampling the stream
    * declares, so subsampled foreign files decode too. */
  private def jpegDecodeRgb(data: Array[Byte], width: Int, rows: Int): Array[Byte] = {
    val img = jpegRead(data)
    require(img != null && img.getWidth == width && img.getHeight == rows,
      s"JPEG tile decoded to ${if (img == null) "nothing"
        else s"${img.getWidth}x${img.getHeight}"}, expected ${width}x$rows")
    require(img.getRaster.getNumBands >= 3,
      s"expected a 3-component color JPEG, got ${img.getRaster.getNumBands}")
    val out = new Array[Byte](width * rows * 3)
    if (img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR &&
        img.getRaster.getNumBands == 3) {
      // the JDK decoder's standard output: B,G,R byte triplets — swap back
      val buf = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
      var i = 0
      while (i < out.length) {
        out(i) = buf(i + 2); out(i + 1) = buf(i + 1); out(i + 2) = buf(i)
        i += 3
      }
    } else { // any other decoded layout: per-sample fallback
      val r = img.getRaster
      var y = 0
      while (y < rows) {
        var x = 0
        while (x < width) {
          val base = (y * width + x) * 3
          out(base) = r.getSample(x, y, 0).toByte
          out(base + 1) = r.getSample(x, y, 1).toByte
          out(base + 2) = r.getSample(x, y, 2).toByte
          x += 1
        }
        y += 1
      }
    }
    out
  }

  /** Split a full JFIF stream into (tables, abbreviated tile): DQT/DHT
    * segments move to a standalone SOI+tables+EOI stream (the tag-347
    * JPEGTables payload, TIFF-EP §; GDAL's default JPEGTABLESMODE=3
    * layout) and the tile keeps everything else. Baseline JPEG puts all
    * table segments before SOS, so the scan stops there. */
  private def splitJpegTables(full: Array[Byte]): (Array[Byte], Array[Byte]) = {
    require(full.length > 4 && (full(0) & 0xff) == 0xff && (full(1) & 0xff) == 0xd8,
      "not a JFIF stream (no SOI)")
    val tables = new ByteArrayOutputStream(128)
    val tile = new ByteArrayOutputStream(full.length)
    tables.write(0xff); tables.write(0xd8)
    tile.write(0xff); tile.write(0xd8)
    var i = 2
    var inScan = false
    while (!inScan) {
      require(i + 4 <= full.length && (full(i) & 0xff) == 0xff,
        s"bad JPEG marker at $i")
      val m = full(i + 1) & 0xff
      if (m == 0xda) { // SOS: entropy data through EOI stays with the tile
        tile.write(full, i, full.length - i); inScan = true
      } else {
        val segLen = 2 + (((full(i + 2) & 0xff) << 8) | (full(i + 3) & 0xff))
        if (m == 0xdb || m == 0xc4) tables.write(full, i, segLen)
        else tile.write(full, i, segLen)
        i += segLen
      }
    }
    tables.write(0xff); tables.write(0xd9)
    (tables.toByteArray, tile.toByteArray)
  }

  /** Rebuild a decodable stream from a JPEGTables payload and an
    * abbreviated tile: tables' SOI + table segments (its EOI dropped)
    * prepend the tile minus its SOI. */
  private def mergeJpegTables(tables: Array[Byte], tile: Array[Byte]): Array[Byte] = {
    require(tables.length >= 2 && tile.length >= 2, "truncated JPEG streams")
    val tEnd =
      if ((tables(tables.length - 2) & 0xff) == 0xff &&
          (tables(tables.length - 1) & 0xff) == 0xd9) tables.length - 2
      else tables.length
    val out = new Array[Byte](tEnd + tile.length - 2)
    System.arraycopy(tables, 0, out, 0, tEnd)
    System.arraycopy(tile, 2, out, tEnd, tile.length - 2)
    out
  }

  private def jpegDecode(data: Array[Byte], width: Int, rows: Int): Array[Byte] = {
    val img = jpegRead(data)
    require(img != null && img.getWidth == width && img.getHeight == rows,
      s"JPEG tile decoded to ${if (img == null) "nothing"
        else s"${img.getWidth}x${img.getHeight}"}, expected ${width}x$rows")
    val out = new Array[Byte](width * rows)
    val r = img.getRaster
    var y = 0
    while (y < rows) {
      var x = 0
      while (x < width) { out(y * width + x) = r.getSample(x, y, 0).toByte; x += 1 }
      y += 1
    }
    out
  }

  // ------------------------------------------------------------------- read
  /** Seekable read abstraction: POSIX files locally, any Hadoop FileSystem
    * (s3a://, gs://, hdfs://) in production — same ranged-read access
    * pattern either way (the reference's VSI curl reads, SURVEY §4). */
  sealed trait RangeReader extends java.io.Closeable {
    def seek(pos: Long): Unit
    def readFully(buf: Array[Byte]): Unit
  }

  private final class LocalRangeReader(path: String) extends RangeReader {
    private val raf = new RandomAccessFile(path, "r")
    override def seek(pos: Long): Unit = raf.seek(pos)
    override def readFully(buf: Array[Byte]): Unit = raf.readFully(buf)
    override def close(): Unit = raf.close()
  }

  private[sources] final class HadoopRangeReader(path: String) extends RangeReader {
    private val hp = new org.apache.hadoop.fs.Path(path)
    private val in = hp.getFileSystem(HadoopConfs.get).open(hp)
    override def seek(pos: Long): Unit = in.seek(pos)
    override def readFully(buf: Array[Byte]): Unit = in.readFully(buf, 0, buf.length)
    override def close(): Unit = in.close()
  }

  private[sources] def rangeReader(path: String): RangeReader =
    if (path.startsWith("file:") || !path.contains("://")) new LocalRangeReader(localPath(path))
    else new HadoopRangeReader(path)

  /** Apply horizontal differencing (predictor 2) in place — the forward
    * transform a writer runs before LZW/DEFLATE so runs of similar values
    * become runs of small deltas. Right-to-left per row, modulo the sample
    * width; `lag` = component count for pixel-interleaved rows (always
    * little-endian: only the writer calls this). */
  private[sources] def diffPredictor2(raw: Array[Byte], bits: Int, rows: Int,
                                      rowSamples: Int, lag: Int): Unit = {
    bits match {
      case 8 =>
        var r = 0
        while (r < rows) {
          val base = r * rowSamples; var c = rowSamples - 1
          while (c >= lag) { raw(base + c) = (raw(base + c) - raw(base + c - lag)).toByte; c -= 1 }
          r += 1
        }
      case 16 =>
        val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asShortBuffer()
        var r = 0
        while (r < rows) {
          val base = r * rowSamples; var c = rowSamples - 1
          while (c >= lag) { bb.put(base + c, (bb.get(base + c) - bb.get(base + c - lag)).toShort); c -= 1 }
          r += 1
        }
      case 32 =>
        val bb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).asIntBuffer()
        var r = 0
        while (r < rows) {
          val base = r * rowSamples; var c = rowSamples - 1
          while (c >= lag) { bb.put(base + c, bb.get(base + c) - bb.get(base + c - lag)); c -= 1 }
          r += 1
        }
      case other => throw new IllegalArgumentException(
        s"predictor 2 unsupported at $other bits per sample")
    }
  }

  /** TIFF Technical Note 3 floating-point predictor (3), forward: per
    * row, samples split into byte PLANES most-significant-byte first
    * (all MSBs, then all second bytes, ...), then plain byte
    * differencing across the whole row — small float deltas share
    * exponent/mantissa-prefix bytes, so the planes compress like
    * predictor-2 integers. Writer-side input is the encoder's
    * little-endian sample layout. */
  private[sources] def diffPredictor3(raw: Array[Byte], rows: Int,
                                      rowSamples: Int, sampleBytes: Int,
                                      lag: Int = 1): Unit = {
    val rowBytes = rowSamples * sampleBytes
    val tmp = new Array[Byte](rowBytes)
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      var i = 0
      while (i < rowSamples) {
        var b = 0
        while (b < sampleBytes) {
          tmp(b * rowSamples + i) = raw(base + i * sampleBytes + (sampleBytes - 1 - b))
          b += 1
        }
        i += 1
      }
      // byte differencing at lag = samples-per-pixel (libtiff fpDiff's
      // stride): within a byte plane, interleaved samples of OTHER bands
      // sit between same-band neighbours on chunky rows
      var c = rowBytes - 1
      while (c >= lag) { tmp(c) = (tmp(c) - tmp(c - lag)).toByte; c -= 1 }
      System.arraycopy(tmp, 0, raw, base, rowBytes)
      r += 1
    }
  }

  /** Inverse of [[diffPredictor3]]: un-difference the row bytes, then
    * reassemble each sample from its MSB-first byte planes into `order`
    * layout for the downstream sample decode. */
  private[sources] def undiffPredictor3(raw: Array[Byte], rows: Int,
                                        rowSamples: Int, sampleBytes: Int,
                                        order: ByteOrder, lag: Int = 1): Unit = {
    val rowBytes = rowSamples * sampleBytes
    val tmp = new Array[Byte](rowBytes)
    var r = 0
    while (r < rows) {
      val base = r * rowBytes
      var c = lag
      while (c < rowBytes) { raw(base + c) = (raw(base + c) + raw(base + c - lag)).toByte; c += 1 }
      var i = 0
      while (i < rowSamples) {
        var b = 0
        while (b < sampleBytes) {
          val pos =
            if (order == ByteOrder.BIG_ENDIAN) i * sampleBytes + b
            else i * sampleBytes + (sampleBytes - 1 - b)
          tmp(pos) = raw(base + b * rowSamples + i)
          b += 1
        }
        i += 1
      }
      System.arraycopy(tmp, 0, raw, base, rowBytes)
      r += 1
    }
  }

  /** Undo horizontal-differencing (predictor 2) in place: each sample adds
    * the previous sample OF ITS OWN COMPONENT, modulo the sample width,
    * per row — the inverse of the differencing LZW/DEFLATE writers apply.
    * `rowSamples` = samples per row (width x components for chunky rows),
    * `lag` = component count (1 for planar/band-separate planes, `bands`
    * for PlanarConfiguration=1 pixel-interleaved rows — the spec
    * differences each component against the same component of the
    * previous PIXEL). Integer samples only — floating point uses the
    * TTN3 byte-plane scheme in [[undiffPredictor3]]. */
  private[sources] def undiffPredictor2(raw: Array[Byte], bits: Int, rows: Int,
                                        rowSamples: Int, lag: Int,
                                        order: ByteOrder): Unit = {
    bits match {
      case 8 =>
        var r = 0
        while (r < rows) {
          val base = r * rowSamples; var c = lag
          while (c < rowSamples) { raw(base + c) = (raw(base + c) + raw(base + c - lag)).toByte; c += 1 }
          r += 1
        }
      case 16 =>
        val bb = ByteBuffer.wrap(raw).order(order).asShortBuffer()
        var r = 0
        while (r < rows) {
          val base = r * rowSamples; var c = lag
          while (c < rowSamples) { bb.put(base + c, (bb.get(base + c) + bb.get(base + c - lag)).toShort); c += 1 }
          r += 1
        }
      case 32 =>
        val bb = ByteBuffer.wrap(raw).order(order).asIntBuffer()
        var r = 0
        while (r < rows) {
          val base = r * rowSamples; var c = lag
          while (c < rowSamples) { bb.put(base + c, bb.get(base + c) + bb.get(base + c - lag)); c += 1 }
          r += 1
        }
      case other => throw new IllegalArgumentException(
        s"predictor 2 unsupported at $other bits per sample")
    }
  }

  /** `chunky` = PlanarConfiguration 1 (samples pixel-interleaved within
    * one plane of tiles/strips — what most real-world RGB files use);
    * `stripped` = classic strip layout (tags 273/278/279) mapped onto the
    * tile abstraction as full-width tiles of RowsPerStrip rows, with the
    * LAST strip carrying only the remaining rows (strips, unlike tiles,
    * are not padded). */
  final case class Tiff(profile: Profile, tileOffsets: Array[Long], tileCounts: Array[Long],
                        path: String, bigEndian: Boolean = false,
                        chunky: Boolean = false, stripped: Boolean = false,
                        jpegTables: Option[Array[Byte]] = None) {
    private def order: ByteOrder =
      if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN

    /** S5: read one tile's pixels as doubles (masked handling upstream).
      * Always returns tileWidth x tileHeight values; a final short strip
      * zero-pads its missing rows (the tiled-padding convention). */
    def readTile(band: Int, tileRow: Int, tileCol: Int): Array[Double] = {
      val p = profile
      require(band >= 1 && band <= p.bands, s"band $band of ${p.bands}")
      // loud range check: an out-of-range (row, col) would otherwise
      // alias a DIFFERENT tile's flat index and read its pixels silently
      require(tileRow >= 0 && tileRow < p.tilesDown &&
        tileCol >= 0 && tileCol < p.tilesAcross,
        s"tile ($tileRow,$tileCol) outside ${p.tilesDown}x${p.tilesAcross}")
      val stride = if (chunky) p.bands else 1
      val idx =
        if (chunky) tileRow * p.tilesAcross + tileCol
        else (band - 1) * p.tilesPerBand + tileRow * p.tilesAcross + tileCol
      if (tileCounts(idx) == 0L) {
        // SPARSE_OK hole (tile.py:65): unallocated block reads as the
        // nodata fill (0 when the profile has none); a short last
        // strip's pad rows keep the 0.0 zero-pad convention
        val fill = p.noData.getOrElse(0.0)
        val out = new Array[Double](p.tileWidth * p.tileHeight)
        val rowsHere =
          if (stripped) math.min(p.tileHeight, p.height - tileRow * p.tileHeight)
          else p.tileHeight
        java.util.Arrays.fill(out, 0, rowsHere * p.tileWidth, fill)
        return out
      }
      val raf = rangeReader(path)
      try {
        raf.seek(tileOffsets(idx))
        val payload = new Array[Byte](tileCounts(idx).toInt)
        raf.readFully(payload)
        val rowsHere =
          if (stripped) math.min(p.tileHeight, p.height - tileRow * p.tileHeight)
          else p.tileHeight
        val bits = p.bitsPerSample
        val rowSamples = p.tileWidth * stride
        val expected =
          if (bits < 8) p.bytesPerRow * rowsHere
          else rowSamples * rowsHere * (bits / 8)
        val raw = p.compressionCode match {
          case 4     => CcittG4.decode(payload, p.tileWidth, rowsHere, p.bytesPerRow)
          case 5     => Lzw.decode(payload, expected)
          case 7 =>
            require(stride == 1 || stride == 3,
              "JPEG read supports 1-band grayscale or 3-band interleaved color")
            // tag 347 present ⇒ abbreviated per-tile stream: splice the
            // shared DQT/DHT tables back in before handing to the decoder
            val stream = jpegTables.fold(payload)(mergeJpegTables(_, payload))
            if (stride == 3) jpegDecodeRgb(stream, p.tileWidth, rowsHere)
            else jpegDecode(stream, p.tileWidth, rowsHere)
          case 8     => inflate(payload, expected)
          case 32773 => Packbits.decode(payload, expected)
          case 50000 => zstdDecompress(payload, expected)
          case _     => payload
        }
        if (p.predictor == 2)
          undiffPredictor2(raw, bits, rowsHere, rowSamples, stride, order)
        else if (p.predictor == 3)
          undiffPredictor3(raw, rowsHere, rowSamples, bits / 8, order, stride)
        decode(raw, rowsHere, stride, band)
      } finally raf.close()
    }

    private def decode(raw: Array[Byte], rows: Int, stride: Int,
                       band: Int): Array[Double] = {
      val p = profile
      val tw = p.tileWidth
      val out = new Array[Double](tw * p.tileHeight) // pad rows stay 0.0
      val bits = p.bitsPerSample
      if (bits < 8) { // sub-byte NBITS: MSB-first, byte-padded rows
        val bpr = p.bytesPerRow
        var r = 0
        while (r < rows) {
          var c = 0
          while (c < tw) {
            var v = 0L; var remaining = bits; var bit = c * bits
            while (remaining > 0) {
              val free = 8 - (bit % 8)
              val take = math.min(free, remaining)
              val chunk = (raw(r * bpr + bit / 8) >>> (free - take)) & ((1 << take) - 1)
              v = (v << take) | chunk
              bit += take; remaining -= take
            }
            out(r * tw + c) = v.toDouble
            c += 1
          }
          r += 1
        }
        return out
      }
      // chunky planes read the band's samples at `stride` spacing
      val bb = ByteBuffer.wrap(raw).order(order)
      val n = tw * rows
      val off0 = if (stride > 1) band - 1 else 0
      var i = 0
      (bits, p.sampleFormat) match {
        case (8, 1)  => while (i < n) { out(i) = raw(i * stride + off0) & 0xff; i += 1 }
        case (8, 2)  => while (i < n) { out(i) = raw(i * stride + off0).toDouble; i += 1 }
        case (16, 1) => while (i < n) { out(i) = bb.getShort((i * stride + off0) * 2) & 0xffff; i += 1 }
        case (16, 2) => while (i < n) { out(i) = bb.getShort((i * stride + off0) * 2).toDouble; i += 1 }
        case (16, 3) => while (i < n) { out(i) = halfToFloat(bb.getShort((i * stride + off0) * 2) & 0xffff).toDouble; i += 1 }
        case (32, 1) => while (i < n) { out(i) = bb.getInt((i * stride + off0) * 4) & 0xffffffffL; i += 1 }
        case (32, 2) => while (i < n) { out(i) = bb.getInt((i * stride + off0) * 4).toDouble; i += 1 }
        case (32, 3) => while (i < n) { out(i) = bb.getFloat((i * stride + off0) * 4).toDouble; i += 1 }
        case (64, 3) => while (i < n) { out(i) = bb.getDouble((i * stride + off0) * 8); i += 1 }
        case other   => throw new IllegalStateException(s"decode $other")
      }
      out
    }

    def bounds: (Double, Double, Double, Double) = {
      val p = profile
      (p.originX, p.originY - p.height * p.yres, p.originX + p.width * p.xres, p.originY)
    }
  }

  /** S4: metadata scan — open the file, parse the FIRST IFD into a
    * Profile (`utils/utils.py:99-120`). Accepts classic TIFF (magic 42)
    * and BigTIFF (magic 43, 8-byte offsets) in either byte order ('II'
    * little-endian and 'MM' big-endian — older public archives are MM). */
  def open(rawPath: String): Tiff = openAll(rawPath).head

  /** The full IFD CHAIN: the first entry is the full-resolution image,
    * subsequent entries are whatever further IFDs the file carries — for
    * GDAL/gdaladdo-style internal overviews, each is a reduced-resolution
    * pyramid level (the r5 pyramid persisted INSIDE the file). Each level
    * reads independently through its own [[Tiff]]; geo-tag-less reduced
    * levels (GDAL's own overview layout) inherit derived georeferencing
    * from the chain head via [[inheritGeo]]. */
  def openAll(rawPath: String): Seq[Tiff] = inheritGeo(openAllFlags(rawPath))

  /** [[openAll]] before geo inheritance: each level paired with whether
    * its IFD carried its OWN geo tags. */
  private def openAllFlags(rawPath: String): Seq[(Tiff, Boolean)] = {
    val path = rawPath
    val raf = rangeReader(path)
    try {
      val head = new Array[Byte](4); raf.readFully(head)
      val bigEndian = head(0) == 'M' && head(1) == 'M'
      require(bigEndian || (head(0) == 'I' && head(1) == 'I'),
        s"not a TIFF (no II/MM byte-order mark): $path")
      val order = if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
      def rdShort(): Int = {
        val b = new Array[Byte](2); raf.readFully(b)
        ByteBuffer.wrap(b).order(order).getShort & 0xffff
      }
      def rdInt(): Long = {
        val b = new Array[Byte](4); raf.readFully(b)
        ByteBuffer.wrap(b).order(order).getInt & 0xffffffffL
      }
      def rdLong(): Long = {
        val b = new Array[Byte](8); raf.readFully(b)
        ByteBuffer.wrap(b).order(order).getLong
      }
      val magic = ByteBuffer.wrap(head, 2, 2).order(order).getShort & 0xffff
      require(magic == 42 || magic == 43, s"not a TIFF (magic $magic): $path")
      val bigtiff = magic == 43
      val firstIfdOffset =
        if (bigtiff) {
          val osz = rdShort(); val pad = rdShort()
          require(osz == 8 && pad == 0,
            s"unsupported BigTIFF offset size $osz in $path")
          rdLong()
        } else rdInt()

      def parseIfd(ifdOffset: Long): ((Tiff, Boolean), Long, Seq[Long]) = {
      raf.seek(ifdOffset)
      val nEntries = if (bigtiff) rdLong().toInt else rdShort()
      val inlineCap = if (bigtiff) 8 else 4
      // tag -> (type, count, raw inline value bytes): values fitting the
      // inline capacity (4 classic / 8 BigTIFF) are stored in the entry;
      // larger ones live at the offset those bytes encode
      val tags = mutable.Map.empty[Int, (Int, Int, Array[Byte])]
      for (_ <- 0 until nEntries) {
        val tag = rdShort(); val typ = rdShort()
        val count = (if (bigtiff) rdLong() else rdInt()).toInt
        val raw = new Array[Byte](inlineCap); raf.readFully(raw)
        tags(tag) = (typ, count, raw)
      }
      // the next-IFD pointer sits right after the entry table — read it
      // BEFORE any out-of-line tag data moves the file position
      val nextIfd = if (bigtiff) rdLong() else rdInt()
      def typeWidth(typ: Int): Int = typ match {
        case 1 | 2 | 6 | 7 => 1; case 3 | 8 => 2; case 4 | 9 | 13 => 4
        case 12 => 8; case 16 | 17 | 18 => 8
        case other => throw new IllegalArgumentException(s"TIFF type $other")
      }
      def rawData(tag: Int): Option[Array[Byte]] = tags.get(tag).map { case (typ, count, raw) =>
        val total = count * typeWidth(typ)
        if (total <= inlineCap) raw.take(total)
        else {
          val off =
            if (bigtiff) ByteBuffer.wrap(raw).order(order).getLong
            else ByteBuffer.wrap(raw).order(order).getInt & 0xffffffffL
          raf.seek(off)
          val data = new Array[Byte](total); raf.readFully(data)
          data
        }
      }
      def array(tag: Int): Array[Long] = tags.get(tag) match {
        case None => Array.empty
        case Some((typ, count, _)) =>
          val bb = ByteBuffer.wrap(rawData(tag).get).order(order)
          Array.fill(count)(typ match {
            case 1 => (bb.get() & 0xff).toLong
            case 3 => (bb.getShort & 0xffff).toLong
            case 4 | 13 => bb.getInt & 0xffffffffL // LONG / IFD offset
            case 12 => java.lang.Double.doubleToLongBits(bb.getDouble)
            case 16 | 17 | 18 => bb.getLong // LONG8 / SLONG8 / IFD8
          })
      }
      def scalar(tag: Int, dflt: Long = -1): Long = array(tag).headOption.getOrElse(dflt)
      def doubles(tag: Int): Array[Double] = array(tag).map(java.lang.Double.longBitsToDouble)
      def ascii(tag: Int): Option[String] =
        rawData(tag).map(new String(_, "ASCII").takeWhile(c => c != ' ' && c != 0.toChar))

      val bands = scalar(277, 1).toInt
      val bits = array(258).headOption.getOrElse(8L).toInt
      val fmt = array(339).headOption.getOrElse(1L).toInt
      val width = scalar(256).toInt
      val height = scalar(257).toInt
      // tiled (322-325) or classic stripped (273/278/279) layout: strips
      // map onto the tile abstraction as full-width tiles of RowsPerStrip
      // rows (the last strip short, handled at read time)
      val tiled = tags.contains(322)
      require(tiled || (tags.contains(273) && tags.contains(279)),
        s"neither tiled (322) nor stripped (273/279) TIFF: $path")
      val (tileW, tileH, offs, cnts) =
        if (tiled) (scalar(322).toInt, scalar(323).toInt, array(324), array(325))
        else (width, math.max(1, math.min(scalar(278, height).toInt, height)),
          array(273), array(279))
      // PlanarConfiguration (284): 2 = band-separate planes (what the
      // writer emits), 1 = pixel-interleaved (chunky — most real-world
      // multiband files); chunky multiband needs whole-byte samples
      val planar = scalar(284, if (bands == 1) 1 else 2).toInt
      require(planar == 1 || planar == 2,
        s"unsupported PlanarConfiguration $planar in $path")
      val chunky = planar == 1 && bands > 1
      require(!chunky || bits >= 8,
        s"chunky sub-byte samples unsupported ($bits bits, $bands bands) in $path")
      val dataType = (bits, fmt) match {
        case (b, 1) if b < 8 => "uint8" // sub-byte NBITS container
        case (8, 1) => "uint8";   case (8, 2) => "int8"
        case (16, 1) => "uint16"; case (16, 2) => "int16"
        case (16, 3) => "float16"
        case (32, 1) => "uint32"; case (32, 2) => "int32"
        case (32, 3) => "float32"; case (64, 3) => "float64"
        case other => throw new IllegalArgumentException(s"unsupported sample $other")
      }
      // only NONE (1), CCITT G4 (4, bilevel), LZW (5), new-style JPEG
      // (7, 8-bit grayscale), DEFLATE (8), PackBits (32773), and ZSTD
      // (50000) decode here — anything else must fail fast instead of
      // yielding garbage pixels
      val compression = scalar(259, 1)
      require(compression == 1 || compression == 5 || compression == 8 ||
          compression == 32773 || compression == 50000 ||
          (compression == 4 && bits == 1) ||
          (compression == 7 && bits == 8 && fmt == 1),
        s"unsupported TIFF compression $compression in $path " +
          "(none=1, ccitt-g4=4 bilevel, lzw=5, jpeg=7 8-bit, deflate=8, " +
          "packbits=32773, zstd=50000)")
      // predictor (317): 2 = horizontal differencing on integer samples;
      // 3 (floating-point byte shuffling) is a distinct scheme — reject
      // loudly rather than decode shuffled garbage
      val predictor = scalar(317, 1)
      require(predictor == 1 || (predictor == 2 && fmt != 3 && bits >= 8) ||
          (predictor == 3 && fmt == 3 && bits >= 16),
        s"unsupported TIFF predictor $predictor in $path for $bits-bit fmt $fmt " +
          "(1=none, 2=horizontal on integer samples, 3=float TTN3)")
      val scale = doubles(33550)
      val tiepoint = doubles(33922)
      val geoKeys = array(34735)
      // PREFER ProjectedCSType (3072): key directories sort ascending, and
      // projected files routinely ALSO carry GeographicTypeGeoKey (2048)
      // for the datum — first-match would misread a web-mercator file as
      // 4326 and treat meter origins as degrees
      val keyMap = geoKeys.grouped(4).collect {
        case Array(k, _, _, v) => k.toInt -> v.toInt
      }.toMap
      val epsg = keyMap.get(3072).orElse(keyMap.get(2048)).getOrElse(4326)
      val profile = Profile(
        width = width, height = height, bands = bands,
        dataType = dataType,
        tileWidth = tileW, tileHeight = tileH,
        // GDAL prints the nodata tag with %.18g: glibc renders NaN as
        // lowercase "nan" (± "inf"), which Double.parseDouble rejects
        noData = ascii(42113).map(_.trim.toLowerCase match {
          case "nan" | "-nan" => Double.NaN
          case "inf" | "infinity" => Double.PositiveInfinity
          case "-inf" | "-infinity" => Double.NegativeInfinity
          case other => other.toDouble
        }),
        epsg = epsg,
        originX = if (tiepoint.length >= 6) tiepoint(3) else 0,
        originY = if (tiepoint.length >= 6) tiepoint(4) else 0,
        xres = if (scale.nonEmpty) scale(0) else 1,
        yres = if (scale.length > 1) scale(1) else 1,
        deflate = compression == 8,
        ccitt = compression == 4,
        nbits = if (bits < 8) Some(bits) else None,
        photometric = scalar(262, 1) match {
          case 0 => Some("MINISWHITE"); case 2 => Some("RGB"); case 3 => Some("PALETTE")
          case 5 => Some("CMYK"); case 6 => Some("YCBCR"); case 8 => Some("CIELAB")
          case 9 => Some("ICCLAB"); case 10 => Some("ITULAB"); case _ => None
        },
        lzw = compression == 5,
        packbits = compression == 32773,
        zstd = compression == 50000,
        jpeg = compression == 7,
        // ColorMap (320): three 2^bits-long SHORT planes, 16-bit colors
        // narrowed back to 0-255 (the c*257 widening is exactly >> 8)
        palette = {
          val cm = array(320)
          if (cm.isEmpty) None
          else {
            val n = cm.length / 3
            Some((0 until n).map(i =>
              ((cm(i) >> 8).toInt, (cm(n + i) >> 8).toInt,
                (cm(2 * n + i) >> 8).toInt)))
          }
        },
        predictor = predictor.toInt)
      // GDAL-written overview IFDs carry NO geo tags (no ModelPixelScale/
      // Tiepoint, no GeoKeys, no GDAL_NODATA) — the level is georeferenced
      // implicitly by its size ratio to the base. Track whether THIS IFD
      // had its own geo tags so the chain walk can derive the missing ones.
      val hasGeo = tags.contains(33550) || tags.contains(33922)
      ((Tiff(profile, offs, cnts, path, bigEndian,
        chunky = chunky, stripped = !tiled,
        jpegTables = if (compression == 7) rawData(347) else None), hasGeo),
        nextIfd, array(330).toSeq)
      }

      // follow the chain; a corrupt circular chain must not loop forever.
      // SubIFD trees (tag 330 — the TIFF-EP overview layout some products
      // use instead of chained IFDs) queue up and parse after the chain.
      val out = mutable.ArrayBuffer.empty[(Tiff, Boolean)]
      val seen = mutable.Set.empty[Long]
      val subQueue = mutable.Queue.empty[Long]
      var at = firstIfdOffset
      while (at != 0 && !seen(at) && out.length < 64) {
        seen += at
        val (t, next, subs) = parseIfd(at)
        out += t
        subQueue ++= subs
        at = next
      }
      while (subQueue.nonEmpty && out.length < 64) {
        val s0 = subQueue.dequeue()
        if (s0 != 0 && !seen(s0)) {
          seen += s0
          val (t, next, subs) = parseIfd(s0)
          out += t
          // a SubIFD may itself chain (rare) or nest further SubIFDs
          if (next != 0) subQueue += next
          subQueue ++= subs
        }
      }
      require(out.nonEmpty, s"no IFDs in $path")
      out.toSeq
    } finally raf.close()
  }

  /** Derive georeferencing for geo-tag-less reduced levels from the chain
    * head: same extent, resolution scaled by the width/height ratio — how
    * GDAL treats its own overview IFDs (which carry no ModelPixelScale /
    * Tiepoint / GeoKeys / GDAL_NODATA). The head itself is never patched. */
  private def inheritGeo(levels: Seq[(Tiff, Boolean)]): Seq[Tiff] = {
    val base = levels.head._1.profile
    levels.head._1 +: levels.tail.map {
      case (t, true) => t
      case (t, false) =>
        val p = t.profile
        t.copy(profile = p.copy(
          originX = base.originX, originY = base.originY,
          xres = base.xres * base.width / p.width,
          yres = base.yres * base.height / p.height,
          epsg = base.epsg,
          noData = p.noData.orElse(base.noData)))
    }
  }

  /** [[openAll]] plus GDAL EXTERNAL overviews: `gdaladdo -ro` can't touch
    * a read-only dataset, so it writes a sibling `<path>.ovr` — itself a
    * bare TIFF whose IFD chain holds the reduced levels. If that sidecar
    * exists its levels append after the file's own chain, giving one
    * pyramid regardless of where the overviews live. Probing is one
    * open attempt through [[rangeReader]], so s3a/gs/hdfs paths probe
    * the same way local ones do. */
  def openWithOverviews(rawPath: String): Seq[Tiff] = {
    val main = openAllFlags(rawPath)
    val sidecar = rawPath + ".ovr"
    // ONLY a missing file means "no sidecar" — swallowing auth/throttle
    // errors here would silently hide an existing pyramid and fall back
    // to full-resolution reads
    val present =
      try { rangeReader(sidecar).close(); true }
      catch { case _: java.io.FileNotFoundException => false }
    // inherit across the COMBINED chain: a foreign gdaladdo .ovr carries
    // no geo tags on ANY of its levels, so they must derive from the MAIN
    // file's base, not from the sidecar's own (equally bare) head
    if (present) inheritGeo(main ++ openAllFlags(sidecar)) else inheritGeo(main)
  }

  /** Accept plain paths and file: URIs (Hadoop listings yield the latter). */
  private def localPath(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

}
