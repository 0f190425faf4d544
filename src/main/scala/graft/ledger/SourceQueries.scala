package graft
package ledger

import graft.core.Tables
import graft.core.grid.{LatLngGrid, WebMercatorGrid}
import org.apache.spark.sql.functions._

/** Source, sink and grid queries: the grid seed, the tile catalog
  * listing and JDBC scans, the GeoTIFF writer round trips and the
  * published pyramid and manifests. */
private[graft] object SourceQueries {
  import Common._

  /** Fixture temp dir removed recursively at JVM exit — the manifest/
    * listing fixture queries write real files the returned (lazy) plan
    * still reads, so cleanup can't happen inside the query; without the
    * hook every Verify/Bench invocation leaves ~50 files in /tmp and a
    * long-lived driver host accumulates them unboundedly. */
  private def tempFixtureDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(p: java.io.File): Unit = {
        val kids = p.listFiles(); if (kids != null) kids.foreach(rm)
        p.delete(); ()
      }
      rm(dir.toFile)
    }))
    dir
  }

  val all: Seq[QueryDef] = Seq(
    /** S1: lat/lng grid seed — all 648 tiles of grid 10/40000, distributed
      * generation (no driver collect). */
    QueryDef("s1_grid_seed", headline = true) { (s, d) =>
      LatLngGrid(10, 40000).tilesDF(s).orderBy("tile_idx")
    } {
      """SELECT CAST(r*36 + c AS BIGINT) AS tile_idx,
        | (CASE WHEN 90 - r*10 >= 0 THEN printf('%02dN', 90 - r*10) ELSE printf('%02dS', r*10 - 90) END
        |  || '_' ||
        |  CASE WHEN c*10 - 180 >= 0 THEN printf('%03dE', c*10 - 180) ELSE printf('%03dW', 180 - c*10) END) AS tile_id,
        | CAST(c*10 - 180 AS DOUBLE) AS "left", CAST(80 - r*10 AS DOUBLE) AS bottom,
        | CAST(c*10 - 170 AS DOUBLE) AS "right", CAST(90 - r*10 AS DOUBLE) AS top
        |FROM generate_series(0, 17) t1(r) CROSS JOIN generate_series(0, 35) t2(c)
        |ORDER BY tile_idx""".stripMargin
    },

    /** S1 (WebMercator): zoom_12 → 16×16 tiles; bounds rounded to mm. */
    QueryDef("s1_wm_grid_seed") { (s, d) =>
      val g = WebMercatorGrid(12)
      g.tilesDF(s)
        .select(col("tile_idx"), col("tile_id"),
          round(col("left"), 4).as("left"), round(col("bottom"), 4).as("bottom"),
          round(col("right"), 4).as("right"), round(col("top"), 4).as("top"))
        .orderBy("tile_idx")
    } {
      val ext = 20037508.342789244
      val span = 2 * ext / 16
      s"""SELECT CAST(r*16 + c AS BIGINT) AS tile_idx,
         | printf('%03dR_%03dC', r, c) AS tile_id,
         | round(c * $span - $ext, 4) AS "left", round($ext - (r+1) * $span, 4) AS bottom,
         | round((c+1) * $span - $ext, 4) AS "right", round($ext - r * $span, 4) AS top
         |FROM generate_series(0, 15) t1(r) CROSS JOIN generate_series(0, 15) t2(c)
         |ORDER BY tile_idx""".stripMargin
    },

    /** S3 as a LEDGER row — the object-store/folder listing scan
      * ([[graft.sources.Catalog.listFolder]], `layers.py:131-161`) over a
      * fixture prefix: 41 `.tif` keys with deterministic sizes plus
      * decoy non-`.tif` keys the suffix filter must exclude. The oracle
      * replays names and byte sizes in closed form, so the Hadoop-FS glob
      * → filter → (uri, size) relation is value-checked. */
    QueryDef("s3_listing_scan") { (s, d) =>
      import graft.sources.Catalog
      val tmp = tempFixtureDir("graft_s3_list")
      for (k <- 0 to 40) {
        java.nio.file.Files.write(tmp.resolve(f"part_$k%03d.tif"),
          Array.fill[Byte](k * 7 + 13)(0x5a))
        if (k % 10 == 0) // decoys: wrong suffix, must not list
          java.nio.file.Files.write(tmp.resolve(f"part_$k%03d.tif.aux.xml"),
            Array.fill[Byte](99)(0x5a))
      }
      Catalog.listFolder(s, tmp.toString, ".tif")
        .select(regexp_extract(col("uri"), "([^/]+)$", 1).as("name"), col("size"))
        .orderBy("name")
    } {
      // listing replay: names + byte sizes in closed form; the .aux.xml
      // decoys prove the suffix filter
      """SELECT printf('part_%03d.tif', k) AS name,
        |  CAST(k*7 + 13 AS BIGINT) AS size
        |FROM generate_series(0, 40) t(k) ORDER BY name""".stripMargin
    },

    /** S7 as a LEDGER row — the partitioned-JDBC vector scan
      * ([[graft.sources.VectorSource.readPartitioned]], the reader wiring
      * under the PostGIS `readJdbc`; ref
      * `gfw_pixetl/tiles/vector_src_tile.py:87-156`) driven END TO END
      * against an embedded Derby database (the one JDBC engine in the
      * sandbox): a deterministic bbox-feature table derived from
      * `customer` is loaded through Spark's JDBC writer, the layer-
      * envelope intersection predicate is pushed INTO the database in the
      * portable SQL-92 form of the renderer's `ST_Intersects(envelope)`
      * shape, and the scan returns as 8 key-range partitions. The bucketed
      * integer fold replays in closed form over `customer`, so the row
      * checks exactly "did the DB evaluate the pushed predicate, and did
      * every key range come back complete, exactly once". */
    QueryDef("s7_jdbc_pushdown") { (s, d) =>
      import graft.sources.VectorSource
      if (System.getProperty("derby.system.home") == null) // derby.log home
        System.setProperty("derby.system.home", tempFixtureDir("graft_s7_derby").toString)
      val feat = Tables.customer(s, d).select(
        col("c_custkey").as("fid"),
        (col("c_custkey") % 360 - 180).cast("int").as("xmin"),
        (col("c_custkey") % 180 - 90).cast("int").as("ymin"),
        (col("c_custkey") % 360 - 180 + col("c_custkey") % 7 + 1).cast("int").as("xmax"),
        (col("c_custkey") % 180 - 90 + col("c_custkey") % 5 + 1).cast("int").as("ymax"),
        ((col("c_custkey") * 13) % 1000).as("val"))
      val url = "jdbc:derby:memory:graft_s7;create=true"
      feat.write.mode("overwrite").jdbc(url, "features", new java.util.Properties())
      val maxFid = feat.agg(max("fid")).head().getLong(0)
      // quoted idents: Spark's JDBC writer creates case-preserved columns
      val sub = """(SELECT "fid" AS FID, "xmin" AS XMIN, "ymin" AS YMIN, "val" AS VAL
                   | FROM features
                   | WHERE NOT ("xmax" < -60 OR "xmin" > 60 OR "ymax" < -45 OR "ymin" > 45)) src""".stripMargin
      VectorSource.readPartitioned(s, url, sub, "FID", Some((1L, maxFid + 1)), numPartitions = 8)
        .groupBy((col("FID") % 16).as("bucket"))
        .agg(count(lit(1)).as("n_feat"), sum("FID").as("sum_fid"),
          sum(col("XMIN") + col("YMIN")).as("sum_ll"), sum("VAL").as("sum_val"))
        .orderBy("bucket")
    } {
      // the Derby-backed partitioned-JDBC scan replayed in closed form
      // over customer: same bbox derivation, same envelope predicate,
      // same bucketed fold — green means the pushed predicate and the
      // 8 key ranges returned the complete relation exactly once
      """WITH feat AS (
        |  SELECT c_custkey AS fid,
        |    CAST(c_custkey % 360 - 180 AS INT) AS xmin,
        |    CAST(c_custkey % 180 - 90 AS INT) AS ymin,
        |    CAST(c_custkey % 360 - 180 + c_custkey % 7 + 1 AS INT) AS xmax,
        |    CAST(c_custkey % 180 - 90 + c_custkey % 5 + 1 AS INT) AS ymax,
        |    (c_custkey * 13) % 1000 AS val
        |  FROM customer),
        |kept AS (SELECT * FROM feat
        |  WHERE NOT (xmax < -60 OR xmin > 60 OR ymax < -45 OR ymin > 45))
        |SELECT fid % 16 AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_feat,
        |  CAST(sum(fid) AS BIGINT) AS sum_fid,
        |  CAST(sum(xmin + ymin) AS BIGINT) AS sum_ll,
        |  CAST(sum(val) AS BIGINT) AS sum_val
        |FROM kept GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    /** Z-order (Morton) tile ordering — the spatial-locality sort/partition
      * key for sink writes and co-located spatial work at scale. */
    QueryDef("z1_zorder") { (s, d) =>
      val tiles = LatLngGrid(10, 40000).tilesDF(s)
      val r = (col("tile_idx") / 36).cast("long")
      val c = (col("tile_idx") % 36).cast("long")
      tiles.select(col("tile_id"), col("tile_idx"),
          graft.functions.ZOrder.morton(c, r).as("zorder"))
        .orderBy("zorder", "tile_id")
    } {
      import graft.functions.ZOrder
      s"""WITH t AS (
         |  SELECT CAST(r*36 + c AS BIGINT) AS tile_idx,
         |    (CASE WHEN 90 - r*10 >= 0 THEN printf('%02dN', 90 - r*10) ELSE printf('%02dS', r*10 - 90) END
         |     || '_' ||
         |     CASE WHEN c*10 - 180 >= 0 THEN printf('%03dE', c*10 - 180) ELSE printf('%03dW', 180 - c*10) END) AS tile_id,
         |    r, c
         |  FROM generate_series(0, 17) t1(r) CROSS JOIN generate_series(0, 35) t2(c))
         |SELECT tile_id, tile_idx, ${ZOrder.mortonSql("c", "r")} AS zorder
         |FROM t ORDER BY zorder, tile_id""".stripMargin
    },

    /** S4/S5/K1 in the hash-checked ledger — the GeoTIFF CODEC round
      * trip, oracled via the m5 fixture recipe: per (asset, codec leg) a
      * formula-valued 24×24 raster (2×2 tiles of 16 — padding exercised)
      * is ENCODED through the real `GeoTiff.Writer` (K1) and re-DECODED
      * through the real IFD parse + tile read (S4/S5), and the decoded
      * pixels fold to position-weighted integer sums the oracle computes
      * straight from the generating formula. Sixteen legs cover the
      * codec matrix: uint16+DEFLATE, uint8 raw, NBITS=4 bit-packing,
      * CCITT-G4 bilevel, float32 (SampleFormat=IEEE, integer-valued ⇒
      * exact), int16 (signed narrow), LZW (the common public-file codec),
      * PackBits RLE, LZW+predictor-2 horizontal differencing, a
      * forced-BigTIFF container (magic 43, 8-byte offsets), a STRIPPED
      * layout (unpadded last strip) through the strip writer, a 2-band
      * PIXEL-INTERLEAVED (chunky, PlanarConfiguration=1) plane with
      * predictor 2 (per-component lag), a SPARSE_OK file
      * (tile.py:65) whose 3 all-nodata tiles become unallocated holes
      * the reader refills, a COG (head-first IFD chain, asserted on the
      * raw header bytes), ZSTD (tag 50000, via Spark's own zstd-jni),
      * and new-style JPEG (tag 7) with per-8×8-block-constant pixels —
      * flat DCT blocks are DC-only at quantization step 1, so even the
      * lossy codec round-trips bit-exactly and stays hash-checkable.
      * Encode/decode run inside `mapPartitions`
      * (the multimodal discipline — codecs never in expressions); temp
      * files are per-task and deleted in `finally`. Any bit the codec
      * chain drops or shifts breaks the wsum hash. */
    QueryDef("s5_tiff_roundtrip") { (s, d) =>
      import s.implicits._
      import graft.sources.GeoTiff
      val W = 24; val T = 16
      val legs = Seq("ccitt1", "f32", "i16", "nbits4", "rgb_jpeg", "u16_big",
        "u16_chunky2", "u16_cog", "u16_deflate", "u16_lzw", "u16_lzw_pred2",
        "u16_sparse", "u16_zstd", "u8_jpeg", "u8_packbits", "u8_raw",
        "u8_stripped")
      Tables.part(s, d)
        .filter(col("p_partkey") <= 12)
        .select(col("p_partkey").cast("long").as("asset_id")).as[Long]
        .repartition(4)
        .mapPartitions { ids =>
          ids.flatMap { a =>
            legs.map { leg =>
              def v(b: Int, x: Int, y: Int): Double = leg match {
                case "u16_deflate"   => ((7 * a + 3 * x + 5 * y) % 60000).toDouble
                case "u8_raw"        => ((a + x * y) % 256).toDouble
                case "nbits4"        => ((3 * x + 5 * y + 7 * a) % 16).toDouble
                case "ccitt1"        => ((x + y + a) % 2).toDouble
                case "f32"           => (a * 100 + x - y).toDouble
                case "i16"           => (((x * y + a) % 200) - 100).toDouble
                case "u16_lzw"       => ((11 * a + 3 * x + 7 * y) % 60000).toDouble
                case "u16_lzw_pred2" => ((5 * a + 2 * x + 3 * y) % 60000).toDouble
                case "u8_packbits"   => ((a + 2 * x + y) % 256).toDouble
                case "u16_big"       => ((9 * a + x + 13 * y) % 60000).toDouble
                case "u8_stripped"   => ((3 * a + x + 2 * y) % 256).toDouble
                case "u16_chunky2"   => ((b * 1000 + 5 * a + 2 * x + 3 * y) % 60000).toDouble
                // data only in the (0,0) tile quadrant; everything else is
                // the nodata 42 -> 3 of 4 tiles become SPARSE_OK holes
                case "u16_sparse"    =>
                  if (x < 16 && y < 16) ((13 * a + 4 * x + 9 * y) % 60000).toDouble
                  else 42.0
                case "u16_zstd"      => ((17 * a + 6 * x + 11 * y) % 60000).toDouble
                case "u16_cog"       => ((19 * a + 8 * x + 5 * y) % 60000).toDouble
                // constant per 8x8 DCT block ⇒ baseline JPEG at max quality
                // round-trips EXACTLY (flat blocks are DC-only, q-step 1)
                case "u8_jpeg"       => ((31 * a + 5 * (x / 8) + 11 * (y / 8)) % 256).toDouble
                // 3-band YCbCr color JPEG: GRAY flat blocks (r=g=b) are
                // exact — Cb=Cr=128 survives the color transform
                case "rgb_jpeg"      => ((29 * a + 5 * (x / 8) + 7 * (y / 8)) % 256).toDouble
              }
              def prof(dt: String, defl: Boolean = true, nb: Option[Int] = None,
                       cc: Boolean = false) =
                GeoTiff.Profile(W, W, 1, dt, T, T, None, 4326, 0.0, 0.0, 1.0, 1.0,
                  deflate = defl, nbits = nb, ccitt = cc)
              val p = leg match {
                case "u16_deflate"   => prof("uint16")
                case "u8_raw"        => prof("uint8", defl = false)
                case "nbits4"        => prof("uint8", nb = Some(4))
                case "ccitt1"        => prof("uint8", nb = Some(1), cc = true)
                case "f32"           => prof("float32")
                case "i16"           => prof("int16")
                case "u16_lzw"       => prof("uint16", defl = false).copy(lzw = true)
                case "u16_lzw_pred2" =>
                  prof("uint16", defl = false).copy(lzw = true, predictor = 2)
                case "u8_packbits"   => prof("uint8", defl = false).copy(packbits = true)
                case "u16_big"       => prof("uint16")
                // stripped: full-width strips of T rows, last strip short
                case "u8_stripped"   =>
                  prof("uint8", defl = false).copy(tileWidth = W, lzw = true)
                // chunky: 2 bands pixel-interleaved + predictor 2
                case "u16_chunky2"   => prof("uint16").copy(bands = 2, predictor = 2)
                case "u16_sparse"    => prof("uint16").copy(noData = Some(42.0))
                case "u16_zstd"      => prof("uint16", defl = false).copy(zstd = true)
                case "u16_cog"       => prof("uint16")
                case "u8_jpeg"       => prof("uint8", defl = false).copy(jpeg = true)
                case "rgb_jpeg"      => prof("uint8", defl = false)
                  .copy(jpeg = true, bands = 3, photometric = Some("YCBCR"))
              }
              val f = java.io.File.createTempFile(s"graft_s5_${a}_$leg", ".tif")
              try {
                val w = new GeoTiff.Writer(f.getAbsolutePath, p,
                  bigtiff = leg == "u16_big",
                  stripped = leg == "u8_stripped",
                  pixelInterleave = leg == "u16_chunky2" || leg == "rgb_jpeg",
                  sparse = leg == "u16_sparse",
                  cogLayout = leg == "u16_cog")
                val tw = p.tileWidth; val th = p.tileHeight
                // tile pad (gx/gy >= W) stores the leg's fill: 42 for the
                // sparse leg (so all-nodata tiles stay holes), else 0
                val pad = if (leg == "u16_sparse") 42.0 else 0.0
                def plane(b: Int, tr: Int, tc: Int): Array[Double] =
                  Array.tabulate(tw * th) { i =>
                    val gx = tc * tw + i % tw; val gy = tr * th + i / tw
                    if (gx < W && gy < W) v(b, gx, gy) else pad
                  }
                for (tr <- 0 until p.tilesDown; tc <- 0 until p.tilesAcross)
                  if (leg == "u16_chunky2" || leg == "rgb_jpeg")
                    w.writeTileInterleaved(tr, tc,
                      (1 to p.bands).map(b => plane(b, tr, tc)))
                  else w.writeTile(1, tr, tc, plane(1, tr, tc))
                w.close()
                val t = GeoTiff.open(f.getAbsolutePath)
                // the sparse leg must actually produce holes — 3 of the 4
                // tiles are all-42; a silent dense write would still hash
                // right, so assert the layout too
                if (leg == "u16_sparse")
                  require(t.tileCounts.count(_ == 0L) == 3,
                    s"expected 3 sparse holes, got ${t.tileCounts.toSeq}")
                // the COG leg must actually be head-first — a plain
                // IFD-last file would still hash right
                if (leg == "u16_cog") {
                  val hraf = new java.io.RandomAccessFile(f, "r")
                  val hd = new Array[Byte](8); hraf.readFully(hd); hraf.close()
                  val fi = java.nio.ByteBuffer.wrap(hd, 4, 4)
                    .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt & 0xffffffffL
                  require(fi == 8L, s"COG leg first IFD at $fi, expected 8")
                }
                var sum = 0L; var wsum = 0L
                for (band <- 1 to t.profile.bands;
                     tr <- 0 until t.profile.tilesDown;
                     tc <- 0 until t.profile.tilesAcross) {
                  val px = t.readTile(band, tr, tc)
                  var i = 0
                  while (i < px.length) {
                    val gx = tc * tw + i % tw; val gy = tr * th + i / tw
                    if (gx < W && gy < W) {
                      val lv = px(i).toLong
                      sum += lv; wsum += lv * (gx + W.toLong * gy)
                    }
                    i += 1
                  }
                }
                (a, leg, sum, wsum)
              } finally f.delete()
            }
          }
        }
        .toDF("asset_id", "leg", "sum_v", "wsum_v")
        .orderBy("asset_id", "leg")
    } {
      // decoded-pixel sums from the generating formula; Spark runs the
      // REAL GeoTIFF encode (Writer: DEFLATE/NBITS/CCITT-G4/raw) then the
      // real IFD-parse + tile decode — any dropped/shifted bit breaks wsum
      """WITH a AS (SELECT CAST(p_partkey AS BIGINT) AS asset_id FROM part
        |  WHERE p_partkey <= 12),
        |xs AS (SELECT unnest(range(0, 24)) AS x),
        |ys AS (SELECT unnest(range(0, 24)) AS y),
        |px AS (SELECT asset_id, x, y FROM a, xs, ys),
        |legs AS (
        |  SELECT asset_id, 'ccitt1' AS leg, (x + y + asset_id) % 2 AS v, x, y FROM px
        |  UNION ALL SELECT asset_id, 'f32', asset_id * 100 + x - y, x, y FROM px
        |  UNION ALL SELECT asset_id, 'i16', ((x * y + asset_id) % 200) - 100, x, y FROM px
        |  UNION ALL SELECT asset_id, 'nbits4', (3*x + 5*y + 7*asset_id) % 16, x, y FROM px
        |  UNION ALL SELECT asset_id, 'u16_deflate', (7*asset_id + 3*x + 5*y) % 60000, x, y FROM px
        |  UNION ALL SELECT asset_id, 'u8_raw', (asset_id + x*y) % 256, x, y FROM px
        |  UNION ALL SELECT asset_id, 'u16_lzw', (11*asset_id + 3*x + 7*y) % 60000, x, y FROM px
        |  UNION ALL SELECT asset_id, 'u16_lzw_pred2', (5*asset_id + 2*x + 3*y) % 60000, x, y FROM px
        |  UNION ALL SELECT asset_id, 'u8_packbits', (asset_id + 2*x + y) % 256, x, y FROM px
        |  UNION ALL SELECT asset_id, 'u16_big', (9*asset_id + x + 13*y) % 60000, x, y FROM px
        |  UNION ALL SELECT asset_id, 'u8_stripped', (3*asset_id + x + 2*y) % 256, x, y FROM px
        |  UNION ALL SELECT asset_id, 'u16_chunky2', (bt.b*1000 + 5*asset_id + 2*x + 3*y) % 60000, x, y
        |    FROM px, (VALUES (1), (2)) AS bt(b)
        |  UNION ALL SELECT asset_id, 'u16_sparse',
        |    CASE WHEN x < 16 AND y < 16 THEN (13*asset_id + 4*x + 9*y) % 60000 ELSE 42 END, x, y FROM px
        |  UNION ALL SELECT asset_id, 'u16_zstd', (17*asset_id + 6*x + 11*y) % 60000, x, y FROM px
        |  UNION ALL SELECT asset_id, 'u16_cog', (19*asset_id + 8*x + 5*y) % 60000, x, y FROM px
        |  UNION ALL SELECT asset_id, 'u8_jpeg',
        |    (31*asset_id + 5*(x // 8) + 11*(y // 8)) % 256, x, y FROM px
        |  UNION ALL SELECT asset_id, 'rgb_jpeg',
        |    (29*asset_id + 5*(x // 8) + 7*(y // 8)) % 256, x, y
        |    FROM px, (VALUES (1), (2), (3)) AS bt(b))
        |SELECT asset_id, leg, CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(sum(v * (x + 24*y)) AS BIGINT) AS wsum_v
        |FROM legs GROUP BY 1, 2 ORDER BY asset_id, leg""".stripMargin
    },

    /** S4 gdalinfo-JSON twin (`utils/gdal.py:170-238`): write one
      * deterministic uint16 raster per asset inside executor tasks, run
      * [[graft.sources.GeoTiffSpark.fetchMetadata]] with `-stats -mm` and
      * `-hist`, and extract the fields the reference's `get_metadata`
      * parses — size, band dtype (GDAL spelling), exact nodata-excluded
      * min/max, valid count and exact sum (recovered from mean·n), the
      * 256-bucket histogram envelope and its occupied-bucket count — all
      * replayed by the oracle in closed form from the generating formula.
      * The JSON itself is pulled apart with Spark's native
      * `get_json_object`/`from_json`, so the document SHAPE is also under
      * test, not just the numbers. */
    QueryDef("s4_gdalinfo_meta") { (s, d) =>
      import s.implicits._
      import graft.sources.{GeoTiff, GeoTiffSpark}
      val W = 32; val T = 16
      val dir = java.nio.file.Files.createTempDirectory("graft_s4meta").toString
      // control-plane file build: 6 tiny rasters, written inside tasks,
      // collected as a 6-row path list (same class as a manifest collect)
      val paths = Tables.part(s, d).filter(col("p_partkey") <= 6)
        .select(col("p_partkey").cast("long").as("asset_id")).as[Long]
        .repartition(3)
        .map { a =>
          val p = GeoTiff.Profile(W, W, 1, "uint16", T, T, Some(0.0), 4326,
            0.0, 0.0, 1.0, 1.0, deflate = true)
          val path = s"$dir/asset_$a.tif"
          val w = new GeoTiff.Writer(path, p)
          for (tr <- 0 until p.tilesDown; tc <- 0 until p.tilesAcross)
            w.writeTile(1, tr, tc, Array.tabulate(T * T) { i =>
              val gx = tc * T + i % T; val gy = tr * T + i / T
              ((3 * a + 5 * gx + 7 * gy) % 97).toDouble // 0 = nodata
            })
          w.close()
          path
        }
        .collect().toSeq.sorted
      val meta = GeoTiffSpark.fetchMetadata(s, paths,
        computeStats = true, computeHistogram = true)
      def j(p: String) = get_json_object(col("metadata_json"), p)
      val buckets = from_json(j("$.bands[0].histogram.buckets"),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
      meta.select(
        regexp_extract(col("uri"), "asset_(\\d+)\\.tif", 1).cast("long").as("asset_id"),
        j("$.size[0]").cast("int").as("width"),
        j("$.size[1]").cast("int").as("height"),
        j("$.bands[0].type").as("dtype"),
        j("$.bands[0].minimum").cast("double").as("mn"),
        j("$.bands[0].maximum").cast("double").as("mx"),
        aggregate(buckets, lit(0L), (acc, x) => acc + x).as("valid_n"),
        // mean·n rounds back to the exact integer sum (sum ≪ 2^53)
        round(j("$.bands[0].mean").cast("double") *
          aggregate(buckets, lit(0L), (acc, x) => acc + x)).cast("long").as("sum_v"),
        j("$.bands[0].histogram.min").cast("double").as("hist_lo"),
        j("$.bands[0].histogram.max").cast("double").as("hist_hi"),
        j("$.bands[0].histogram.count").cast("int").as("hist_n"),
        size(filter(buckets, x => x > 0)).cast("long").as("nz_buckets"))
        .orderBy("asset_id")
    } {
      // gdalinfo -json twin: Spark writes the raster, runs fetchMetadata
      // (-stats -mm -hist), and pulls the document apart with
      // get_json_object; the oracle replays every figure — including the
      // 256-bucket occupancy under GDAL's integer [min-0.5, max+0.5]
      // envelope — in closed form from the generating formula
      """WITH a AS (SELECT CAST(p_partkey AS BIGINT) AS asset_id FROM part
        |  WHERE p_partkey <= 6),
        |xs AS (SELECT unnest(range(0, 32)) AS x),
        |ys AS (SELECT unnest(range(0, 32)) AS y),
        |px AS (SELECT asset_id, (3*asset_id + 5*x + 7*y) % 97 AS v
        |  FROM a, xs, ys),
        |valid AS (SELECT asset_id, v FROM px WHERE v <> 0),
        |g AS (SELECT asset_id, MIN(v) AS mnv, MAX(v) AS mxv,
        |  COUNT(*) AS valid_n, SUM(v) AS sum_v FROM valid GROUP BY 1),
        |nz AS (SELECT v.asset_id, COUNT(DISTINCT LEAST(255, GREATEST(0,
        |    CAST(FLOOR((v.v - (g.mnv - 0.5)) / (g.mxv - g.mnv + 1.0) * 256)
        |      AS INTEGER)))) AS nz_buckets
        |  FROM valid v JOIN g ON v.asset_id = g.asset_id GROUP BY 1)
        |SELECT g.asset_id, 32 AS width, 32 AS height, 'UInt16' AS dtype,
        |  CAST(g.mnv AS DOUBLE) AS mn, CAST(g.mxv AS DOUBLE) AS mx,
        |  g.valid_n, CAST(g.sum_v AS BIGINT) AS sum_v,
        |  CAST(g.mnv AS DOUBLE) - 0.5 AS hist_lo,
        |  CAST(g.mxv AS DOUBLE) + 0.5 AS hist_hi,
        |  256 AS hist_n, nz.nz_buckets
        |FROM g JOIN nz ON g.asset_id = nz.asset_id
        |ORDER BY g.asset_id""".stripMargin
    },

    /** K1 + §2.9 OVERVIEW PYRAMID sink — the distributed overview build,
      * end to end, at the dataflow shape that survives 100 TB: base
      * blocks → per-block factor-2 [[graft.operators.Resample.downsample]]
      * (map-side, 4× data reduction, NO shuffle; `nearest` and masked
      * mean-floor `average` legs) → [[graft.operators.Resample.regroup2x]]
      * (the ONE keyed exchange of the build, moving only the reduced
      * quarters) → per-(asset, mode) [[graft.sources.GeoTiff.Writer]]
      * with a DECLARED factor-2 overview (chained IFDs, gdaladdo layout,
      * NewSubfileType=1) → `openAll` readback of BOTH pyramid levels from
      * the file. The oracle replays the generating formula, the nearest
      * decimation, and the nodata-excluded floor-mean in closed form, so
      * the whole chain — downsample arithmetic, quarter assembly, IFD
      * chaining, per-level offsets — is hash-checked. The `average` leg's
      * floor(mean of non-nodata) is the deterministic twin of GDAL's
      * nodata-excluding average (both engines floor the same IEEE double,
      * sums < 4000 ⇒ exact). Nodata pixels ((x·y) % 7 = 0 → 0) thread
      * the masked-pixel convention through every stage. */
    QueryDef("k5_pyramid_sink") { (s, d) =>
      import s.implicits._
      import graft.operators.Resample
      import graft.sources.GeoTiff
      val B = 16 // block = tile size; base image 32×32 = 2×2 blocks
      val assets = Tables.part(s, d).filter(col("p_partkey") <= 6)
        .select(col("p_partkey").cast("long").as("asset_id"))
      val blockIdx = s.range(4).select(
        (col("id") / 2).cast("int").as("block_row"),
        (col("id") % 2).cast("int").as("block_col"))
      // stored base: nodata 0 where (gx·gy)%7=0, else 1 + (7a+5x+3y)%997
      val base = assets.crossJoin(broadcast(blockIdx))
        .withColumn("band_1", transform(sequence(lit(0), lit(B * B - 1)), i => {
          val gx = col("block_col") * B + pmod(i, lit(B))
          val gy = col("block_row") * B + (i / B).cast("int")
          when(pmod(gx * gy, lit(7)) === 0, lit(0.0))
            .otherwise((pmod(lit(7) * col("asset_id") + lit(5) * gx + lit(3) * gy,
              lit(997)) + 1).cast("double"))
        }))
      // masked-pixel convention: nodata → null through the kernels
      val masked = base.withColumn("band_1",
        transform(col("band_1"), v => when(v =!= 0.0, v)))
      def halves(method: String) = masked.withColumn("band_1",
        Resample.downsample(col("band_1"), B, B, 2, method))
      val ovrN = Resample.regroup2x(halves("nearest"), B, Seq("band_1"), Seq("asset_id"))
        .withColumn("mode", lit("nearest"))
      // deterministic floor-mean: floor map-side, BEFORE the exchange
      val ovrA = Resample.regroup2x(
          halves("average").withColumn("band_1",
            transform(col("band_1"), v => floor(v).cast("double"))),
          B, Seq("band_1"), Seq("asset_id"))
        .withColumn("mode", lit("average"))
      val modes = s.range(2).select(
        when(col("id") === 0, "nearest").otherwise("average").as("mode"))
      val lvl0 = base.crossJoin(broadcast(modes)).withColumn("level", lit(0))
      val lvl1 = ovrN.unionByName(ovrA)
        .withColumn("band_1", transform(col("band_1"), v => coalesce(v, lit(0.0))))
        .withColumn("level", lit(1))
      val cols5 = Seq("asset_id", "mode", "level", "block_row", "block_col", "band_1")
      lvl0.select(cols5.map(col): _*).unionByName(lvl1.select(cols5.map(col): _*))
        .as[(Long, String, Int, Int, Int, Seq[Double])]
        .groupByKey { case (a, m, _, _, _, _) => (a, m) }
        .flatMapGroups { (key: (Long, String), it: Iterator[(Long, String, Int, Int, Int, Seq[Double])]) =>
          val (a, m) = key
          val f = java.io.File.createTempFile(s"graft_k5_${a}_$m", ".tif")
          try {
            val p = GeoTiff.Profile(2 * B, 2 * B, 1, "uint16", B, B, Some(0.0),
              4326, 0.0, 0.0, 1.0, 1.0, deflate = true)
            val w = new GeoTiff.Writer(f.getAbsolutePath, p, overviewFactors = Seq(2))
            it.foreach { case (_, _, lvl, br, bc, px) =>
              if (lvl == 0) w.writeTile(1, br, bc, px.toArray)
              else w.writeOverviewTile(1, 1, br, bc, px.toArray)
            }
            w.close()
            GeoTiff.openAll(f.getAbsolutePath).zipWithIndex.map { case (t, lvl) =>
              val wd = t.profile.width
              var sum = 0L; var wsum = 0L
              for (tr <- 0 until t.profile.tilesDown;
                   tc <- 0 until t.profile.tilesAcross) {
                val px = t.readTile(1, tr, tc)
                var i = 0
                while (i < px.length) {
                  val gx = tc * B + i % B; val gy = tr * B + i / B
                  if (gx < wd && gy < wd) {
                    val lv = px(i).toLong
                    sum += lv; wsum += lv * (gx + wd.toLong * gy)
                  }
                  i += 1
                }
              }
              (a, m, lvl, sum, wsum)
            }
          } finally f.delete()
        }
        .toDF("asset_id", "mode", "level", "sum_v", "wsum_v")
        .orderBy("asset_id", "mode", "level")
    } {
      // distributed overview pyramid: base 32×32 per asset, nodata 0 where
      // (x·y)%7=0; level 1 = nearest decimation (base at 2x,2y) and the
      // nodata-excluded floor-mean — both replayed in closed form, weights
      // use each level's own width (32 base, 16 overview)
      """WITH ids AS (SELECT CAST(p_partkey AS BIGINT) AS a FROM part
        |             WHERE p_partkey <= 6),
        |px AS (SELECT a, x, y,
        |         CASE WHEN (x*y) % 7 = 0 THEN 0
        |              ELSE (7*a + 5*x + 3*y) % 997 + 1 END AS v
        |       FROM ids CROSS JOIN generate_series(0, 31) gx(x)
        |                CROSS JOIN generate_series(0, 31) gy(y)),
        |ovn AS (SELECT a, x // 2 AS ox, y // 2 AS oy, v FROM px
        |        WHERE x % 2 = 0 AND y % 2 = 0),
        |ova AS (SELECT a, x // 2 AS ox, y // 2 AS oy,
        |          CASE WHEN COUNT(*) FILTER (WHERE v <> 0) = 0 THEN 0
        |               ELSE CAST(FLOOR(SUM(v) FILTER (WHERE v <> 0)
        |                    / COUNT(*) FILTER (WHERE v <> 0)) AS BIGINT) END AS v
        |        FROM px GROUP BY 1, 2, 3),
        |legs AS (
        |  SELECT a, m, 0 AS lvl, v, x + 32*y AS wt
        |  FROM px CROSS JOIN (VALUES ('nearest'), ('average')) mm(m)
        |  UNION ALL SELECT a, 'nearest', 1, v, ox + 16*oy FROM ovn
        |  UNION ALL SELECT a, 'average', 1, v, ox + 16*oy FROM ova)
        |SELECT a AS asset_id, m AS mode, lvl AS level,
        |  CAST(SUM(v) AS BIGINT) AS sum_v, CAST(SUM(v*wt) AS BIGINT) AS wsum_v
        |FROM legs GROUP BY 1, 2, 3 ORDER BY asset_id, mode, level""".stripMargin
    },

    /** K1+`addo` — the gdaladdo -ro twin oracle-checked END TO END through
      * the PRODUCTION surfaces: publish plain tiles with
      * [[graft.sources.GeoTiffSpark.writeTiles]] (3 real grid tiles of the
      * custom 90/544 lattice, 2×2 blocks each), build external `.ovr`
      * sidecars with the distributed
      * [[graft.sources.GeoTiffSpark.addOverviewSidecars]] job (masked
      * `max` kernel — integer-exact, no rounding ambiguity cross-engine),
      * then read BOTH pyramid levels back through
      * [[graft.sources.GeoTiff.openWithOverviews]] and fold
      * sum/weighted-sum per level. The oracle replays the base formula
      * and the nodata-excluded 2×2 max in closed form, so the published
      * bytes, the sidecar build's one-exchange dataflow, and the
      * combined-chain open are all hash-checked. */
    QueryDef("k6_ovr_sidecar") { (s, d) =>
      import s.implicits._
      import graft.sources.{GeoTiff, GeoTiffSpark}
      val grid = graft.core.grid.GridFactory("90/544")
      val B = grid.blockSize // 272: 2x2 blocks per 544-px tile
      require(B * 2 == grid.cols, s"k6 expects a 2x2-block tile, got block $B of ${grid.cols}")
      val spec = graft.core.LayerSpec(dataset = "k6", version = "v1",
        sourceType = "raster", pixelMeaning = "x", dataType = "uint16",
        grid = "90/544", sourceUri = Some(Seq("mem")), noData = Some(Seq(0.0)))
      val dir = tempFixtureDir("graft_k6_addo").resolve("tiles")
      java.nio.file.Files.createDirectories(dir)
      val ids = (0 until 3).map(grid.tileId(_))
      val tiles = ids.zipWithIndex.map { case (id, i) =>
        val b = grid.tileBounds(id); (i, id, b.left, b.top)
      }
      val blockIdx = s.range(4).select(
        (col("id") / 2).cast("int").as("block_row"),
        (col("id") % 2).cast("int").as("block_col"))
      // base: nodata 0 where (gx·gy)%7=0, else 1 + (7i + 5gx + 3gy) % 997
      val base = s.createDataset(tiles).toDF("i", "tile_id", "left", "top")
        .crossJoin(broadcast(blockIdx))
        .withColumn("band_1", transform(sequence(lit(0), lit(B * B - 1)), j => {
          val gx = col("block_col") * B + pmod(j, lit(B)).cast("int")
          val gy = col("block_row") * B + (j / B).cast("int")
          when(pmod(gx * gy, lit(7)) === 0, lit(0.0))
            .otherwise((lit(1) +
              pmod(col("i") * 7 + gx * 5 + gy * 3, lit(997))).cast("double"))
        }))
      val dirS = dir.toString // Path itself is not serializable
      GeoTiffSpark.writeTiles(base.drop("i"), spec, dirS).count()
      GeoTiffSpark.addOverviewSidecars(s, dirS, spec,
        factors = Seq(2), method = "max").count()
      s.createDataset(ids).repartition(3).flatMap { id =>
        GeoTiff.openWithOverviews(s"$dirS/$id.tif").zipWithIndex.map {
          case (t, lvl) =>
            val wd = t.profile.width; val bs = t.profile.tileWidth
            var sum = 0L; var wsum = 0L
            for (tr <- 0 until t.profile.tilesDown;
                 tc <- 0 until t.profile.tilesAcross) {
              val px = t.readTile(1, tr, tc)
              var k = 0
              while (k < px.length) {
                val gx = tc * bs + k % bs; val gy = tr * bs + k / bs
                if (gx < wd && gy < t.profile.height) {
                  val lv = px(k).toLong
                  sum += lv; wsum += lv * (gx + wd.toLong * gy)
                }
                k += 1
              }
            }
            (id, lvl, sum, wsum)
        }
      }.toDF("tile_id", "level", "sum_v", "wsum_v")
        .orderBy("tile_id", "level")
    } {
      // the gdaladdo twin: base formula + nodata-excluded 2x2 max replayed
      // in closed form over the 3 published 544-px tiles and their .ovr
      // level (272 px, one block)
      """WITH ids(i, tile_id) AS (VALUES (0, '90N_180W'), (1, '90N_090W'),
        |                                (2, '90N_000E')),
        |base AS (SELECT i, tile_id, x, y,
        |    CASE WHEN (x*y) % 7 = 0 THEN 0
        |         ELSE 1 + (7*i + 5*x + 3*y) % 997 END AS v
        |  FROM ids CROSS JOIN generate_series(0, 543) gx(x)
        |           CROSS JOIN generate_series(0, 543) gy(y)),
        |l0 AS (SELECT tile_id, 0 AS level, SUM(v) AS s,
        |         SUM(v * (x + 544*y)) AS ws FROM base GROUP BY 1),
        |q AS (SELECT tile_id, x // 2 AS qx, y // 2 AS qy,
        |        COALESCE(MAX(CASE WHEN v = 0 THEN NULL ELSE v END), 0) AS m
        |      FROM base GROUP BY 1, 2, 3),
        |l1 AS (SELECT tile_id, 1 AS level, SUM(m) AS s,
        |         SUM(m * (qx + 272*qy)) AS ws FROM q GROUP BY 1)
        |SELECT tile_id, level, CAST(s AS BIGINT) AS sum_v,
        |  CAST(ws AS BIGINT) AS wsum_v
        |FROM (SELECT * FROM l0 UNION ALL SELECT * FROM l1) u
        |ORDER BY tile_id, level""".stripMargin
    },

    /** S2/S8/K2 manifest CHAIN — the control-plane round trip a chained
      * job runs: render tiles.geojson through the K3 sink
      * ([[graft.plans.LayerJob.writeTilesGeojson]]) for every 7th grid
      * tile, upload real (tiny-profile) GeoTIFFs for every 21st tile via
      * the K2 in-task temp+copy Hadoop-FS route
      * (`tiles/tile.py:143-172`), re-scan the manifest with S2's
      * dest-relative name resolution
      * ([[graft.sources.Catalog.fromTilesGeojson]],
      * `gfw_pixetl/layers.py:114-128`), list existing outputs (S8,
      * [[graft.sources.Catalog.existingTiles]], `sources.py:254-263`),
      * and anti-join to the remaining work list. The oracle replays tile
      * ids, manifest order, footprints, and the existence predicate in
      * closed form, so the whole chain (JSON render → parse → WKB →
      * envelope → anti-join) is hash-checked, not just spec-asserted.
      * Every relation is catalog-sized (≤ 93 rows) by construction. */
    QueryDef("s2_manifest_chain") { (s, d) =>
      import s.implicits._
      import graft.sources.{Catalog, GeoTiff}
      import graft.plans.LayerJob
      val tmp = tempFixtureDir("graft_s2_chain")
      val destDir = tmp.resolve("tiles")
      java.nio.file.Files.createDirectories(destDir)
      val sel = LatLngGrid(10, 40000).tilesDF(s).filter(col("tile_idx") % 7 === 0)
      // K3 render: dest-relative names (the sink contract), GeoJSON rings
      val manifest = sel.select(col("tile_id"),
        concat(lit("tiles/"), col("tile_id"), lit(".tif")).as("uri"),
        concat(lit("{\"type\":\"Polygon\",\"coordinates\":[[["),
          col("left"), lit(","), col("bottom"), lit("],["),
          col("right"), lit(","), col("bottom"), lit("],["),
          col("right"), lit(","), col("top"), lit("],["),
          col("left"), lit(","), col("top"), lit("],["),
          col("left"), lit(","), col("bottom"), lit("]]]}")).as("geometry"))
      LayerJob.writeTilesGeojson(manifest, s"$tmp/tiles.geojson")
      // K2 upload: real Writer bytes through local temp + Hadoop-FS copy
      // INSIDE the task (21 | tile_idx ⊂ 7 | tile_idx, so existing ⊂ manifest)
      val destUri = s"file://$destDir"
      sel.filter(col("tile_idx") % 21 === 0).select("tile_id").as[String]
        .repartition(4)
        .mapPartitions { ids =>
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI("file:///"), new org.apache.hadoop.conf.Configuration())
          ids.map { id =>
            val f = java.io.File.createTempFile(s"graft_s2_$id", ".tif")
            val w = new GeoTiff.Writer(f.getAbsolutePath,
              GeoTiff.Profile(16, 16, 1, "uint8", 16, 16, None, 4326, 0, 0, 1, 1))
            w.writeTile(1, 0, 0, Array.tabulate(256)(i => (i % 7).toDouble))
            w.close()
            fs.copyFromLocalFile(true, true,
              new org.apache.hadoop.fs.Path(f.getAbsolutePath),
              new org.apache.hadoop.fs.Path(s"$destUri/$id.tif"))
            id
          }
        }.count()
      // S2 re-scan (relative names resolve against the manifest dir) +
      // S8 listing + the F3-shape anti-join to the remaining work list
      val cat = Catalog.fromTilesGeojson(s, s"$tmp/tiles.geojson")
      val existing = Catalog.existingTiles(s, destDir.toString)
      val envCols = udf { (wkb: Array[Byte]) =>
        val e = graft.functions.GeoFunctions.read(wkb).getEnvelopeInternal
        (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
      }
      cat.withColumn("tile_id", regexp_extract(col("uri"), "([^/]+)\\.tif$", 1))
        .join(existing, Seq("tile_id"), "left_anti")
        .withColumn("__e", envCols(col("footprint")))
        .select(col("tile_id"), col("manifest_idx"),
          col("__e._1").as("left"), col("__e._2").as("bottom"),
          col("__e._3").as("right"), col("__e._4").as("top"))
        .orderBy("tile_id")
    } {
      // the manifest chain replayed in closed form: grid tile ids/bounds,
      // manifest order = tile_id string sort (the K3 render order, which
      // posexplode re-surfaces as manifest_idx), existence = 21 | tile_idx
      """WITH t AS (
        |  SELECT CAST(r*36 + c AS BIGINT) AS tile_idx,
        |    (CASE WHEN 90 - r*10 >= 0 THEN printf('%02dN', 90 - r*10) ELSE printf('%02dS', r*10 - 90) END
        |     || '_' ||
        |     CASE WHEN c*10 - 180 >= 0 THEN printf('%03dE', c*10 - 180) ELSE printf('%03dW', 180 - c*10) END) AS tile_id,
        |    CAST(c*10 - 180 AS DOUBLE) AS "left", CAST(80 - r*10 AS DOUBLE) AS bottom,
        |    CAST(c*10 - 170 AS DOUBLE) AS "right", CAST(90 - r*10 AS DOUBLE) AS top
        |  FROM generate_series(0, 17) t1(r) CROSS JOIN generate_series(0, 35) t2(c)),
        |sel AS (SELECT * FROM t WHERE tile_idx % 7 = 0),
        |m AS (SELECT tile_id, "left", bottom, "right", top,
        |    CAST(row_number() OVER (ORDER BY tile_id) - 1 AS INT) AS manifest_idx
        |  FROM sel)
        |SELECT m.tile_id, m.manifest_idx, m."left", m.bottom, m."right", m.top
        |FROM m WHERE m.tile_id NOT IN (SELECT tile_id FROM sel WHERE tile_idx % 21 = 0)
        |ORDER BY m.tile_id""".stripMargin
    })
}
