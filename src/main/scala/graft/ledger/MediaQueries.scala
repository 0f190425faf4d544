package graft
package ledger

import graft.core.Tables
import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal queries: media features and perceptual hashes. */
private[graft] object MediaQueries {
  import Common._

  // aHash replay shared by m6 itself and m8's dup grouping
  private val m6AhashSql: String =
    """WITH ids AS (SELECT doc_id AS asset_id, doc_id % 5 + 4 AS w,
      |    doc_id % 3 + 4 AS h FROM documents),
      |cells AS (SELECT asset_id, i.i AS i,
      |    (7 * asset_id + 3 * (((i.i % 8) * w) // 8)
      |      + 5 * (((i.i // 8) * h) // 8)) % 256 AS v
      |  FROM ids CROSS JOIN generate_series(0, 63) i(i)),
      |s AS (SELECT asset_id, sum(v) AS sumv FROM cells GROUP BY 1)
      |SELECT c.asset_id,
      |  CAST(sum(CASE WHEN c.i >= 32 AND c.v * 64 >= s.sumv
      |    THEN (CAST(1 AS BIGINT) << (c.i - 32)) ELSE 0 END) AS BIGINT) AS hash_hi,
      |  CAST(sum(CASE WHEN c.i < 32 AND c.v * 64 >= s.sumv
      |    THEN (CAST(1 AS BIGINT) << c.i) ELSE 0 END) AS BIGINT) AS hash_lo
      |FROM cells c JOIN s USING (asset_id)
      |GROUP BY 1 ORDER BY asset_id""".stripMargin

  val all: Seq[QueryDef] = Seq(
    /** Nearest-neighbor resize of the real-decode PNG corpus to a fixed
      * 8×8 thumbnail — the standardize-before-embed step; the oracle
      * replays the integer floor sampling from the generating formula
      * while Spark decodes real bytes. See
      * [[graft.operators.Multimodal.resizeNearestFeatures]]. */
    QueryDef("m5_image_resize") { (s, d) =>
      Multimodal.resizeNearestFeatures(
        Multimodal.syntheticPngs(Tables.documents(s, d), "doc_id"),
        outW = 8, outH = 8)
        .orderBy("asset_id")
    } {
      // resized-raster sums from the generating formula; Spark decodes the
      // real PNGs and floor-samples — src = (dst · srcDim) // out
      """WITH d AS (SELECT doc_id, CAST(doc_id % 5 + 4 AS INT) AS w,
        |             CAST(doc_id % 3 + 4 AS INT) AS h FROM documents),
        |xs AS (SELECT doc_id, w, h, unnest(range(0, 8)) AS x FROM d),
        |px AS (SELECT doc_id, w, h, x, unnest(range(0, 8)) AS y FROM xs),
        |v AS (SELECT doc_id, x, y,
        |    (7 * doc_id + 3 * ((x * w) // 8) + 5 * ((y * h) // 8)) % 256 AS v
        |  FROM px)
        |SELECT doc_id AS asset_id, CAST(8 AS INT) AS out_w, CAST(8 AS INT) AS out_h,
        |  CAST(sum(v) AS BIGINT) AS sum_v,
        |  CAST(sum(v * (x + 8 * y)) AS BIGINT) AS wsum_v
        |FROM v GROUP BY doc_id ORDER BY asset_id""".stripMargin
    },

    /** Perceptual average-hash (aHash) fingerprints over the real-decode
      * PNG corpus — the visual near-dup key of an image dedup pipeline;
      * the oracle replays decode + resize + mean-threshold bits from the
      * generating formula in pure SQL while Spark decodes real bytes. See
      * [[graft.operators.Multimodal.averageHash]]. */
    QueryDef("m6_ahash", headline = true) { (s, d) =>
      Multimodal.averageHash(
        Multimodal.syntheticPngs(Tables.documents(s, d), "doc_id"), size = 8)
        .orderBy("asset_id")
    }(m6AhashSql),

    /** Visual exact-dup groups over the aHash fingerprints — d1's
      * digest-group shape on the perceptual key: images whose 64-bit
      * average hash collides form a dup group (keeper = min asset id).
      * One hash aggregate over m6's shuffle-free decode pass; only
      * multi-member groups survive (the dedup work list). */
    QueryDef("m8_image_dup_groups") { (s, d) =>
      Multimodal.averageHash(
        Multimodal.syntheticPngs(Tables.documents(s, d), "doc_id"), size = 8)
        .groupBy("hash_hi", "hash_lo")
        .agg(min("asset_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
        .orderBy("keep_id")
    } {
      // d1's digest-group shape over the perceptual key; only dup groups
      s"""WITH ah AS ($m6AhashSql)
         |SELECT hash_hi, hash_lo, min(asset_id) AS keep_id,
         |  count(*) AS n_copies
         |FROM ah GROUP BY 1, 2 HAVING count(*) > 1
         |ORDER BY keep_id""".stripMargin
    },

    /** Visual NEAR-dup pairs — aHash Hamming ≤ 1 via the d7 pigeonhole:
      * a pair within Hamming 1 of a 64-bit hash must agree EXACTLY on at
      * least one 32-bit half, so candidates meet in a half-keyed band
      * join (never all-pairs) and bit_count verifies. Extends m8's
      * exact-collision groups to the near ring. */
    QueryDef("m9_ahash_pairs") { (s, d) =>
      val hashes = graft.core.Caching.shared(
        Multimodal.averageHash(
          Multimodal.syntheticPngs(Tables.documents(s, d), "doc_id"), size = 8))
      def side(n: Int) = hashes.select(col("asset_id").as(s"a$n"),
        col("hash_hi").as(s"h$n"), col("hash_lo").as(s"l$n"))
      // two EQUI band joins (hi band, lo band) — an OR-joined predicate
      // would plan a nested loop over all pairs; the union of equi-joins
      // keeps both legs hash-joinable (the d7 shape)
      def band(k: String) = side(1).join(side(2),
        col(s"${k}1") === col(s"${k}2") && col("a1") < col("a2"))
        .select("a1", "a2", "h1", "h2", "l1", "l2")
      band("h").unionAll(band("l")).distinct()
        .withColumn("hamming",
          expr("bit_count(h1 ^ h2) + bit_count(l1 ^ l2)"))
        .filter(col("hamming") <= 1)
        .select(col("a1"), col("a2"), col("hamming"))
        .orderBy("a1", "a2")
    } {
      // pigeonhole: Hamming ≤ 1 must agree on a 32-bit half; union of
      // two equi band joins + popcount verify
      s"""WITH ah AS ($m6AhashSql),
         |s1 AS (SELECT asset_id AS a1, hash_hi AS h1, hash_lo AS l1 FROM ah),
         |s2 AS (SELECT asset_id AS a2, hash_hi AS h2, hash_lo AS l2 FROM ah),
         |cand AS (
         |  SELECT DISTINCT a1, a2, h1, h2, l1, l2 FROM (
         |    SELECT * FROM s1 JOIN s2 ON h1 = h2 AND a1 < a2
         |    UNION ALL
         |    SELECT * FROM s1 JOIN s2 ON l1 = l2 AND a1 < a2))
         |SELECT a1, a2,
         |  CAST(bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) AS BIGINT) AS hamming
         |FROM cand
         |WHERE bit_count(xor(h1, h2)) + bit_count(xor(l1, l2)) <= 1
         |ORDER BY a1, a2""".stripMargin
    },

    QueryDef("m1_media_features", headline = true) { (s, d) =>
      Multimodal.syntheticFromText(Tables.documents(s, d), "doc_id", "text")
        .select(col("asset_id"), col("modality"),
          length(col("payload")).cast("long").as("n_bytes"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("asset_id")
    } {
      """SELECT doc_id AS asset_id, 'image' AS modality,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CAST(length(text) % 1024 + 1 AS INT) AS width,
        | CAST(length(text) % 768 + 1 AS INT) AS height
        |FROM documents ORDER BY asset_id""".stripMargin
    },

    /** REAL image decode: deterministic synthetic PNGs (pixel value is a
      * closed-form function of id/x/y) encoded AND decoded through
      * javax.imageio, with integer-exact pixel aggregates the oracle
      * recomputes from the generating formula — no codec on the DuckDB
      * side, so any decode drift breaks the hash. */
    QueryDef("m2_image_decode") { (s, d) =>
      Multimodal.imagePixelFeatures(
        Multimodal.syntheticPngs(Tables.documents(s, d), "doc_id"))
        .orderBy("asset_id")
    } {
      // the decode-free fixture: pixel (x, y) of asset i is
      // (7i + 3x + 5y) mod 256 by construction, so the oracle aggregates
      // the FORMULA while Spark aggregates the decoded PNG raster
      """WITH d AS (SELECT doc_id, CAST(doc_id % 5 + 4 AS INT) AS width,
        |             CAST(doc_id % 3 + 4 AS INT) AS height FROM documents),
        |xs AS (SELECT doc_id, width, height, unnest(range(0, width)) AS x FROM d),
        |px AS (SELECT doc_id, width, height, x, unnest(range(0, height)) AS y FROM xs)
        |SELECT doc_id AS asset_id, width, height,
        |  CAST(width AS BIGINT) * height AS n_px,
        |  CAST(sum((7 * doc_id + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_v,
        |  CAST(sum(((7 * doc_id + 3 * x + 5 * y) % 256) * (x + width * y)) AS BIGINT) AS wsum_v
        |FROM px GROUP BY doc_id, width, height ORDER BY asset_id""".stripMargin
    },

    /** REAL audio-frame plumbing: deterministic 16-bit PCM payloads packed
      * AND re-parsed through actual bytes (ByteBuffer, little-endian),
      * integer-exact per-frame energy/peak aggregates the oracle
      * recomputes from the generating formula — any endianness or framing
      * slip breaks the hash. */
    QueryDef("m3_audio_frames") { (s, d) =>
      Multimodal.audioFrameFeatures(
        Multimodal.syntheticPcm(
          Tables.documents(s, d).filter(col("doc_id") % 20 === 0), "doc_id"))
        .orderBy("asset_id", "frame_idx")
    } {
      // the decode-free fixture: sample j of asset i is
      // ((31i + 17j) mod 4096) - 2048 by construction, so the oracle
      // aggregates the FORMULA while Spark re-parses the packed bytes
      """WITH a AS (SELECT doc_id AS id, 5 + doc_id % 5 AS n_frames
        |           FROM documents WHERE doc_id % 20 = 0),
        |f AS (SELECT id, unnest(range(0, n_frames)) AS frame FROM a),
        |s AS (SELECT id, frame, unnest(range(0, 160)) AS j FROM f),
        |v AS (SELECT id, frame,
        |        (id*31 + (frame*160 + j)*17) % 4096 - 2048 AS val FROM s)
        |SELECT id AS asset_id, CAST(frame AS INT) AS frame_idx,
        |  CAST(sum(abs(val)) AS BIGINT) AS sum_abs,
        |  CAST(sum(val*val) AS BIGINT) AS sum_sq,
        |  CAST(max(abs(val)) AS BIGINT) AS max_abs
        |FROM v GROUP BY id, frame ORDER BY asset_id, frame_idx""".stripMargin
    },

    /** Frame-level DFT bin energies (harmonics 1/2/4/8 of the 160-sample
      * frame) over the real-parse PCM corpus — the spectral gate next to
      * m3's time-domain energies. Integer-quantized trig correlation, so
      * the fold replays exactly; the oracle regenerates samples from the
      * formula and the identical quantized tables. See
      * [[graft.operators.Multimodal.dftBinEnergy]]. */
    QueryDef("m10_dft_energy") { (s, d) =>
      Multimodal.dftBinEnergy(
        Multimodal.syntheticPcm(
          Tables.documents(s, d).filter(col("doc_id") % 20 === 0), "doc_id"))
        .orderBy("asset_id", "frame_idx", "bin")
    } {
      // DFT bin energies: samples from the generating formula, the same
      // floor(trig·10³+0.5) quantized tables, exact integer folds; power
      // from the BIGINT-cast sums so nothing touches HUGEINT overflow
      """WITH a AS (SELECT doc_id AS id, 5 + doc_id % 5 AS n_frames
        |           FROM documents WHERE doc_id % 20 = 0),
        |f AS (SELECT id, unnest(range(0, n_frames)) AS frame FROM a),
        |s AS (SELECT id, frame, unnest(range(0, 160)) AS j FROM f),
        |v AS (SELECT id, frame, j,
        |        (id*31 + (frame*160 + j)*17) % 4096 - 2048 AS val FROM s),
        |b AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS bin),
        |t AS (SELECT v.id, v.frame, b.bin,
        |        v.val * CAST(floor(cos(2*pi()*b.bin*v.j/160)*1000 + 0.5) AS BIGINT) AS vc,
        |        v.val * CAST(floor(sin(2*pi()*b.bin*v.j/160)*1000 + 0.5) AS BIGINT) AS vs
        |      FROM v, b),
        |agg AS (SELECT id, frame, bin,
        |          CAST(sum(vc) AS BIGINT) AS re_milli,
        |          CAST(sum(vs) AS BIGINT) AS im_milli
        |        FROM t GROUP BY id, frame, bin)
        |SELECT id AS asset_id, CAST(frame AS INT) AS frame_idx,
        |  CAST(bin AS INT) AS bin, re_milli, im_milli,
        |  re_milli*re_milli + im_milli*im_milli AS power
        |FROM agg ORDER BY asset_id, frame_idx, bin""".stripMargin
    },

    /** Voice-activity segmentation over the real-parse PCM corpus — m3's
      * frame energies folded into voiced segments (silence trimming, the
      * step before transcription). Gaps-and-islands per asset; the
      * oracle replays frame energies from the generating formula and the
      * identical island window. See
      * [[graft.operators.Multimodal.vadSegments]]. */
    QueryDef("m7_vad_segments") { (s, d) =>
      Multimodal.vadSegments(
        Multimodal.audioFrameFeatures(
          Multimodal.syntheticPcm(
            Tables.documents(s, d).filter(col("doc_id") % 20 === 0), "doc_id")),
        minEnergy = 170000000L)
        .orderBy("asset_id", "start_frame")
    } {
      // m3's formula-replayed frame energies + the identical island window
      """WITH a AS (SELECT doc_id AS id, 5 + doc_id % 5 AS n_frames
        |           FROM documents WHERE doc_id % 20 = 0),
        |f AS (SELECT id, unnest(range(0, n_frames)) AS frame FROM a),
        |s AS (SELECT id, frame, unnest(range(0, 160)) AS j FROM f),
        |v AS (SELECT id, frame,
        |        (id*31 + (frame*160 + j)*17) % 4096 - 2048 AS val FROM s),
        |e AS (SELECT id, frame, sum(val*val) AS sum_sq FROM v GROUP BY 1, 2),
        |voiced AS (SELECT id, frame, sum_sq,
        |    frame - row_number() OVER (PARTITION BY id ORDER BY frame) AS island
        |  FROM e WHERE sum_sq >= 170000000)
        |SELECT id AS asset_id, CAST(min(frame) AS INT) AS start_frame,
        |  CAST(max(frame) AS INT) AS end_frame,
        |  count(*) AS n_frames, CAST(sum(sum_sq) AS BIGINT) AS energy
        |FROM voiced GROUP BY id, island ORDER BY asset_id, start_frame""".stripMargin
    },

    /** Video frame-sampling plan from metadata only (no decode): every
      * 250 ms per asset — `sequence` + `explode`, pure Catalyst, the work
      * list a downstream decoder fans out over. */
    QueryDef("m4_frame_plan") { (s, d) =>
      Multimodal.sampleFramePlan(
        Tables.documents(s, d).select(
          col("doc_id").as("asset_id"), lit("video").as("modality"),
          struct(lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            (lit(500) + (col("doc_id") % 7) * 333).cast("long").as("duration_ms"),
            lit(null).cast("int").as("sample_rate")).as("meta")),
        everyMs = 250L)
        .orderBy("asset_id", "frame_idx")
    } {
      """WITH a AS (SELECT doc_id AS asset_id,
        |             500 + (doc_id % 7) * 333 AS dur FROM documents),
        |f AS (SELECT asset_id, unnest(range(0, dur, 250)) AS ts_ms FROM a)
        |SELECT asset_id, CAST(ts_ms // 250 AS BIGINT) AS frame_idx,
        |  CAST(ts_ms AS BIGINT) AS ts_ms
        |FROM f ORDER BY asset_id, frame_idx""".stripMargin
    })
}
