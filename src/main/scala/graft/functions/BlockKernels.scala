package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.ImplicitDoubleArrayInputs
import org.apache.spark.sql.types._

/** Per-BLOCK primitive-loop kernels for the packed pixel plane.
  *
  * Why these exist: Spark's higher-order functions (`transform`,
  * `zip_with`, `aggregate`) have NO codegen — `ArrayTransform.eval`
  * interprets the lambda per element (megamorphic `Expression.eval` calls,
  * `CaseWhen.eval` walking a `List` per pixel — observed directly in stack
  * samples of the 2.62-Gpx sink soak, which spent 10+ minutes in
  * `BinaryArithmetic.eval` under `ArrayTransform.nullSafeEval`). At
  * ~100-200 ns/element that caps every HOF-built pixel operator near
  * 5-10 M px/s/core — two orders of magnitude under a JIT'd loop, and the
  * difference between a pyramid build that keeps up with the scan and one
  * that IS the job at 100 TB.
  *
  * The fix is altitude, not cleverness: evaluate per BLOCK, not per
  * element. Each kernel is a Catalyst expression whose `eval` runs a tight
  * primitive loop over the block's `ArrayData` (260 k pixels per call at a
  * 512-px block), so the interpreted-dispatch cost is paid once per block
  * — `CodegenFallback` is free at that granularity — while the loop body
  * JITs like hand-written Scala. Semantics replicate the HOF forms they
  * replace BIT-FOR-BIT (window enumeration order, IEEE accumulation order,
  * Spark's double ordering where NaN is largest and ±0.0 compare equal),
  * so every oracle hash is unchanged.
  */
object BlockKernels {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Spark SQL double comparison (SQLOrderingUtil semantics): ±0.0 equal,
    * NaN equal to itself and larger than everything else. */
  @inline private[graft] def cmp(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Canonical enumeration of the `s`-thick output frame of a (ow×oh)
    * block: top s rows (row-major), bottom s rows, then each middle row's
    * left s and right s columns. One definition shared by the frame-only
    * tap pass ([[BlockDownsample]] with `frame` set) and the positional
    * merge ([[MergeFrame]]) so the packed frame array needs no per-cell
    * addressing. */
  private[functions] def frameCoords(ow: Int, oh: Int, s: Int): (Array[Int], Array[Int]) = {
    require(s > 0 && ow >= 2 * s && oh >= 2 * s,
      s"frame $s too thick for $ow x $oh output")
    val n = 2 * s * ow + (oh - 2 * s) * 2 * s
    val xs = new Array[Int](n); val ys = new Array[Int](n)
    var i = 0
    def row(oy: Int, x0: Int, x1: Int): Unit = {
      var ox = x0
      while (ox < x1) { xs(i) = ox; ys(i) = oy; i += 1; ox += 1 }
    }
    for (oy <- 0 until s) row(oy, 0, ow)
    for (oy <- oh - s until oh) row(oy, 0, ow)
    for (oy <- s until oh - s) { row(oy, 0, s); row(oy, ow - s, ow) }
    (xs, ys)
  }

  def downsampleColumn(values: Column, width: Int, height: Int, k: Int,
      method: String, noData: Option[Double], pad: Int = 0, frame: Int = 0): Column =
    ColumnBridge.column(BlockDownsample(
      ColumnBridge.expression(values), width, height, k, method, noData, pad, frame))

  def mergeFrame(local: Column, frameVals: Column, ow: Int, oh: Int, s: Int): Column =
    ColumnBridge.column(MergeFrame(
      ColumnBridge.expression(local), ColumnBridge.expression(frameVals), ow, oh, s))

  def assembleQuarters(q00: Column, q01: Column, q10: Column, q11: Column,
      size: Int): Column =
    ColumnBridge.column(AssembleQuarters(
      ColumnBridge.expression(q00), ColumnBridge.expression(q01),
      ColumnBridge.expression(q10), ColumnBridge.expression(q11), size))

  def gatherCells(bands: Seq[Column], r0: Int, r1: Int, c0: Int, c1: Int,
      blockW: Int, blockH: Int): Column =
    ColumnBridge.column(GatherCells(
      bands.map(ColumnBridge.expression), r0, r1, c0, c1, blockW, blockH))

  def assembleSeamPlane(entries: Column, bandIdx: Int, bandCount: Int,
      blockW: Int, blockH: Int, pad: Int, ring: Int): Column =
    ColumnBridge.column(AssembleSeamPlane(
      ColumnBridge.expression(entries), bandIdx, bandCount,
      blockW, blockH, pad, ring))

  def fillNulls(values: Column, fill: Double): Column =
    ColumnBridge.column(FillNulls(ColumnBridge.expression(values), fill))

  def packBand(values: Column, mode: String): Column =
    ColumnBridge.column(PackBand(ColumnBridge.expression(values), mode))

  def unpackBandColumn(bytes: Column, mode: String): Column =
    ColumnBridge.column(UnpackBand(ColumnBridge.expression(bytes), mode))

  def encodeBlock(values: Column, profile: graft.sources.GeoTiff.Profile): Column =
    ColumnBridge.column(EncodeBlock(ColumnBridge.expression(values), profile))

  /** Inverse of [[PackBand]]: packed little-endian samples → the double
    * plane. Plain Scala, once per block. */
  def unpackBand(bytes: Array[Byte], mode: String): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // a primitive loop: `Array.tabulate` boxes every sample
    def fill(n: Int)(f: Int => Double): Array[Double] = {
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = f(i); i += 1 }
      out
    }
    mode match {
      case "u8"  => fill(bytes.length)(i => (bytes(i) & 0xff).toDouble)
      case "i8"  => fill(bytes.length)(i => bytes(i).toDouble)
      case "u16" => fill(bytes.length / 2)(i => (bb.getShort(2 * i) & 0xffff).toDouble)
      case "i16" => fill(bytes.length / 2)(i => bb.getShort(2 * i).toDouble)
      case "u32" => fill(bytes.length / 4)(i => (bb.getInt(4 * i) & 0xffffffffL).toDouble)
      case "i32" => fill(bytes.length / 4)(i => bb.getInt(4 * i).toDouble)
      case "f32" => fill(bytes.length / 4)(i => bb.getFloat(4 * i).toDouble)
      case "f64" => fill(bytes.length / 8)(i => bb.getDouble(8 * i))
      case other => throw new IllegalArgumentException(s"unknown pack mode $other")
    }
  }

  /** How an element of a numeric array type widens to double, chosen once
    * per type and read per element by [[widenAt]] — what a cast to
    * `array<double>` would give, without materializing that array. */
  private[functions] def widening(arrayType: DataType, kernel: String): Int = arrayType match {
    case ArrayType(DoubleType, _)  => 0
    case ArrayType(FloatType, _)   => 1
    case ArrayType(LongType, _)    => 2
    case ArrayType(IntegerType, _) => 3
    case ArrayType(ShortType, _)   => 4
    case ArrayType(ByteType, _)    => 5
    case other => throw new IllegalArgumentException(
      s"$kernel: values must be a numeric array, got ${other.simpleString}")
  }

  /** Element `i` of `a`, widened to double by the [[widening]] code `w`. */
  @inline private[functions] def widenAt(a: ArrayData, i: Int, w: Int): Double =
    (w: @scala.annotation.switch) match {
      case 0 => a.getDouble(i)
      case 1 => a.getFloat(i).toDouble
      case 2 => a.getLong(i).toDouble
      case 3 => a.getInt(i).toDouble
      case 4 => a.getShort(i).toDouble
      case _ => a.getByte(i).toDouble
    }

  def mosaicFold(layers: Column): Column =
    ColumnBridge.column(MosaicFold(ColumnBridge.expression(layers)))

  def assembleFocalPlane(center: Column, entries: Column,
      width: Column, height: Column, pad: Int): Column =
    ColumnBridge.column(AssembleFocalPlane(
      ColumnBridge.expression(center), ColumnBridge.expression(entries),
      ColumnBridge.expression(width), ColumnBridge.expression(height), pad))

  def notNullMask(values: Column): Column =
    ColumnBridge.column(NotNullMask(ColumnBridge.expression(values)))
}

/** J3 mosaic overlay fold over the priority-sorted layer list of one block
  * — the primitive twin of the HOF pair it replaces:
  *   values = aggregate(rest, layers[0].values, zip_with(coalesce))
  *   valid  = aggregate(rest, layers[0].valid,  zip_with(or))
  * i.e. per pixel the FIRST layer (in sort order) with a non-null value
  * wins, and validity is the 3-valued OR across layers. One pass over the
  * layers per pixel, both output arrays built together in Unsafe wire
  * format. Null-array poisoning matches zip_with: any layer with a null
  * values (valid) array nulls the whole values (valid) result. After the
  * shuffle that co-locates a block's layers, this fold is the CPU wall of
  * a multi-source overlay at 100 TB — interpreted it cost 100-200 ns per
  * pixel PER LAYER. */
case class MosaicFold(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "mosaic_fold"
  override def dataType: DataType = StructType(Seq(
    StructField("values", ArrayType(DoubleType, containsNull = true)),
    StructField("valid", ArrayType(BooleanType, containsNull = true))))

  private lazy val layerType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val vIdx = layerType.fieldIndex("values")
  private lazy val kIdx = layerType.fieldIndex("valid")

  override def nullSafeEval(input: Any): Any = {
    val ls = input.asInstanceOf[ArrayData]
    val nL = ls.numElements()
    require(nL > 0, "mosaic_fold over zero layers")
    val width = layerType.length
    val vArrs = new Array[ArrayData](nL)
    val kArrs = new Array[ArrayData](nL)
    var l = 0
    while (l < nL) {
      val row = ls.getStruct(l, width)
      vArrs(l) = if (row.isNullAt(vIdx)) null else row.getArray(vIdx)
      kArrs(l) = if (row.isNullAt(kIdx)) null else row.getArray(kIdx)
      l += 1
    }
    // zip_with poisoning: one null layer array nulls that whole result leg
    val vNull = vArrs.exists(_ == null)
    val kNull = kArrs.exists(_ == null)
    val n =
      if (!vNull) vArrs(0).numElements()
      else if (!kNull) kArrs(0).numElements()
      else 0
    if (!vNull) {
      var i = 1
      while (i < nL) {
        require(vArrs(i).numElements() == n,
          s"mosaic_fold: layer $i has ${vArrs(i).numElements()} values, expected $n")
        i += 1
      }
    }
    if (!kNull) {
      var i = 1
      while (i < nL) {
        require(kArrs(i).numElements() == n,
          s"mosaic_fold: layer $i has ${kArrs(i).numElements()} valids, expected $n")
        i += 1
      }
    }
    val values =
      if (vNull) null
      else {
        val b = new UnsafeArrayBuilders.Doubles(n)
        var j = 0
        while (j < n) {
          var l2 = 0; var done = false
          while (l2 < nL && !done) {
            if (!vArrs(l2).isNullAt(j)) { b.set(j, vArrs(l2).getDouble(j)); done = true }
            l2 += 1
          }
          if (!done) b.setNull(j)
          j += 1
        }
        b.build()
      }
    val valid =
      if (kNull) null
      else {
        val b = new UnsafeArrayBuilders.Booleans(n)
        var j = 0
        while (j < n) {
          // 3-valued OR in layer order: TRUE dominates, else null if any
          // null, else FALSE
          var anyTrue = false; var anyNull = false
          var l2 = 0
          while (l2 < nL && !anyTrue) {
            if (kArrs(l2).isNullAt(j)) anyNull = true
            else if (kArrs(l2).getBoolean(j)) anyTrue = true
            l2 += 1
          }
          if (anyTrue) b.set(j, true)
          else if (anyNull) b.setNull(j)
          else b.set(j, false)
          j += 1
        }
        b.build()
      }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](values, valid))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Masked-pixel (null) → fill-value resolution over one packed block, with
  * a NON-NULLABLE `array<double>` output type: the input of [[PackBand]] in
  * the overview regroup exchange. The no-null fast path returns the input
  * array untouched. */
case class FillNulls(child: Expression, fill: Double)
  extends UnaryExpression with ImplicitDoubleArrayInputs with CodegenFallback {
  override def prettyName: String = "fill_nulls"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = a.isNullAt(i); i += 1 }
    if (!hasNull && a.isInstanceOf[UnsafeArrayData]) a
    else {
      val out = new Array[Double](n)
      i = 0
      while (i < n) {
        out(i) = if (a.isNullAt(i)) fill else a.getDouble(i)
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Factor-k box downsample of one packed row-major (width×height) block
  * band — the primitive-loop twin of the HOF form [[graft.operators
  * .Resample.downsample]] builds semantics from. Masked pixels are null
  * elements; `noData` additionally masks pixels equal to the nodata value
  * (Spark `=!=` semantics: NaN equals NaN, ±0.0 equal), FUSING the
  * nodata→null masking pass the overview dataflow used to run as a
  * separate interpreted `transform` over every base pixel. A window with
  * no valid pixel yields null. */
case class BlockDownsample(child: Expression, blockW: Int, blockH: Int,
    k: Int, method: String, noData: Option[Double], pad: Int = 0,
    frame: Int = 0)
  extends UnaryExpression with ImplicitDoubleArrayInputs with CodegenFallback {
  require(blockW % k == 0 && blockH % k == 0,
    s"block $blockW x $blockH not divisible by $k")
  // frame > 0 = FRAME-ONLY mode: compute just the `frame`-thick ring of
  // output rows/cols (the seam band of [[graft.operators.Resample
  // .downsampleSeamExact]]'s patch pass) and return them PACKED in
  // [[BlockKernels.frameCoords]] order — 2s(ow+oh−2s) elements, O(perimeter)
  // — so the corrected seam values ride the patch join as perimeter bytes,
  // never a mostly-null full plane. Tap math per output cell is identical
  // to full mode (same enumeration, same IEEE accumulation).
  require(frame >= 0, s"frame $frame must be >= 0")
  // pad > 0 = SEAM-EXACT mode (VERDICT r16 #5): the input array is the
  // (blockW+2·pad)×(blockH+2·pad) halo-padded plane assembled by
  // [[graft.operators.Resample.downsampleSeamExact]], so interpolating
  // taps within kernel radius of a block edge read REAL neighbor pixels —
  // exactly the whole-raster convolution of GDAL's gdaladdo. Halo cells
  // with no emitting neighbor (the true raster edge) are null and fall
  // under the same drop-and-renormalize rule as masked pixels. The output
  // stays the core's (blockW/k)×(blockH/k).
  require(pad >= 0, s"pad $pad must be >= 0")

  override def prettyName: String = "block_downsample"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  // Integer band arrays (uint8/uint16 rasters are the COMMON case —
  // gfw_pixetl/data_type.py:14-27) coerce like the type-generic HOF forms
  // this kernel replaced: ImplicitDoubleArrayInputs makes the analyzer
  // insert array<numeric>→array<double> casts instead of failing.

  private val ow = blockW / k
  private val oh = blockH / k
  private val hasNd = noData.isDefined
  private val nd = noData.getOrElse(0.0)
  import BlockKernels.cmp

  // Interpolating kernels (bilinear/cubic/cubic_spline/lanczos): phase-
  // correct integer decimation with the SAME separable taps as the warp
  // path (ResampleTaps, shared with WarpReader). Output pixel (ox, oy)
  // centers at source coords g = (o + 0.5)·k − 0.5, so x0 = floor(g) =
  // o·k + (k−1)/2 and the phase is 0.5 for even k, 0 for odd k — the tap
  // weight vector is CONSTANT across the block and precomputed here. At
  // k = 2 the bilinear taps are four equal 0.25s (exactly the 2×2 box
  // average the old alias used); at k ≥ 3 the kernels genuinely differ
  // from `average` (odd k bilinear = center sample; cubic/lanczos have
  // negative lobes). Masked and out-of-PLANE taps drop out and the
  // remaining weights renormalize — the warp path's masked-resampling
  // rule, with the input-plane boundary playing the raster edge. With
  // pad = 0 the plane IS the block (block-local contract, r17 ledger
  // leg); with pad > 0 the plane carries a real neighbor halo and the
  // same taps become the whole-raster convolution (downsampleSeamExact,
  // r18 ledger leg).
  private val kRadius = graft.functions.ResampleTaps.radius.getOrElse(method, 0)
  private val tapW: Array[Double] =
    if (kRadius == 0) null
    else {
      val wf = graft.functions.ResampleTaps.weight(method)
      val frac = if (k % 2 == 0) 0.5 else 0.0
      Array.tabulate(2 * kRadius)(i => wf((1 - kRadius + i) - frac))
    }
  // floor(g) offset and the nearest-fallback offset (floor(g + 0.5))
  private val tapBase = (k - 1) >> 1
  private val nearOff = tapBase + (if (k % 2 == 0) 1 else 0)
  // input-plane stride; with pad = 0 this is exactly blockW
  private val inW = blockW + 2 * pad
  // output-cell enumeration: full row-major grid, or the packed frame ring
  // (frame mode). One per-instance precompute; full-mode order is exactly
  // the old oy/ox double loop, so accumulation order (and every oracle
  // hash) is unchanged.
  private lazy val (coordX, coordY) =
    if (frame == 0) {
      val xs = new Array[Int](ow * oh); val ys = new Array[Int](ow * oh)
      var i = 0
      while (i < ow * oh) { xs(i) = i % ow; ys(i) = i / ow; i += 1 }
      (xs, ys)
    } else BlockKernels.frameCoords(ow, oh, frame)

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    @inline def masked(idx: Int): Boolean =
      a.isNullAt(idx) || (hasNd && cmp(a.getDouble(idx), nd) == 0)
    val nOut = coordX.length
    val out = new Array[Double](nOut)
    var nulls: Array[Boolean] = null
    @inline def setNull(o: Int): Unit = {
      if (nulls == null) nulls = new Array[Boolean](nOut)
      nulls(o) = true
    }
    val q = method match {
      case "med" => 0.5
      case "q1" => 0.25
      case "q3" => 0.75
      case _ => 0.0
    }
    var o = 0
    while (o < nOut) {
      {
        val ox = coordX(o)
        val oy = coordY(o)
        val base = (oy * k + pad) * inW + ox * k + pad
        method match {
          case "nearest" =>
            if (masked(base)) setNull(o) else out(o) = a.getDouble(base)
          case "bilinear" | "cubic" | "cubic_spline" | "lanczos" | "gauss" =>
            val x0 = ox * k + tapBase
            val y0 = oy * k + tapBase
            var acc = 0.0; var wsum = 0.0
            var ti = 0
            while (ti < 2 * kRadius) {
              val sy = y0 + 1 - kRadius + ti
              val wy = tapW(ti)
              // tap bounds extend into the halo when pad > 0 (seam-exact);
              // with pad = 0 this is exactly the old block-edge rule
              if (wy != 0.0 && sy >= -pad && sy < blockH + pad) {
                var tj = 0
                while (tj < 2 * kRadius) {
                  val sx = x0 + 1 - kRadius + tj
                  val wx = tapW(tj)
                  if (wx != 0.0 && sx >= -pad && sx < blockW + pad) {
                    val idx = (sy + pad) * inW + sx + pad
                    if (!masked(idx)) {
                      val wt = wx * wy
                      acc += wt * a.getDouble(idx); wsum += wt
                    }
                  }
                  tj += 1
                }
              }
              ti += 1
            }
            // negative-lobe kernels on a heavily masked window can sum
            // their VALID weights to ~0 or negative, where renormalizing
            // would explode/flip sign — degrade to the nearest sample,
            // itself null if masked (WarpReader.interpolate's rule)
            if (wsum > 1e-12) out(o) = acc / wsum
            else {
              val ni = (oy * k + nearOff + pad) * inW + ox * k + nearOff + pad
              if (masked(ni)) setNull(o) else out(o) = a.getDouble(ni)
            }
          case "sum" =>
            // first-valid seeds the accumulator (the HOF fold's null-init),
            // additions in window enumeration order — IEEE-identical
            var s = 0.0; var seen = false
            var dy = 0
            while (dy < k) {
              var dx = 0
              while (dx < k) {
                val idx = base + dy * inW + dx
                if (!masked(idx)) {
                  s = if (seen) s + a.getDouble(idx) else a.getDouble(idx)
                  seen = true
                }
                dx += 1
              }
              dy += 1
            }
            if (seen) out(o) = s else setNull(o)
          case "average" | "rms" =>
            val sq = method == "rms"
            var s = 0.0; var n = 0
            var dy = 0
            while (dy < k) {
              var dx = 0
              while (dx < k) {
                val idx = base + dy * inW + dx
                if (!masked(idx)) {
                  val v = a.getDouble(idx)
                  s += (if (sq) v * v else v); n += 1
                }
                dx += 1
              }
              dy += 1
            }
            if (n > 0) out(o) = { val m = s / n; if (sq) math.sqrt(m) else m }
            else setNull(o)
          case "min" | "max" =>
            val wantMin = method == "min"
            var best = 0.0; var seen = false
            var dy = 0
            while (dy < k) {
              var dx = 0
              while (dx < k) {
                val idx = base + dy * inW + dx
                if (!masked(idx)) {
                  val v = a.getDouble(idx)
                  if (!seen || (if (wantMin) cmp(v, best) < 0 else cmp(v, best) > 0))
                    best = v
                  seen = true
                }
                dx += 1
              }
              dy += 1
            }
            if (seen) out(o) = best else setNull(o)
          case "mode" =>
            // most frequent valid value; ties break like the HOF's
            // array_max over (count, -v) structs: max count, then max -v
            // (= min v under Spark's ordering, NaN caveat preserved)
            val vals = new Array[Double](k * k)
            var n = 0
            var dy = 0
            while (dy < k) {
              var dx = 0
              while (dx < k) {
                val idx = base + dy * inW + dx
                if (!masked(idx)) { vals(n) = a.getDouble(idx); n += 1 }
                dx += 1
              }
              dy += 1
            }
            if (n == 0) setNull(o)
            else {
              var bestV = 0.0; var bestN = -1
              var i = 0
              while (i < n) {
                val v = vals(i)
                var c = 0; var j = 0
                while (j < n) { if (cmp(vals(j), v) == 0) c += 1; j += 1 }
                if (c > bestN || (c == bestN && cmp(-v, -bestV) > 0)) {
                  bestN = c; bestV = v
                }
                i += 1
              }
              out(o) = bestV
            }
          case "med" | "q1" | "q3" =>
            val vals = new Array[Double](k * k)
            var n = 0
            var dy = 0
            while (dy < k) {
              var dx = 0
              while (dx < k) {
                val idx = base + dy * inW + dx
                if (!masked(idx)) {
                  // canonicalize -0.0 → 0.0: Arrays.sort orders -0.0 before
                  // 0.0 while Spark's array_sort treats them equal (stable,
                  // input order) — a mixed-zero window at the rank boundary
                  // would otherwise return the OTHER zero than the HOF form
                  // (ADVICE r14). Ranks/counts are unaffected; the oracle
                  // hash treats the zeros as equal either way.
                  val v = a.getDouble(idx)
                  vals(n) = if (v == 0.0) 0.0 else v
                  n += 1
                }
                dx += 1
              }
              dy += 1
            }
            if (n == 0) setNull(o)
            else {
              val valid = java.util.Arrays.copyOf(vals, n)
              // Spark array_sort ascending = SQL double ordering; with
              // zeros canonicalized, java.util.Arrays.sort matches (NaN
              // sorts last — same order)
              java.util.Arrays.sort(valid)
              val rank = math.max(1, math.ceil(n * q).toInt)
              out(o) = valid(rank - 1)
            }
          case other =>
            throw new IllegalArgumentException(s"Unknown resampling method: $other")
        }
      }
      o += 1
    }
    if (nulls == null) UnsafeArrayData.fromPrimitiveArray(out)
    else {
      // null-carrying result: write the Unsafe wire format directly —
      // no boxing, and downstream row writers memcpy the block
      val b = new UnsafeArrayBuilders.Doubles(out.length)
      var i = 0
      while (i < out.length) {
        if (nulls(i)) b.setNull(i) else b.set(i, out(i))
        i += 1
      }
      b.build()
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Pack one non-nullable double band plane to the layer dtype's STORAGE
  * width: the wire format of the overview regroup exchange only (the tile
  * sink ships [[EncodeBlock]] payloads). Wire bytes ≈ file bytes instead
  * of 8 B/px doubles (4× less exchange volume for uint16 layers, 8× for
  * uint8; found when a 10-Gpx incompressible soak spilled ~80 GB of
  * uncompressible shuffled doubles for a 20 GB uint16 file). Integer
  * modes apply the WRITER's exact clamp rule (max(lo, min(hi, rint(v))),
  * GeoTiff.BlockEncoder) so pack → unpack → encode produces bit-identical
  * samples: the clamp is idempotent and the writer re-applies it. Float
  * modes store float bits (f32 — also float16's pack: the writer's
  * floatToHalf consumes the same narrowed float) or raw doubles (f64).
  * Inverse: [[BlockKernels.unpackBand]]. Null elements are a contract
  * violation (run [[FillNulls]] first) and fail loudly. */
case class PackBand(child: Expression, mode: String)
  extends UnaryExpression with ImplicitDoubleArrayInputs with CodegenFallback {

  override def prettyName: String = "pack_band"
  override def dataType: DataType = BinaryType

  @inline private def cl(v: Double, lo: Long, hi: Long): Long =
    math.max(lo, math.min(hi, math.rint(v).toLong))

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    @inline def at(i: Int): Double = {
      require(!a.isNullAt(i), "pack_band: null element (FillNulls must run first)")
      a.getDouble(i)
    }
    mode match {
      case "u8" | "i8" =>
        val (lo, hi) = if (mode == "u8") (0L, 255L) else (-128L, 127L)
        val out = new Array[Byte](n)
        var i = 0
        while (i < n) { out(i) = cl(at(i), lo, hi).toByte; i += 1 }
        out
      case "u16" | "i16" =>
        val (lo, hi) = if (mode == "u16") (0L, 65535L) else (-32768L, 32767L)
        val bb = java.nio.ByteBuffer.allocate(n * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < n) { bb.putShort(cl(at(i), lo, hi).toShort); i += 1 }
        bb.array()
      case "u32" | "i32" =>
        val (lo, hi) =
          if (mode == "u32") (0L, 4294967295L) else (Int.MinValue.toLong, Int.MaxValue.toLong)
        val bb = java.nio.ByteBuffer.allocate(n * 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < n) { bb.putInt(cl(at(i), lo, hi).toInt); i += 1 }
        bb.array()
      case "f32" =>
        val bb = java.nio.ByteBuffer.allocate(n * 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < n) { bb.putFloat(at(i).toFloat); i += 1 }
        bb.array()
      case "f64" =>
        val bb = java.nio.ByteBuffer.allocate(n * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < n) { bb.putDouble(at(i)); i += 1 }
        bb.array()
      case other => throw new IllegalArgumentException(s"unknown pack mode $other")
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Catalyst twin of [[BlockKernels.unpackBand]] for plans that consume a
  * packed band mid-dataflow (the overview build's regroup exchange):
  * packed little-endian samples → the non-nullable double plane the tile
  * kernels consume. */
case class UnpackBand(child: Expression, mode: String)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "unpack_band"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      BlockKernels.unpackBand(input.asInstanceOf[Array[Byte]], mode))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The tile sink's one pass from a computed band block to its stored
  * payload: `values` (any numeric array, read through the element accessor
  * of its type — no cast to `array<double>` is planned) lands in a per-task
  * double buffer with nulls as the profile's nodata (0 without one), and
  * [[graft.sources.GeoTiff.BlockEncoder]] narrows, predicts and compresses
  * it. The result is exactly `GeoTiff.encodeBlock(profile, filled)`, the
  * payload [[graft.sources.GeoTiff.Writer.writeTile]] would store, so the
  * sink exchange moves compressed blocks and the writer only lays them out.
  * Only the tile shape, sample type, predictor and codec of `profile` are
  * read. The task's encoder (one Deflater, reset per block) ends when the
  * task completes. */
case class EncodeBlock(child: Expression, profile: graft.sources.GeoTiff.Profile)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "encode_block"
  override def dataType: DataType = BinaryType
  override def stringArgs: Iterator[Any] = Iterator(child, profile.dataType)

  private lazy val widen = BlockKernels.widening(child.dataType, prettyName)
  private val fill = profile.noData.getOrElse(0.0)
  @transient private lazy val buffer = new Array[Double](profile.tileWidth * profile.tileHeight)
  @transient private lazy val encoder = {
    val e = new graft.sources.GeoTiff.BlockEncoder(profile)
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => e.end()))
    e
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    require(n == buffer.length,
      s"encode_block: $n pixels, tile is ${profile.tileWidth}x${profile.tileHeight}")
    val w = widen
    var i = 0
    while (i < n) {
      buffer(i) = if (a.isNullAt(i)) fill else BlockKernels.widenAt(a, i, w)
      i += 1
    }
    encoder.encode(buffer)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Assemble the focal halo exchange's padded (w+2·pad)×(h+2·pad) plane —
  * the primitive twin of the interpreted `map_from_entries` +
  * `transform(sequence(0, pw·ph−1), …)` rebuild it replaces, which paid
  * per-element HOF dispatch over the PADDED plane for every block of
  * every focal/terrain operator (the same O(area) pattern VERDICT r17 #1
  * flagged on the seam path — here it sat on ten operators). `center` is
  * the block's own masked plane (null elements = invalid — validity is
  * pre-fused into nulls); `entries` are the neighbors' O(perimeter) strip
  * cells, already addressed to padded indices. Ring cells with no
  * emitting neighbor stay null — the GIS focal edge convention. Width and
  * height are per-ROW expressions (the focal lattice guard allows mixed
  * declarations to be caught at runtime), so the geometry derives per
  * eval, not per plan. */
case class AssembleFocalPlane(center: Expression, entries: Expression,
    blockW: Expression, blockH: Expression, pad: Int)
  extends Expression with CodegenFallback {
  require(pad >= 1, s"pad $pad must be >= 1")

  override def prettyName: String = "assemble_focal_plane"
  override def children: Seq[Expression] = Seq(center, entries, blockW, blockH)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = center.nullable
  override def foldable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val c = center.eval(input)
    if (c == null) return null
    val w = blockW.eval(input).asInstanceOf[Number].intValue()
    val h = blockH.eval(input).asInstanceOf[Number].intValue()
    val pw = w + 2 * pad
    val n = pw * (h + 2 * pad)
    val a = c.asInstanceOf[ArrayData]
    require(a.numElements() == w * h,
      s"center plane has ${a.numElements()} elements, expected ${w * h}")
    val out = new Array[Double](n)
    val nulls = new Array[Boolean](n)
    java.util.Arrays.fill(nulls, true)
    var r = 0
    while (r < h) {
      val dstBase = (r + pad) * pw + pad
      val srcBase = r * w
      var x = 0
      while (x < w) {
        if (!a.isNullAt(srcBase + x)) {
          out(dstBase + x) = a.getDouble(srcBase + x)
          nulls(dstBase + x) = false
        }
        x += 1
      }
      r += 1
    }
    val e = entries.eval(input)
    if (e != null) {
      val es = e.asInstanceOf[ArrayData]
      val ne = es.numElements()
      var i = 0
      while (i < ne) {
        val row = es.getStruct(i, 2)
        val at = row.getInt(0)
        require(at >= 0 && at < n, s"halo entry index $at outside padded plane")
        if (!row.isNullAt(1)) { out(at) = row.getDouble(1); nulls(at) = false }
        i += 1
      }
    }
    val b = new UnsafeArrayBuilders.Doubles(n)
    var i = 0
    while (i < n) {
      if (nulls(i)) b.setNull(i) else b.set(i, out(i))
      i += 1
    }
    b.build()
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(center = newChildren(0), entries = newChildren(1),
      blockW = newChildren(2), blockH = newChildren(3))
}

/** Element-wise non-null mask of any array — one primitive pass (the
  * validity leg of the focal output: a cell is valid iff its computed
  * value is non-null). */
case class NotNullMask(child: Expression)
  extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "not_null_mask"
  override def dataType: DataType = ArrayType(BooleanType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val b = new UnsafeArrayBuilders.Booleans(n)
    var i = 0
    while (i < n) { b.set(i, !a.isNullAt(i)); i += 1 }
    b.build()
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Scatter side of the seam-exact patch exchange: pack the pixels of ONE
  * [[SeamGeometry]] region, all bands band-blocked (band 0's cells
  * row-major, then band 1's, ...), as a plain double array — 8 bytes per
  * cell per band on the wire instead of the 48+-byte per-cell structs this
  * replaces. A null band array fills its section with nulls (the missing-
  * plane convention); null elements pass through. */
case class GatherCells(bands: Seq[Expression], r0: Int, r1: Int,
    c0: Int, c1: Int, blockW: Int, blockH: Int)
  extends Expression with CodegenFallback {
  // rows must be validated against blockH too (ADVICE r18): a region past
  // the last row reads out-of-range UnsafeArrayData offsets, which are NOT
  // bounds-checked — a bad SeamGeometry would return garbage silently
  // instead of failing loudly here at construction time.
  require(bands.nonEmpty && r1 >= r0 && c1 >= c0 && c1 < blockW &&
    r0 >= 0 && c0 >= 0 && r1 < blockH,
    s"bad gather region ($r0..$r1, $c0..$c1) for block $blockW x $blockH")

  override def prettyName: String = "gather_cells"
  override def children: Seq[Expression] = bands
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  private val rows = r1 - r0 + 1
  private val cols = c1 - c0 + 1
  private val cells = rows * cols

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val n = cells * bands.length
    val out = new Array[Double](n)
    var nulls: Array[Boolean] = null
    @inline def nullPlane(): Array[Boolean] = {
      if (nulls == null) nulls = new Array[Boolean](n)
      nulls
    }
    var b = 0
    while (b < bands.length) {
      val v = bands(b).eval(input)
      val base = b * cells
      if (v == null) java.util.Arrays.fill(nullPlane(), base, base + cells, true)
      else {
        val a = v.asInstanceOf[ArrayData]
        var r = 0
        while (r < rows) {
          val srcBase = (r0 + r) * blockW + c0
          val dstBase = base + r * cols
          var c = 0
          while (c < cols) {
            if (a.isNullAt(srcBase + c)) nullPlane()(dstBase + c) = true
            else out(dstBase + c) = a.getDouble(srcBase + c)
            c += 1
          }
          r += 1
        }
      }
      b += 1
    }
    if (nulls == null) UnsafeArrayData.fromPrimitiveArray(out)
    else {
      val bb = new UnsafeArrayBuilders.Doubles(n)
      var i = 0
      while (i < n) {
        if (nulls(i)) bb.setNull(i) else bb.set(i, out(i))
        i += 1
      }
      bb.build()
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(bands = newChildren)
}

/** Gather side of the seam-exact patch exchange (VERDICT r17 #1): rebuild
  * one band's sparse (blockW+2·pad)×(blockH+2·pad) padded plane from the
  * collected `array<struct<kind:int, vals:array<double>>>` region packs —
  * `kind` indexes [[SeamGeometry.regions]](blockW, blockH, pad, ring), and
  * `vals` is that region's [[GatherCells]] pack (this band's section at
  * `bandIdx`·cells). Cells no region covers stay null: the interior beyond
  * the own ring (which the frame-only tap pass never reads) and ring cells
  * with no emitting neighbor (the raster edge — the drop-and-renormalize
  * convention). Primitive region-copy loops replace the interpreted
  * per-element `transform(sequence(0, pw·ph−1), …)` plane rebuild, which
  * paid O(area) HOF dispatch per band per block on the production pyramid
  * path whenever `overview_seam_exact` was set. */
case class AssembleSeamPlane(entries: Expression, bandIdx: Int,
    bandCount: Int, blockW: Int, blockH: Int, pad: Int, ring: Int)
  extends UnaryExpression with CodegenFallback {
  require(bandIdx >= 0 && bandIdx < bandCount,
    s"bandIdx $bandIdx outside 0..${bandCount - 1}")

  override def child: Expression = entries
  override def prettyName: String = "assemble_seam_plane"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  private lazy val regions = SeamGeometry.regions(blockW, blockH, pad, ring)
  private val pw = blockW + 2 * pad
  private val ph = blockH + 2 * pad

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val n = pw * ph
    val out = new Array[Double](n)
    val nulls = new Array[Boolean](n)
    java.util.Arrays.fill(nulls, true)
    val e = entries.eval(input)
    if (e != null) {
      val es = e.asInstanceOf[ArrayData]
      val ne = es.numElements()
      var i = 0
      while (i < ne) {
        val row = es.getStruct(i, 2)
        val kind = row.getInt(0)
        require(kind >= 0 && kind < regions.length,
          s"region kind $kind outside 0..${regions.length - 1}")
        val rg = regions(kind)
        val vals = row.getArray(1)
        require(vals.numElements() == rg.cells * bandCount,
          s"region $kind pack has ${vals.numElements()} values, " +
            s"expected ${rg.cells * bandCount}")
        val base = bandIdx * rg.cells
        var r = 0
        while (r < rg.rows) {
          val dstBase = (rg.oy + r) * pw + rg.ox
          val srcBase = base + r * rg.cols
          var c = 0
          while (c < rg.cols) {
            if (vals.isNullAt(srcBase + c)) {
              out(dstBase + c) = 0.0; nulls(dstBase + c) = true
            } else {
              out(dstBase + c) = vals.getDouble(srcBase + c)
              nulls(dstBase + c) = false
            }
            c += 1
          }
          r += 1
        }
        i += 1
      }
    }
    val b = new UnsafeArrayBuilders.Doubles(n)
    var i = 0
    while (i < n) {
      if (nulls(i)) b.setNull(i) else b.set(i, out(i))
      i += 1
    }
    b.build()
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(entries = newChild)
}

/** Assemble four (half×half) quarter blocks into one (size×size) block —
  * the gather step of [[graft.operators.Resample.regroup2x]]. A null
  * (missing, image-edge) quarter fills its quadrant with nulls, the
  * masked-pixel convention. Primitive row-copy loops per quadrant instead
  * of an interpreted per-element transform with a 4-way CaseWhen. */
case class AssembleQuarters(q00: Expression, q01: Expression,
    q10: Expression, q11: Expression, size: Int)
  extends Expression with ImplicitDoubleArrayInputs with CodegenFallback {
  require(size % 2 == 0, s"blockSize $size must be even")

  override def prettyName: String = "assemble_quarters"
  override def children: Seq[Expression] = Seq(q00, q01, q10, q11)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  // Same coercion contract as BlockDownsample: integer quarter arrays
  // widen to array<double> at analysis instead of failing.

  private val half = size / 2

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val qs = Array(q00.eval(input), q01.eval(input),
      q10.eval(input), q11.eval(input))
    // primitive accumulation with a LAZY null plane: the common interior
    // block (all four quarters present, no masked pixels) returns an
    // UnsafeArrayData straight from the double[] — the always-boxed form
    // allocated 260k java.lang.Doubles per 512² block, which is what
    // OOM'd the 2.62-Gpx soak's regroup stage under a 3.5 GB heap
    val out = new Array[Double](size * size)
    var nulls: Array[Boolean] = null
    @inline def nullPlane(): Array[Boolean] = {
      if (nulls == null) nulls = new Array[Boolean](size * size)
      nulls
    }
    var quad = 0
    while (quad < 4) {
      val qr = quad / 2; val qc = quad % 2
      val src = qs(quad)
      if (src == null) {
        // missing (image-edge) quarter fills its quadrant with nulls
        val np = nullPlane()
        var r = 0
        while (r < half) {
          val dstBase = (qr * half + r) * size + qc * half
          java.util.Arrays.fill(np, dstBase, dstBase + half, true)
          r += 1
        }
      } else {
        val a = src.asInstanceOf[ArrayData]
        var r = 0
        while (r < half) {
          var c = 0
          val dstBase = (qr * half + r) * size + qc * half
          val srcBase = r * half
          while (c < half) {
            if (a.isNullAt(srcBase + c)) nullPlane()(dstBase + c) = true
            else out(dstBase + c) = a.getDouble(srcBase + c)
            c += 1
          }
          r += 1
        }
      }
      quad += 1
    }
    if (nulls == null) UnsafeArrayData.fromPrimitiveArray(out)
    else {
      // same no-boxing wire-format write as BlockDownsample's null path
      val b = new UnsafeArrayBuilders.Doubles(out.length)
      var i = 0
      while (i < out.length) {
        if (nulls(i)) b.setNull(i) else b.set(i, out(i))
        i += 1
      }
      b.build()
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(q00 = newChildren(0), q01 = newChildren(1),
      q10 = newChildren(2), q11 = newChildren(3))
}

/** Overwrite the `s`-thick frame of a block-local downsample output with
  * the seam-corrected values of the patch pass — the merge step of
  * [[graft.operators.Resample.downsampleSeamExact]]. `local` is the
  * (ow×oh) block-local output plane (a NULL plane = a missing band: the
  * interior stays all-null, only the frame carries values — the masked-
  * plane convention); `frameVals` is the packed frame array in
  * [[BlockKernels.frameCoords]] order, possibly null when the block had no
  * patch row (left-join miss — keep the local output untouched). Every
  * frame cell was COMPUTED by the patch pass, so a null frame element
  * means corrected-to-masked, never "no correction". */
case class MergeFrame(local: Expression, frameVals: Expression,
    ow: Int, oh: Int, s: Int)
  extends Expression with ImplicitDoubleArrayInputs with CodegenFallback {

  override def prettyName: String = "merge_frame"
  override def children: Seq[Expression] = Seq(local, frameVals)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  private lazy val (coordX, coordY) = BlockKernels.frameCoords(ow, oh, s)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val n = ow * oh
    val out = new Array[Double](n)
    val nulls = new Array[Boolean](n)
    val l = local.eval(input)
    if (l == null) java.util.Arrays.fill(nulls, true)
    else {
      val a = l.asInstanceOf[ArrayData]
      require(a.numElements() == n,
        s"local plane has ${a.numElements()} elements, expected $n")
      var i = 0
      while (i < n) {
        if (a.isNullAt(i)) nulls(i) = true else out(i) = a.getDouble(i)
        i += 1
      }
    }
    val f = frameVals.eval(input)
    if (f != null) {
      val fa = f.asInstanceOf[ArrayData]
      require(fa.numElements() == coordX.length,
        s"frame has ${fa.numElements()} elements, expected ${coordX.length}")
      var i = 0
      while (i < coordX.length) {
        val at = coordY(i) * ow + coordX(i)
        if (fa.isNullAt(i)) { nulls(at) = true; out(at) = 0.0 }
        else { out(at) = fa.getDouble(i); nulls(at) = false }
        i += 1
      }
    }
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = nulls(i); i += 1 }
    if (!hasNull) UnsafeArrayData.fromPrimitiveArray(out)
    else {
      val b = new UnsafeArrayBuilders.Doubles(n)
      i = 0
      while (i < n) {
        if (nulls(i)) b.setNull(i) else b.set(i, out(i))
        i += 1
      }
      b.build()
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(local = newChildren(0), frameVals = newChildren(1))
}
