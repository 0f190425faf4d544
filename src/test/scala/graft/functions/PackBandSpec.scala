package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The overview regroup's dtype-width wire format: pack → unpack → the writer's
  * own clamp must be bit-identical to handing the writer the raw doubles.
  * The clamp rule under test is GeoTiff.BlockEncoder's `max(lo, min(hi, rint(v)))`
  * applied one stage early — idempotent, so the file bytes cannot move. */
class PackBandSpec extends SparkSpec {
  import spark.implicits._

  private def roundTrip(vals: Seq[Double], mode: String): Array[Double] = {
    val bytes = Seq(Tuple1(vals)).toDF("v")
      .select(BlockKernels.packBand(col("v").cast("array<double>"), mode).as("b"))
      .collect()(0).getAs[Array[Byte]](0)
    BlockKernels.unpackBand(bytes, mode)
  }

  private def cl(v: Double, lo: Long, hi: Long): Double =
    math.max(lo, math.min(hi, math.rint(v).toLong)).toDouble

  test("integer modes apply the writer's clamp+rint rule, full range survives") {
    val vals = Seq(0.0, 1.0, 254.9, 255.0, 300.0, -5.0, 127.49, 127.51)
    assert(roundTrip(vals, "u8").toSeq == vals.map(cl(_, 0, 255)))
    assert(roundTrip(vals, "i8").toSeq == vals.map(cl(_, -128, 127)))
    val v16 = Seq(0.0, 65535.0, 65536.0, -1.0, 32767.6, -32768.4, 12345.0)
    assert(roundTrip(v16, "u16").toSeq == v16.map(cl(_, 0, 65535)))
    assert(roundTrip(v16, "i16").toSeq == v16.map(cl(_, -32768, 32767)))
    val v32 = Seq(0.0, 4294967295.0, 4294967296.0, -1.0, 2147483647.0,
      -2147483648.0, 99999.0)
    assert(roundTrip(v32, "u32").toSeq == v32.map(cl(_, 0, 4294967295L)))
    assert(roundTrip(v32, "i32").toSeq ==
      v32.map(cl(_, Int.MinValue, Int.MaxValue)))
  }

  test("float modes: f32 narrows once (writer would too), f64 is lossless") {
    val vals = Seq(1.5, -0.25, 3.14159265358979, 1e30, -1e-30)
    assert(roundTrip(vals, "f32").toSeq == vals.map(v => v.toFloat.toDouble))
    assert(roundTrip(vals, "f64").toSeq == vals)
  }

  test("NaN follows the writer's rule in integer modes (rint->0, clamped)") {
    // math.rint(NaN).toLong == 0 — the same value GeoTiff.BlockEncoder stores
    assert(roundTrip(Seq(Double.NaN), "u16").toSeq == Seq(0.0))
    assert(roundTrip(Seq(Double.NaN), "i16").toSeq == Seq(0.0))
    // float modes preserve NaN
    assert(roundTrip(Seq(Double.NaN), "f32")(0).isNaN)
    assert(roundTrip(Seq(Double.NaN), "f64")(0).isNaN)
  }

  test("wire width is the dtype width: uint16 block ships 2 B/px") {
    val n = 1024
    val bytes = Seq(Tuple1(Seq.tabulate(n)(_.toDouble))).toDF("v")
      .select(BlockKernels.packBand(col("v").cast("array<double>"), "u16").as("b"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(bytes.length == 2 * n)
  }

  test("null elements fail loudly (FillNulls contract)") {
    val ex = intercept[Exception] {
      Seq(Tuple1(Seq[Option[Double]](Some(1.0), None))).toDF("v")
        .select(BlockKernels.packBand(col("v").cast("array<double>"), "u8"))
        .collect()
    }
    assert(ex.getMessage != null)
  }
}
