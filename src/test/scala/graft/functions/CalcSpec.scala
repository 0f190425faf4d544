package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Calc DSL — ports tests/tiles/utils/test_array_utils.py:71-168 (exact
  * expected values per kernel) plus masked semantics. */
class CalcSpec extends SparkSpec {
  import spark.implicits._

  private def one(calc: String, a: java.lang.Double, b: java.lang.Double = null,
                  c: java.lang.Double = null): Any = {
    val df = Seq((Option(a).map(_.doubleValue), Option(b).map(_.doubleValue),
      Option(c).map(_.doubleValue))).toDF("a", "b", "c")
    val bands = Map("A" -> col("a"), "B" -> col("b"), "C" -> col("c"))
    df.select(Calc.column(calc, bands).as("r")).collect()(0).get(0)
  }

  test("arithmetic kernels match reference expected values") {
    assert(one("A + 1", 3.0) == 4.0)
    assert(one("A + 1 * 5", 3.0) == 8.0)   // precedence: mul before add
    assert(one("A * 5 + 1", 3.0) == 16.0)
    assert(one("(A + B) * (C + 2)", 1.0, 2.0, 3.0) == 15.0)
    assert(one("A - B", 5.0, 3.0) == 2.0)
    assert(one("A / B", 7.0, 2.0) == 3.5)
    assert(one("A // B", 7.0, 2.0) == 3L)  // floor division
    assert(one("A % B", 7.0, 2.0) == 1.0)
    assert(one("A ** 2", 3.0) == 9.0)
    assert(one("-A", 3.0) == -3.0)
  }

  test("comparisons and boolean algebra") {
    assert(one("A > B", 3.0, 2.0) == true)
    assert(one("(A > 0) & (B < 5)", 1.0, 2.0) == true)
    assert(one("(A > 5) | (B < 5)", 1.0, 2.0) == true)
    assert(one("A == B", 2.0, 2.0) == true)
    assert(one("A != B", 2.0, 2.0) == false)
  }

  test("masked semantics: null propagates like numpy masked (array_utils.py:61-85)") {
    assert(one("A + B", null, 2.0) == null)
    assert(one("A * 5 + 1", null) == null)
    assert(one("np.where(A > 0, A, B)", 3.0, 7.0) == 3.0)
    assert(one("np.where(A > 5, A, B)", 3.0, 7.0) == 7.0)
  }

  test("numpy function surface") {
    assert(one("np.sqrt(A)", 16.0) == 4.0)
    assert(one("np.log(A)", 1.0) == 0.0)
    assert(one("np.maximum(A, B)", 2.0, 5.0) == 5.0)
    assert(one("np.minimum(A, B)", 2.0, 5.0) == 2.0)
    assert(one("np.clip(A, 0, 10)", 15.0) == 10.0)
    assert(one("np.abs(A)", -3.0) == 3.0)
    assert(one("np.floor(A)", 3.7) == 3.0)
    assert(one("np.ceil(A)", 3.2) == 4.0)
    assert(one("np.ma.filled(A, 9)", null) == 9L)
    assert(one("np.ma.masked_where(A > 2, A)", 3.0) == null)
    assert(one("np.ma.masked_where(A > 2, A)", 1.0) == 1.0)
    assert(one("np.uint8(A)", 3.9) == 3L)
    assert(one("np.float32(A)", 3.0) == 3.0f)
  }

  test("multiband: np.ma.array([A, B, A+B]) yields 3 bands (test_raster_src_tile.py:177)") {
    val df = Seq((2.0, 3.0)).toDF("a", "b")
    val bands = Map("A" -> col("a"), "B" -> col("b"))
    val out = Calc.compile("np.ma.array([A, B, A + B])", bands)
    assert(out.length == 3)
    val r = df.select(out: _*).collect()(0)
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == 3.0 && r.getDouble(2) == 5.0)
  }

  test("single band asserted when one band expected (array_utils.py:74-80)") {
    intercept[IllegalArgumentException](
      Calc.column("np.ma.array([A, A])", Map("A" -> col("a"))))
  }

  test("unknown band or function rejected (no exec, unlike the reference)") {
    intercept[IllegalArgumentException](one("D + 1", 1.0))
    intercept[IllegalArgumentException](one("np.fancy(A)", 1.0))
    intercept[IllegalArgumentException](one("__import__", 1.0))
  }

  test("scientific notation and floats lex correctly") {
    assert(one("A * 1e2", 3.0) == 300.0)
    assert(one("A + 0.5", 3.0) == 3.5)
  }

  test("graft_calc SQL surface: literal calc compiles, bands bind positionally") {
    val r = spark.sql(
      "SELECT graft_calc('(A + B) * (C + 2)', CAST(3 AS DOUBLE), " +
        "CAST(1 AS DOUBLE), CAST(0.5 AS DOUBLE)) AS v").collect()
    assert(r(0).getDouble(0) == 10.0)
    // the calc string is compiled at PLAN time — a non-literal must fail
    // loudly at analysis, never fall back to a runtime interpreter
    val e = intercept[Exception](
      spark.sql("SELECT graft_calc(concat('A', '+1'), 1.0)").collect())
    assert(e.getMessage.contains("literal calc string"),
      s"unexpected: ${e.getMessage.take(200)}")
  }
}
