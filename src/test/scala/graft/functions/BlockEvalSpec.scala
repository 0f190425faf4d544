package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiled block kernel ([[BlockEval]]/[[BlockZipEval]]) vs the HOF forms
  * it replaces — results must be IDENTICAL (same resolved Catalyst scalar,
  * different evaluation engine). */
class BlockEvalSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    (Seq[Option[Double]](Some(1.5), None, Some(-0.0), Some(Double.NaN), Some(42.0)),
      Seq[Option[Boolean]](Some(true), Some(true), Some(false), Some(true), None)),
    (Seq[Option[Double]](Some(0.0), Some(255.0), Some(-3.25), Some(7.0), Some(9.5)),
      Seq[Option[Boolean]](Some(true), Some(false), Some(true), Some(true), Some(true))))
  // NOT lazy: BlockEval.zip resolves its formula against the ACTIVE session,
  // so the session must exist before any kernel Column is built
  private val df = rows.toDF("v", "k")

  /** Scala `==` unboxes Doubles (NaN != NaN); compare NaN-aware. */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x, y) => x == y
  }
  private def sameSeq(a: Seq[Any], b: Seq[Any]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => same(x, y) }

  test("zip kernel equals zip_with on masked when(ok, v)") {
    val kernel = BlockEval.zip(Seq(col("v") -> DoubleType, col("k") -> BooleanType)) {
      case Seq(v, ok, _) => when(ok, v)
    }
    val hof = zip_with(col("v"), col("k"), (v, ok) => when(ok, v))
    val out = df.select(kernel.as("a"), hof.as("b")).collect()
    out.foreach(r => assert(sameSeq(r.getSeq[Any](0), r.getSeq[Any](1))))
  }

  test("arithmetic + cast formula equals transform, including long typing") {
    // A // 2 produces bigint in a lambda; the kernel must match exactly
    val kernel = BlockEval.zip(Seq(col("v") -> DoubleType)) {
      case Seq(v, _) => floor(v / 2).cast("long")
    }
    val hof = transform(col("v"), v => floor(v / 2).cast("long"))
    df.select(kernel.as("a"), hof.as("b")).collect().foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1))
      assert(r.schema("a").dataType == r.schema("b").dataType)
    }
  }

  test("null array input yields null result (zip_with semantics)") {
    val withNull = df.withColumn("v", when(lit(false), col("v")))
    val kernel = BlockEval.zip(Seq(col("v") -> DoubleType, col("k") -> BooleanType)) {
      case Seq(v, ok, _) => when(ok, v)
    }
    assert(withNull.select(kernel).collect().forall(_.isNullAt(0)))
  }

  test("scalar slots + index generator form reproduce the HOF sequence transform") {
    val blocks = Seq(("t1", 0, 1), ("t2", 3, 4)).toDF("tile_id", "block_row", "block_col")
      .withColumn("width", lit(4)).withColumn("height", lit(2))
    val seed = xxhash64(col("tile_id"), col("block_row"), col("block_col"), lit(1))
    val n = (col("width") * col("height")).cast("int")
    val kernel = BlockEval.zip(Nil, Seq(seed -> LongType), Some(n)) {
      case Seq(s, i) => pmod(abs(s + i * lit(2654435761L)), lit(255)).cast("double")
    }
    val hof = transform(sequence(lit(0), (col("width") * col("height") - 1).cast("int")),
      i => pmod(abs(seed + i * lit(2654435761L)), lit(255)).cast("double"))
    blocks.select(kernel.as("a"), hof.as("b")).collect().foreach { r =>
      assert(r.getSeq[Double](0) == r.getSeq[Double](1))
    }
  }

  test("BlockStats equals the HOF aggregate fold, bit for bit") {
    val kernel = graft.operators.Raster.blockPartialStats(col("v"), col("k"))
    val hof = {
      val vals = zip_with(col("v"), col("k"), (v, ok) => when(ok, v))
      aggregate(vals,
        struct(lit(Double.MaxValue).as("mn"), lit(Double.MinValue).as("mx"),
          lit(0.0).as("sum"), lit(0.0).as("sumsq"), lit(0L).as("cnt")),
        (acc, v) => struct(
          when(v.isNotNull && v < acc("mn"), v).otherwise(acc("mn")).as("mn"),
          when(v.isNotNull && v > acc("mx"), v).otherwise(acc("mx")).as("mx"),
          (acc("sum") + coalesce(v, lit(0.0))).as("sum"),
          (acc("sumsq") + coalesce(v * v, lit(0.0))).as("sumsq"),
          (acc("cnt") + when(v.isNotNull, 1L).otherwise(0L)).as("cnt")))
    }
    df.select(kernel.as("a"), hof.as("b")).collect().foreach { r =>
      val (a, b) = (r.getStruct(0), r.getStruct(1))
      (0 until 5).foreach(i => assert(same(a.get(i), b.get(i)), s"field $i: $a vs $b"))
    }
  }

  test("BlockStats widens numeric arrays and applies noData like validMask over a cast") {
    import spark.implicits._
    import graft.operators.Raster
    val in = Seq(Tuple1(Seq(Some(3.0), Some(-7.0), None, Some(12.0), Some(5.0), Some(-7.0))))
      .toDF("v")
    for (t <- Seq("tinyint", "smallint", "int", "bigint", "float", "double");
         nd <- Seq(None, Some(-7.0))) {
      val typed = col("v").cast(s"array<$t>")
      val r = in.select(Raster.bandPartials(Seq(typed), nd),
        array(Raster.blockPartialStats(typed.cast("array<double>"),
          Raster.validMask(typed, org.apache.spark.sql.types.DataType.fromDDL(t), nd))))
        .collect()(0)
      assert(r.getSeq[Row](0) == r.getSeq[Row](1), s"$t, noData $nd")
    }
  }

  test("multiband calc kernel equals the lambda form on masked semantics") {
    val two = df.withColumn("v2", transform(col("v"), x => x * 2))
      .withColumn("k2", col("k"))
    val kernel = graft.operators.Raster.blockCalc("A + B * 2",
      Seq(col("v"), col("v2")), Seq(col("k"), col("k2"))).head
    val hof = zip_with(
      zip_with(col("v"), col("k"), (x, o) => when(o, x)),
      zip_with(col("v2"), col("k2"), (x, o) => when(o, x)),
      (a, b) => a + b * 2)
    two.select(kernel.as("a"), hof.as("b")).collect().foreach { r =>
      assert(sameSeq(r.getSeq[Any](0), r.getSeq[Any](1)))
    }
  }

  test("integer element inputs dispatch through the primitive getters") {
    val ints = Seq(Tuple1(Seq(1, 2, 3))).toDF("v")
    val kernel = BlockEval.zip(Seq(col("v") -> IntegerType)) {
      case Seq(v, _) => v * 10
    }
    assert(ints.select(kernel).collect()(0).getSeq[Int](0) == Seq(10, 20, 30))
  }
}
