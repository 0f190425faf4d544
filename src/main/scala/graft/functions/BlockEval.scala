package graft.functions

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BindReferences, Expression, MutableProjection, SpecificInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Compiled per-BLOCK evaluation of an arbitrary Catalyst scalar over
  * packed pixel arrays — the generalization of [[BlockKernels]] to ANY
  * per-pixel formula.
  *
  * Spark's higher-order functions (`transform`/`zip_with`) interpret their
  * lambda per element: every pixel pays megamorphic `Expression.eval`
  * dispatch plus lambda-variable rebinding — ~100-200 ns/px, which caps
  * every HOF-built pixel operator near 5-10 Mpx/s/core and made the
  * interpreted lambdas the entire cost of the flagship layer pipeline.
  *
  * This keeps CATALYST as the semantics engine — the user-visible formula
  * is built with ordinary Column expressions, analyzed once (type
  * coercion, null propagation, function resolution — identical to what
  * the same formula meant inside a HOF lambda) — but evaluates it through
  * a compiled [[MutableProjection]] (Janino codegen, interpreted fallback)
  * driven by a primitive per-block loop: one virtual call per PIXEL into
  * JIT'd code instead of a tree walk, and one expression-node allocation
  * per BLOCK instead of per element. Results are bit-identical to the HOF
  * forms: the same resolved expression tree evaluates either way.
  */
object BlockEval {

  /** Build a per-block kernel Column.
    *
    * `arrays`: packed per-pixel input arrays with their ELEMENT types
    * (zip_with semantics: a null array yields a null result; all arrays of
    * one block must agree on length).
    * `scalars`: per-BLOCK scalar inputs (e.g. a seed hash of the block
    * key), evaluated once per row.
    * `length`: element count when `arrays` is empty (index-generator form).
    * `build` receives [array element slots ++ scalar slots ++ pixel index]
    * as Columns and returns the per-pixel formula.
    */
  def zip(arrays: Seq[(Column, DataType)],
          scalars: Seq[(Column, DataType)] = Nil,
          length: Option[Column] = None)
         (build: Seq[Column] => Column): Column = {
    require(arrays.nonEmpty || length.isDefined,
      "BlockEval.zip with no input arrays needs an explicit length")
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "BlockEval needs a SparkSession to resolve the formula — build the " +
          "kernel Column after the session exists"))
    val attrs: Seq[AttributeReference] =
      (arrays.zipWithIndex.map { case ((_, t), i) =>
        AttributeReference(s"__a$i", t, nullable = true)() } ++
      scalars.zipWithIndex.map { case ((_, t), i) =>
        AttributeReference(s"__s$i", t, nullable = true)() }) :+
      AttributeReference("__idx", LongType, nullable = false)()
    // Resolve the formula EXACTLY as the analyzer would inside a lambda —
    // one Project over a LocalRelation of the slot schema, run straight
    // through the analyzer (the full DataFrame/QueryExecution route costs
    // ~60 ms per kernel in session bookkeeping; a job building ~8 kernels
    // paid half a second of pure overhead per submission)
    val built = build(attrs.map(a => ColumnBridge.column(a)))
    val plan = Project(
      Seq(Alias(ColumnBridge.catalystExpression(built), "__out")()),
      LocalRelation(attrs))
    val analyzed = spark.sessionState.analyzer.execute(plan)
    val project = analyzed.collectFirst { case p: Project => p }.getOrElse(
      throw new IllegalStateException(s"BlockEval: unexpected plan shape:\n$analyzed"))
    val scalar = project.projectList.head match {
      case a: Alias => a.child
      case e => e
    }
    require(scalar.resolved, s"BlockEval: formula did not resolve: $scalar")
    val bound = BindReferences.bindReference(scalar, attrs)
    // enforce the DECLARED element/scalar types with explicit casts — the
    // bound formula's slot types must match what the kernel feeds it (an
    // identity cast simplifies away at optimization)
    ColumnBridge.column(BlockZipEval(
      arrays.map { case (c, t) =>
        ColumnBridge.expression(c.cast(ArrayType(t))) }.toIndexedSeq,
      scalars.map { case (c, t) =>
        ColumnBridge.expression(c.cast(t)) }.toIndexedSeq,
      bound,
      length.map(ColumnBridge.expression)))
  }
}

/** The kernel: evaluate `result` (a RESOLVED expression bound to slots
  * [arrays ++ scalars ++ idx]) once per pixel through a compiled
  * projection. See [[BlockEval]]. */
case class BlockZipEval(arrays: IndexedSeq[Expression],
                        scalars: IndexedSeq[Expression],
                        result: Expression,
                        lengthExpr: Option[Expression])
  extends Expression with CodegenFallback {

  override def prettyName: String = "block_zip_eval"
  override def children: Seq[Expression] = arrays ++ scalars ++ lengthExpr
  override def dataType: DataType =
    ArrayType(result.dataType, containsNull = result.nullable)
  override def nullable: Boolean = arrays.exists(_.nullable)
  override def foldable: Boolean = false

  // lazy: children may be unresolved at construction (Column-built casts)
  private lazy val slotTypes: IndexedSeq[DataType] =
    arrays.map(_.dataType.asInstanceOf[ArrayType].elementType) ++
      scalars.map(_.dataType) :+ LongType
  // element-type dispatch ids resolved once (not per pixel)
  private lazy val elemIds: Array[Int] = arrays.map(_.dataType match {
    case ArrayType(DoubleType, _) => 0
    case ArrayType(LongType, _) => 1
    case ArrayType(IntegerType, _) => 2
    case ArrayType(BooleanType, _) => 3
    case ArrayType(FloatType, _) => 4
    case ArrayType(ShortType, _) => 5
    case ArrayType(ByteType, _) => 6
    case other => throw new IllegalArgumentException(
      s"block_zip_eval: unsupported input array type $other")
  }).toArray

  // a MutableProjection is stateful (shared result row) — one per thread
  @transient private lazy val projTL: ThreadLocal[MutableProjection] =
    ThreadLocal.withInitial(() => MutableProjection.create(Seq(result)))

  override def eval(input: InternalRow): Any = {
    val nArr = arrays.length
    val arrs = new Array[ArrayData](nArr)
    var b = 0
    while (b < nArr) {
      val a = arrays(b).eval(input)
      if (a == null) return null // zip_with semantics: null array → null
      arrs(b) = a.asInstanceOf[ArrayData]
      b += 1
    }
    val n: Int =
      if (nArr > 0) arrs(0).numElements()
      else lengthExpr.get.eval(input).asInstanceOf[Number].intValue()
    b = 1
    while (b < nArr) {
      require(arrs(b).numElements() == n,
        s"block_zip_eval: input $b has ${arrs(b).numElements()} elements, expected $n")
      b += 1
    }
    val row = new SpecificInternalRow(slotTypes)
    b = 0
    while (b < scalars.length) {
      val v = scalars(b).eval(input)
      if (v == null) row.setNullAt(nArr + b) else row.update(nArr + b, v)
      b += 1
    }
    val idxSlot = nArr + scalars.length
    val proj = projTL.get()

    @inline def fill(j: Int): Unit = {
      var k = 0
      while (k < nArr) {
        val a = arrs(k)
        if (a.isNullAt(j)) row.setNullAt(k)
        else elemIds(k) match {
          case 0 => row.setDouble(k, a.getDouble(j))
          case 1 => row.setLong(k, a.getLong(j))
          case 2 => row.setInt(k, a.getInt(j))
          case 3 => row.setBoolean(k, a.getBoolean(j))
          case 4 => row.setFloat(k, a.getFloat(j))
          case 5 => row.setShort(k, a.getShort(j))
          case 6 => row.setByte(k, a.getByte(j))
        }
        k += 1
      }
      row.setLong(idxSlot, j.toLong)
    }

    // specialized primitive output paths writing the Unsafe wire format
    // DIRECTLY ([[UnsafeArrayBuilders]]): null-carrying blocks used to box
    // every pixel into a GenericArrayData and then pay an element-wise
    // copy into every downstream UnsafeRow — now they memcpy like the
    // null-free ones. Anything exotic falls back to the generic box.
    result.dataType match {
      case DoubleType =>
        val out = new UnsafeArrayBuilders.Doubles(n)
        var j = 0
        while (j < n) {
          fill(j); val r = proj(row)
          if (r.isNullAt(0)) out.setNull(j) else out.set(j, r.getDouble(0))
          j += 1
        }
        out.build()
      case LongType =>
        val out = new UnsafeArrayBuilders.Longs(n)
        var j = 0
        while (j < n) {
          fill(j); val r = proj(row)
          if (r.isNullAt(0)) out.setNull(j) else out.set(j, r.getLong(0))
          j += 1
        }
        out.build()
      case IntegerType =>
        val out = new UnsafeArrayBuilders.Ints(n)
        var j = 0
        while (j < n) {
          fill(j); val r = proj(row)
          if (r.isNullAt(0)) out.setNull(j) else out.set(j, r.getInt(0))
          j += 1
        }
        out.build()
      case BooleanType =>
        val out = new UnsafeArrayBuilders.Booleans(n)
        var j = 0
        while (j < n) {
          fill(j); val r = proj(row)
          if (r.isNullAt(0)) out.setNull(j) else out.set(j, r.getBoolean(0))
          j += 1
        }
        out.build()
      case FloatType =>
        val out = new UnsafeArrayBuilders.Floats(n)
        var j = 0
        while (j < n) {
          fill(j); val r = proj(row)
          if (r.isNullAt(0)) out.setNull(j) else out.set(j, r.getFloat(0))
          j += 1
        }
        out.build()
      case dt =>
        val out = new Array[Any](n)
        var j = 0
        while (j < n) {
          fill(j); val r = proj(row)
          out(j) = if (r.isNullAt(0)) null else InternalRow.copyValue(r.get(0, dt))
          j += 1
        }
        new GenericArrayData(out)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = {
    val a = newChildren.take(arrays.length)
    val s = newChildren.slice(arrays.length, arrays.length + scalars.length)
    val l = newChildren.drop(arrays.length + scalars.length).headOption
    copy(arrays = a, scalars = s, lengthExpr = l)
  }
}

/** Per-block A3 partial-stats fold (min/max/sum/sumsq/count) as ONE
  * primitive loop — the fold twin of [[BlockZipEval]]'s map. Replicates
  * the HOF `aggregate` form BIT-FOR-BIT: same element order, same IEEE
  * accumulation (invalid elements still add literal 0.0 — the fold's
  * `coalesce(v, 0.0)` — so a -0.0 accumulator flips exactly as before),
  * same null/NaN comparison rules (`<`/`>` false for NaN). A pixel
  * contributes iff its mask element, if any, is TRUE (non-null), its value is
  * non-null and differs from `noData` when one is given (Spark SQL
  * equality: NaN equals NaN) — so `valid = None` with a `noData` applies
  * the [[graft.operators.Raster.validMask]] rule without building the
  * mask. `values` may be any numeric array: elements widen to double as a
  * cast to `array<double>` would, without materializing that array. */
case class BlockStats(values: Expression, valid: Option[Expression],
                      noData: Option[Double] = None)
  extends Expression with CodegenFallback {
  /** How an element of `values` widens to double, chosen once. */
  private lazy val widen: Int = values.dataType match {
    case ArrayType(DoubleType, _)  => 0
    case ArrayType(FloatType, _)   => 1
    case ArrayType(LongType, _)    => 2
    case ArrayType(IntegerType, _) => 3
    case ArrayType(ShortType, _)   => 4
    case ArrayType(ByteType, _)    => 5
    case other => throw new IllegalArgumentException(
      s"block_stats: values must be a numeric array, got ${other.simpleString}")
  }
  override def prettyName: String = "block_stats"
  override def children: Seq[Expression] = values +: valid.toSeq
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("mn", DoubleType, nullable = false),
    StructField("mx", DoubleType, nullable = false),
    StructField("sum", DoubleType, nullable = false),
    StructField("sumsq", DoubleType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  override def eval(input: InternalRow): Any = {
    val va = values.eval(input)
    if (va == null) return null
    val v = va.asInstanceOf[ArrayData]
    val n = v.numElements()
    val k = valid match {
      case Some(e) =>
        val ka = e.eval(input)
        if (ka == null) return null
        val m = ka.asInstanceOf[ArrayData]
        require(m.numElements() == n,
          s"block_stats: mask has ${m.numElements()} elements, values $n")
        m
      case None => null
    }
    val (hasNd, nd) = (noData.isDefined, noData.getOrElse(0.0))
    var mn = Double.MaxValue; var mx = Double.MinValue
    var sum = 0.0; var sumsq = 0.0; var cnt = 0L
    val w = widen
    var i = 0
    while (i < n) {
      var ok = !v.isNullAt(i) && (k == null || !k.isNullAt(i) && k.getBoolean(i))
      val x = if (!ok) 0.0 else (w: @scala.annotation.switch) match {
        case 0 => v.getDouble(i)
        case 1 => v.getFloat(i).toDouble
        case 2 => v.getLong(i).toDouble
        case 3 => v.getInt(i).toDouble
        case 4 => v.getShort(i).toDouble
        case _ => v.getByte(i).toDouble
      }
      if (ok && hasNd && BlockKernels.cmp(x, nd) == 0) ok = false
      if (ok) {
        // Spark SQL double ordering (NaN largest, ±0.0 equal) — NOT the
        // IEEE `<`, which would drop a NaN max the HOF fold kept
        if (BlockKernels.cmp(x, mn) < 0) mn = x
        if (BlockKernels.cmp(x, mx) > 0) mx = x
        sum += x; sumsq += x * x; cnt += 1L
      } else { sum += 0.0; sumsq += 0.0 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](mn, mx, sum, sumsq, cnt))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(values = newChildren(0), valid = newChildren.lift(1))
}
