package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** A double-valued kernel over two numeric array columns — the base
  * [[DotProduct]] and [[CosineSimilarity]] share: the input type check, the
  * element types, and the interpreted per-element getters (any numeric
  * element type read as a double). Nullable: a length mismatch yields null
  * even over non-null inputs.
  */
abstract class NumericArrayKernel extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(_: NumericType, _), ArrayType(_: NumericType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two numeric arrays, got ${l.catalogString} and ${r.catalogString}")
  }

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  private def getter(dt: DataType): (ArrayData, Int) => Double = dt match {
    case FloatType => (a, i) => a.getFloat(i).toDouble
    case DoubleType => (a, i) => a.getDouble(i)
    case IntegerType => (a, i) => a.getInt(i).toDouble
    case LongType => (a, i) => a.getLong(i).toDouble
    case ShortType => (a, i) => a.getShort(i).toDouble
    case ByteType => (a, i) => a.getByte(i).toDouble
    case d: DecimalType => (a, i) => a.getDecimal(i, d.precision, d.scale).toDouble
    case other => throw new IllegalStateException(s"$prettyName: unsupported element type $other")
  }

  @transient protected lazy val getLeft = getter(elemType(left))
  @transient protected lazy val getRight = getter(elemType(right))
}

/** Σ aᵢ·bᵢ over two numeric array columns as a NATIVE Catalyst expression
  * with whole-stage codegen — the hot-path kernel of every similarity scan
  * (brute-force cosine, LSH re-rank, IVF assignment).
  *
  * Why not `aggregate(zip_with(a, b, …))`: higher-order-function lambdas
  * evaluate INTERPRETED per row outside whole-stage codegen, and a
  * brute-force cosine scan evaluates the kernel once per candidate pair —
  * at 100 TB the scan becomes expression-bound. This compiles to a tight
  * primitive loop inside the generated code instead.
  *
  * Semantics: double accumulation in element order (bit-identical to the
  * HOF fold it replaces); `null` when either array is null OR lengths
  * differ (the HOF version also nulls there via null-padded zip); null
  * ELEMENTS contribute 0.
  */
case class DotProduct(left: Expression, right: Expression) extends NumericArrayKernel {

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(input1: Any, input2: Any): Any = {
    val a = input1.asInstanceOf[ArrayData]
    val b = input2.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else {
      val n = a.numElements()
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!a.isNullAt(i) && !b.isNullAt(i)) s += getLeft(a, i) * getRight(b, i)
        i += 1
      }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val getA = CodeGenerator.getValue(a, elemType(left), i)
      val getB = CodeGenerator.getValue(b, elemType(right), i)
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |      $sum += (double)($getA) * (double)($getB);
         |    }
         |  }
         |  ${ev.value} = $sum;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** cos(a, b) = Σaᵢbᵢ / (√Σaᵢ² · √Σbᵢ²) in ONE pass over the arrays.
  *
  * The composed form `dot(a,b) / (norm(a) * norm(b))` walks each array
  * three times per candidate pair; similarity scans evaluate the kernel
  * once per pair, so the fusion is a 3× reduction in array traversals on
  * the hottest expression in the engine. Semantics are bit-identical to
  * the composition: same left-to-right double accumulation per sum
  * (null left elements are skipped in Σa², null right elements in Σb²,
  * either-null in Σab — exactly what composing three DotProducts does),
  * null on length mismatch or null input, and null — not NaN — when a
  * norm is exactly zero (matching non-ANSI Divide).
  */
case class CosineSimilarity(left: Expression, right: Expression) extends NumericArrayKernel {

  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(input1: Any, input2: Any): Any = {
    val a = input1.asInstanceOf[ArrayData]
    val b = input2.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else {
      val n = a.numElements()
      var s = 0.0
      var na = 0.0
      var nb = 0.0
      var i = 0
      while (i < n) {
        val aNull = a.isNullAt(i)
        val bNull = b.isNullAt(i)
        val x = if (aNull) 0.0 else getLeft(a, i)
        val y = if (bNull) 0.0 else getRight(b, i)
        if (!aNull && !bNull) s += x * y
        if (!aNull) na += x * x
        if (!bNull) nb += y * y
        i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) null else s / denom
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      val aNull = ctx.freshName("aNull")
      val bNull = ctx.freshName("bNull")
      val getA = CodeGenerator.getValue(a, elemType(left), i)
      val getB = CodeGenerator.getValue(b, elemType(right), i)
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double $s = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    boolean $aNull = $a.isNullAt($i);
         |    boolean $bNull = $b.isNullAt($i);
         |    double $x = $aNull ? 0.0 : (double)($getA);
         |    double $y = $bNull ? 0.0 : (double)($getB);
         |    if (!$aNull && !$bNull) $s += $x * $y;
         |    if (!$aNull) $na += $x * $x;
         |    if (!$bNull) $nb += $y * $y;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $s / $denom; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
