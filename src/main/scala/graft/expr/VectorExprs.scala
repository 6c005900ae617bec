package graft.expr

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Sequential left-to-right dot product of two numeric arrays
  * (`array<float>` or `array<double>`), as a codegen'd Catalyst expression.
  *
  * WHY CUSTOM: the composable form —
  * `aggregate(zip_with(a, b, (x, y) => x * y), 0.0, (acc, v) => acc + v)` —
  * runs through interpreted `HigherOrderFunction` lambda dispatch (no
  * whole-stage codegen, one boxed function call per element). For similarity
  * search the dot product is the innermost loop over every (query × corpus)
  * pair; this expression compiles to a primitive double loop (~50× less
  * per-element overhead) while keeping the exact same semantics:
  *
  *   - summation order is left-to-right (((x₁·y₁)+x₂·y₂)+…) — bit-identical
  *     to the fold it replaces and to DuckDB's `list_reduce` oracle;
  *   - float elements widen to double before multiplying (exact);
  *   - a null array, a null element, or a length mismatch yields NULL —
  *     matching `zip_with` padding + null-product propagation.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires array<float|double> args, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    val xf = elemIsFloat(left); val yf = elemIsFloat(right)
    var sum = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      sum += xv * yv
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val yGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) { ${ev.isNull} = true; } else {
         |  double $sum = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $sum += ((double) $x.$xGet($i)) * ((double) $y.$yGet($i));
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $sum;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(newLeft, newRight)
}

object DotProduct {
  /** Column-API entry: `vecDot(a, b)`. */
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** 64-bit SimHash over an `array<long>` of token hashes: per-bit ±1 voting,
  * sign → bit. Custom expression because the composable form (an
  * `aggregate` whose accumulator is a 64-element array rebuilt per token)
  * allocates O(64·tokens) and runs through interpreted lambda dispatch;
  * this is two nested primitive loops. Null array → null; null elements are
  * skipped (a missing token casts no votes). */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<bigint>, got ${t.simpleString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    SimHash64.compute(a)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"graft.expr.SimHash64$$.MODULE$$.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(newChild)
}

object SimHash64 {
  /** Shared eval/codegen kernel. */
  def compute(a: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val h = a.getLong(i)
        var b = 0
        while (b < 64) {
          votes(b) += (((h >>> b) & 1L).toInt << 1) - 1 // bit → +1 / -1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) >= 0) sig |= 1L << b
      b += 1
    }
    sig
  }

  def apply(tokenHashes: Column): Column =
    GraftBridge.column(SimHash64(GraftBridge.expression(tokenHashes)))
}
