package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd dot product over two `array<float>` or two `array<double>`
  * columns (the element type follows the inputs; mixed inputs fail the
  * type check), accumulating left-to-right in double. float32 elements
  * convert to double exactly, so the fold is bit-deterministic and
  * engine-reproducible; over doubles the order is exactly the
  * `aggregate(zip_with(...), 0.0, _+_)` chain it replaces (IEEE:
  * `0.0 + t1 ≡ t1`), so swapping the kernel in cannot change a result
  * the DuckDB oracles hash. The double form serves DERIVED vectors —
  * dequantized int8 embeddings (`Similarity.dequantizeInt8`), query
  * vectors cast to double.
  *
  * This is the custom-Expression tier of SURVEY §7.3: the equivalent
  * higher-order chain evaluates INTERPRETED — one lambda dispatch and
  * boxed element per term — which measured ~50× slower on the 64-dim
  * embeddings table. Here the whole product is one fused loop inside
  * WholeStageCodegen, reading packed `ArrayData` with no allocation.
  * `prettyName` is `float_vec_dot` / `double_vec_dot` per element type.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elementType: Option[DataType] =
    if (!childrenResolved) None
    else (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _))
          if a == b && (a == FloatType || a == DoubleType) => Some(a)
      case _ => None
    }

  private def isFloat: Boolean = elementType.contains(FloatType)

  override def checkInputDataTypes(): TypeCheckResult =
    if (elementType.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> or two array<double> " +
        s"inputs, got ${left.dataType.simpleString} and " +
        s"${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  override def prettyName: String =
    if (isFloat) "float_vec_dot" else "double_vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val f = isFloat
    val n = math.min(x.numElements(), y.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += (if (f) x.getFloat(i).toDouble * y.getFloat(i).toDouble
        else x.getDouble(i) * y.getDouble(i))
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      val get = if (isFloat) "getFloat" else "getDouble"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (double) $a.$get($i) * (double) $b.$get($i);
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Column builder of [[VecDot]] over two `array<float>` columns. */
object FloatVecDot {
  def apply(a: Column, b: Column): Column =
    bridge.toColumn(VecDot(bridge.toExpression(a), bridge.toExpression(b)))
}

/** Column builder of [[VecDot]] over two `array<double>` columns. */
object DoubleVecDot {
  def apply(a: Column, b: Column): Column =
    bridge.toColumn(VecDot(bridge.toExpression(a), bridge.toExpression(b)))
}
