package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native dot product over two float-array columns.
  *
  * Why a custom Catalyst expression (SURVEY §7.3 preference order (b)):
  * the built-in routes are either interpreted higher-order functions
  * (`aggregate(zip_with(...))` — per-row closure allocation, no
  * codegen) or a statically unrolled `element_at` sum — codegen'd but
  * one expression node per dimension (64-dim → ~200 nodes, slow to
  * plan/compile and dimension-bound at plan time). This expression
  * emits a single tight loop over the unsafe array data: accumulation
  * in double, ascending index — the exact semantics the DuckDB oracle
  * reproduces with `list_sum(list_transform(...))`.
  *
  * NULL iff either side is NULL OR either array contains a NULL
  * element in the common prefix (matching the oracle's
  * `list_sum(list_transform(...))` NULL propagation — silently
  * reading a null slot as 0.0 would produce finite wrong scores);
  * mismatched lengths use the common prefix (callers validate
  * dimensions upstream).
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // null ELEMENTS also null the result, regardless of child nullability
  override def nullable: Boolean = true

  // Element accessor picked from the CHILD's array element type:
  // ArrayData.getFloat on a double array reinterprets bits and
  // produces silent garbage, so float-only access must not be assumed.
  private def isDouble(e: Expression): Boolean = e.dataType match {
    case org.apache.spark.sql.types.ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product_f needs array<float|double>, got " +
          s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xd, yd) = (isDouble(left), isDouble(right))
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = if (xd) x.getDouble(i) else x.getFloat(i).toDouble
      val yi = if (yd) y.getDouble(i) else y.getFloat(i).toDouble
      acc += xi * yi
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      def get(v: String, dbl: Boolean) =
        if (dbl) s"$v.getDouble($i)" else s"(double) $v.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    ${ev.isNull} = true;
         |    break;
         |  }
         |  $acc += ${get(a, isDouble(left))} * ${get(b, isDouble(right))};
         |}
         |if (!${ev.isNull}) {
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column API: dot product of two array<float> columns. */
  def dotF(a: Column, b: Column): Column =
    Bridge.column(DotProductF(Bridge.expression(a), Bridge.expression(b)))
}
