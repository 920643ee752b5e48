package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Native codegen'd dot product over two `array<double>` columns.
  *
  * The composable alternative (`aggregate(zip_with(a, b, _*_), 0, _+_)`)
  * allocates an intermediate array per row and evaluates the lambda
  * interpreted (higher-order functions are CodegenFallback), which is the
  * dominant cost of brute-force/LSH cosine scoring. This expression
  * generates a tight primitive loop inside whole-stage codegen — no
  * allocation, no virtual calls — and keeps the identical left-to-right
  * double accumulation order (bit-for-bit the same results, so DuckDB
  * oracles are unaffected).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<double>, array<double>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  // Null parity with the composable aggregate/zip_with formulation:
  // length-mismatched arrays and null elements yield NULL (zip_with pads
  // the shorter side with null and null propagates through the sum) —
  // a silently-truncated dot product would rank ragged embeddings as
  // real neighbors.
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-API entry: `dotCol(a, b)` ≡ SQL `graft_dot(a, b)`. */
  def dotCol(a: Column, b: Column): Column = call_function("graft_dot", a, b)
}
