package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Native codegen'd asymmetric dot product: `array<double>` query ×
  * `array<int>` int8-quantized candidate → double — the ADC
  * (asymmetric distance computation) kernel of int8 IVF serving:
  * the query keeps full precision, each candidate component is the
  * stored int (dequantization by the per-vector scale is a scalar
  * multiply AFTER the fold, so it stays outside the loop).
  *
  * The composable spelling (`aggregate(zip_with(q, c, ...)))` or a
  * `transform`-to-double + [[DotProduct]]) allocates an intermediate
  * array per SCORED PAIR and runs interpreted — the exact hazard the
  * r12 interpreted-HOF fixes attacked, except here it would sit in the
  * probe join's hot loop. Same left-to-right accumulation as
  * [[DotProduct]]; each term is `q_i * (double) c_i` — int→double is
  * exact, so a DuckDB oracle replays it as
  * `list_dot_product(q, list_transform(c, x -> CAST(x AS DOUBLE)))`
  * bit-for-bit. Null parity with DotProduct: length mismatch or null
  * element → NULL.
  */
case class DotIntDouble(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot_id expects (array<double>, array<int>), got ($l, $r)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot_id"

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
      s += x.getDouble(i) * y.getInt(i)
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
         |    $s += $a.getDouble($i) * (double) $b.getInt($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotIntDouble =
    copy(left = newLeft, right = newRight)
}

object DotIntDouble {
  /** Column-API entry: `dotIdCol(q, c)` ≡ SQL `graft_dot_id(q, c)`. */
  def dotIdCol(q: Column, c: Column): Column = call_function("graft_dot_id", q, c)
}
