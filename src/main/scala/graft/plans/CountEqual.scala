package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Native codegen'd count of positions where two `array<bigint>` columns
  * hold equal elements — the MinHash signature-agreement estimator
  * (matching components / numPerm is an unbiased Jaccard estimate).
  *
  * The composable form
  * `aggregate(zip_with(a, b, (x,y) => (x===y).cast("int")), 0, _+_)` is
  * CodegenFallback: the lambdas evaluate interpreted and zip_with
  * materializes an intermediate array PER CANDIDATE PAIR, and the gate
  * runs on every band candidate — a large multiple of the true pairs on
  * a shared-vocabulary corpus. This expression is a tight primitive loop
  * inside whole-stage codegen: no allocation, no virtual calls.
  *
  * Arrays of unequal length count matches over the common prefix (the
  * signatures are fixed-width, so this case does not arise in practice);
  * null elements never match (signature components are non-null).
  */
case class CountEqual(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_count_equal expects (array<bigint>, array<bigint>), got ($l, $r)")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_count_equal"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    var c = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i))
        c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) { $c++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountEqual =
    copy(left = newLeft, right = newRight)
}

object CountEqual {
  /** Column-API entry: `countEqualCol(a, b)` ≡ SQL `graft_count_equal(a, b)`. */
  def countEqualCol(a: Column, b: Column): Column =
    call_function("graft_count_equal", a, b)
}
