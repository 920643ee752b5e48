package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Native codegen'd first index (0-based) at which two `array<bigint>`
  * columns hold equal elements; −1 if no position matches.
  *
  * This is the LSH canonical-occurrence primitive: a candidate pair
  * collides in EVERY band whose band-hashes agree, so evaluating it
  * only in its FIRST shared band (`band(bucket) ==
  * graft_first_equal_index(bhs_a, bhs_b)`) deduplicates the in-bucket
  * pair stream without materializing it — replacing a corpus-scale
  * `distinct()` shuffle of candidate ids with ~`bands` codegen'd
  * compares per occurrence, inside the bucket-join stage.
  *
  * Arrays of unequal length scan the common prefix; null elements never
  * match (band hashes are non-null).
  */
case class FirstEqualIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_first_equal_index expects (array<bigint>, array<bigint>), got ($l, $r)")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_first_equal_index"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i))
        return i
      i += 1
    }
    -1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val r = ctx.freshName("r")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $r = -1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i) &&
         |      $a.getLong($i) == $b.getLong($i)) { $r = $i; break; }
         |}
         |${ev.value} = $r;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstEqualIndex =
    copy(left = newLeft, right = newRight)
}

object FirstEqualIndex {
  /** Column-API entry:
    * `firstEqualIndexCol(a, b)` ≡ SQL `graft_first_equal_index(a, b)`. */
  def firstEqualIndexCol(a: Column, b: Column): Column =
    call_function("graft_first_equal_index", a, b)
}
