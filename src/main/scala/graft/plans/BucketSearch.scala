package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Native codegen'd sorted-boundary bucket lookup:
  * `graft_bucket_search(boundaries, v)` returns the number of
  * boundaries ≤ v (upper-bound binary search), i.e. the quantile
  * bucket index in `[0, |boundaries|]` for an ASCENDING boundary
  * array. The layout operator ([[graft.operators.Layout]]) maps each
  * z-order column through its sampled quantile boundaries with this —
  * a literal-array binary search per row, O(log B), allocation-free —
  * where the composable spellings are all wrong at scale: a join
  * against a boundary table shuffles the corpus, and an `aggregate`
  * HOF linear scan is interpreted AND O(B) (the r12/r13
  * interpreted-HOF lesson).
  *
  * Contract details:
  *  - boundaries must be sorted ascending; equal boundary values are
  *    allowed (empty buckets) and the result is still the upper bound;
  *  - v equal to a boundary lands in the HIGHER bucket (count of
  *    boundaries ≤ v), matching `width_bucket`'s left-closed buckets;
  *  - NaN v sorts above every boundary (java compare semantics) —
  *    deterministic, documented;
  *  - a null boundary element is a contract violation and returns null
  *    (fit code never produces one); null v returns null (callers that
  *    need null-safe layout coalesce AFTER, keeping the null policy
  *    visible at the call site).
  */
case class BucketSearch(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"graft_bucket_search expects (array<double>, double), got ($a, $b)")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_bucket_search"

  override def nullable: Boolean = true

  override protected def nullSafeEval(bAny: Any, vAny: Any): Any = {
    val b = bAny.asInstanceOf[ArrayData]
    val v = vAny.asInstanceOf[Double]
    var lo = 0
    var hi = b.numElements()
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (b.isNullAt(mid)) return null
      if (java.lang.Double.compare(b.getDouble(mid), v) <= 0) lo = mid + 1
      else hi = mid
    }
    lo
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, v) => {
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      val mid = ctx.freshName("mid")
      s"""
         |int $lo = 0;
         |int $hi = $b.numElements();
         |while ($lo < $hi && !${ev.isNull}) {
         |  int $mid = ($lo + $hi) >>> 1;
         |  if ($b.isNullAt($mid)) { ${ev.isNull} = true; break; }
         |  if (java.lang.Double.compare($b.getDouble($mid), $v) <= 0) { $lo = $mid + 1; }
         |  else { $hi = $mid; }
         |}
         |if (!${ev.isNull}) { ${ev.value} = $lo; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): BucketSearch =
    copy(left = newLeft, right = newRight)
}

object BucketSearch {
  def bucketCol(boundaries: Column, v: Column): Column =
    call_function("graft_bucket_search", boundaries, v)
}
