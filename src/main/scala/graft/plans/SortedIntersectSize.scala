package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Native codegen'd intersection COUNT of two SORTED, DISTINCT
  * `array<string>` (or `array<long>`) columns.
  *
  * `size(array_intersect(a, b))` builds a hash set of one side per row —
  * per-pair allocation plus string hashing — and that verify step is the
  * dominant cost of the exact-Jaccard stage in
  * [[graft.operators.Dedup.jaccardPairs]]/`minhashLshPairs`, which runs
  * it on millions of candidate pairs while each document's token array is
  * reused across many pairs. Pre-sorting each array ONCE per document
  * (amortized) turns the per-pair step into an allocation-free two-pointer
  * merge over binary string comparisons, inside whole-stage codegen.
  *
  * Inputs MUST be sorted ascending in UTF8 binary order with no
  * duplicates (`array_sort(array_distinct(...))` produces exactly this);
  * then the count equals `size(array_intersect(a, b))` exactly for
  * null-free arrays. Null array → NULL. Null ELEMENTS end the scan
  * (array_sort places them last, so a null marks the end of the sorted
  * prefix): nulls are never counted as matching — the one deliberate
  * deviation from array_intersect, which treats null∩null as a member.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_sorted_intersect_size expects two array<string> or two array<long> columns, got ($l, $r)")
    }

  private def isLong: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == LongType

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_sorted_intersect_size"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var c = 0
    val long = isLong
    while (i < nx && j < ny && !x.isNullAt(i) && !y.isNullAt(j)) {
      val cmp =
        if (long) java.lang.Long.compare(x.getLong(i), y.getLong(j))
        else x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      val cmpExpr =
        if (isLong) s"java.lang.Long.compare($a.getLong($i), $b.getLong($j))"
        else s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny && !$a.isNullAt($i) && !$b.isNullAt($j)) {
         |  int $cmp = $cmpExpr;
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Column-API entry: `intersectSizeCol(a, b)` ≡ SQL
    * `graft_sorted_intersect_size(a, b)`. */
  def intersectSizeCol(a: Column, b: Column): Column =
    call_function("graft_sorted_intersect_size", a, b)
}
