package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** [[SortedIntersectSize]] with a Jaccard-threshold early abort — the
  * verify kernel of `minhashLshPairs`, where the r13 sf100 stage split
  * measured the exact-verify evaluation over 3.58B gate survivors as
  * one of the two attackable stage costs (BASELINE.md r13).
  *
  * Semantics: for sorted distinct arrays a, b and threshold t, returns
  * the EXACT intersection size I whenever the downstream Jaccard
  * filter `I/(|a|+|b|-I) >= t` could pass, and -1 (an impossible
  * size, so any Jaccard computed from it is negative and fails the
  * same filter) as soon as the merge can PROVE it cannot:
  * `c + min(remaining_a, remaining_b)` is a monotone upper bound on
  * the final I, and x ↦ x/(C−x) is monotone, so the first moment the
  * bound drops below the minimal passing size M* the pair is dead.
  * M* is found by the SAME double comparison the downstream filter
  * uses (fp rounding is monotone, so fp(J_I) ≤ fp(J_max) — a pair is
  * aborted only if its final fp Jaccard would have failed), which
  * makes `where(jaccard >= t)` over this expression return the
  * IDENTICAL row set as over [[SortedIntersectSize]]: swapping the
  * kernel changes no answer (property-pinned in LlmOperatorsSpec).
  *
  * The abort also subsumes the classic length filter at step 0:
  * min(|a|, |b|) < M* kills a size-mismatched pair before a single
  * comparison. Null array → NULL; null elements end the scan exactly
  * as in [[SortedIntersectSize]] (the bound stays valid — it only
  * ever over-estimates the remaining matches).
  */
case class SortedIntersectBounded(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r, t) => TypeCheckResult.TypeCheckFailure(
        s"graft_sorted_intersect_bounded expects (array<long>, array<long>, double), got ($l, $r, $t)")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_sorted_intersect_bounded"

  override protected def nullSafeEval(a: Any, b: Any, tAny: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val t = tAny.asInstanceOf[Double]
    val nx = x.numElements()
    val ny = y.numElements()
    val mStar = SortedIntersectBounded.minPassing(nx + ny, t)
    var i = 0
    var j = 0
    var c = 0
    while (i < nx && j < ny && !x.isNullAt(i) && !y.isNullAt(j)) {
      if (c + math.min(nx - i, ny - j) < mStar) return -1
      val cmp = java.lang.Long.compare(x.getLong(i), y.getLong(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, t) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val cTot = ctx.freshName("cTot")
      val mStar = ctx.freshName("mStar")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      val cls = classOf[SortedIntersectBounded].getName
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $cTot = $nx + $ny;
         |int $mStar = $cls$$.MODULE$$.minPassing($cTot, $t);
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny && !$a.isNullAt($i) && !$b.isNullAt($j)) {
         |  if ($c + java.lang.Math.min($nx - $i, $ny - $j) < $mStar) { $c = -1; break; }
         |  int $cmp = java.lang.Long.compare($a.getLong($i), $b.getLong($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SortedIntersectBounded =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SortedIntersectBounded {

  /** Smallest integer M in [0, C] whose fp Jaccard M/(C-M) passes
    * >= t (the SAME double comparison the downstream filter runs);
    * 1 for C == 0 (J = 0/0 = NaN fails, so the empty pair aborts).
    * Called from generated code, so it lives on the companion. */
  def minPassing(c: Int, t: Double): Int = {
    if (c == 0) return 1
    var m = math.max(0, math.min(c, math.ceil(t * c / (1.0 + t)).toInt - 2))
    def passes(x: Int): Boolean =
      if (x >= c) true // C/(0) = +Inf >= t for C > 0
      else x.toDouble / (c - x) >= t
    while (m <= c && !passes(m)) m += 1
    while (m > 0 && passes(m - 1)) m -= 1
    m
  }

  def boundedCol(a: Column, b: Column, t: Column): Column =
    call_function("graft_sorted_intersect_bounded", a, b, t)
}
