package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Fused canonical-occurrence dedup + ppjoin positional lookup for the
  * prefix-filter candidate join (Xiao et al., WWW'08 §3.2): given two
  * prefix streams flattened as `array<long>` of (df, tok, pos) TRIPLES
  * sorted by (df, tok) — i.e. by the GLOBAL token order the prefixes
  * were selected under — and the join token `tok`, two-pointer-walk to
  * the first (df, tok)-common entry and return `(posA << 21) | posB`
  * iff that entry IS the join token, else NULL.
  *
  * Why the FIRST common entry in the (df, tok) order carries the tight
  * positional bound: for a pair with J ≥ t, the globally-first common
  * token w* lies in BOTH prefixes (if w* sat outside A's
  * `n − ⌈t·n⌉ + 1`-token prefix, the ≥ ⌈t·|A|⌉ − 1 non-common tokens
  * before it would force |A∩B| < t·|A| ≤ t·|A∪B|, contradicting
  * J ≥ t — the same argument as [[graft.operators.Dedup.prefixTokens]]'s
  * prefix theorem), and every common token of the pair sits at or after
  * w* in each side's order, so
  *   |A∩B| ≤ min(|A| − posA + 1, |B| − posB + 1)
  * with pos the 1-based rank of w* in each side's full (df, tok)-sorted
  * token list. The caller compares that bound against the required
  * overlap ⌈t·(|A|+|B|)/(1+t)⌉ and drops candidates map-side, BEFORE
  * the pair shuffle — a lossless necessary condition evaluated at the
  * exact occurrence the dedup already keeps. (At any OTHER shared
  * token the bound would be unsound, which is why dedup and lookup are
  * fused: a non-NULL return certifies "this join row is the first
  * common entry".)
  *
  * NULL iff either array is NULL, the arrays share no (df, tok) entry,
  * or the first shared entry is not the join token (the non-canonical
  * occurrences the old `graft_sorted_first_common === tok` predicate
  * dropped). Positions are pre-capped by the caller at 2^21 − 1
  * (capping DOWN only ever loosens the bound — lossless; see
  * [[graft.operators.Dedup.prefixTokens]]). df is a count ≥ 1 and tok a
  * signed 64-bit hash; both sides compare with the same signedness, so
  * the lexicographic walk is total.
  */
case class PrefixPositional(pa: Expression, pb: Expression, tok: Expression)
    extends TernaryExpression {

  override def first: Expression = pa
  override def second: Expression = pb
  override def third: Expression = tok

  override def checkInputDataTypes(): TypeCheckResult =
    (pa.dataType, pb.dataType, tok.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r, t) => TypeCheckResult.TypeCheckFailure(
        s"graft_prefix_pos expects (array<long>, array<long>, long), got ($l, $r, $t)")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_prefix_pos"

  override protected def nullSafeEval(a: Any, b: Any, t: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val jt = t.asInstanceOf[Long]
    val nx = x.numElements() / 3
    val ny = y.numElements() / 3
    var i = 0
    var j = 0
    while (i < nx && j < ny) {
      val dfx = x.getLong(3 * i); val dfy = y.getLong(3 * j)
      if (dfx < dfy) i += 1
      else if (dfx > dfy) j += 1
      else {
        val tx = x.getLong(3 * i + 1); val ty = y.getLong(3 * j + 1)
        if (tx < ty) i += 1
        else if (tx > ty) j += 1
        else {
          return if (tx == jt)
            (x.getLong(3 * i + 2) << 21) | y.getLong(3 * j + 2)
          else null
        }
      }
    }
    null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, t) => {
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val dfx = ctx.freshName("dfx")
      val dfy = ctx.freshName("dfy")
      val tx = ctx.freshName("tx")
      val ty = ctx.freshName("ty")
      val done = ctx.freshName("done")
      s"""int $nx = $a.numElements() / 3;
         |int $ny = $b.numElements() / 3;
         |int $i = 0;
         |int $j = 0;
         |boolean $done = false;
         |${ev.isNull} = true;
         |while (!$done && $i < $nx && $j < $ny) {
         |  long $dfx = $a.getLong(3 * $i);
         |  long $dfy = $b.getLong(3 * $j);
         |  if ($dfx < $dfy) { $i++; }
         |  else if ($dfx > $dfy) { $j++; }
         |  else {
         |    long $tx = $a.getLong(3 * $i + 1);
         |    long $ty = $b.getLong(3 * $j + 1);
         |    if ($tx < $ty) { $i++; }
         |    else if ($tx > $ty) { $j++; }
         |    else {
         |      if ($tx == $t) {
         |        ${ev.isNull} = false;
         |        ${ev.value} = ($a.getLong(3 * $i + 2) << 21) | $b.getLong(3 * $j + 2);
         |      }
         |      $done = true;
         |    }
         |  }
         |}""".stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PrefixPositional =
    copy(pa = f, pb = s, tok = t)
}

object PrefixPositional {
  /** Column-API entry: NULL unless the join token is the pair's first
    * common prefix entry; else `(posA << 21) | posB`. */
  def posCol(pa: Column, pb: Column, tok: Column): Column =
    call_function("graft_prefix_pos", pa, pb, tok)
}
