package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Native codegen'd hashed-feature linear quality score — the fused
  * form of [[graft.operators.QualityClassifier.scoreFromToks]]:
  *
  *   `bias + (Σ_tokens w[cp31u(token) mod |w|]) / n_tokens`
  *
  * The composable spelling folds an interpreted `aggregate` whose body
  * re-enters [[graft.functions.PortableHash.cp31uCol]] — itself a
  * per-CHARACTER `split("")` + interpreted fold — so every token of
  * every document pays a regex split, an array allocation, and ~len
  * interpreted expression evaluations. The r13 sf100 A/B showed the
  * r12-style "stage the outer split" fix was a wash (~250 s either
  * way) precisely because the per-token interior dominates; this
  * expression runs the whole thing as one primitive loop (the
  * [[Cp31Hash]] UTF-8 byte fold inlined per token, a direct double[]
  * lookup, one left-to-right double accumulation) inside whole-stage
  * codegen.
  *
  * Bit parity with the composable form (pinned in QualityClassifierSpec
  * and the unchanged q_quality_classifier oracle): same hash, same
  * 0-based `h mod |w|` bucket, same accumulation order, same
  * `bias + s/n` final arithmetic — an empty token array divides 0/0
  * into NaN exactly as `aggregate(...)/size(...)` does, and any null
  * token or weight yields NULL exactly as null propagation through the
  * fold does.
  */
case class QualityScore(first: Expression, second: Expression,
                        third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(_: StringType, _), ArrayType(DoubleType, _), DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"graft_qscore expects (array<string>, array<double>, double), got ($a, $b, $c)")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_qscore"

  override def nullable: Boolean = true

  override protected def nullSafeEval(toksAny: Any, wAny: Any, biasAny: Any): Any = {
    val toks = toksAny.asInstanceOf[ArrayData]
    val w = wAny.asInstanceOf[ArrayData]
    val bias = biasAny.asInstanceOf[Double]
    val nb = w.numElements()
    val n = toks.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      val bytes = toks.getUTF8String(i).getBytes
      var h = 0L
      var acc = -1L
      var j = 0
      while (j < bytes.length) {
        val b = bytes(j) & 0xff
        if (b >= 128 && b < 192) {
          acc = acc * 64 + (b - 128)
        } else {
          if (acc >= 0) h = (h * 31 + acc) & 0xffffffffL
          acc = if (b < 128) b else if (b < 224) b - 192
                else if (b < 240) b - 224 else b - 240
        }
        j += 1
      }
      if (acc >= 0) h = (h * 31 + acc) & 0xffffffffL
      val idx = (h % nb).toInt
      if (w.isNullAt(idx)) return null
      s += w.getDouble(idx)
      i += 1
    }
    bias + s / n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, w, bias) => {
      val n = ctx.freshName("n")
      val nb = ctx.freshName("nb")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val bts = ctx.freshName("bts")
      val h = ctx.freshName("h")
      val acc = ctx.freshName("acc")
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val idx = ctx.freshName("idx")
      s"""
         |int $n = $toks.numElements();
         |int $nb = $w.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($toks.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  byte[] $bts = $toks.getUTF8String($i).getBytes();
         |  long $h = 0L;
         |  long $acc = -1L;
         |  for (int $j = 0; $j < $bts.length; $j++) {
         |    int $b = $bts[$j] & 0xFF;
         |    if ($b >= 128 && $b < 192) {
         |      $acc = $acc * 64L + ($b - 128);
         |    } else {
         |      if ($acc >= 0L) { $h = ($h * 31L + $acc) & 0xFFFFFFFFL; }
         |      $acc = $b < 128 ? $b : ($b < 224 ? $b - 192 : ($b < 240 ? $b - 224 : $b - 240));
         |    }
         |  }
         |  if ($acc >= 0L) { $h = ($h * 31L + $acc) & 0xFFFFFFFFL; }
         |  int $idx = (int) ($h % $nb);
         |  if ($w.isNullAt($idx)) { ${ev.isNull} = true; break; }
         |  $s += $w.getDouble($idx);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $bias + $s / $n; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): QualityScore =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object QualityScore {
  /** Column-API entry: `scoreCol(toks, w, bias)` ≡ SQL
    * `graft_qscore(toks, w, bias)`. */
  def scoreCol(toks: Column, w: Column, bias: Column): Column =
    call_function("graft_qscore", toks, w, bias)
}
