package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.unsafe.types.UTF8String

/** Native max n-gram multiplicity of a TOKEN array: the count of the
  * most-repeated word n-gram in one document, computed entirely inside
  * the row.
  *
  * The Gopher-style repetition signal (`q_text_repetition`) needs, per
  * document, the frequency of its top bigram. The original formulation
  * exploded every bigram occurrence into a corpus-wide
  * `groupBy(doc_id, gram)` — a full gram shuffle plus a join back,
  * ~O(corpus tokens) rows over the wire — for a statistic that never
  * leaves the document. This expression keeps it row-local: sort the
  * n-gram START POSITIONS of the doc's own token array (comparing token
  * tuples in place — the gram strings are never materialized, unlike
  * `wordNgrams`' interpreted per-element lambda) and take the longest
  * run of equal neighbors. Two adjacent-token tuples are equal iff
  * their space-joined gram strings are equal (whitespace-split tokens
  * cannot contain spaces), so the result is bit-identical to the
  * explode → count → max formulation.
  *
  * Semantics: null token array → NULL; fewer than n tokens → 0 (the
  * "no grams" case, matching `wordNgrams`' empty array); otherwise
  * ≥ 1. Null ELEMENTS (impossible from `split`, but defended) compare
  * as a distinct smallest token. n must be a foldable positive int.
  */
case class NgramMaxMultiplicity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure(
            "graft_ngram_max_multiplicity: n must be foldable")
        else if (right.eval() == null ||
          right.eval().asInstanceOf[Int] < 1)
          TypeCheckResult.TypeCheckFailure(
            "graft_ngram_max_multiplicity: n must be a positive int literal")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_ngram_max_multiplicity expects (array<string>, int), got ($l, $r)")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_ngram_max_multiplicity"

  override protected def nullSafeEval(toks: Any, n: Any): Any =
    NgramMaxMultiplicity.maxMult(
      toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (toks, n) => {
      s"${ev.value} = graft.plans.NgramMaxMultiplicity.maxMult($toks, $n);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramMaxMultiplicity =
    copy(left = newLeft, right = newRight)
}

object NgramMaxMultiplicity {

  /** Shared by eval and codegen (one static call — JIT inlines it, and
    * the two paths cannot drift). Sorts gram start indices with an
    * in-place token-tuple comparator, then scans the longest equal run. */
  def maxMult(toks: ArrayData, n: Int): Long = {
    val m = toks.numElements()
    val k = m - n + 1
    if (k <= 0) return 0L
    // snapshot element refs once: ArrayData.getUTF8String materializes a
    // view per call, and the comparator touches each token O(log k) times
    val ts = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      ts(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      i += 1
    }
    if (k == 1) return 1L
    val idx = new Array[Integer](k)
    i = 0
    while (i < k) { idx(i) = Integer.valueOf(i); i += 1 }
    java.util.Arrays.sort(idx, new java.util.Comparator[Integer] {
      override def compare(a: Integer, b: Integer): Int =
        cmpGram(ts, a.intValue(), b.intValue(), n)
    })
    var best = 1L
    var run = 1L
    i = 1
    while (i < k) {
      if (cmpGram(ts, idx(i - 1).intValue(), idx(i).intValue(), n) == 0) {
        run += 1
        if (run > best) best = run
      } else run = 1L
      i += 1
    }
    best
  }

  /** Lexicographic compare of the n-token tuples starting at a and b;
    * a null token sorts before every string and equals only null. */
  private def cmpGram(ts: Array[UTF8String], a: Int, b: Int, n: Int): Int = {
    var j = 0
    while (j < n) {
      val x = ts(a + j)
      val y = ts(b + j)
      val c =
        if (x eq y) 0
        else if (x == null) -1
        else if (y == null) 1
        else x.compareTo(y)
      if (c != 0) return c
      j += 1
    }
    0
  }

  /** Column-API entry: `maxMultCol(toks, n)` ≡ SQL
    * `graft_ngram_max_multiplicity(toks, n)`. */
  def maxMultCol(toks: Column, n: Int): Column =
    call_function("graft_ngram_max_multiplicity", toks, lit(n))
}
