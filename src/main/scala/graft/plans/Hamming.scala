package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Hamming distance between two packed bit signatures
  * ([[SignPack]] output): Σ popcount(a[w] xor b[w]) — the coarse
  * scorer of the 1-bit ANN path, d/64 word ops per candidate pair
  * inside whole-stage codegen (Long.bitCount is a JIT popcnt
  * intrinsic). Length mismatch is a contract violation and fails
  * loudly (two corpora packed at different dimensions must never
  * silently compare). */
case class Hamming(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"graft_hamming expects (array<long>, array<long>), got ($a, $b)")
    }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_hamming"

  override def nullable: Boolean = true

  override protected def nullSafeEval(aAny: Any, bAny: Any): Any = {
    val a = aAny.asInstanceOf[ArrayData]
    val b = bAny.asInstanceOf[ArrayData]
    Hamming.dist(a, b): java.lang.Integer
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.Hamming.dist($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Hamming =
    copy(left = newLeft, right = newRight)
}

object Hamming {

  def dist(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"graft_hamming: signature lengths differ ($n vs ${b.numElements()})")
    var h = 0
    var i = 0
    while (i < n) {
      h += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    h
  }

  def distCol(a: Column, b: Column): Column =
    call_function("graft_hamming", a, b)
}
