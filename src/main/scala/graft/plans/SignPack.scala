package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** 1-bit (sign) embedding quantization: pack the sign bits of a double
  * vector into ⌈d/64⌉ longs — bit `i mod 64` of word `i / 64` is set
  * iff `vec[i] > 0` (ties at 0.0 and −0.0 are 0; no-NaN ingest
  * contract). 64× smaller than the float64 vector, 32× smaller than
  * the float32 source column: at 100 TB the coarse-scoring scan reads
  * signatures, not vectors, and [[Hamming]] scores a candidate with
  * d/64 xor+popcount word ops instead of d multiplies.
  *
  * Sign-random-projection fact (public: Charikar 2002): for unit-ish
  * vectors, P[sign bit differs] = θ/π per RANDOM hyperplane; packing
  * the raw components is the degenerate axis-aligned variant — exactly
  * what [[graft.operators.Similarity.hammingTopK]] wants as the coarse
  * stage because the oracle can replay it bit-for-bit (no hyperplane
  * table to ship), with the exact re-rank restoring precision.
  *
  * Deterministic integer output → the DuckDB oracle rebuilds each word
  * as Σ CASE WHEN vec[i] > 0 THEN 2^(i mod 64) END in HUGEINT and
  * re-signs to BIGINT (the fmix64 precedent). */
case class SignPack(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_sign_pack expects array<double>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_sign_pack"

  override def nullable: Boolean = true

  override protected def nullSafeEval(vAny: Any): Any =
    SignPack.pack(vAny.asInstanceOf[ArrayData])

  // pack() returns null on a null vector element (the documented
  // contract) — the generated code must propagate that as isNull, not
  // hand UnsafeRow writers a null ArrayData (the HierArgmin pattern).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""org.apache.spark.sql.catalyst.util.ArrayData ${ev.value}_r =
         |  graft.plans.SignPack.pack($c);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r; }""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SignPack =
    copy(child = newChild)
}

object SignPack {

  /** Null vector elements are a contract violation → null result
    * (matches the repo-wide null-vv drop convention upstream). */
  def pack(v: ArrayData): ArrayData = {
    val d = v.numElements()
    val words = new Array[Long]((d + 63) >>> 6)
    var i = 0
    while (i < d) {
      if (v.isNullAt(i)) return null
      if (v.getDouble(i) > 0.0) words(i >>> 6) |= (1L << (i & 63))
      i += 1
    }
    new GenericArrayData(words)
  }

  def packCol(v: Column): Column = call_function("graft_sign_pack", v)
}
