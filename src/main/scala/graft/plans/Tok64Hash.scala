package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd 64-bit token hash — permutation 0 of the
  * minhash/simhash family ([[graft.operators.Dedup]]'s `tokenHash`):
  * the portable code-point ×31 fold ([[Cp31Hash]]) sign-extended to 64
  * bits, xor'd with the golden-ratio seed, then fmix64. A compact
  * injective-in-practice stand-in for the token STRING: two token sets
  * intersect identically on these hashes and on the strings up to
  * 2⁻⁶⁴-scale collisions — the same accepted trade as the md5 chunk
  * fingerprints — which lets the exact-Jaccard verify stages move and
  * compare fixed-width longs instead of variable-width strings.
  *
  * Wrapping 64-bit multiplies live HERE (Java arithmetic) because the
  * session runs ANSI mode, where a Column-level overflow would throw.
  * Bit-parity with `Dedup.minhashSignature(Seq(t), 1)(0)` is pinned in
  * PortableHashSpec.
  */
case class Tok64Hash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_tok64 expects a string argument, got $t")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_tok64"

  override protected def nullSafeEval(s: Any): Any =
    Tok64Hash.hash(s.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.Tok64Hash.hash($a.getBytes());")

  override protected def withNewChildInternal(newChild: Expression): Tok64Hash =
    copy(child = newChild)
}

object Tok64Hash {

  /** The full hash over UTF-8 bytes; shared by eval and codegen (one
    * static call — JIT inlines it, and the two paths cannot drift). */
  def hash(bytes: Array[Byte]): Long = {
    var u = 0L
    var acc = -1L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b >= 128 && b < 192) {
        acc = acc * 64 + (b - 128)
      } else {
        if (acc >= 0) u = (u * 31 + acc) & 0xffffffffL
        acc = if (b < 128) b else if (b < 224) b - 192
              else if (b < 240) b - 224 else b - 240
      }
      i += 1
    }
    if (acc >= 0) u = (u * 31 + acc) & 0xffffffffL
    var h = u.toInt.toLong ^ 0x9e3779b97f4a7c15L // sign-extend, seed perm 0
    h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL
    h ^= (h >>> 33); h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  /** Column-API entry: `tok64Col(c)` ≡ SQL `graft_tok64(c)`. */
  def tok64Col(c: Column): Column = call_function("graft_tok64", c)
}
