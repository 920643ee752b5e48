package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** All LSH hyperplane bucket ids of a vector in ONE fused expression:
  * `graft_lsh_buckets(planes, vec)` → `array<long>` with one
  * `(table << 32) | signBits` entry per table.
  *
  * The composable form — 64 separate `when(graft_dot(lit, vec) > 0)`
  * nodes OR-folded per table — is semantically identical but
  * catastrophically slower at scale: the 64-node tree blows past the
  * generated-method size budget, falling out of whole-stage codegen
  * into interpreted evaluation where the `array<float>` → `array<double>`
  * cast and the literal plane arrays re-materialize per dot product
  * (measured 56 s for 200k × 64-dim vectors at the sf10 bench — ~70 ns
  * per multiply-add). This expression walks the plane matrix (attached
  * once as a reference object) in a tight primitive loop shared by the
  * eval and codegen paths.
  *
  * Bit parity with the composable form (the DuckDB oracle replays the
  * LCG planes in SQL): left-to-right double accumulation per plane,
  * strict `> 0` sign test, and a dot whose plane/vector lengths
  * mismatch or that meets a null element sets no bit — exactly the
  * `when(null > 0)` = false behavior of the former chain. One
  * DELIBERATE divergence: a whole-vector NULL yields NULL (the vector
  * drops out of LSH at the explode) instead of the old chain's
  * tag-only buckets, which collided every null vector into the same
  * candidate sets.
  *
  * `planes` must be a foldable literal (`typedLit` of the t × b × dim
  * matrix); the vector side is the only per-row input.
  */
case class LshBuckets(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(ArrayType(DoubleType, _), _), _),
            ArrayType(DoubleType, _)) if left.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "graft_lsh_buckets expects (foldable array<array<array<double>>>, " +
          s"array<double>), got ($l, $r, foldable=${left.foldable})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_lsh_buckets"

  // one flat double[t*b][dim] view of the literal plane matrix, built once
  @transient private lazy val (flatPlanes, nTables, nBits) = {
    val pd = left.eval().asInstanceOf[ArrayData]
    val nt = pd.numElements()
    val tables = (0 until nt).map(pd.getArray)
    val nb = if (nt > 0) tables.head.numElements() else 0
    val flat = new Array[Array[Double]](nt * nb)
    var t = 0
    while (t < nt) {
      require(tables(t).numElements() == nb,
        "graft_lsh_buckets: ragged plane matrix")
      var b = 0
      while (b < nb) {
        flat(t * nb + b) = tables(t).getArray(b).toDoubleArray()
        b += 1
      }
      t += 1
    }
    (flat, nt, nb)
  }

  override protected def nullSafeEval(p: Any, v: Any): Any =
    LshBuckets.compute(flatPlanes, nTables, nBits, v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshPlanes", flatPlanes, "double[][]")
    val nt = nTables
    val nb = nBits
    nullSafeCodeGen(ctx, ev, (_, v) => {
      s"${ev.value} = graft.plans.LshBuckets.compute($ref, $nt, $nb, $v);"
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshBuckets =
    copy(left = newLeft, right = newRight)
}

object LshBuckets {

  /** Shared by eval and codegen (one static call — JIT inlines it, and
    * the two paths cannot drift). */
  def compute(flat: Array[Array[Double]], nt: Int, nb: Int,
              vec: ArrayData): GenericArrayData = {
    val n = vec.numElements()
    val out = new Array[Long](nt)
    var t = 0
    while (t < nt) {
      var bucket = t.toLong << 32
      var b = 0
      while (b < nb) {
        val p = flat(t * nb + b)
        if (p.length == n) {
          var s = 0.0
          var ok = true
          var i = 0
          while (i < n && ok) {
            if (vec.isNullAt(i)) ok = false
            else { s += p(i) * vec.getDouble(i); i += 1 }
          }
          if (ok && s > 0.0) bucket |= 1L << b
        }
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API entry: `bucketsCol(planesLit, vec)` ≡ SQL
    * `graft_lsh_buckets(planesLit, vec)`. */
  def bucketsCol(planes: Column, vec: Column): Column =
    call_function("graft_lsh_buckets", planes, vec)
}
