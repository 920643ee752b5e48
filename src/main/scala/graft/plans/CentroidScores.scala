package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Per-centroid squared-distance scores of a vector against a literal
  * centroid set, as ONE fused expression:
  * `graft_centroid_scores(centroids, ids, vec)` →
  * `array<struct<d2: double, id: int>>` in centroid order, with
  * `d2 = (v·v + c·c) − 2·(v·c)` (all left-to-right sequential folds).
  *
  * The composable form — `array()` of one broadcast-literal struct per
  * centroid — is identical semantically but stops compiling at scale:
  * with the auto-sized quantizer at 1024 lists the generated
  * aggregate method exceeds Janino's limits
  * (`InternalCompilerException` on `hashAgg_doAggregateWithKeys`,
  * observed at the sf100 probe with 2M vectors) and the whole stage
  * silently falls back to interpreted evaluation. This expression
  * walks the centroid matrix (attached once as reference objects) in a
  * tight primitive loop shared by eval and codegen; downstream
  * `array_min` (assignment argmin) and `array_sort` + `slice` (probe
  * selection) consume the identical struct values the old form
  * produced, so the DuckDB Lloyd-replay oracles are unaffected.
  *
  * Null parity with the old per-centroid structs: a null vector
  * element nulls every d2 (the dot AND v·v are null in the old form);
  * a centroid whose length mismatches the vector gets a null d2; ids
  * ride alongside untouched. A whole-vector NULL yields NULL (old:
  * an array of null-d2 structs) — degenerate-input divergence only,
  * spec-pinned.
  */
case class CentroidScores(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _),
            ArrayType(DoubleType, _)) if first.foldable && second.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (c, i, v) => TypeCheckResult.TypeCheckFailure(
        "graft_centroid_scores expects (foldable array<array<double>>, " +
          s"foldable array<int>, array<double>), got ($c, $i, $v)")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("d2", DoubleType, nullable = true),
      StructField("id", IntegerType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_centroid_scores"

  @transient private lazy val (cents, ccs, ids) = {
    val cd = first.eval().asInstanceOf[ArrayData]
    val id = second.eval().asInstanceOf[ArrayData]
    val k = cd.numElements()
    require(id.numElements() == k,
      s"graft_centroid_scores: ${id.numElements()} ids for $k centroids")
    val cs = new Array[Array[Double]](k)
    val cc = new Array[Double](k)
    var j = 0
    while (j < k) {
      cs(j) = cd.getArray(j).toDoubleArray()
      // same left-to-right fold as the Column-side graft_dot(c, c)
      var s = 0.0
      var i = 0
      while (i < cs(j).length) { s += cs(j)(i) * cs(j)(i); i += 1 }
      cc(j) = s
      j += 1
    }
    (cs, cc, id.toIntArray())
  }

  override protected def nullSafeEval(c: Any, i: Any, v: Any): Any =
    CentroidScores.compute(cents, ccs, ids, v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", cents, "double[][]")
    val ccRef = ctx.addReferenceObj("centroidNorms", ccs, "double[]")
    val idRef = ctx.addReferenceObj("centroidIds", ids, "int[]")
    nullSafeCodeGen(ctx, ev, (_, _, v) => {
      s"${ev.value} = graft.plans.CentroidScores.compute($cRef, $ccRef, $idRef, $v);"
    })
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CentroidScores =
    copy(first = f, second = s, third = t)
}

object CentroidScores {

  /** Shared by eval and codegen. */
  def compute(cents: Array[Array[Double]], ccs: Array[Double], ids: Array[Int],
              vec: ArrayData): GenericArrayData = {
    val n = vec.numElements()
    // v·v — null if any element is null (the old form's vv column was
    // graft_dot(vec, vec), which nulls on a null element)
    var vvNull = false
    var vv = 0.0
    var i = 0
    while (i < n && !vvNull) {
      if (vec.isNullAt(i)) vvNull = true
      else { vv += vec.getDouble(i) * vec.getDouble(i); i += 1 }
    }
    val out = new Array[AnyRef](cents.length)
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      val d2: Any =
        if (vvNull || c.length != n) null
        else {
          var s = 0.0
          var x = 0
          while (x < n) { s += vec.getDouble(x) * c(x); x += 1 }
          // mirrors col("vv") + lit(cc) - lit(2.0) * dot: (vv + cc) - (2.0 * s)
          (vv + ccs(j)) - (2.0 * s)
        }
      out(j) = new GenericInternalRow(
        Array[Any](d2, ids(j))).asInstanceOf[AnyRef]
      j += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  /** Column-API entry. */
  def scoresCol(cents: Column, ids: Column, vec: Column): Column =
    call_function("graft_centroid_scores", cents, ids, vec)
}
