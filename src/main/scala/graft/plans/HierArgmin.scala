package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Two-level (hierarchical) nearest-centroid assignment as ONE fused
  * expression: `graft_hier_argmin(config, vec)` → the child `list_id`
  * (int, nullable).
  *
  * `config` is a foldable struct literal
  * `(supers, children, child_ids, offsets)`:
  *  - `supers`: the super-centroid matrix, ordered by ascending
  *    super id (only supers with ≥ 1 child — empty branches are
  *    excluded by the caller so the argmin can never strand a row);
  *  - `children`: the child-centroid matrix flattened branch-by-branch
  *    in super order, children within a branch ordered by ascending
  *    child id;
  *  - `child_ids`: the child list_id for each `children` row;
  *  - `offsets`: branch start indices into `children`
  *    (length = #supers + 1).
  *
  * Semantics (identical on both engines, replayed by the DuckDB
  * oracle's `hbranch`/`vsup` CTE chain): level 1 picks the super
  * minimizing `d2 = (v·v + s·s) − 2·(v·s)` with ties to the SMALLER
  * super id (strict `<` over the id-ordered matrix); level 2 repeats
  * the argmin over that branch's children only, ties to the smaller
  * child id. All dot products are left-to-right sequential folds — the
  * [[DotProduct]]/[[CentroidScores]] contract, ≡ DuckDB
  * `list_dot_product` — so the chosen ids are bit-reproducible.
  *
  * Why fused rather than two [[CentroidScores]] passes + a CASE chain
  * over branches: a per-branch CASE WHEN grows the generated method
  * with the branch count (the same Janino cliff the 1024-literal
  * scorer hit at the sf100 probe); here the matrices attach once as
  * reference objects and both levels run in one primitive loop, so the
  * expression's codegen size is constant in k.
  *
  * Null contract (the [[CentroidScores]] precedent): a null vector or
  * any null element → null (the row drops at the downstream join);
  * a centroid whose length mismatches the vector is skipped; if every
  * super (or every child in the chosen branch) mismatches → null.
  * Degenerate-input behavior only — real corpora have fixed dims —
  * and spec-pinned in HierQuantizerSpec.
  */
case class HierArgmin(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    // containsNull-insensitive shape checks (typedLit of Scala Seqs
    // yields containsNull=false; a column-built struct would not)
    def isMat(t: DataType): Boolean = t match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    def isInts(t: DataType): Boolean = t match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    (left.dataType, right.dataType) match {
      case (StructType(fs), ArrayType(DoubleType, _))
          if left.foldable && fs.length == 4 &&
            isMat(fs(0).dataType) && isMat(fs(1).dataType) &&
            isInts(fs(2).dataType) && isInts(fs(3).dataType) =>
        TypeCheckResult.TypeCheckSuccess
      case (c, v) => TypeCheckResult.TypeCheckFailure(
        "graft_hier_argmin expects (foldable struct<supers: array<array<double>>, " +
          "children: array<array<double>>, child_ids: array<int>, " +
          s"offsets: array<int>>, array<double>), got ($c, $v)")
    }
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_hier_argmin"

  @transient private lazy val cfg: HierArgmin.Config = {
    val row = left.eval().asInstanceOf[InternalRow]
    def mat(a: ArrayData): Array[Array[Double]] = {
      val out = new Array[Array[Double]](a.numElements())
      var i = 0
      while (i < out.length) { out(i) = a.getArray(i).toDoubleArray(); i += 1 }
      out
    }
    def norms(m: Array[Array[Double]]): Array[Double] =
      m.map { c => // same left-to-right fold as graft_dot(c, c)
        var s = 0.0; var i = 0
        while (i < c.length) { s += c(i) * c(i); i += 1 }
        s
      }
    val supers = mat(row.getArray(0))
    val kids = mat(row.getArray(1))
    val kidIds = row.getArray(2).toIntArray()
    val offsets = row.getArray(3).toIntArray()
    require(offsets.length == supers.length + 1 &&
      kidIds.length == kids.length && offsets.last == kids.length,
      s"graft_hier_argmin: inconsistent config (${supers.length} supers, " +
        s"${kids.length} children, ${kidIds.length} ids, " +
        s"offsets ${offsets.mkString(",")})")
    HierArgmin.Config(supers, norms(supers), kids, norms(kids), kidIds, offsets)
  }

  override protected def nullSafeEval(c: Any, v: Any): Any =
    cfg.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hierCfg", cfg, classOf[HierArgmin.Config].getName)
    nullSafeCodeGen(ctx, ev, (_, v) => {
      s"""java.lang.Integer ${ev.value}_r = $ref.compute($v);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.intValue(); }""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HierArgmin = copy(left = l, right = r)
}

object HierArgmin {

  /** Unpacked matrices, shared by eval and codegen (attached once as a
    * reference object). */
  case class Config(supers: Array[Array[Double]], sNorms: Array[Double],
                    kids: Array[Array[Double]], kNorms: Array[Double],
                    kidIds: Array[Int], offsets: Array[Int]) {

    def compute(vec: ArrayData): java.lang.Integer = {
      val n = vec.numElements()
      var vv = 0.0
      var i = 0
      while (i < n) {
        if (vec.isNullAt(i)) return null
        vv += vec.getDouble(i) * vec.getDouble(i)
        i += 1
      }
      // level 1: nearest super (strict < over the id-ordered matrix ⇒
      // ties resolve to the smaller super id)
      var bestS = -1
      var bestSd2 = 0.0
      var s = 0
      while (s < supers.length) {
        val sv = supers(s)
        if (sv.length == n) {
          var d = 0.0
          var x = 0
          while (x < n) { d += vec.getDouble(x) * sv(x); x += 1 }
          val d2 = (vv + sNorms(s)) - (2.0 * d)
          if (bestS < 0 || d2 < bestSd2) { bestS = s; bestSd2 = d2 }
        }
        s += 1
      }
      if (bestS < 0) return null
      // level 2: nearest child within the branch (children id-ordered)
      var bestJ = -1
      var bestJd2 = 0.0
      var j = offsets(bestS)
      while (j < offsets(bestS + 1)) {
        val cv = kids(j)
        if (cv.length == n) {
          var d = 0.0
          var x = 0
          while (x < n) { d += vec.getDouble(x) * cv(x); x += 1 }
          val d2 = (vv + kNorms(j)) - (2.0 * d)
          if (bestJ < 0 || d2 < bestJd2) { bestJ = j; bestJd2 = d2 }
        }
        j += 1
      }
      if (bestJ < 0) null else java.lang.Integer.valueOf(kidIds(bestJ))
    }
  }

  /** Column-API entry. */
  def argminCol(config: Column, vec: Column): Column =
    call_function("graft_hier_argmin", config, vec)
}
