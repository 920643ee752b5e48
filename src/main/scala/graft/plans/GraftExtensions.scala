package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension installing graft's native expressions: every
  * `graft_*` function in [[GraftExtensions.functions]].
  *
  * A session gets them in one way only, through the static config
  * {{{
  *   .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  * which `graft.Session` sets; `spark.newSession()` inherits it. The
  * kernels' `…Col` helpers are plain `call_function`s that resolve the
  * name in the session's registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** One registry entry: the SQL name, the `ExpressionInfo` of the class
    * the constructor builds, and a builder that checks the arity. */
  private def fn[E <: Expression](name: String, arity: Int)(
      make: Seq[Expression] => E)(implicit tag: ClassTag[E])
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = {
    val builder = (children: Seq[Expression]) => {
      require(children.size == arity, s"$name requires exactly $arity " +
        s"argument${if (arity == 1) "" else "s"}, got ${children.size}")
      make(children)
    }
    (FunctionIdentifier(name), new ExpressionInfo(tag.runtimeClass.getName, name),
      builder)
  }

  /** Every native function, declared once. A new kernel is one entry. */
  val functions = Seq(
    fn("graft_bucket_search", 2)(c => BucketSearch(c(0), c(1))),
    fn("graft_centroid_scores", 3)(c => CentroidScores(c(0), c(1), c(2))),
    fn("graft_count_equal", 2)(c => CountEqual(c(0), c(1))),
    fn("graft_cp31u", 1)(c => Cp31Hash(c(0))),
    fn("graft_dot", 2)(c => DotProduct(c(0), c(1))),
    fn("graft_dot_id", 2)(c => DotIntDouble(c(0), c(1))),
    fn("graft_first_equal_index", 2)(c => FirstEqualIndex(c(0), c(1))),
    fn("graft_hamming", 2)(c => Hamming(c(0), c(1))),
    fn("graft_hier_argmin", 2)(c => HierArgmin(c(0), c(1))),
    fn("graft_lsh_buckets", 2)(c => LshBuckets(c(0), c(1))),
    fn("graft_ngram_max_multiplicity", 2)(c => NgramMaxMultiplicity(c(0), c(1))),
    fn("graft_pii_redact", 1)(c => PiiRedact(c(0))),
    fn("graft_prefix_pos", 3)(c => PrefixPositional(c(0), c(1), c(2))),
    fn("graft_qscore", 3)(c => QualityScore(c(0), c(1), c(2))),
    fn("graft_sign_pack", 1)(c => SignPack(c(0))),
    fn("graft_sorted_intersect_bounded", 3)(
      c => SortedIntersectBounded(c(0), c(1), c(2))),
    fn("graft_sorted_intersect_size", 2)(c => SortedIntersectSize(c(0), c(1))),
    fn("graft_tok64", 1)(c => Tok64Hash(c(0))))
}
