package graft

import graft.plans.GraftExtensions

/** The extension is the one way the `graft_*` functions reach a session:
  * a fresh session (its own function registry, no Column-API call made
  * on it) resolves every name from SQL text, and the registry's builders
  * keep their arity checks. */
class GraftExtensionsSpec extends SparkSpec {

  /** name → one SQL call with arguments of the declared types, and the
    * value where it is easy to state by hand. */
  private val calls: Seq[(String, String, Option[Any])] = Seq(
    ("graft_bucket_search", "graft_bucket_search(array(1.0d, 2.0d), 1.5d)", None),
    ("graft_centroid_scores", "graft_centroid_scores(array(array(1.0d, 0.0d)), " +
      "array(7), array(1.0d, 0.0d))", None),
    ("graft_count_equal", "graft_count_equal(array(1L, 2L), array(1L, 3L))", Some(1)),
    ("graft_cp31u", "graft_cp31u('a')", None),
    ("graft_dot", "graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))", Some(11.0)),
    ("graft_dot_id", "graft_dot_id(array(1.0d, 2.0d), array(3, 4))", None),
    ("graft_first_equal_index",
      "graft_first_equal_index(array(1L, 2L), array(3L, 2L))", Some(1)),
    ("graft_hamming", "graft_hamming(array(3L), array(0L))", Some(2)),
    ("graft_hier_argmin", "graft_hier_argmin(named_struct(" +
      "'supers', array(array(0.0d)), 'children', array(array(0.0d)), " +
      "'child_ids', array(5), 'offsets', array(0, 1)), array(1.0d))", Some(5)),
    ("graft_lsh_buckets",
      "graft_lsh_buckets(array(array(array(1.0d))), array(1.0d))", None),
    ("graft_ngram_max_multiplicity",
      "graft_ngram_max_multiplicity(array('a', 'b', 'a', 'b'), 2)", Some(2L)),
    ("graft_pii_redact", "graft_pii_redact('mail a@b.io').n_emails", Some(1L)),
    ("graft_prefix_pos", "graft_prefix_pos(array(1L, 2L), array(2L, 3L), 2L)", None),
    ("graft_qscore", "graft_qscore(array('a'), array(0.5d, 0.5d), 1.0d)", Some(1.5)),
    ("graft_sign_pack", "graft_sign_pack(array(1.0d, -1.0d))[0]", Some(1L)),
    ("graft_sorted_intersect_bounded",
      "graft_sorted_intersect_bounded(array(1L, 2L), array(2L, 3L), 0.1d)", None),
    ("graft_sorted_intersect_size",
      "graft_sorted_intersect_size(array('a', 'b'), array('b', 'c'))", Some(1)),
    ("graft_tok64", "graft_tok64('a')", None))

  test("a fresh session resolves every graft_* name from SQL text") {
    assert(calls.map(_._1).toSet ===
      GraftExtensions.functions.map(_._1.funcName).toSet)
    assert(calls.size === 18)
    val fresh = spark.newSession()
    val row = fresh.sql(calls.map(_._2).mkString("SELECT ", ", ", "")).head()
    calls.zipWithIndex.foreach { case ((name, _, expected), i) =>
      expected.foreach(v => assert(row.get(i) === v, name))
    }
    def arityError(sql: String, message: String): Unit = {
      val e = intercept[Exception](fresh.sql(sql))
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(_.contains(message)), messages.mkString("\n"))
    }
    arityError("SELECT graft_dot(array(1.0d))",
      "graft_dot requires exactly 2 arguments, got 1")
    arityError("SELECT graft_cp31u('a', 'b')",
      "graft_cp31u requires exactly 1 argument, got 2")
  }
}
