package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan

import graft.functions.TextAnalysis
import graft.plans.PiiRedact

/** Pins the fused PII kernel (graft_pii_redact) to the composable
  * six-expression form it replaced: identical struct on adversarial
  * boundary cases (the count/replace divergences the fusion must
  * PRESERVE, not fix), nulls, off-BMP text, and a generated corpus;
  * and pins the plan to ONE kernel evaluation feeding all four output
  * columns (CollapseProject must not re-inline the non-cheap alias). */
class PiiRedactSpec extends SparkSpec {
  import spark.implicits._

  private def bothForms(texts: Seq[String]) = {
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, Option(t)) }
      .toDF("doc_id", "text")
    val (red, ne, ni, np) = TextAnalysis.redactPii(col("text"))
    val composable = df
      .select(col("doc_id"), ne.as("n_emails"), ni.as("n_ips"),
        np.as("n_phones"), red.as("redacted_text"))
      .orderBy("doc_id").collect().toSeq
    val fused = df
      .withColumn("pii", TextAnalysis.redactPiiFused(col("text")))
      .select(col("doc_id"), col("pii.n_emails").as("n_emails"),
        col("pii.n_ips").as("n_ips"), col("pii.n_phones").as("n_phones"),
        col("pii.redacted_text").as("redacted_text"))
      .orderBy("doc_id").collect().toSeq
    (composable, fused)
  }

  test("fused == composable on adversarial boundary cases") {
    val texts = Seq(
      // plain hits, one of each kind
      "mail a@b.co ip 10.1.2.3 phone +1-555-0199 end",
      // IP swallowed by the email's local part (email wins, no IP count)
      "1.2.3.4@x.com",
      // the boundary-surfacing case: the original has NO \b before the
      // digits (d-4 are both word chars) so n_ips = 0, but replacing
      // the email yields <EMAIL>4.5.6.7 where >-4 IS a boundary, so the
      // sequential replace DOES scrub it — count and token disagree by
      // contract, and the fusion must reproduce exactly that
      "a@b.cd4.5.6.7",
      // phone digits adjacent to a replaced span
      "x@y.zz+1-555-0199",
      // multiple matches of one kind, greedy host backtracking
      "a@b.cd c@d.ef 1.1.1.1 2.2.2.2 +44-202-555-0100 +1-555-0199",
      // no PII at all (the 3-scan fast path)
      "just words and 123 numbers 1.2 not.an.ip",
      // empty and whitespace
      "", "   ",
      // off-BMP text around a hit (UTF-8 decode parity)
      "😀 emoji a@b.co 😀 10.0.0.1",
      // null text propagates null
      null,
      // dots and hyphens stressing the host charset
      "a@-b-.c-d.ef 999.999.999.999 +123-456-7890-1234"
    )
    val (composable, fused) = bothForms(texts)
    assert(fused == composable)
  }

  test("fused == composable on a generated corpus") {
    val rng = new scala.util.Random(20260815L)
    val words = Vector("user", "host", "10", "255", "a@b.co", "+1-555",
      "@", ".", "-", "0199", "mail.example.com", "x", "1.2.3.4", "99")
    val texts = (0 until 400).map { _ =>
      (0 until rng.nextInt(30)).map(_ => words(rng.nextInt(words.size)))
        .mkString(if (rng.nextBoolean()) " " else "")
    }
    val (composable, fused) = bothForms(texts)
    assert(fused == composable)
  }

  test("plan evaluates the kernel once for all four output columns") {
    // spark.range (not a literal Seq): ConvertToLocalRelation would
    // otherwise constant-fold the whole projection at optimization time
    // and leave no kernel call to count
    val df = spark.range(4)
      .select(col("id").as("doc_id"),
        concat(lit("a@b.co 1.2.3.4 n="), col("id")).as("text"))
      .withColumn("pii", TextAnalysis.redactPiiFused(col("text")))
      .select(col("doc_id"), col("pii.n_emails"), col("pii.n_ips"),
        col("pii.n_phones"), col("pii.redacted_text"))
    val plan: SparkPlan = df.queryExecution.executedPlan
    val hits = "graft_pii_redact".r.findAllIn(plan.toString).size
    assert(hits == 1, s"expected 1 kernel evaluation in the plan, got $hits:\n$plan")
  }
}
