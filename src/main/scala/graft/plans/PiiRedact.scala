package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** Fused PII scrub — one expression computing what the composable
  * spelling ([[graft.functions.TextAnalysis.redactPii]]) spreads over
  * six independent regexp expressions:
  *
  *   redacted = replace(replace(replace(text, email), ip), phone)
  *   n_kind   = len(extract_all(text, kind))   (counts on the ORIGINAL)
  *
  * Why fuse: each Spark `RegExpExtractAll`/`RegExpReplace` calls
  * `subject.toString` — six full UTF-8 decodes + char[] copies of every
  * document per row — and the three extract_alls materialize an array
  * of match UTF8Strings that exists only to be `size()`d. This
  * expression decodes ONCE and runs the minimum number of matcher
  * scans: the email count+replace share one scan (both run on the
  * original text), and when an earlier stage made no replacement the
  * next kind's count and replace also collapse to one scan (count is
  * contractually on the original text, replace on the partially
  * redacted text — equal strings when nothing was replaced). Worst
  * case 5 scans vs always 6 before — and a byte-level pre-gate
  * ([[PiiRedact.run]]) lets PII-free documents (the common case on a
  * real corpus) skip the decode and every matcher entirely: one pass
  * over the raw UTF-8 bytes proving no '@', no digit'.'digit, no
  * '+'digit ⇒ the input string is returned as-is with zero counts.
  *
  * Bit parity with the composable form (pinned in PiiRedactSpec): same
  * java.util.regex patterns, same non-overlapping successive-find
  * semantics for counts, same sequential replacement order
  * email → ip → phone (counts CAN disagree with placed tokens — an IP
  * invisible in the original can surface at a placeholder boundary,
  * e.g. `a@b.cd4.5.6.7` → `<EMAIL>4.5.6.7` where `>`–`4` forms the \b
  * the original `d`–`4` lacked; both forms replace it and neither
  * counts it, and the fusion preserves exactly that). Replacement
  * literals carry no `$`/`\` so appendReplacement is literal, matching
  * Spark's RegExpReplace. Null in → null struct out, as
  * size(extract_all(null)) and regexp_replace(null) are null.
  */
case class PiiRedact(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_pii_redact expects string, got $t")
  }

  override def dataType: DataType = PiiRedact.outType

  override def prettyName: String = "graft_pii_redact"

  override def nullable: Boolean = true

  override protected def nullSafeEval(textAny: Any): Any =
    PiiRedact.run(textAny.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.PiiRedact.run($c);")

  override protected def withNewChildInternal(newChild: Expression): PiiRedact =
    copy(child = newChild)
}

object PiiRedact {

  /** The scrub patterns — the single source of truth; TextAnalysis
    * re-exports these so the DuckDB oracles interpolate identical
    * strings. Deliberately RE2-compatible (no backrefs/lookaround). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val phonePattern = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}"

  private val emailP = Pattern.compile(emailPattern)
  private val ipP = Pattern.compile(ipv4Pattern)
  private val phoneP = Pattern.compile(phonePattern)

  val outType: StructType = StructType(Seq(
    StructField("redacted_text", StringType, nullable = false),
    StructField("n_emails", LongType, nullable = false),
    StructField("n_ips", LongType, nullable = false),
    StructField("n_phones", LongType, nullable = false)))

  /** Count + replace in one scan. Returns the input string itself
    * (no allocation) when nothing matched. */
  private def replaceCounting(p: Pattern, s: String, rep: String): (String, Long) = {
    val m = p.matcher(s)
    if (!m.find()) return (s, 0L)
    val sb = new java.lang.StringBuffer(s.length + 8)
    var n = 0L
    do { n += 1; m.appendReplacement(sb, rep) } while (m.find())
    m.appendTail(sb)
    (sb.toString, n)
  }

  private def countOnly(p: Pattern, s: String): Long = {
    val m = p.matcher(s)
    var n = 0L
    while (m.find()) n += 1
    n
  }

  private def replaceOnly(p: Pattern, s: String, rep: String): String = {
    val m = p.matcher(s)
    if (!m.find()) return s
    val sb = new java.lang.StringBuffer(s.length + 8)
    do { m.appendReplacement(sb, rep) } while (m.find())
    m.appendTail(sb)
    sb.toString
  }

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** Byte-level pre-gate, computed on the RAW UTF-8 bytes with no
    * decode. Each flag is a sound over-approximation of "this kind can
    * match at any stage":
    *   - email needs a literal '@' (0x40 — an ASCII byte in UTF-8 is
    *     always a standalone char, and invalid sequences decode to
    *     U+FFFD, never to ASCII);
    *   - every IPv4 match contains three consecutive chars
    *     digit '.' digit (last digit of one octet, the dot, first digit
    *     of the next);
    *   - every phone match starts with '+' immediately followed by a
    *     digit.
    * Soundness across stages: replacements only insert <EMAIL>/<IP>/
    * <PHONE> (no digit, '.', '+', '@') and appendReplacement never
    * leaves original chars newly adjacent (the token always lands in
    * between), so a witness triple/pair absent from the original cannot
    * appear in any partially-redacted string either. Returns a 3-bit
    * mask: 1 = email, 2 = ip, 4 = phone.
    * Measured (BASELINE.md r14, sf100, same JVM): on a PII-free corpus
    * the gated kernel took 3.7–4.0 s against 52.9–76.5 s ungated; at
    * 50% PII density the gate still paid 1.7×. */
  private def byteGate(text: UTF8String): Int = {
    val n = text.numBytes
    var mask = 0
    var prev: Byte = 0
    var prev2: Byte = 0
    var i = 0
    while (i < n && mask != 7) {
      val b = text.getByte(i)
      if (b == '@') mask |= 1
      else if (isDigit(b)) {
        if (prev == '.' && isDigit(prev2)) mask |= 2
        if (prev == '+') mask |= 4
      }
      prev2 = prev
      prev = b
      i += 1
    }
    mask
  }

  /** Byte-gate first (PII-free documents return the input UTF8String
    * untouched with zero counts — no decode, no matcher); else one
    * UTF-8 decode and only the gated matchers run, 1–5 scans. See
    * class doc for the per-stage fusion-legality argument and
    * [[byteGate]] for the gate-soundness one. */
  def run(text: UTF8String): InternalRow = {
    val mask = byteGate(text)
    if (mask == 0)
      return new GenericInternalRow(Array[Any](text, 0L, 0L, 0L))
    val s = text.toString
    // email: count is on the original and so is the replace — one scan.
    val (red1, nEmail) =
      if ((mask & 1) == 0) (s, 0L) else replaceCounting(emailP, s, "<EMAIL>")
    // ip: count on the original; replace on red1. Equal strings when no
    // email was replaced (red1 eq s), so the two scans collapse to one.
    val (red2, nIp) =
      if ((mask & 2) == 0) (red1, 0L)
      else if (red1 eq s) replaceCounting(ipP, s, "<IP>")
      else (replaceOnly(ipP, red1, "<IP>"), countOnly(ipP, s))
    val (red3, nPhone) =
      if ((mask & 4) == 0) (red2, 0L)
      else if (red2 eq s) replaceCounting(phoneP, s, "<PHONE>")
      else (replaceOnly(phoneP, red2, "<PHONE>"), countOnly(phoneP, s))
    new GenericInternalRow(Array[Any](
      if (red3 eq s) text else UTF8String.fromString(red3),
      nEmail, nIp, nPhone))
  }

  private val fnId = FunctionIdentifier("graft_pii_redact")
  private val info = new ExpressionInfo(classOf[PiiRedact].getName, "graft_pii_redact")
  private[plans] val builder = (children: Seq[Expression]) => {
    require(children.size == 1,
      s"graft_pii_redact requires exactly 1 argument, got ${children.size}")
    PiiRedact(children.head)
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (!reg.functionExists(fnId)) reg.registerFunction(fnId, info, builder)
  }

  /** Column-API entry: struct(redacted_text, n_emails, n_ips, n_phones). */
  def redactCol(text: Column): Column =
    call_function("graft_pii_redact", text)
}
