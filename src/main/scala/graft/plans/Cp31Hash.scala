package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd portable code-point hash
  * ([[graft.functions.PortableHash.cp31u]]): the unsigned low-32
  * `h := (h·31 + codepoint) mod 2³²` fold, decoding code points
  * straight from the string's UTF-8 bytes in one primitive loop.
  *
  * The composable form ([[graft.functions.PortableHash.cp31uCol]])
  * splits per code point and folds with a higher-order `aggregate` —
  * CodegenFallback, a regex split and an array allocation per value,
  * which is the dominant cost when the hash runs once per TOKEN
  * (content-defined chunking hashes every token of the corpus). This
  * expression allocates nothing and stays inside whole-stage codegen;
  * bit-parity with the composable and JVM forms is pinned in
  * PortableHashSpec, so DuckDB oracles are unaffected.
  */
case class Cp31Hash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_cp31u expects a string argument, got $t")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_cp31u"

  override protected def nullSafeEval(s: Any): Any = {
    val bytes = s.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var acc = -1L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b >= 128 && b < 192) {
        acc = acc * 64 + (b - 128)
      } else {
        if (acc >= 0) h = (h * 31 + acc) & 0xffffffffL
        acc = if (b < 128) b else if (b < 224) b - 192
              else if (b < 240) b - 224 else b - 240
      }
      i += 1
    }
    if (acc >= 0) h = (h * 31 + acc) & 0xffffffffL
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bts = ctx.freshName("bts")
      val h = ctx.freshName("h")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      s"""
         |byte[] $bts = $a.getBytes();
         |long $h = 0L;
         |long $acc = -1L;
         |for (int $i = 0; $i < $bts.length; $i++) {
         |  int $b = $bts[$i] & 0xFF;
         |  if ($b >= 128 && $b < 192) {
         |    $acc = $acc * 64L + ($b - 128);
         |  } else {
         |    if ($acc >= 0L) { $h = ($h * 31L + $acc) & 0xFFFFFFFFL; }
         |    $acc = $b < 128 ? $b : ($b < 224 ? $b - 192 : ($b < 240 ? $b - 224 : $b - 240));
         |  }
         |}
         |if ($acc >= 0L) { $h = ($h * 31L + $acc) & 0xFFFFFFFFL; }
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Cp31Hash =
    copy(child = newChild)
}

object Cp31Hash {
  /** Column-API entry: `cp31uCol(c)` ≡ SQL `graft_cp31u(c)`. */
  def cp31uCol(c: Column): Column = call_function("graft_cp31u", c)
}
