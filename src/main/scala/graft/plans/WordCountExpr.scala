package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-space word count — `size(split(text, ' '))` without the
  * split: the count equals (number of 0x20 bytes) + 1 for ANY string,
  * because Spark's split keeps leading/trailing/adjacent empty tokens
  * (limit −1), so the token count is exactly the separator count plus
  * one ("" → [""] → 1, "a b " → ["a","b",""] → 3). In UTF-8 the byte
  * 0x20 only ever encodes the space code point (continuation bytes are
  * ≥ 0x80), so a raw byte scan is exact on any input.
  *
  * Why native: a dozen corpus-scan call sites build the full token
  * ARRAY (regex split + one UTF8String per word) only to take its
  * size — the count is the only consumer. This compiles to one
  * branch-per-byte loop with zero allocation; output type (int)
  * matches `size()` so every caller's schema is unchanged.
  */
case class WordCountExpr(child: Expression)
    extends UnaryExpression with KernelTypeCheck {

  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var c = 1
    var i = 0
    while (i < n) {
      if (s.getByte(i) == 0x20) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val n = ctx.freshName("wcN")
      val c = ctx.freshName("wcC")
      val i = ctx.freshName("wcI")
      s"""
         |int $n = $s.numBytes();
         |int $c = 1;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($s.getByte($i) == 0x20) $c++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WordCountExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_wordcount"
}
