package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document query-term frequencies in ONE byte pass — the tx22/
  * tx23 tf scan without the machinery: counts, for each fixed query
  * term, the whitespace tokens of the input string that equal it
  * byte-for-byte (tokens exactly as `split(text, " ")` emits them:
  * 0x20 separators, empty tokens kept — they can never equal a
  * non-empty term). Returns `array<int>` aligned with `terms`.
  *
  * Replaces `explode(filter(split(lower(text), " "), w => w.isin(...)))
  * + groupBy(doc_id, w).count()`: the split array, the interpreted
  * ArrayFilter over EVERY token, the generator, and the per-(doc,
  * term) hash-agg EXCHANGE all disappear — term counts are computed
  * in the row. Callers pass the already-lowered text (`lower(col)`),
  * keeping Spark's lowercase semantics bit-exact with the composed
  * form. Fully codegen'd (not CodegenFallback) so whole-stage
  * subexpression elimination can hoist one evaluation across the
  * filter/projection expressions that reference it per row.
  */
case class TermCountsExpr(child: Expression, terms: Seq[String])
    extends UnaryExpression with KernelTypeCheck {

  require(terms.nonEmpty && terms.forall(_.nonEmpty),
    "graft_term_counts needs at least one non-empty term")

  private lazy val termBytes: Array[Array[Byte]] =
    terms.map(_.getBytes("UTF-8")).toArray

  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    val counts = new Array[Int](termBytes.length)
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        val len = i - start
        if (len > 0) {
          var t = 0
          while (t < termBytes.length) {
            val tb = termBytes(t)
            if (tb.length == len) {
              var j = 0
              while (j < len && bytes(start + j) == tb(j)) j += 1
              if (j == len) counts(t) += 1
            }
            t += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val tb = ctx.addReferenceObj("termBytes", termBytes, "byte[][]")
      val bytes = ctx.freshName("tcBytes")
      val n = ctx.freshName("tcN")
      val counts = ctx.freshName("tcCounts")
      val start = ctx.freshName("tcStart")
      val i = ctx.freshName("tcI")
      val len = ctx.freshName("tcLen")
      val t = ctx.freshName("tcT")
      val w = ctx.freshName("tcW")
      val j = ctx.freshName("tcJ")
      s"""
         |byte[] $bytes = $s.getBytes();
         |int $n = $bytes.length;
         |int[] $counts = new int[$tb.length];
         |int $start = 0;
         |for (int $i = 0; $i <= $n; $i++) {
         |  if ($i == $n || $bytes[$i] == 0x20) {
         |    int $len = $i - $start;
         |    if ($len > 0) {
         |      for (int $t = 0; $t < $tb.length; $t++) {
         |        byte[] $w = $tb[$t];
         |        if ($w.length == $len) {
         |          int $j = 0;
         |          while ($j < $len && $bytes[$start + $j] == $w[$j]) $j++;
         |          if ($j == $len) $counts[$t]++;
         |        }
         |      }
         |    }
         |    $start = $i + 1;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($counts);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TermCountsExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_term_counts"
}
