package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}

/** Single-pass 16-bit SimHash over a document's text.
  *
  * Produces EXACTLY the value of the composed form (and the DuckDB
  * oracle) in [[graft.operators.Dedup]] dd03: tokens = split on single
  * spaces keeping trailing empties (Spark split semantics), per token
  * the first 16 bits (4 hex chars) of md5 vote ±1 per bit position,
  * and the signature sets bit b iff its vote sum is positive.
  *
  * Why native: the composed form EXPLODES every token to a row and
  * runs a 16-column vote aggregation — a full shuffle of O(tokens)
  * rows just to compute a per-document value. This kernel computes
  * the signature at SCAN SPEED with zero shuffle and zero
  * intermediate rows; at 100 TB the signature stage disappears from
  * the shuffle plan entirely and only the (tiny) block-bucketed
  * candidate join remains. (Same motivation as ella's native sketch
  * kernels.) Codegen emits one call into [[kernel]] per row
  * (reference-object pattern) so the enclosing operator keeps its
  * whole-stage span.
  */
case class SimHashSigExpr(child: Expression) extends UnaryExpression with RefKernel {

  override protected def checkName = "simhash_sig"
  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = kernel(input)

  def kernel(input: Any): Int = {
    // -1 limit: keep trailing empty tokens, matching Spark's
    // split(text, " ") and DuckDB's string_split exactly
    val toks = input.toString.split(" ", -1)
    val votes = new Array[Int](16)
    val md = Md5.get
    var i = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes("UTF-8"))
      // first 4 hex chars = first 2 digest bytes, big-endian
      val val16 = ((d(0) & 0xFF) << 8) | (d(1) & 0xFF)
      var bit = 0
      while (bit < 16) {
        votes(bit) += (((val16 >> bit) & 1) * 2) - 1
        bit += 1
      }
      i += 1
    }
    var sig = 0
    var bit = 0
    while (bit < 16) {
      if (votes(bit) > 0) sig |= (1 << bit)
      bit += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSigExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash"
}
