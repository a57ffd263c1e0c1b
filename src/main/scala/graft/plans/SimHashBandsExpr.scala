package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Single-pass 64-bit SimHash over a document's text, emitted as its
  * FOUR 16-bit pigeonhole bands (array<int>, band 0 = bits 0..15).
  *
  * This is the production form [[SimHashSigExpr]]'s Scaladoc names:
  * a 16-bit signature bounds the key domain at 65536 values, so past
  * ~10^6 docs every block is saturated and the candidate join
  * degenerates toward all-pairs. 64 bits with 4x16 banding keeps
  * 65536 keys PER BAND while the pigeonhole principle gives the exact
  * recall guarantee dd03's high-byte blocking lacks: any pair within
  * hamming distance 3 differs in at most 3 of the 4 bands, so it
  * MUST share at least one band key — banded candidates are COMPLETE
  * for hamming <= 3 (Manku et al. 2007, the Google near-dup design).
  *
  * Vote semantics mirror SimHashSigExpr exactly (and the DuckDB
  * oracle re-derives them from md5 hex): tokens = split on single
  * spaces keeping trailing empties, per token the first 16 hex chars
  * (8 digest bytes, big-endian) of md5 vote ±1 per bit position, a
  * band's bit k is set iff the vote sum of global bit 16*band+k is
  * positive. Bands are ints, never one signed 64-bit value — no
  * sign-bit hazard in either engine.
  *
  * Why native: same as SimHashSigExpr — the composed form would
  * explode every token into a 64-column vote aggregation (a full
  * O(tokens) shuffle per corpus for a per-doc value); this computes
  * the bands at scan speed. Codegen emits one call into [[kernel]]
  * per row (reference-object pattern) so the enclosing operator keeps
  * its whole-stage span.
  */
case class SimHashBandsExpr(child: Expression) extends UnaryExpression with RefKernel {

  override protected def checkName = "simhash_bands"
  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = kernel(input)

  def kernel(input: Any): GenericArrayData = {
    val toks = input.toString.split(" ", -1)
    val votes = new Array[Int](64)
    val md = Md5.get
    var i = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes("UTF-8"))
      // first 16 hex chars = first 8 digest bytes, big-endian
      var val64 = 0L
      var j = 0
      while (j < 8) { val64 = (val64 << 8) | (d(j) & 0xFFL); j += 1 }
      var bit = 0
      while (bit < 64) {
        votes(bit) += ((((val64 >>> bit) & 1L) * 2L) - 1L).toInt
        bit += 1
      }
      i += 1
    }
    val bands = new Array[Any](4)
    var t = 0
    while (t < 4) {
      var band = 0
      var k = 0
      while (k < 16) {
        if (votes(16 * t + k) > 0) band |= (1 << k)
        k += 1
      }
      bands(t) = band
      t += 1
    }
    new GenericArrayData(bands)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashBandsExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash_bands"
}
