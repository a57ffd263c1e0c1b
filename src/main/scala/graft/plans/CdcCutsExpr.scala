package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass CONTENT-DEFINED CHUNKING cut positions — the dd22
  * kernel (rsync/FastCDC-style rolling boundary). Returns `array<int>`
  * of 1-based positions p: a cut lands AFTER character p whenever the
  * windowed polynomial hash of the 8 code points ending at p reads
  * H(p) ≡ 0 (mod 16), where
  *
  *   H(p) = Σ_{k=0..7} cp(p−7+k) · 31^(7−k)  (mod 1,000,003)
  *
  * — pure integer arithmetic over code points, so the DuckDB oracle
  * recomputes each window directly (`ord(substr(t, ·, 1))` times the
  * eight 31-power constants mod the same prime). Strings shorter than
  * the 8-char window yield no cuts (the caller closes the whole doc
  * as one chunk).
  *
  * Why native: the composed form hashed an 8-char SUBSTRING per
  * position (one string allocation + one md5 per character — the
  * BigramCountsExpr hazard class; measured 4.9x on the 64x endpoints
  * harness). Here the hash rolls incrementally — one multiply, one
  * subtract, one mod per position over a primitive ring buffer, zero
  * allocation; the output array holds ~len/16 ints. Codegen emits
  * one call into [[kernel]] per row (reference-object pattern) so the
  * enclosing operator keeps its whole-stage span.
  */
case class CdcCutsExpr(child: Expression)
    extends UnaryExpression with RefKernel {

  private val W = 8
  private val B = 31L
  private val M = 1000003L
  /** B^(W−1) mod M — the weight leaving the window each step. */
  private val PowOut: Long = {
    var r = 1L; var i = 0
    while (i < W - 1) { r = r * B % M; i += 1 }
    r
  }

  override protected def checkName = "cdc_cuts"
  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  def kernel(in: UTF8String): GenericArrayData = {
    val s = in.toString
    val cps: Array[Int] =
      if (s.length == s.codePointCount(0, s.length)) null
      else s.codePoints().toArray
    val n = if (cps == null) s.length else cps.length
    if (n < W) return new GenericArrayData(Array.empty[Any])
    def cp(i: Int): Long = (if (cps == null) s.charAt(i).toInt else cps(i)).toLong
    val cuts = new scala.collection.mutable.ArrayBuffer[Any](n / 16 + 4)
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * B + cp(i)) % M
      if (i >= W) h = ((h - cp(i - W) * PowOut % M * B % M) % M + M) % M
      // 1-based cut position; full window required
      if (i >= W - 1 && h % 16 == 0L) cuts += (i + 1)
      i += 1
    }
    new GenericArrayData(cuts.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcCutsExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_cdc_cuts"
}
