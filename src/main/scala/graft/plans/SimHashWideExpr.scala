package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Single-pass 128-bit SimHash over a document's text, emitted as its
  * FOUR 32-bit pigeonhole bands (array<long>, band 0 = bits 0..31 of
  * the little-bit-endian signature; values < 2^32, carried as longs so
  * neither engine ever touches an int32 sign bit).
  *
  * The WIDE form [[SimHashBandsExpr]]'s scale note calls for: 4x16
  * banding saturates its 65536-value band keys near ~10^6 docs
  * (measured — SCALE.md r12, dd19's 5.7x knee). Here each band keys a
  * 2^32 domain, pushing saturation past ~10^9 docs while the
  * pigeonhole guarantee is unchanged: hamming <= 3 over 128 bits
  * differs in at most 3 of the 4 bands, so every qualifying pair
  * shares at least one exact band key — candidates stay COMPLETE.
  *
  * Votes mirror the 16/64-bit kernels: tokens = split on single
  * spaces keeping trailing empties; per token ALL 32 hex chars (16
  * digest bytes, big-endian) of md5 vote ±1 per bit; a band's bit k
  * is set iff the vote sum of global bit 32*band+k is positive. The
  * DuckDB oracle re-derives all 128 vote sums from md5 hex.
  */
case class SimHashWideExpr(child: Expression) extends UnaryExpression with RefKernel {

  override protected def checkName = "simhash_wide"
  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = kernel(input)

  def kernel(input: Any): GenericArrayData = {
    val toks = input.toString.split(" ", -1)
    val votes = new Array[Int](128)
    val md = Md5.get
    var i = 0
    while (i < toks.length) {
      md.reset()
      val d = md.digest(toks(i).getBytes("UTF-8"))
      // two big-endian 64-bit halves: bytes 0..7 hold global bits
      // 127..64, bytes 8..15 hold bits 63..0
      var hi = 0L; var lo = 0L
      var j = 0
      while (j < 8) {
        hi = (hi << 8) | (d(j) & 0xFFL)
        lo = (lo << 8) | (d(j + 8) & 0xFFL)
        j += 1
      }
      var bit = 0
      while (bit < 64) {
        votes(bit) += ((((lo >>> bit) & 1L) * 2L) - 1L).toInt
        votes(bit + 64) += ((((hi >>> bit) & 1L) * 2L) - 1L).toInt
        bit += 1
      }
      i += 1
    }
    val bands = new Array[Any](4)
    var t = 0
    while (t < 4) {
      var band = 0L
      var k = 0
      while (k < 32) {
        if (votes(32 * t + k) > 0) band |= (1L << k)
        k += 1
      }
      bands(t) = band
      t += 1
    }
    new GenericArrayData(bands)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashWideExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash_wide"
}
