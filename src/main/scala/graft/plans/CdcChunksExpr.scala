package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The whole per-document CDC chunking — boundary rule AND per-chunk
  * digests — in ONE byte pass: `array<struct<digest: binary, clen:
  * long>>`, one element per chunk in document order.
  *
  * Composes [[CdcCutsExpr]]'s rolling boundary rule (a cut lands after
  * code point p when the windowed polynomial hash of the 8 code points
  * ending at p reads ≡ 0 mod 16; H = Σ cp·31^k mod 1,000,003; strings
  * shorter than the window yield one whole-doc chunk; the tail always
  * closes the last chunk) with the md5 that dd22's composed form ran
  * in an interpreted per-chunk `transform` over `substr` slices. The
  * digests are md5 over each chunk's UTF-8 bytes — a BIJECTION of the
  * composed `md5(substr(t, …))` hex strings (same md5, binary instead
  * of hex; a character substring of well-formed UTF-8 IS its byte
  * slice), so every distinct/count/join downstream is value-identical
  * and the chunk-domain exchanges carry 16 bytes instead of 32-char
  * strings. `clen` counts CODE POINTS (what `substr` lengths measured).
  *
  * Why fused: the composed form ran one interpreted lambda eval per
  * chunk with two `element_at` probes, a `substr` allocation, an md5
  * hex format, and a struct box — and `explode(chs)` over the cuts
  * attribute invited InferFiltersFromGenerate to re-derive the cut
  * kernel below the generate. Here the text decodes once; each chunk
  * is hashed in place from its byte slice. An EMPTY string returns an
  * empty array (callers filter len > 0 first — documented, untested
  * by the composed form which filtered the row away). Codegen emits
  * one call into [[kernel]] per row (reference-object pattern).
  */
case class CdcChunksExpr(child: Expression)
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

  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("digest", BinaryType, nullable = false),
      StructField("clen", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  def kernel(in: UTF8String): ArrayData = {
    val bytes = in.getBytes
    val nb = bytes.length
    if (nb == 0) return new GenericArrayData(Array.empty[Any])
    val md = Md5.get
    // window ring buffer of the last W code points
    val ring = new Array[Long](W)
    val out = new scala.collection.mutable.ArrayBuffer[Any](nb / 16 + 4)
    var h = 0L
    var cpIdx = 0      // code points consumed so far
    var i = 0          // byte cursor
    var chunkStartB = 0
    var chunkStartCp = 0
    while (i < nb) {
      val b0 = bytes(i) & 0xFF
      var cp = 0
      var step = 1
      if (b0 < 0x80) { cp = b0 }
      else if (b0 < 0xE0) {
        cp = ((b0 & 0x1F) << 6) | (bytes(i + 1) & 0x3F); step = 2
      } else if (b0 < 0xF0) {
        cp = ((b0 & 0x0F) << 12) | ((bytes(i + 1) & 0x3F) << 6) |
          (bytes(i + 2) & 0x3F); step = 3
      } else {
        cp = ((b0 & 0x07) << 18) | ((bytes(i + 1) & 0x3F) << 12) |
          ((bytes(i + 2) & 0x3F) << 6) | (bytes(i + 3) & 0x3F); step = 4
      }
      i += step
      h = (h * B + cp) % M
      if (cpIdx >= W)
        h = ((h - ring(cpIdx % W) * PowOut % M * B % M) % M + M) % M
      ring(cpIdx % W) = cp
      cpIdx += 1
      // full window ending at this code point and boundary rule hit:
      // close the chunk AFTER this code point (1-based cut = cpIdx)
      if (cpIdx >= W && h % 16 == 0L) {
        md.reset()
        md.update(bytes, chunkStartB, i - chunkStartB)
        out += InternalRow(md.digest(), (cpIdx - chunkStartCp).toLong)
        chunkStartB = i
        chunkStartCp = cpIdx
      }
    }
    // the tail always closes the last chunk (unless the final position
    // was itself a cut, in which case there is nothing left)
    if (chunkStartB < nb) {
      md.reset()
      md.update(bytes, chunkStartB, nb - chunkStartB)
      out += InternalRow(md.digest(), (cpIdx - chunkStartCp).toLong)
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunksExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_cdc_chunks"
}
