package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** xxhash64 of every word k-gram window of a token array — the
  * [[MinHashWordsExpr]] fusion applied to the tx09/tx11/px05 gram
  * census family: each window's bytes (words joined by single 0x20,
  * array_join/concat_ws null-skip semantics) are hashed straight from
  * the word byte arrays through one reused buffer per row, so the
  * per-window gram STRING the composed `explode(grams5(ws))` form
  * materialized — whose only consumers were a group-by key and a join
  * key — never exists, and the gram-domain exchanges carry 8-byte
  * longs instead of ~30-byte strings (the tx18 spanIntervals
  * discipline, same collision analysis: P ~ n²/2^65 spurious merges,
  * documented there; the DuckDB oracle keeps raw grams and agrees
  * exactly at the checked SFs).
  *
  * Value-exact with `transform(grams5(words), g => xxhash64(g))`:
  * same windows (docs shorter than k words yield an EMPTY array —
  * grams5's guard), same joined bytes, same XXH64 seed 42 as the
  * built-in. Codegen emits one call into [[kernel]] per row
  * (reference-object pattern) so the enclosing operator keeps its
  * whole-stage span.
  */
case class WordGramHashesExpr(child: Expression, k: Int)
    extends UnaryExpression with RefKernel {

  require(k >= 1, s"gram width must be >= 1, got $k")

  override protected def expects = "array<string>"
  override protected def accepts(ts: Seq[DataType]) = ts match {
    case Seq(ArrayType(StringType, _)) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(words: ArrayData): ArrayData = {
    val n = words.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val wb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      wb(i) = if (words.isNullAt(i)) null else words.getUTF8String(i).getBytes
      i += 1
    }
    var buf = new Array[Byte](64)
    val out = new Array[Long](n - k + 1)
    var w = 0
    while (w <= n - k) {
      // join non-null words[w until w+k) with single spaces into buf
      var len = 0
      var first = true
      var j = w
      while (j < w + k) {
        val b = wb(j)
        if (b != null) {
          val need = len + b.length + (if (first) 0 else 1)
          if (need > buf.length) {
            val nb = new Array[Byte](math.max(need, buf.length * 2))
            System.arraycopy(buf, 0, nb, 0, len)
            buf = nb
          }
          if (!first) { buf(len) = ' '.toByte; len += 1 }
          System.arraycopy(b, 0, buf, len, b.length); len += b.length
          first = false
        }
        j += 1
      }
      out(w) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordGramHashesExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_gram_hashes"
}
