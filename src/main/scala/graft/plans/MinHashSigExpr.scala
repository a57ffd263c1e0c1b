package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass MinHash signature over a shingle array.
  *
  * Produces EXACTLY the value of the composed form in
  * [[graft.operators.Dedup]]'s signatures (and the DuckDB oracle):
  * for permutation p in 0..7, the minimum over shingles of
  * `substr(md5(salt_p ++ shingle), off_p, 8)` where salt is "" for
  * p<4 and "x" for p>=4 and off_p selects the p%4-th 8-hex-char
  * (32-bit) digest slice. Min over fixed-width lowercase hex equals
  * unsigned numeric min of the slice, so we track uint32 minima and
  * format once at the end.
  *
  * Why native: the composed HOF pipeline materializes 2 digest arrays
  * + 8 substring arrays per row in interpreted lambda eval, and
  * Spark's md5 allocates a fresh MessageDigest per call. Here: one
  * pass per row, a thread-local reused digest, zero intermediate
  * arrays. (Same motivation as ella's native sketch kernels.)
  * Codegen emits one call into [[kernel]] per row (reference-object
  * pattern) so the enclosing operator keeps its whole-stage span.
  */
case class MinHashSigExpr(child: Expression) extends UnaryExpression with RefKernel {

  override protected def checkName = "minhash_sig"
  override protected def expects = "array<string>"
  override protected def accepts(ts: Seq[DataType]) = ts match {
    case Seq(ArrayType(StringType, _)) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val mins = Array.fill(8)(0xFFFFFFFFL)
    val md = Md5.get
    var i = 0
    while (i < n) {
      val bytes = shingles.getUTF8String(i).getBytes
      md.reset()
      val d0 = md.digest(bytes)
      MinHashSigExpr.updateMins(mins, 0, d0)
      md.reset()
      md.update('x'.toByte)
      val d1 = md.digest(bytes)
      MinHashSigExpr.updateMins(mins, 4, d1)
      i += 1
    }
    val out = new Array[Any](8)
    var p = 0
    while (p < 8) {
      out(p) = UTF8String.fromString(f"${mins(p)}%08x")
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_sig"
}

object MinHashSigExpr {

  /** Fold the 4 big-endian uint32 slices of a digest into mins[base..base+3]. */
  private[plans] def updateMins(mins: Array[Long], base: Int, d: Array[Byte]): Unit = {
    var j = 0
    while (j < 4) {
      val v = ((d(4 * j) & 0xFFL) << 24) | ((d(4 * j + 1) & 0xFFL) << 16) |
        ((d(4 * j + 2) & 0xFFL) << 8) | (d(4 * j + 3) & 0xFFL)
      if (v < mins(base + j)) mins(base + j) = v
      j += 1
    }
  }
}

/** [[MinHashSigExpr]] fused with the word-k-shingling that feeds it
  * (r13): takes the TOKEN array and hashes each k-gram window
  * directly from the word bytes — the composed form first
  * materializes a per-doc shingle STRING ARRAY through an interpreted
  * transform (sequence + k element_at + concat_ws per shingle) that
  * exists only to be hashed and thrown away. Byte-exact with
  * `shingles(words, k)` + MinHashSigExpr: each window's bytes are the
  * words joined by single 0x20 separators with concat_ws's null-skip
  * semantics, and documents shorter than k words hash the single
  * whole-document join, so the minima (and the formatted hex) are
  * identical. One reused byte buffer per row, zero intermediate
  * arrays.
  */
case class MinHashWordsExpr(child: Expression, k: Int)
    extends UnaryExpression with RefKernel {

  override protected def checkName = "minhash_words"
  override protected def expects = "array<string>"
  override protected def accepts(ts: Seq[DataType]) = ts match {
    case Seq(ArrayType(StringType, _)) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val mins = Array.fill(8)(0xFFFFFFFFL)
    val md = Md5.get
    // word bytes fetched once per row (null words skip, concat_ws-style)
    val wb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      wb(i) = if (words.isNullAt(i)) null else words.getUTF8String(i).getBytes
      i += 1
    }
    var buf = new Array[Byte](64)
    def windowHash(from: Int, until: Int): Unit = {
      // join non-null words[from until) with single spaces into buf
      var len = 0
      var first = true
      var j = from
      while (j < until) {
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
      md.reset()
      md.update(buf, 0, len)
      MinHashSigExpr.updateMins(mins, 0, md.digest())
      md.reset()
      md.update('x'.toByte)
      md.update(buf, 0, len)
      MinHashSigExpr.updateMins(mins, 4, md.digest())
    }
    if (n >= k) {
      var w = 0
      while (w <= n - k) { windowHash(w, w + k); w += 1 }
    } else {
      windowHash(0, n)
    }
    val out = new Array[Any](8)
    var p = 0
    while (p < 8) {
      out(p) = UTF8String.fromString(f"${mins(p)}%08x")
      p += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashWordsExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_words"
}
