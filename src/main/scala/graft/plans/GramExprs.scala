package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform

/** Shared word-boundary scan for the text-slice gram kernels.
  *
  * `split(text, " ")` cuts on every single 0x20 byte (empty tokens
  * kept; 0x20 never occurs inside a multi-byte UTF-8 sequence), and
  * `shingles` re-joins each k-window with single spaces — so every
  * word k-gram IS the exact byte slice of the original text from the
  * start of word `w` to the end of word `w+k-1`, including interior
  * spaces (the TokenProfileExpr bigram observation generalized to any
  * k). The composed `explode(shingles(tokens(text), k))` therefore
  * materializes one words array + one gram STRING per window only to
  * hash it; these kernels hash the slices in place.
  *
  * Degenerate docs replicate `shingles` exactly: fewer than k words
  * yields ONE whole-document gram — and that gram is the whole text
  * (concat_ws(" ", split(text, " ")) == text). A NULL document follows
  * the composed form's value, not null-propagation: split(null) is
  * null, shingles(null) takes its otherwise-branch, and
  * concat_ws(" ", nullArray) is "" — i.e. one gram of the empty
  * string, which is byte-identical to what the empty document
  * produces, so both kernels map null to the empty-text result.
  */
private[plans] object GramSlices {
  /** Word start offsets within `bytes` (0x20-separated, empties kept). */
  def wordStarts(bytes: Array[Byte]): Array[Int] = {
    var nWords = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) nWords += 1; i += 1 }
    val starts = new Array[Int](nWords + 1) // sentinel: starts(n) = len + 1
    starts(0) = 0
    var w = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(nWords) = bytes.length + 1
    starts
  }
}

/** 16-byte md5 digest of every word k-gram window of a document,
  * hashed straight off the text bytes — the dd10/dd11/dd13 shingle
  * stage without the words array, the interpreted `shingles`
  * transform, or the per-window gram/hex strings. Returns
  * array<binary>; the digests are a BIJECTION of the composed
  * `md5(shingle)` hex strings (same md5, binary instead of hex), so
  * every count, distinct and group-by downstream is value-identical
  * and the exchanges carry 16 bytes instead of 32-char strings.
  * Codegen emits one call into `kernel` per row (reference-object
  * pattern) so the enclosing operator keeps its whole-stage span.
  */
case class WordGramMd5Expr(child: Expression, k: Int)
    extends UnaryExpression with RefKernel {

  require(k >= 1, s"gram width must be >= 1, got $k")

  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  def kernel(v: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    // null doc == empty doc in the composed form (see GramSlices doc)
    val bytes =
      if (v == null) Array.emptyByteArray
      else v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val md = Md5.get
    val starts = GramSlices.wordStarts(bytes)
    val nWords = starts.length - 1
    if (nWords < k) {
      md.reset()
      return new GenericArrayData(Array[Any](md.digest(bytes)))
    }
    val out = new Array[Any](nWords - k + 1)
    var w = 0
    while (w <= nWords - k) {
      val s = starts(w)
      val e = starts(w + k) - 2 // end of word w+k-1 (exclusive bound - separator)
      md.reset()
      md.update(bytes, s, e - s + 1)
      out(w) = md.digest()
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordGramMd5Expr =
    copy(child = newChild)

  override def prettyName: String = "graft_gram_md5"
}

/** xxhash64 (seed 42) of every TILED `width`-word line of a document,
  * hashed straight off the text bytes — the tx16/tx31/tx38 line
  * chunker (`transform(sequence(0, (n−1) div width), c ->
  * array_join(slice(ws, c·width+1, width), " "))`) fused with the
  * hash for consumers whose lines are ONLY distinct/join keys (tx38's
  * source-overlap census). Each tile is the exact text byte slice
  * from its first word's start to its last word's end (single-0x20
  * separators, the [[GramSlices]] observation), so no words array, no
  * interpreted transform, no line string. Value-exact with
  * `transform(lines, xxhash64)`; a NULL document yields an EMPTY
  * array (the composed form's sequence(0, null) → null → coalesce →
  * zero rows after explode), while an empty document yields one empty
  * line, exactly as size([""]) = 1 does.
  */
case class TiledLineHashesExpr(child: Expression, width: Int)
    extends UnaryExpression with RefKernel {

  require(width >= 1, s"line width must be >= 1, got $width")

  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  def kernel(v: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    if (v == null) return new GenericArrayData(Array.empty[Long])
    val bytes = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val starts = GramSlices.wordStarts(bytes)
    val nWords = starts.length - 1
    val nLines = (nWords - 1) / width + 1
    val out = new Array[Long](nLines)
    var c = 0
    while (c < nLines) {
      val s = starts(c * width)
      val lastWord = math.min(c * width + width - 1, nWords - 1)
      val e = starts(lastWord + 1) - 2
      out(c) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + s, e - s + 1, 42L)
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): TiledLineHashesExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_line_hashes"
}

/** Robust-winnowing fingerprint selection straight off the text bytes
  * — [[WinnowSelectExpr]]'s deque select fused with the text-slice
  * gram walk (the dd16 kernel, r13 form). Each word k-gram window's
  * md5 is computed from its text slice (byte-identical to md5 of the
  * composed gram string), a `w`-hash window selects its minimum
  * digest with ties to the RIGHTMOST position (Schleimer 2003 §3),
  * and the result is the DISTINCT selected digests as 16-byte
  * BINARIES — a bijection of the old hex strings (the fingerprints
  * never leave the operator: winnowPairs group-by/count structure is
  * value-identical, and the gh exchanges carry half the bytes).
  * Windows shorter than `w` clip to one whole-array window; documents
  * shorter than `k` words degenerate to one whole-document gram; null
  * documents follow the composed form's empty-text value (see
  * [[GramSlices]]).
  */
case class WinnowTextExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression with RefKernel {

  require(k >= 1, s"gram width must be >= 1, got $k")
  require(w >= 1, s"winnow window must be >= 1, got $w")

  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  def kernel(v: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val bytes =
      if (v == null) Array.emptyByteArray
      else v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val md = Md5.get
    val starts = GramSlices.wordStarts(bytes)
    val nWords = starts.length - 1
    val dg: Array[Array[Byte]] =
      if (nWords < k) {
        md.reset()
        Array(md.digest(bytes))
      } else {
        val out = new Array[Array[Byte]](nWords - k + 1)
        var g = 0
        while (g <= nWords - k) {
          val s = starts(g)
          val e = starts(g + k) - 2
          md.reset()
          md.update(bytes, s, e - s + 1)
          out(g) = md.digest()
          g += 1
        }
        out
      }
    val n = dg.length
    // dg(a) < dg(b), unsigned byte-wise == lowercase-hex lexicographic
    def less(a: Int, b: Int): Boolean = {
      val x = dg(a); val y = dg(b)
      var j = 0
      while (j < 16) {
        val xv = x(j) & 0xFF; val yv = y(j) & 0xFF
        if (xv != yv) return xv < yv
        j += 1
      }
      false
    }
    val winW = math.min(w, n)
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    val seen = new java.util.LinkedHashSet[(Long, Long)]()
    val sel = new scala.collection.mutable.ArrayBuffer[Array[Byte]](8)
    def key(d: Array[Byte]): (Long, Long) = {
      var hi = 0L; var lo = 0L
      var j = 0
      while (j < 8) { hi = (hi << 8) | (d(j) & 0xFFL); lo = (lo << 8) | (d(j + 8) & 0xFFL); j += 1 }
      (hi, lo)
    }
    var i = 0
    while (i < n) {
      while (tail > head && !less(dq(tail - 1), i)) tail -= 1
      dq(tail) = i; tail += 1
      if (i >= winW - 1) {
        while (dq(head) <= i - winW) head += 1
        val d = dg(dq(head))
        if (seen.add(key(d))) sel += d
      }
      i += 1
    }
    new GenericArrayData(sel.toArray[Any])
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowTextExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_winnow_text"
}

/** xxhash64 (seed 42, the built-in's) of every word k-gram window of a
  * document, hashed straight off the text bytes, WITH the `shingles`
  * whole-document degenerate gram — the dd04/dd07/dd08 shingle-set
  * stage without the words array, the interpreted transform, or the
  * per-window gram strings. Value-exact with
  * `transform(shingles(tokens(text), k), g => xxhash64(g))`; set
  * operations on the longs (distinct/intersect sizes) equal the
  * string-set counts up to 64-bit collisions (P ~ n²/2^65 — the
  * documented WordGramHashesExpr/tx18 trade; the raw-gram DuckDB
  * oracle pins agreement at the checked SFs).
  */
case class WordGramXxhTextExpr(child: Expression, k: Int)
    extends UnaryExpression with RefKernel {

  require(k >= 1, s"gram width must be >= 1, got $k")

  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  def kernel(v: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val bytes =
      if (v == null) Array.emptyByteArray
      else v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val starts = GramSlices.wordStarts(bytes)
    val nWords = starts.length - 1
    if (nWords < k)
      return new GenericArrayData(
        Array(XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)))
    val out = new Array[Long](nWords - k + 1)
    var w = 0
    while (w <= nWords - k) {
      val s = starts(w)
      val e = starts(w + k) - 2
      out(w) = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + s, e - s + 1, 42L)
      w += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordGramXxhTextExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_gram_xxh"
}
