package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass character-bigram census of a document — the tx08
  * kernel (CCNet-style character-LM scoring over the corpus bigram
  * distribution). Returns `array<struct<bg: string, c: long>>`: each
  * DISTINCT bigram of the input with its occurrence count, first-seen
  * order (downstream aggregations are order-free).
  *
  * Value contract (what the DuckDB oracle computes): bigram i =
  * characters [i, i+1] of the string for i in [0, len−2] — code-POINT
  * semantics, identical to Spark `substr(s, i, 2)` and DuckDB
  * `substring` over the same text. Σc = len−1 exactly, so per-doc
  * totals derived from this array equal the raw-explode form's.
  *
  * Why native: the composed form (`transform(sequence(1, len−1),
  * i -> substr(norm, i, 2))` + explode) allocates one 2-char string
  * and one array slot PER CHARACTER — at 64x corpus scale that
  * explode is ~10x a word-tokenize pass's object volume and measured
  * 4.9x on the endpoints harness where the token family reads
  * 1.0-1.4x. Here the counting pass is a primitive `LongMap` keyed by
  * the two code points packed into a Long — zero allocation per
  * position; strings materialize once per DISTINCT bigram (~0.3/char
  * on natural text), and the downstream explode + broadcast join
  * carry distinct-bigram rows, not raw positions. Codegen emits one
  * call into [[kernel]] per row (reference-object pattern) so the
  * enclosing operator keeps its whole-stage span.
  */
case class BigramCountsExpr(child: Expression)
    extends UnaryExpression with RefKernel {

  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("bg", StringType, nullable = false),
      StructField("c", LongType, nullable = false))),
    containsNull = false)

  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  def kernel(in: UTF8String): GenericArrayData = {
    val s = in.toString
    // code-point view only when needed: the fast path covers all-BMP
    // text (the common case; no surrogate pairs => char == code point)
    val cps: Array[Int] =
      if (s.length == s.codePointCount(0, s.length)) null
      else s.codePoints().toArray
    val n = if (cps == null) s.length else cps.length
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val counts = new scala.collection.mutable.LongMap[Long](64)
    val order = new scala.collection.mutable.ArrayBuffer[Long](64)
    var i = 0
    while (i < n - 1) {
      val a = if (cps == null) s.charAt(i).toLong else cps(i).toLong
      val b = if (cps == null) s.charAt(i + 1).toLong else cps(i + 1).toLong
      val key = (a << 21) | b // code points < 2^21: packing is injective
      val prev = counts.getOrElse(key, 0L)
      if (prev == 0L) order += key
      counts.update(key, prev + 1L)
      i += 1
    }
    val out = new Array[Any](order.length)
    var j = 0
    while (j < order.length) {
      val key = order(j)
      val bg = new java.lang.StringBuilder(4)
      bg.appendCodePoint((key >> 21).toInt)
      bg.appendCodePoint((key & 0x1FFFFF).toInt)
      out(j) = InternalRow(UTF8String.fromString(bg.toString), counts(key))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BigramCountsExpr =
    copy(child = newChild)

  override def prettyName: String = "bigram_counts"
}
