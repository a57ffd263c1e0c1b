package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass robust-winnowing fingerprint selection over a shingle
  * array (Schleimer/Wilkerson/Aiken 2003 §3, the dd16 kernel).
  *
  * Produces EXACTLY the DuckDB oracle's value: md5 each shingle, slide
  * a window of `w` hashes, each window selects its minimum hex digest
  * (ties resolved to the RIGHTMOST position — the paper's robust
  * rule), result = the DISTINCT selected digests in first-selected
  * order (callers explode; order is immaterial). Unsigned byte-wise
  * digest comparison equals lowercase-hex string comparison, so no
  * hex formatting happens until a digest is actually selected.
  *
  * Why native: the composed HOF form re-evaluates the whole gram-hash
  * array for EVERY element_at inside the window lambda (Catalyst
  * inlines the projection into the nested lambdas; chained selects do
  * not stop it) — O(n² w) md5+split work per doc in interpreted eval,
  * ~100 s for sf0.001's 300 docs. Here: each shingle is hashed ONCE
  * and the window minima come from a monotonic deque — O(n) amortized
  * per row, a thread-local reused digest, zero intermediate arrays.
  * Windows shorter than `w` (docs with < w grams) degenerate to one
  * whole-array window, matching the oracle's `least(t+w-1, n)` clip.
  * Codegen emits one call into [[kernel]] per row (reference-object
  * pattern) so the enclosing operator keeps its whole-stage span.
  */
case class WinnowSelectExpr(child: Expression, w: Int)
    extends UnaryExpression with RefKernel {
  require(w >= 1, s"winnow window must be >= 1, got $w")

  override protected def checkName = "winnow_select"
  override protected def expects = "array<string>"
  override protected def accepts(ts: Seq[DataType]) = ts match {
    case Seq(ArrayType(StringType, _)) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(sh: ArrayData): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val md = Md5.get
    val dg = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      md.reset()
      dg(i) = md.digest(sh.getUTF8String(i).getBytes)
      i += 1
    }
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
    // Monotonic deque of positions with strictly increasing digests;
    // equal digests pop (the NEWER, righter position must win ties).
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    val selected = new java.util.LinkedHashSet[String]()
    i = 0
    while (i < n) {
      while (tail > head && !less(dq(tail - 1), i)) tail -= 1
      dq(tail) = i; tail += 1
      if (i >= winW - 1) {
        while (dq(head) <= i - winW) head += 1
        selected.add(WinnowSelectExpr.hex(dg(dq(head))))
      }
      i += 1
    }
    val out = new Array[Any](selected.size())
    val it = selected.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowSelectExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_winnow_select"
}

object WinnowSelectExpr {
  private val hexChars = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): String = {
    val c = new Array[Char](32)
    var j = 0
    while (j < 16) {
      c(2 * j) = hexChars((d(j) >> 4) & 0xF)
      c(2 * j + 1) = hexChars(d(j) & 0xF)
      j += 1
    }
    new String(c)
  }
}
