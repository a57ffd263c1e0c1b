package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared token-scan machinery for the lexicon kernels: walk the
  * whitespace tokens of a UTF8String's bytes (exactly as
  * `split(text, " ")` emits them — 0x20 separators, empty tokens kept
  * but unmatchable) and hand each (start, len) slice to a callback. */
private[plans] object TokenScan {
  @inline def forEachToken(bytes: Array[Byte])(f: (Int, Int) => Unit): Unit = {
    val n = bytes.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        f(start, i - start)
        start = i + 1
      }
      i += 1
    }
  }

  @inline def sliceEquals(bytes: Array[Byte], start: Int, len: Int,
                          w: Array[Byte]): Boolean = {
    if (w.length != len) return false
    var j = 0
    while (j < len && bytes(start + j) == w(j)) j += 1
    j == len
  }
}

/** Hit counts of a document's whitespace tokens against N fixed
  * lexicons in ONE byte pass (array<int>, aligned with `lexicons`) —
  * the tx01/tx34 scorer without the machinery: the composed form runs
  * one interpreted ArrayFilter + array_contains over EVERY token PER
  * LEXICON (five passes for langid) over a split array that exists
  * only to be scanned. Value-exact with
  * `lexiconHits(split(text, " "), lex)` per lexicon: a token counts
  * once per lexicon containing it, byte equality. Codegen emits one
  * call into [[kernel]] per row (the expression itself rides along as
  * a reference object), so the enclosing scan/filter/project pipeline
  * keeps its whole-stage span — `CodegenFallback` would evict the
  * whole operator from codegen, not just this expression.
  */
case class LexiconCountsExpr(child: Expression, lexicons: Seq[Seq[String]])
    extends UnaryExpression with RefKernel {

  require(lexicons.nonEmpty && lexicons.forall(_.nonEmpty),
    "graft_lexicon_counts needs at least one non-empty lexicon")

  private lazy val lexBytes: Array[Array[Array[Byte]]] =
    lexicons.map(_.map(_.getBytes("UTF-8")).toArray).toArray

  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  def kernel(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val counts = new Array[Int](lexBytes.length)
    TokenScan.forEachToken(bytes) { (start, len) =>
      if (len > 0) {
        var l = 0
        while (l < lexBytes.length) {
          val lex = lexBytes(l)
          var k = 0
          var hit = false
          while (!hit && k < lex.length) {
            hit = TokenScan.sliceEquals(bytes, start, len, lex(k))
            k += 1
          }
          if (hit) counts(l) += 1
          l += 1
        }
      }
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(newChild: Expression): LexiconCountsExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_lexicon_counts"
}

/** An open-addressing multiset of byte slices over one row's bytes —
  * (start, len, count) triples, exact byte-compare on collision, no
  * string allocation. Backs [[TokenProfileExpr]]'s distinct/modal
  * counting for both tokens and adjacent-token bigram spans. */
private[plans] final class SliceCounter(bytes: Array[Byte]) {
  private var cap = 64
  private var starts = Array.fill(cap)(-1)
  private var lens = new Array[Int](cap)
  private var counts = new Array[Int](cap)
  private var filled = 0
  var nUniq = 0

  private def hashSlice(start: Int, len: Int): Int = {
    var h = 1
    var j = 0
    while (j < len) { h = h * 31 + bytes(start + j); j += 1 }
    h
  }

  private def grow(): Unit = {
    val os = starts; val ol = lens; val oc = counts
    cap *= 2
    starts = Array.fill(cap)(-1)
    lens = new Array[Int](cap)
    counts = new Array[Int](cap)
    filled = 0
    val u = nUniq // reinsertion must not re-count distincts
    var i = 0
    while (i < os.length) {
      if (os(i) >= 0) addN(os(i), ol(i), oc(i))
      i += 1
    }
    nUniq = u
  }

  /** Add `n` occurrences of the slice; returns its NEW total count. */
  def addN(start: Int, len: Int, n: Int): Int = {
    var idx = (hashSlice(start, len) & 0x7FFFFFFF) % cap
    while (true) {
      if (starts(idx) < 0) {
        starts(idx) = start; lens(idx) = len; counts(idx) = n
        filled += 1; nUniq += 1
        if (filled * 2 > cap) grow()
        return n
      } else if (lens(idx) == len && {
        var j = 0
        val s0 = starts(idx)
        while (j < len && bytes(s0 + j) == bytes(start + j)) j += 1
        j == len
      }) {
        counts(idx) += n
        return counts(idx)
      } else {
        idx += 1; if (idx == cap) idx = 0
      }
    }
    0 // unreachable
  }

  def add(start: Int, len: Int): Int = addN(start, len, 1)

  /** (start, len) of the modal slice (smallest in unsigned-byte
    * lexicographic order among ties — row_number over
    * (count desc, word asc) rank-1 semantics), plus the hapax count
    * (slices with count 1) and Σ count² — one sweep over the table. */
  def profile(): (Int, Int, Int, Int, Long) = {
    var bestC = -1; var bestS = -1; var bestL = 0
    var nHapax = 0
    var sumSq = 0L
    var i = 0
    while (i < cap) {
      if (starts(i) >= 0) {
        val c = counts(i)
        if (c == 1) nHapax += 1
        sumSq += c.toLong * c.toLong
        if (c > bestC || (c == bestC && sliceLt(starts(i), lens(i), bestS, bestL))) {
          bestC = c; bestS = starts(i); bestL = lens(i)
        }
      }
      i += 1
    }
    (bestS, bestL, bestC, nHapax, sumSq)
  }

  private def sliceLt(aS: Int, aL: Int, bS: Int, bL: Int): Boolean = {
    val n = math.min(aL, bL)
    var j = 0
    while (j < n) {
      val x = bytes(aS + j) & 0xFF
      val y = bytes(bS + j) & 0xFF
      if (x != y) return x < y
      j += 1
    }
    aL < bL
  }
}

/** The per-document token profile in ONE byte pass —
  * struct(n_words, n_stop, n_uniq, top_cnt, top_word, n_bigrams,
  * n_uniq_bigrams) — value-exact with the composed token-array forms
  * it replaces across qualityScored / gopherAgg / tx10 / px03:
  * - n_words = size(split(text, " ")) (empties included);
  * - n_stop = tokens byte-equal to a lexicon word;
  * - n_uniq = size(array_distinct(toks)) (one "" kept when present);
  * - top_cnt/top_word = the modal token's multiplicity and, among
  *   ties, the binary-smallest token — row_number over
  *   (cnt desc, word asc) rank-1, and gopherAgg's sorted-run fold;
  * - n_bigrams/n_uniq_bigrams = size / size(array_distinct) of the
  *   adjacent-pair join: "w_i w_{i+1}" is EXACTLY the text slice from
  *   token i's start to token i+1's end (split on single 0x20), so
  *   bigram distinctness is slice distinctness over the same bytes;
  * - n_hapax = tokens occurring exactly once (tx28's run-length-1
  *   census), sum_sq = Σ count² over distinct tokens (tx36's Simpson
  *   numerator) — both read off the same count table.
  * Counting via open-addressing slice tables — exact byte-compare,
  * no string allocation. Codegen emits one call into [[kernel]] per
  * row (reference-object pattern) so the enclosing operator keeps its
  * whole-stage codegen span; `nullIntolerant` lets the optimizer
  * rewrite pushed `isnotnull(profile(x))` filters to `isnotnull(x)`
  * instead of evaluating the kernel a second time below the exchange.
  */
case class TokenProfileExpr(child: Expression, lexicon: Seq[String])
    extends UnaryExpression with RefKernel {

  private lazy val lexBytes: Array[Array[Byte]] =
    lexicon.map(_.getBytes("UTF-8")).toArray

  override protected def expects = "string"
  override protected def accepts(ts: Seq[DataType]) = ts == Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false),
    StructField("n_uniq", IntegerType, nullable = false),
    StructField("top_cnt", IntegerType, nullable = false),
    StructField("top_word", StringType, nullable = false),
    StructField("n_bigrams", IntegerType, nullable = false),
    StructField("n_uniq_bigrams", IntegerType, nullable = false),
    StructField("n_hapax", IntegerType, nullable = false),
    StructField("sum_sq", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[UTF8String])

  def kernel(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    var nWords = 0
    var nStop = 0
    val toks = new SliceCounter(bytes)
    val bgs = new SliceCounter(bytes)
    var prevStart = -1
    TokenScan.forEachToken(bytes) { (start, len) =>
      nWords += 1
      if (len > 0) {
        var k = 0
        var hit = false
        while (!hit && k < lexBytes.length) {
          hit = TokenScan.sliceEquals(bytes, start, len, lexBytes(k))
          k += 1
        }
        if (hit) nStop += 1
      }
      toks.add(start, len)
      if (prevStart >= 0) bgs.add(prevStart, start + len - prevStart)
      prevStart = start
    }
    val (tS, tL, tC, nHapax, sumSq) = toks.profile()
    val nBg = if (nWords >= 2) nWords - 1 else 0
    InternalRow(nWords, nStop, toks.nUniq, tC,
      UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, tS, tS + tL)),
      nBg, bgs.nUniq, nHapax, sumSq)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenProfileExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_token_profile"
}
