package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RowOrdering, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** The whole per-query MMR greedy rerank as ONE native call — the
  * ss29 / api.mmrTopK selection loop over a query's shortlist.
  *
  * The composed form unrolled the k greedy steps into plan stages:
  * a |shortlist|² pairwise-cosine join, then per step an anti-join,
  * a penalty join + max agg, a rank window, and an EAGER
  * localCheckpoint (required so the step unions never nest) — five
  * driver-synchronized jobs plus two joins per query batch, all over
  * frames of at most |queries|·shortlist rows. Since selection is
  * per-query and the shortlist is bounded by construction (8 here),
  * the entire loop fits one row: collect the query's candidates and
  * pick greedily in place. The corpus-sized work (the exact-cosine
  * shortlist scan) is untouched; everything after it collapses from
  * ~5k-task job chains to one generator over |queries| rows.
  *
  * Exactness: scores replicate the composed integer math — pick 1 is
  * argmax(rel_milli), later picks argmax(rel_milli − max over selected
  * of floor(cosine·1000)) with ties to the smallest vec_id (Spark's
  * own interpreted ordering for the id type, so int/long/string ids
  * tie-break exactly as the row_number window did). The cosine is
  * [[CosineSimExpr]]'s index-ordered double-widened fold (symmetric:
  * every product and the norm multiply commute bit-exactly), and
  * floor(x).toLong equals Spark's Floor+cast on every double
  * including NaN. Null rel/penalty scores sort after non-null (the
  * window's `desc` NULLS LAST), and a candidate with a null embedding
  * yields null sims that max() skips — all matching the composed
  * plan's null algebra. Fewer than k candidates yields fewer picks
  * (the inner penalty join's behavior).
  *
  * Input: array<struct<vec_id, rel_milli: long, embedding:
  * array<float>>>. Output: array<struct<vec_id, rel_milli,
  * mmr_milli, pick>> in pick order.
  */
case class MmrPicksExpr(child: Expression, k: Int)
    extends UnaryExpression with RefKernel {

  require(k >= 1, s"mmr k must be >= 1, got $k")

  private def idType: DataType = child.dataType match {
    case ArrayType(StructType(fields), _) if fields.length == 3 => fields(0).dataType
    case _ => NullType
  }

  override protected def expects = "array<struct<id, rel_milli: long, embedding: array<float>>>"
  // an id must be orderable (ties pick the smaller id): a map id is a
  // clean refusal here, not a MatchError from getInterpretedOrdering
  override protected def accepts(ts: Seq[DataType]) = ts match {
    case Seq(ArrayType(StructType(Array(idF, relF, embF)), _)) =>
      relF.dataType == LongType && RowOrdering.isOrderable(idF.dataType) &&
        (embF.dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        })
    case _ => false
  }

  override def dataType: DataType = {
    val idF = child.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fields(0)
    ArrayType(StructType(Seq(
      StructField("vec_id", idF.dataType, idF.nullable),
      StructField("rel_milli", LongType, nullable = true),
      StructField("mmr_milli", LongType, nullable = true),
      StructField("pick", IntegerType, nullable = false))), containsNull = false)
  }

  @transient private lazy val idOrdering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(idType).asInstanceOf[Ordering[Any]]

  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  def kernel(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val tpe = idType
    val ids = new Array[Any](n)
    val rels = new Array[java.lang.Long](n)
    val embs = new Array[ArrayData](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      ids(i) = if (row.isNullAt(0)) null else row.get(0, tpe)
      rels(i) = if (row.isNullAt(1)) null else java.lang.Long.valueOf(row.getLong(1))
      embs(i) = if (row.isNullAt(2)) null else row.getArray(2)
      i += 1
    }
    // floor(cosine·1000) as long — CosineSimExpr's fold + Spark's
    // Floor-on-double semantics (NaN floors to 0 via toLong)
    def simMilli(a: Int, b: Int): java.lang.Long = {
      val x = embs(a); val y = embs(b)
      if (x == null || y == null) return null
      val m = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var j = 0
      while (j < m) {
        val xi = x.getFloat(j).toDouble
        val yi = y.getFloat(j).toDouble
        dot += xi * yi; na += xi * xi; nb += yi * yi
        j += 1
      }
      java.lang.Long.valueOf(math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1000.0).toLong)
    }
    // `score desc NULLS LAST, vec_id asc NULLS FIRST` — the window's
    // exact order. Returns true when candidate i beats candidate best.
    def beats(si: java.lang.Long, ii: Int, sb: java.lang.Long, bi: Int): Boolean = {
      if (si == null && sb != null) return false
      if (si != null && sb == null) return true
      if (si != null && sb != null && si.longValue != sb.longValue)
        return si.longValue > sb.longValue
      val a = ids(ii); val b = ids(bi)
      if (a == null) b != null
      else if (b == null) false
      else idOrdering.lt(a, b)
    }
    val selected = new Array[Boolean](n)
    // running penalty: max over selected of simMilli (null-skipping max)
    val penalty = new Array[java.lang.Long](n)
    val out = new java.util.ArrayList[Any](math.min(k, n))
    var p = 1
    while (p <= math.min(k, n)) {
      var best = -1
      var bestScore: java.lang.Long = null
      i = 0
      while (i < n) {
        if (!selected(i)) {
          val score: java.lang.Long =
            if (p == 1) rels(i)
            else if (rels(i) == null || penalty(i) == null) null
            else java.lang.Long.valueOf(rels(i).longValue - penalty(i).longValue)
          if (best == -1 || beats(score, i, bestScore, best)) {
            best = i; bestScore = score
          }
        }
        i += 1
      }
      selected(best) = true
      out.add(new GenericInternalRow(Array[Any](
        ids(best),
        if (rels(best) == null) null else rels(best).longValue,
        if (bestScore == null) null else bestScore.longValue,
        p)))
      i = 0
      while (i < n) {
        if (!selected(i)) {
          val s = simMilli(i, best)
          if (s != null && (penalty(i) == null || s.longValue > penalty(i).longValue))
            penalty(i) = s
        }
        i += 1
      }
      p += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): MmrPicksExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_mmr_picks"
}
