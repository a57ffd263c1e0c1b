package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The broadcast-centroid argmin — the whole
  * `array_min(transform(cents, c => struct(l2distSq(emb, c.vec), c.label)))`
  * nest as ONE native call per row: the cell-assignment inner loop of
  * the IVF/k-means family (the [[PqArgminExpr]] discipline applied to
  * the centroid sites it did not cover).
  *
  * The composed form evaluates an interpreted lambda per CENTROID —
  * K struct allocations + K boxed l2distSq results per corpus row —
  * then an interpreted array_min struct scan. Here: one pass over the
  * centroid array, the distance folded with [[L2DistSqExpr]]'s exact
  * double-widened index-order min-length fold, zero allocation until
  * the single result struct.
  *
  * Value-exact with the composed form INCLUDING its null algebra:
  * - comparison replicates array_min's struct ordering — d2 ascending
  *   with nulls FIRST (java.lang.Double.compare tie semantics: NaN
  *   greatest; d2 is a sum of squares so -0.0 never arises), ties by
  *   label ascending nulls first (labels are distinct in every
  *   caller, but the rule is replicated anyway);
  * - a null embedding yields d2 = null for every centroid, so the
  *   result is struct(null, smallest label) exactly as the composed
  *   struct ordering picks it (NOT null propagation — callers keep
  *   their row, as the transform form did);
  * - a null centroid element or null centroid vector contributes
  *   struct(null, label) / struct(null, null) exactly as getField on
  *   the null input does.
  * An EMPTY centroid array returns null (array_min of an empty array).
  *
  * `vecField`/`labelField` name the centroid struct's fields;
  * `distName`/`labelName` name the output struct's fields so callers'
  * `.getField(..)` accessors are unchanged. Codegen emits one call
  * into [[kernel]] per row (reference-object pattern).
  */
case class CellArgminExpr(left: Expression, right: Expression,
                          vecField: String, labelField: String,
                          distName: String, labelName: String)
    extends BinaryExpression with RefKernel {

  private def embFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def centStruct: StructType = right.dataType match {
    case ArrayType(st: StructType, _) => st
    case _ => null
  }
  private def vecIdx: Int = centStruct.fieldIndex(vecField)
  private def labIdx: Int = centStruct.fieldIndex(labelField)
  private def labType: DataType = centStruct.fields(labIdx).dataType
  private def vecFloat: Boolean = centStruct.fields(vecIdx).dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def expects =
    s"(array<float|double>, array<struct<$vecField: array<float|double>, $labelField: int|long|string>>)"
  override protected def accepts(ts: Seq[DataType]) = ts match {
    case Seq(ArrayType(FloatType | DoubleType, _), ArrayType(st: StructType, _)) =>
      st.fieldNames.contains(vecField) && st.fieldNames.contains(labelField) &&
        (st.fields(st.fieldIndex(vecField)).dataType match {
          case ArrayType(FloatType | DoubleType, _) => true
          case _ => false
        }) &&
        (st.fields(st.fieldIndex(labelField)).dataType match {
          case IntegerType | LongType | StringType => true
          case _ => false
        })
    case _ => false
  }

  override def dataType: DataType = StructType(Seq(
    StructField(distName, DoubleType, nullable = true),
    StructField(labelName, labType,
      nullable = centStruct.fields(labIdx).nullable || right.dataType.asInstanceOf[ArrayType].containsNull)))

  // null emb still yields a (null, label) struct — the expression is
  // null only when the CENTROID ARRAY itself is null or empty, which
  // is what kernel implements; BinaryExpression's default eval would
  // null-propagate the left side too, so eval is overridden.
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any =
    kernel(left.eval(input), right.eval(input).asInstanceOf[ArrayData])

  /** `emb` may be null (composed form keeps the row). */
  def kernel(embAny: Any, cents: ArrayData): InternalRow = {
    if (cents == null || cents.numElements() == 0) return null
    val k = cents.numElements()
    val emb = if (embAny == null) null else embAny.asInstanceOf[ArrayData]
    val ef = embFloat
    val vf = vecFloat
    val lt = labType
    val vi = vecIdx
    val li = labIdx
    val nFields = centStruct.length
    var bestD: java.lang.Double = null
    var bestLab: Any = null
    var any = false
    var i = 0
    while (i < k) {
      var d: java.lang.Double = null
      var lab: Any = null
      if (!cents.isNullAt(i)) {
        val cw = cents.getStruct(i, nFields)
        lab = if (cw.isNullAt(li)) null else cw.get(li, lt)
        if (emb != null && !cw.isNullAt(vi)) {
          val cv = cw.getArray(vi)
          val n = math.min(emb.numElements(), cv.numElements())
          var acc = 0.0
          var j = 0
          while (j < n) {
            val xv = if (ef) emb.getFloat(j).toDouble else emb.getDouble(j)
            val yv = if (vf) cv.getFloat(j).toDouble else cv.getDouble(j)
            val dd = xv - yv
            acc += dd * dd
            j += 1
          }
          d = java.lang.Double.valueOf(acc)
        }
      }
      // struct ordering: (d2 asc NULLS FIRST, label asc NULLS FIRST)
      val better =
        if (!any) true
        else {
          val cd =
            if (d == null && bestD == null) 0
            else if (d == null) -1
            else if (bestD == null) 1
            else java.lang.Double.compare(d.doubleValue, bestD.doubleValue)
          if (cd != 0) cd < 0
          else {
            if (lab == null && bestLab == null) false
            else if (lab == null) true
            else if (bestLab == null) false
            else lt match {
              case IntegerType => lab.asInstanceOf[Int] < bestLab.asInstanceOf[Int]
              case LongType => lab.asInstanceOf[Long] < bestLab.asInstanceOf[Long]
              case StringType =>
                lab.asInstanceOf[UTF8String].compareTo(bestLab.asInstanceOf[UTF8String]) < 0
            }
          }
        }
      if (better) { bestD = d; bestLab = lab; any = true }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      if (bestD == null) null else bestD.doubleValue, bestLab))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CellArgminExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cell_argmin"
}
