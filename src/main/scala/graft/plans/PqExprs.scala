package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The PQ sub-space argmin — the whole
  * `transform(subIdx, m => array_min(transform(cb[m], cw =>
  * struct(l2distSq(subSlice(emb, m), cw.svec), cw.code[, idx])))
  * .getField(...))` nest as ONE native call per row.
  *
  * The composed form is interpreted end to end (transform/array_min
  * are CodegenFallback) and re-evaluates `subSlice` PER CODEWORD —
  * NumSub × K slice allocations + K struct allocations per row, all
  * boxed. Here: one pass over the codebook, the distance folded
  * directly at the sub-space offset (no slice materializes), ties
  * broken by code exactly as the struct ordering did (d2 asc, code
  * asc; the idx field never decides — codes are distinct within a
  * sub-codebook). `mode` selects the output: 0 = the ivfpqEncode
  * variant (0-based winner position, array<int>), 1 = the pqIterate
  * variant (the code value, array of the code field's own type),
  * 2 = the pqEncode/pqSearch variant (array<struct<code, idx, d2>> —
  * code label, position, and the winning distance). Distances are the
  * IDENTICAL double-widened index-order fold of [[L2DistSqExpr]] on
  * the slice the composed form took (short final slices fold the
  * overlap, as slice+min-length did). Codegen emits one call into
  * [[kernel]] per row (reference-object pattern) so the encode
  * projection keeps its whole-stage codegen span — `CodegenFallback`
  * would evict the whole operator from codegen.
  */
case class PqArgminExpr(left: Expression, right: Expression, subDim: Int,
                        mode: Int)
    extends BinaryExpression with RefKernel {

  require(mode >= 0 && mode <= 2, s"graft_pq_argmin mode must be 0..2, got $mode")

  private def embFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def cbStruct: StructType = right.dataType match {
    case ArrayType(ArrayType(st: StructType, _), _) => st
    case _ => null
  }

  private def codeIsLong: Boolean = cbStruct.fields(0).dataType == LongType
  private def svecFloat: Boolean = cbStruct.fields(1).dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def expects = "(array<float|double>, array<array<struct<code,svec>>>)"
  override protected def accepts(ts: Seq[DataType]) = ts match {
    case Seq(ArrayType(FloatType | DoubleType, _), ArrayType(ArrayType(st: StructType, _), _)) =>
      st.length >= 2 &&
        (st.fields(0).dataType == IntegerType || st.fields(0).dataType == LongType) &&
        (st.fields(1).dataType match {
          case ArrayType(FloatType | DoubleType, _) => true
          case _ => false
        })
    case _ => false
  }

  override def dataType: DataType = mode match {
    case 0 => ArrayType(IntegerType, containsNull = false)
    case 1 => ArrayType(cbStruct.fields(0).dataType, containsNull = false)
    case 2 => ArrayType(StructType(Seq(
      StructField("code", cbStruct.fields(0).dataType, nullable = false),
      StructField("idx", IntegerType, nullable = false),
      StructField("d2", DoubleType, nullable = false))), containsNull = false)
  }

  override def nullIntolerant: Boolean = true

  override def nullSafeEval(e: Any, c: Any): Any =
    kernel(e.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  def kernel(emb: ArrayData, cb: ArrayData): ArrayData = {
    val numSub = cb.numElements()
    val embLen = emb.numElements()
    val ef = embFloat
    val sf = svecFloat
    val cl = codeIsLong
    val out = new Array[Any](numSub)
    var m = 0
    while (m < numSub) {
      val cbm = cb.getArray(m)
      val k = cbm.numElements()
      val off = m * subDim
      val sliceLen = math.max(0, math.min(subDim, embLen - off))
      var bestD = Double.PositiveInfinity
      var bestCode = Long.MaxValue
      var bestIdx = -1
      var i = 0
      while (i < k) {
        val cw = cbm.getStruct(i, 2)
        val code = if (cl) cw.getLong(0) else cw.getInt(0).toLong
        val svec = cw.getArray(1)
        val n = math.min(sliceLen, svec.numElements())
        var d2 = 0.0
        var j = 0
        while (j < n) {
          val x = if (ef) emb.getFloat(off + j).toDouble else emb.getDouble(off + j)
          val y = if (sf) svec.getFloat(j).toDouble else svec.getDouble(j)
          val d = x - y
          d2 += d * d
          j += 1
        }
        if (d2 < bestD || (d2 == bestD && code < bestCode)) {
          bestD = d2; bestCode = code; bestIdx = i
        }
        i += 1
      }
      out(m) = mode match {
        case 0 => bestIdx
        case 1 => if (cl) bestCode else bestCode.toInt
        case 2 => org.apache.spark.sql.catalyst.InternalRow(
          if (cl) bestCode else bestCode.toInt, bestIdx, bestD)
      }
      m += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqArgminExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_pq_argmin"
}

/** The ADC gather-sum — `aggregate(zip_with(subIdx, cidx, (m, ci) =>
  * lut[m][ci]), 0.0, acc + x)` as one native call: Σ_m lut[m][cidx[m]]
  * folded in m order with the identical IEEE addition sequence. The
  * composed form ran two interpreted HOFs + two boxed element_at
  * chains PER CANDIDATE row (candidates = probed cells × batch — the
  * probe join's output, the hottest row count in the ss family).
  */
case class AdcSumExpr(left: Expression, right: Expression)
    extends BinaryExpression with KernelTypeCheck {

  override protected def expects = "(array<array<double>>, array<int>)"
  override protected def accepts(ts: Seq[DataType]) = ts match {
    case Seq(ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(l: Any, c: Any): Any = {
    val lut = l.asInstanceOf[ArrayData]
    val cidx = c.asInstanceOf[ArrayData]
    val n = math.min(lut.numElements(), cidx.numElements())
    var acc = 0.0
    var m = 0
    while (m < n) {
      acc += lut.getArray(m).getDouble(cidx.getInt(m))
      m += 1
    }
    acc
  }

  // the gather-sum is simple enough to inline: same min-bound loop,
  // same m-order IEEE fold as nullSafeEval, zero per-row call overhead
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, c) => {
      val n = ctx.freshName("adcN")
      val m = ctx.freshName("adcM")
      val acc = ctx.freshName("adcAcc")
      s"""
         |int $n = java.lang.Math.min($l.numElements(), $c.numElements());
         |double $acc = 0.0;
         |for (int $m = 0; $m < $n; $m++) {
         |  $acc += $l.getArray($m).getDouble($c.getInt($m));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcSumExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_adc_sum"
}
