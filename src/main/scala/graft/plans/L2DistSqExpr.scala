package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd squared-L2 distance — the argmin inner loop of
  * the whole IVF/PQ/k-means family (r13: 28 call sites in
  * Similarity.scala, each evaluated K times per row inside the
  * broadcast-argmin lambdas).
  *
  * [[DotProductExpr]]'s rationale verbatim: `zip_with` + `aggregate`
  * have no codegen, so every element round-trips through interpreted
  * lambda eval with boxing — and HERE that interpreted fold sits
  * INSIDE an interpreted `transform`/`array_min` over K centroids, so
  * the boxing multiplies by the cell/codeword count. This compiles to
  * a tight primitive loop per (vector, centroid) pair.
  *
  * Semantics are EXACTLY the double-widened index-order left fold of
  * [[graft.functions.VectorFunctions.l2distSq]]:
  * acc += ((double)a_i - (double)c_i)^2 — bit-identical to the
  * composed form on the equal-length, null-free vectors every caller
  * feeds it (the DotProductExpr data contract). Either side may be
  * array<float> or array<double>: centroids/codewords are exact-mean
  * doubles while corpus vectors are floats, and the residual paths
  * pass doubles on both sides.
  */
case class L2DistSqExpr(left: Expression, right: Expression)
    extends BinaryExpression with KernelTypeCheck {

  override protected def expects = "array<float|double> args"
  override protected def accepts(ts: Seq[DataType]) = ts.forall {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = isFloat(left.dataType)
    val rf = isFloat(right.dataType)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      val d = xv - yv
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("l2N")
      val acc = ctx.freshName("l2Acc")
      val i = ctx.freshName("l2I")
      val d = ctx.freshName("l2D")
      def get(arr: String, idx: String, float: Boolean) =
        if (float) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $d = ${get(a, i, isFloat(left.dataType))} - ${get(b, i, isFloat(right.dataType))};
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2DistSqExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_l2distsq"
}
