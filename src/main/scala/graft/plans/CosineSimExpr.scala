package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused one-pass cosine similarity over two float vectors.
  *
  * `cosine(a, b)` as three [[DotProductExpr]]s (a·b, a·a, b·b) walks
  * each vector twice and emits three loops into the stage. This kernel
  * accumulates all three sums in ONE loop over the pair — the memory
  * traffic of a single pass, which is what the scan-bound similarity
  * operators (ss01/dd05 verify, api.cosineTopK) actually pay for at
  * 100 TB (ella fuses the same way in its tensor kernels,
  * ella-tensor/src/ops/builtin_arith.rs).
  *
  * Bit-compatibility: each accumulator is the same index-ordered
  * double-widened left fold the three separate loops produce, and
  * sqrt is IEEE-exact, so `dot/(sqrt(na)*sqrt(nb))` here is
  * bit-identical to the unfused form (and to the DuckDB oracle's
  * list_sum folds, SURVEY.md §5).
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with KernelTypeCheck {

  override protected def expects = "two array<float> args"
  override protected def accepts(ts: Seq[DataType]) = ts match {
    case Seq(ArrayType(FloatType, _), ArrayType(FloatType, _)) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: several kernels can share one codegen stage — fixed
      // locals would collide and trip a silent interpreted fallback.
      val n = ctx.freshName("cosN")
      val dot = ctx.freshName("cosDot")
      val na = ctx.freshName("cosNa")
      val nb = ctx.freshName("cosNb")
      val i = ctx.freshName("cosI")
      val xi = ctx.freshName("cosXi")
      val yi = ctx.freshName("cosYi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $a.getFloat($i);
         |  double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine"
}
