package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd float-vector dot product in double precision —
  * the hot loop of every similarity/dedup operator.
  *
  * Spark's higher-order functions (`zip_with`+`aggregate`) have no
  * codegen: each element round-trips through interpreted lambda eval
  * with boxing. This expression compiles to a tight primitive `for`
  * loop over the two `ArrayData` buffers instead (~10x on the vector
  * suite; the same reason ella keeps tensor math in native kernels,
  * ella-tensor/src/ops/builtin_arith.rs).
  *
  * Semantics are EXACTLY the double-widened left fold of
  * [[graft.functions.VectorFunctions.dot]] — acc += (double)a_i *
  * (double)b_i in index order — so results stay bit-identical to the
  * DuckDB oracle's list_sum fold (SURVEY.md §5).
  */
case class DotProductExpr(left: Expression, right: Expression)
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
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: several dot products can share one codegen stage
      // (cosine emits three) — fixed locals would collide and trip a
      // silent interpreted fallback.
      val n = ctx.freshName("dotN")
      val acc = ctx.freshName("dotAcc")
      val i = ctx.freshName("dotI")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}
