package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** The input-type check every graft kernel shares: `accepts` sees the
  * children's types in order, and a refusal reads
  * "<checkName> expects <expects>, got <t1> / <t2>" — a clean
  * analysis error, never a `MatchError` from a later `dataType`. */
trait KernelTypeCheck extends Expression {
  /** Leads the refusal; the SQL name unless the kernel's message
    * always used a shorter one. */
  protected def checkName: String = prettyName
  /** The accepted inputs as the refusal spells them. */
  protected def expects: String
  protected def accepts(inputs: Seq[DataType]): Boolean

  override def checkInputDataTypes(): TypeCheckResult = {
    val ts = children.map(_.dataType)
    if (accepts(ts)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$checkName expects $expects, got ${ts.mkString(" / ")}")
  }
}

/** A kernel whose generated code is ONE call into its own `kernel`
  * per row: the expression rides along as a reference object, so the
  * enclosing operator keeps its whole-stage codegen span
  * (`CodegenFallback` would evict the whole operator, not just the
  * expression). The call is typed by the concrete class, so Java
  * binds that class's `kernel` overload and its primitive return.
  *
  * Nulls: a `nullIntolerant` kernel is not called when any input is
  * null (the result is null, as `nullSafeCodeGen` does). Any other
  * kernel receives every input, null included; its result is null
  * exactly when `kernel` returns null, and never if not `nullable`.
  */
trait RefKernel extends KernelTypeCheck {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(prettyName, this, getClass.getName)
    val in = children.map(_.genCode(ctx))
    val javaType = CodeGenerator.javaType(dataType)
    if (nullIntolerant) {
      val call = s"${ev.value} = $ref.kernel(${in.map(_.value).mkString(", ")});"
      val declare = s"$javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
      if (nullable) {
        val guarded = in.zip(children).foldRight(s"${ev.isNull} = false;\n$call") {
          case ((g, c), inner) => s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull)(inner)
        }
        ev.copy(code = code"""
          boolean ${ev.isNull} = true;
          $declare
          $guarded""")
      } else {
        ev.copy(code = code"""
          ${in.map(_.code).mkString("\n")}
          $declare
          $call""", isNull = FalseLiteral)
      }
    } else {
      val args = in.map(g => s"${g.isNull} ? null : ${g.value}").mkString(", ")
      val call = code"""
          ${in.map(_.code).mkString("\n")}
          final $javaType ${ev.value} = $ref.kernel($args);"""
      if (nullable)
        ev.copy(code = call + code"boolean ${ev.isNull} = ${ev.value} == null;")
      else ev.copy(code = call, isNull = FalseLiteral)
    }
  }
}

/** The one thread-local MD5 every md5 kernel reuses (a fresh
  * `MessageDigest` per call is the allocation the kernels exist to
  * avoid). Each `kernel` call resets it before use and finishes with
  * it before returning, so kernels on one thread can share it. */
private[plans] object Md5 {
  private val digest: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  def get: MessageDigest = digest.get()
}
