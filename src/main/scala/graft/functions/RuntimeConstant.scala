package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/**
 * `runtime_constant(c)`: the value of the foldable `c`, bound into
 * generated code by reference instead of as a source literal.
 *
 * Whole-stage codegen writes a primitive literal (a `Long`, a timestamp)
 * into the generated Java source, so a plan that differs from the last
 * one only in such a literal — a per-request clock — misses Spark's code
 * cache and compiles again. Here the child is evaluated once at codegen
 * time (after the optimizer has folded it to a literal) and the value
 * travels in the generated object's `references` array, so the source is
 * the same for every value and is compiled once per JVM.
 *
 * The expression is deliberately not foldable, or `ConstantFolding`
 * would turn it back into the literal it hides; the price is that a
 * predicate over it is evaluated per row and is not pushed to a scan.
 */
case class RuntimeConstant(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override def prettyName: String = "runtime_constant"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.foldable) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"runtime_constant requires a foldable argument, got ${child.sql}")

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.eval() match {
      case null => ExprCode.forNullValue(dataType)
      case v =>
        val javaType = CodeGenerator.javaType(dataType)
        val ref = ctx.addReferenceObj("runtimeConstant", v, CodeGenerator.boxedType(dataType))
        val init = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
        // unboxed once, when the generated object is initialized
        val field = ctx.addMutableState(javaType, "runtimeConstant", f => s"$f = $init;")
        ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    }

  override protected def withNewChildInternal(newChild: Expression): RuntimeConstant =
    copy(child = newChild)
}
