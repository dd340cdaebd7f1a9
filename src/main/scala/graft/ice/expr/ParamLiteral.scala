package graft.ice.expr

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.DataType

/** A Catalyst literal whose generated code does not depend on its value.
  *
  * Spark writes a plain int, long, float, double, boolean, date or
  * timestamp `Literal` straight into the generated Java source, and it
  * caches compiled classes by their source text, so a filter whose
  * constant has not been seen before compiles new classes (Janino).
  * This literal instead registers its value as a reference object and
  * unboxes it once into a field when the generated class is set up:
  * filters that differ only in their constants then share one source
  * text and one compiled class.
  *
  * It IS a `Literal`, so every optimizer rule and the data-source filter
  * translation (parquet `PushedFilters`, row-group skipping) treat it as
  * one. Null values and reference types (string, decimal, binary) keep
  * `Literal`'s code, which already passes those by reference. A `Cast`
  * over it is foldable, and constant folding turns it back into a plain,
  * inlined `Literal`: build it at the type of the column it meets. */
final class ParamLiteral(v: Any, dt: DataType) extends Literal(v, dt) {

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null || !CodeGenerator.isPrimitiveType(dataType)) super.doGenCode(ctx, ev)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val field = ctx.addMutableState(javaType, "param",
        name => s"$name = $ref.${javaType}Value();")
      ExprCode.forNonNullValue(JavaCode.global(field, dataType))
    }
}
