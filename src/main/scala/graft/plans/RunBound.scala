package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A literal whose value changes from run to run — a watermark, a band
  * floor, a frozen `now` — and must not change the generated code.
  *
  * A plain [[Literal]] is inlined into whole-stage code as a Java
  * constant, so a delta scan bounded by a new watermark on every refresh
  * generated new source on every refresh, and Spark compiled it anew on
  * the driver and again on every executor. This one reaches generated
  * code through `ctx.addReferenceObj`: the code reads the value from the
  * stage's reference array, is byte-identical across runs, and hits the
  * generated-class cache.
  *
  * It stays a Catalyst [[Literal]] in every other respect: `Literal(v, t)`
  * patterns still match it, so Parquet row-group pushdown, partition
  * pruning and constant folding treat it exactly like the plain one. */
final class RunBound(v: Any, t: DataType) extends Literal(v, t) {
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) super.doGenCode(ctx, ev)
    else {
      val ref = ctx.addReferenceObj("runBound", value,
        CodeGenerator.boxedType(dataType))
      val javaType = CodeGenerator.javaType(dataType)
      val code =
        if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()"
        else ref
      ExprCode.forNonNullValue(JavaCode.expression(code, dataType))
    }
}

object RunBound {
  /** A per-run TIMESTAMP bound (microseconds since the epoch): the
    * column form of `timestamp_micros(lit(micros))`. */
  def timestamp(micros: Long): Column =
    Shims.column(new RunBound(micros, TimestampType))
}
