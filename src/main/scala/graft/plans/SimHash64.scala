package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: 64-bit SimHash over a token array.
  *
  * SimHash (Charikar 2002; used by web-scale near-dup pipelines) has
  * no composition in builtin functions that avoids a 64-way explode
  * per token, so this is the (b)-tier custom-Expression path from the
  * design hierarchy: single pass over the token array, fixed 64-slot
  * accumulator, no shuffle, no UDF serialization. Codegen-capable —
  * the generated code calls the static kernel (SimHashUtil), so the
  * expression participates in WholeStageCodegen instead of forcing an
  * interpreted-projection fallback for the whole stage.
  *
  * Token hash is FNV-1a 64 (public-domain constants) — deterministic
  * across JVMs/runs, no dependence on JVM String.hashCode.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SimHashUtil.simhash64(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SimHashUtil.simhash64($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
