package graft.spark.catalyst

import graft.text.TextAnalysis
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace token count as a NATIVE codegen'd Catalyst expression: the
  * generated code calls [[TextAnalysis.wsTokenCountUtf8]] straight on the
  * UTF8String — no UTF-16 decode, no String allocation, no UDF
  * serialization boundary — and the expression participates in
  * whole-stage codegen (vs a Scala UDF, which forces a non-codegen
  * boundary plus a UTF8String->String copy per row).
  *
  * This is the "(b) custom Catalyst Expression" tier of the operator
  * preference order; the parse-family functions stay UDFs deliberately
  * (their cost is the parse itself — SURVEY.md §4.3), but a per-row
  * scalar this hot and this small is exactly what doGenCode is for.
  */
case class WsTokenCount(child: Expression) extends StringFunction("ws_token_count") {

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    TextAnalysis.wsTokenCountUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.TextAnalysis.wsTokenCountUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): WsTokenCount =
    copy(child = newChild)
}
