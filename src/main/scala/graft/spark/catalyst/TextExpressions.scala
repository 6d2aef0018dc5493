package graft.spark.catalyst

import graft.text.{Fingerprints, TextAnalysis}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE-ish subword token count as a native codegen'd expression — the
  * same doGenCode tier as [[WsTokenCount]]: the generated code calls
  * [[TextAnalysis.bpeishTokenCountUtf8]] straight on the UTF8String (no
  * UTF-16 decode, no String allocation, stays inside whole-stage
  * codegen). Char-level equivalence with the String form is
  * property-tested in TextSpec.
  */
case class BpeishTokenCount(child: Expression) extends StringFunction("bpeish_token_count") {

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    TextAnalysis.bpeishTokenCountUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.TextAnalysis.bpeishTokenCountUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeishTokenCount =
    copy(child = newChild)
}

/** 64-bit Charikar SimHash as a native codegen'd expression over the raw
  * UTF-8 bytes ([[Fingerprints.simHashUtf8]] — bit-identical to the
  * String form). The dedup tier computes one of these per document
  * corpus-wide, so keeping it inside whole-stage codegen (vs the UDF's
  * per-row UTF8String->String copy) removes the dominant allocation on
  * the simhash scan.
  */
case class SimHash64(child: Expression) extends StringFunction("simhash64") {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    Fingerprints.simHashUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.Fingerprints.simHashUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
