package graft.spark.catalyst

import graft.spark.{Bpe, Chunking, Filtering}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Gopher repetition statistics of one text as a native Generator that
  * emits exactly one row (n_words, top2_chars, dup3_chars) from
  * [[Filtering.repetitionStatsUtf8]] on the UTF8String. Being an
  * expression, not a `mapPartitions` walk, it leaves column pruning and
  * filter pushdown to the optimizer; being a Generator, not a struct in a
  * projection, it stops a filter on its outputs (`.filter(keep)`) from
  * being pushed below it with the stats and a computed text substituted
  * into the condition, where they would be evaluated once per reference.
  * Column-side only: [[Filtering.repetitionStats]] builds it over the text
  * coalesced to '', and no SQL name is bound. The kernel dominates, so
  * CodegenFallback is the tier, as for [[ParseHtmlNodes]].
  */
case class RepetitionStats(child: Expression)
    extends StringFunction("repetition_stats") with Generator with CodegenFallback {

  override def elementSchema: StructType = RepetitionStats.Schema

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    Iterator.single(Filtering.repetitionStatsUtf8(child.eval(input).asInstanceOf[UTF8String]))

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  val Schema: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("top2_chars", LongType, nullable = false),
    StructField("dup3_chars", LongType, nullable = false)))
}

/** The chunk windows of one text as a native Generator: a (chunk_idx,
  * n_tokens, chunk_len, char_start) row per window of `maxTokens` words
  * overlapping by `overlap`, plus its chunk_text when `withText`, from
  * [[Chunking.windowsUtf8]]. The sizes are fields, not plan literals.
  * Column-side only ([[Chunking.chunk]] with text,
  * [[Chunking.chunkOffsetsMapped]] without); no SQL name is bound. The
  * text comes from the generator because a text column carried through
  * it would be copied whole into every chunk row. CodegenFallback, as
  * for [[RepetitionStats]]: the kernel dominates.
  */
case class ChunkWindows(child: Expression, maxTokens: Int, overlap: Int, withText: Boolean)
    extends StringFunction("chunk_windows") with Generator with CodegenFallback {

  override def elementSchema: StructType =
    if (withText) ChunkWindows.Schema.add("chunk_text", StringType, nullable = false)
    else ChunkWindows.Schema

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    Chunking.windowsUtf8(child.eval(input).asInstanceOf[UTF8String], maxTokens, overlap, withText)

  override protected def withNewChildInternal(newChild: Expression): ChunkWindows =
    copy(child = newChild)
}

object ChunkWindows {
  val Schema: StructType = StructType(Seq(
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("chunk_len", LongType, nullable = false),
    StructField("char_start", LongType, nullable = false)))
}

/** BPE token count of one text under a merge table, as a native
  * expression: the generated code calls [[Bpe.tokenCountUtf8]], the
  * classic left-to-right merge walk per word. The table is a field, not a
  * plan literal, so the plan stays one node at any merge budget; plans
  * print its size. `merges` is an immutable Seq, so two counts under equal
  * tables compare equal. Column-side only: [[Bpe.tokenCount]] builds it
  * over the text coalesced to '', and no SQL name is bound. The kernel is
  * a `private[spark]` object method, which gets no static forwarder, so
  * the generated code names the object's `MODULE$` instance.
  */
case class BpeTokenCount(child: Expression, merges: Seq[(String, String)])
    extends StringFunction("bpe_token_count") {

  @transient private lazy val table: Array[(String, String)] = merges.toArray

  override def dataType: DataType = LongType

  override protected def stringArgs: Iterator[Any] = Iterator(child, s"${merges.length} merges")

  override protected def nullSafeEval(input: Any): Any =
    Bpe.tokenCountUtf8(input.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("merges", table, "scala.Tuple2[]")
    defineCodeGen(ctx, ev, c => s"graft.spark.Bpe$$.MODULE$$.tokenCountUtf8($c, $t)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}
