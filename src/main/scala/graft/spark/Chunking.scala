package graft.spark

import graft.spark.catalyst.ChunkWindows
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import org.apache.spark.unsafe.types.UTF8String

/** Document chunking for training-sequence preparation: split each doc
  * into fixed-size token windows with overlap — the op that sits
  * between token counting and sequence packing in an LLM data pipeline.
  *
  * Tokens are whitespace words: the split of the text on single spaces,
  * empties kept (the same unit as [[graft.text.TextAnalysis.wsTokenCount]]
  * on single-space text), and a null text chunks as ''. One kernel,
  * [[windowsUtf8]], computes every window, run per row by the native
  * [[ChunkWindows]] generator; the two forms are two projections of it,
  * and neither shuffles:
  *  - [[chunk]] also takes each chunk's text, a byte slice of the doc;
  *  - [[chunkOffsetsMapped]] keeps the sizes and offsets only, for
  *    consumers that never read chunk text (packing, span remap).
  *
  * Chunk layout: starts at 0, step = maxTokens - overlap; every word
  * lands in at least one chunk; consecutive chunks share exactly
  * `overlap` words (the final chunk may be shorter). A doc with no
  * more than maxTokens words yields exactly one chunk.
  */
object Chunking {

  /** (doc_id, chunk_idx, chunk_text, n_tokens) for every chunk; the id
    * column passes through with its own type.
    */
  def chunk(docs: DataFrame, maxTokens: Int = 512, overlap: Int = 64,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), windows(col(textCol), maxTokens, overlap, withText = true))
      .select(col(idCol), col("chunk_idx"), col("chunk_text"), col("n_tokens"))

  /** Whitespace word count of a text column WITHOUT materializing the
    * word array: `size(split(t, " "))` equals (number of spaces) + 1
    * EXACTLY — split keeps empty strings at the default -1 limit, so
    * every space contributes one element boundary — and the space count
    * is `length(t) - length(translate(t, " ", ""))`. Null propagates
    * like size(split(null)) under non-legacy null sizing (both are SQL
    * null). Used by the scan-side word-count guards/filters, which
    * previously split the full text into an array per row just to read
    * its size.
    */
  def wordCount(textCol: Column): Column =
    length(textCol) - length(translate(textCol, " ", "")) + lit(1)

  /** The windows of [[chunk]] as (idCol, chunk_idx, n_tokens,
    * chunk_len, char_start), with no chunk text: chunk_text ==
    * substring(text, char_start+1, chunk_len), which lets document
    * spans (e.g. loss masks) be remapped into chunk coordinates exactly.
    * The id column must be integral and comes out as a long (the
    * fail-fast contract of [[Packing.packNextFit]]); callers with other
    * id types derive a numeric key first.
    */
  def chunkOffsetsMapped(docs: DataFrame, maxTokens: Int = 512, overlap: Int = 64,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    docs.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"chunkOffsetsMapped id column '$idCol' must be an integral type; got $other " +
          "— derive a numeric key first")
    }
    docs.select(col(idCol).cast("long").as(idCol),
      windows(col(textCol), maxTokens, overlap, withText = false))
  }

  /** [[ChunkWindows]] over `text` coalesced to '', its outputs named. */
  private def windows(text: Column, maxTokens: Int, overlap: Int, withText: Boolean): Column = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val gen = ChunkWindows(CatalystBridge.expression(coalesce(text, lit(""))),
      maxTokens, overlap, withText)
    CatalystBridge.column(gen).as(gen.elementSchema.fieldNames.toSeq)
  }

  /** The (chunk_idx, n_tokens, chunk_len, char_start[, chunk_text]) rows
    * of one non-null text. One walk over the UTF-8 bytes splits words at
    * 0x20 (never inside a multibyte sequence) and counts code points as
    * non-continuation bytes (`UTF8String.numChars` on valid UTF-8), so
    * lengths and offsets are in Spark `length`/`substring` units. pre(k)
    * is the code points in words [0, k) and starts(k) the byte where word
    * k starts, so a chunk's text is an O(chunk) byte slice.
    */
  private[spark] def windowsUtf8(text: UTF8String, maxTokens: Int, overlap: Int,
                                 withText: Boolean): Iterator[InternalRow] = {
    val b = text.getBytes
    var pre = new Array[Int](16)
    var starts = new Array[Int](16)
    var nWords = 1
    var cp = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == ' ') {
        if (nWords == pre.length) {
          pre = java.util.Arrays.copyOf(pre, 2 * nWords)
          starts = java.util.Arrays.copyOf(starts, 2 * nWords)
        }
        pre(nWords) = cp
        starts(nWords) = i + 1
        if (i < b.length) nWords += 1
      } else if ((b(i) & 0xc0) != 0x80) cp += 1
      i += 1
    }
    // the last start is the largest multiple of step strictly below
    // max(1, nWords - overlap): the final chunk is non-empty and every
    // word is covered
    val step = maxTokens - overlap
    val nChunks = (math.max(nWords - overlap, 1) + step - 1) / step
    Iterator.tabulate(nChunks) { k =>
      val s = k * step
      val nt = math.min(nWords - s, maxTokens)
      // nt words and nt - 1 separators, after s words and s separators
      val window = Array[Any](k, nt, (pre(s + nt) - pre(s) + nt - 1).toLong, (pre(s) + s).toLong)
      new GenericInternalRow(if (!withText) window
        else window :+ UTF8String.fromBytes(b, starts(s), starts(s + nt) - 1 - starts(s)))
    }
  }
}
