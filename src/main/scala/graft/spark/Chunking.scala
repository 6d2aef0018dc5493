package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document chunking for training-sequence preparation: split each doc
  * into fixed-size token windows with overlap — the op that sits
  * between token counting and sequence packing in an LLM data pipeline.
  *
  * Tokens are whitespace words (the same unit as
  * [[graft.text.TextAnalysis.wsTokenCount]] on single-space text). Two
  * forms compute the same windows, neither shuffles:
  *  - [[chunk]] builds each chunk's text as a PROJECTION over built-in
  *    functions (split / sequence / posexplode / slice / array_join);
  *    it is the reference the other form is tested against.
  *  - [[chunkOffsetsMapped]] is the compiled one-pass walk for
  *    consumers that read only sizes and offsets (packing, span remap):
  *    no chunk string is ever built.
  *
  * Chunk layout: starts at 0, step = maxTokens - overlap; every word
  * lands in at least one chunk; consecutive chunks share exactly
  * `overlap` words (the final chunk may be shorter). A doc with no
  * more than maxTokens words yields exactly one chunk.
  */
object Chunking {

  /** (doc_id, chunk_idx, chunk_text, n_tokens) for every chunk.
    *
    * The chunk structs are built INSIDE a `transform` over the start
    * sequence, BEFORE the explode: the first shape sliced after
    * posexplode, so every output row materialized with a copy of its
    * doc's full words array — measured +4 s on 130k conversations ->
    * 3M chunks at sf0.1. Building pre-explode keeps the per-row payload
    * at one chunk (total data = corpus x (1 + overlap share)).
    */
  def chunk(docs: DataFrame, maxTokens: Int = 512, overlap: Int = 64,
            textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    val w: Column = col("w")
    val n: Column = size(w)
    // last start: the largest multiple of step strictly below
    // max(1, n - overlap) — guarantees the final chunk is non-empty and
    // every word is covered
    val lastStart = (ceil((greatest(n - lit(overlap), lit(1))).cast("double")
      / lit(step)).cast("int") - 1) * lit(step)
    // coalesce: split(null) yields a null array and posexplode then emits
    // NO rows — null-text docs would vanish silently (ADVICE r4). An
    // empty string chunks like any other text (one chunk, [""]), so null
    // docs stay visible downstream.
    docs
      .select(col(idCol), split(coalesce(col(textCol), lit("")), " ").as("w"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), lastStart, lit(step)), start =>
          struct(
            array_join(slice(w, start + 1, lit(maxTokens)), " ").as("chunk_text"),
            least(n - start, lit(maxTokens)).as("n_tokens"))))
          .as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"),
        col("c.chunk_text").as("chunk_text"),
        col("c.n_tokens").as("n_tokens"))
  }

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
    * chunk_len, char_start), without building any chunk text: n_tokens
    * equals [[chunk]]'s, chunk_len == length(chunk_text), and
    * chunk_text == substring(text, char_start+1, chunk_len) — the
    * property that lets document-coordinate spans (e.g. loss masks) be
    * remapped into chunk coordinates exactly (ChunkingSpec pins all
    * three against [[chunk]]).
    *
    * One per-partition pass in the JVM: each row is one char pass (word
    * boundaries + code-point prefix sums) and chunk windows are O(1)
    * prefix-sum differences. The declarative higher-order-function form
    * of the same arithmetic is interpreted per element outside
    * whole-stage codegen — measured 2.03 s vs 0.13 s warm over the
    * q_masked_pipeline conversations at sf0.1 (OPTIMIZATION_r06.md §7:
    * 120k docs -> 3.1M chunks, 0 mismatches).
    *
    * Word lengths are counted in CODE POINTS (a non-low-surrogate unit
    * count), matching Spark's `length()` exactly on supplementary-plane
    * text — offsets must stay substring-faithful under Spark substring
    * semantics. An UNPAIRED surrogate never reaches the walk: encoding
    * the text into a DataFrame (UTF8String.fromString) replaces it with
    * '?', which counts as one code point here and in `length()`. The id
    * column must be integral (cast-to-long lossless, same fail-fast
    * contract as [[Packing.packNextFit]]); callers with other id types
    * derive a numeric key first.
    */
  def chunkOffsetsMapped(docs: DataFrame, maxTokens: Int = 512, overlap: Int = 64,
                         textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"chunkOffsetsMapped id column '$idCol' must be an integral type; got $other " +
          "— derive a numeric key first")
    }
    val step = maxTokens - overlap
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), coalesce(col(textCol), lit("")))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          // boundaries of split(text, " ", -1): every ' ' ends a word
          var nWords = 1
          var i = 0
          val units = text.length
          while (i < units) { if (text.charAt(i) == ' ') nWords += 1; i += 1 }
          // pre(k) = code points in words[0..k) — low surrogates are the
          // second half of an already-counted code point
          val pre = new Array[Long](nWords + 1)
          var w = 0
          var cp = 0L
          i = 0
          while (i < units) {
            val c = text.charAt(i)
            if (c == ' ') { pre(w + 1) = cp; w += 1 }
            else if (!Character.isLowSurrogate(c)) cp += 1
            i += 1
          }
          pre(w + 1) = cp
          val lastStart = ((math.max(nWords - overlap, 1) + step - 1) / step - 1) * step
          val nChunks = lastStart / step + 1
          val out = new Array[(Long, Int, Int, Long, Long)](nChunks)
          var k = 0
          while (k < nChunks) {
            val s = k * step
            val nt = math.min(nWords - s, maxTokens)
            out(k) = (id, k, nt,
              pre(s + nt) - pre(s) + nt - 1L, // window sum + (nt-1) separators
              pre(s) + s.toLong)              // s words + s separators before
            k += 1
          }
          out.iterator
        }
      }
      .toDF(idCol, "chunk_idx", "n_tokens", "chunk_len", "char_start")
  }
}
