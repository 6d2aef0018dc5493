package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document chunking for training-sequence preparation: split each doc
  * into fixed-size token windows with overlap — the op that sits
  * between token counting and sequence packing in an LLM data pipeline.
  *
  * Tokens are whitespace words (the same unit as
  * [[graft.text.TextAnalysis.wsTokenCount]] on single-space text), so
  * the whole operator is a PROJECTION over built-in codegen'd
  * functions (split / sequence / posexplode / slice / array_join): no
  * UDF, no shuffle, embarrassingly parallel over the scan — at 100 TB
  * this runs at scan speed and the parquet reader prunes to
  * (doc_id, text).
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
    * null). Used by the slim chunkers and the scan-side word-count
    * guards/filters, which previously split the full text into an
    * array per row just to read its size.
    */
  def wordCount(textCol: Column): Column =
    length(textCol) - length(translate(textCol, " ", "")) + lit(1)

  /** The (idCol, chunk_idx, n_tokens) PROJECTION of [[chunk]] for
    * consumers that never read `chunk_text` (e.g. packing by
    * whitespace token counts): every output value is integer
    * arithmetic over the word COUNT, so the text is never split at all
    * — no word array, no per-chunk array_join. Catalyst does not prune
    * the chunk_text construction out of [[chunk]]'s pre-explode struct
    * on its own (the `.n_tokens` extraction is applied to the built
    * struct array — plan-verified), so the projection is a separate
    * shape. ChunkingSpec pins equality with
    * `chunk(...).select(idCol, chunk_idx, n_tokens)`.
    */
  def chunkCounts(docs: DataFrame, maxTokens: Int = 512, overlap: Int = 64,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    val n: Column = col("n")
    val lastStart = (ceil((greatest(n - lit(overlap), lit(1))).cast("double")
      / lit(step)).cast("int") - 1) * lit(step)
    docs
      .select(col(idCol), wordCount(coalesce(col(textCol), lit(""))).as("n"))
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), lastStart, lit(step)), start =>
          least(n - start, lit(maxTokens))))
          .as(Seq("chunk_idx", "n_tokens")))
  }

  /** The (idCol, chunk_idx, n_tokens, chunk_len, char_start) projection
    * of [[chunkWithOffsets]] for span consumers that never read
    * `chunk_text` (the loss-mask remap pipeline keeps only ids +
    * sizes): the text is split ONCE into word lengths and every chunk's
    * char length and offset is integer arithmetic over them —
    * chunk_len = sum(word lens in window) + (n_tokens - 1) separators,
    * the exact length of the string [[chunkWithOffsets]] would have
    * joined. No chunk_text string is ever built. ChunkingSpec pins
    * equality with chunkWithOffsets + length(chunk_text).
    */
  def chunkOffsetsOnly(docs: DataFrame, maxTokens: Int = 512, overlap: Int = 64,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    val ls: Column = col("ls")
    val n: Column = size(ls)
    val lastStart = (ceil((greatest(n - lit(overlap), lit(1))).cast("double")
      / lit(step)).cast("int") - 1) * lit(step)
    val starts = sequence(lit(0), lastStart, lit(step))
    // same prefix recurrence as chunkWithOffsets, summing word lengths
    // instead of measuring a joined string: step k adds the `step` word
    // lengths between starts k-1 and k plus one separator per word
    val charStarts = aggregate(
      slice(starts, lit(2), greatest(size(starts) - 1, lit(0))),
      array(lit(0L)),
      (acc, st) => concat(acc, array(
        element_at(acc, -1)
          + aggregate(slice(ls, st - lit(step) + 1, lit(step)), lit(0L),
            (a, x) => a + x)
          + lit(step.toLong))))
    docs
      .select(col(idCol), split(coalesce(col(textCol), lit("")), " ").as("w"))
      .select(col(idCol), transform(col("w"), x => length(x).cast("long")).as("ls"))
      .select(col(idCol),
        posexplode(zip_with(starts, charStarts, (start, cs) => {
          val nt = least(n - start, lit(maxTokens))
          struct(
            nt.as("n_tokens"),
            (aggregate(slice(ls, start + 1, nt), lit(0L), (a, x) => a + x)
              + nt.cast("long") - lit(1L)).as("chunk_len"),
            cs.as("char_start"))
        })).as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"),
        col("c.n_tokens").as("n_tokens"),
        col("c.chunk_len").as("chunk_len"),
        col("c.char_start").as("char_start"))
  }

  /** The COMPILED form of [[chunkOffsetsOnly]] — same five output
    * columns, same values row-for-row (ChunkingSpec-pinned), computed by
    * a single per-partition pass in the JVM instead of the interpreted
    * Catalyst higher-order-function chain. `aggregate`/`zip_with`/
    * `transform` lambdas do not participate in whole-stage codegen:
    * every word-length slice-sum of the declarative form is an
    * interpreted per-element walk, measured 2.03 s vs 0.13 s warm for
    * this operator over the q_masked_pipeline conversations at sf0.1
    * (OPTIMIZATION_r06.md §7: 120k docs -> 3.1M chunks, 0
    * mismatches). Here each row is one char pass (word boundaries +
    * code-point prefix sums) and chunk windows are O(1) prefix-sum
    * differences.
    *
    * Word lengths are counted in CODE POINTS (a non-low-surrogate unit
    * count), matching Spark's `length()` exactly on supplementary-plane
    * text — offsets must stay substring-faithful under Spark substring
    * semantics. An UNPAIRED surrogate never reaches the walk: encoding
    * the text into a DataFrame (UTF8String.fromString) replaces it with
    * '?', so both forms count it as one code point (ChunkingSpec pins
    * the equality and the substring round trip on lone low and high
    * surrogates). The id column must be integral (cast-to-long lossless,
    * same fail-fast contract as [[Packing.packNextFit]]); callers with
    * other id types use the declarative [[chunkOffsetsOnly]].
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
          "— use chunkOffsetsOnly for non-integral ids")
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

  /** [[chunk]] plus each chunk's exact character offset `char_start` in
    * the ORIGINAL document text: because [[chunk]] splits on a single
    * space and re-joins slices with a single space, chunk_text ==
    * substring(text, char_start+1, length(chunk_text)) — the property
    * that lets downstream spans (e.g. loss masks computed over the doc)
    * be remapped into chunk coordinates exactly.
    *
    * The offsets are a prefix scan over the chunk STARTS (one entry per
    * chunk, not per word), built in the same pre-explode projection as
    * the chunk structs: step k adds the joined length of the `step`
    * words between starts k-1 and k, so the character work is O(doc
    * chars) total; the array append is O(n_chunks^2) longs per doc —
    * for 512/64 chunking even a 1M-word document is ~2.2k chunks, a few
    * M long-copies, negligible next to its own text bytes. Still a
    * PROJECTION: no UDF, no shuffle, runs at scan speed.
    */
  def chunkWithOffsets(docs: DataFrame, maxTokens: Int = 512, overlap: Int = 64,
                       textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens), got $overlap")
    val step = maxTokens - overlap
    val w: Column = col("w")
    val n: Column = size(w)
    val lastStart = (ceil((greatest(n - lit(overlap), lit(1))).cast("double")
      / lit(step)).cast("int") - 1) * lit(step)
    val starts = sequence(lit(0), lastStart, lit(step))
    // charStarts(k+1) = char offset of chunk k's first word in the doc:
    // each scan step appends prev + len(join(words between the two
    // starts)) + 1 (the separator the NEXT word follows)
    val charStarts = aggregate(
      slice(starts, lit(2), greatest(size(starts) - 1, lit(0))),
      array(lit(0L)),
      (acc, st) => concat(acc, array(
        element_at(acc, -1)
          + length(array_join(slice(w, st - lit(step) + 1, lit(step)), " ")).cast("long")
          + lit(1L))))
    docs
      .select(col(idCol), split(coalesce(col(textCol), lit("")), " ").as("w"))
      .select(col(idCol),
        posexplode(zip_with(starts, charStarts, (start, cs) =>
          struct(
            array_join(slice(w, start + 1, lit(maxTokens)), " ").as("chunk_text"),
            least(n - start, lit(maxTokens)).as("n_tokens"),
            cs.as("char_start"))))
          .as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx"),
        col("c.chunk_text").as("chunk_text"),
        col("c.n_tokens").as("n_tokens"),
        col("c.char_start").as("char_start"))
  }
}
