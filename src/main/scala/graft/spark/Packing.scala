package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for training-data preparation: assign chunks (in
  * deterministic (doc_id, chunk_idx) order) to fixed-capacity training
  * sequences, NEXT-FIT per shard — the op that turns chunked documents
  * into model-ready context windows.
  *
  * Scale shape: packing is inherently sequential, so the corpus is cut
  * into independent shards (default: hash of doc_id — every doc's
  * chunks stay together) and the fold runs per shard via the classic
  * secondary-sort pattern: ONE exchange on the shard key, an
  * in-partition sort on (shard, doc_id, chunk_idx), then a constant-
  * memory mapPartitions walk that detects shard boundaries in-stream.
  * No state beyond the running (sequence, position, fill, offset) ever
  * exists, so a shard of any size packs in one pass; shard count
  * bounds the sequential grain exactly like IVF cells bound probe
  * cost. Next-fit is the standard packing compromise: one pass, at
  * most one open bin, >= 50% fill guarantee vs optimal for chunks
  * <= capacity; a chunk larger than the capacity gets a singleton
  * sequence (observable: its n_tokens exceeds the capacity — never
  * dropped silently).
  */
object Packing {

  /** Packed samples in every sequence's seq_text are separated by this
    * one EOS stand-in; the fold's offsets and [[sequences]]' text both
    * use it, so the two always agree.
    */
  private val Sep = "\n"

  /** Pack chunks into sequences of at most `capacity` tokens. Input:
    * (idCol, chunk_idx, n_tokens) plus each chunk's char length, taken
    * from `chunk_len` (slim relations from
    * [[Chunking.chunkOffsetsMapped]]) or else `length(chunk_text)`
    * ([[Chunking.chunk]]); a relation with neither is rejected.
    *
    * Returns one row per input chunk: (shard, idCol, chunk_idx,
    * n_tokens, seq_idx, seq_pos, seq_off, seq_end) — seq_idx numbers
    * sequences within the shard, seq_pos is the chunk's position inside
    * its sequence, and [seq_off, seq_end) is its exact character span
    * in the sequence's seq_text as [[sequences]] materializes it. The
    * fold walks a sequence's chunks in seq_pos order, so the span is
    * one running `len + sep` sum — no join back to the chunks, no
    * window exchange.
    */
  def packNextFit(chunks: DataFrame, capacity: Int,
                  shard: Column = null, nShards: Int = 256,
                  idCol: String = "doc_id"): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    // the walk below casts idCol to long for the typed fold; a
    // non-numeric id (e.g. raw conv_id strings) would cast to all-null,
    // collapsing every doc onto one null key so chunks from different
    // docs interleave — silent corruption. Fail fast instead (ADVICE
    // r4): callers with string ids pre-extract a numeric key (as
    // q_training_pipeline does) or pass an explicit `shard` AND a
    // numeric id column.
    chunks.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"packNextFit id column '$idCol' must be an integral type (cast-to-long is " +
          s"lossless); got $other — derive a numeric key first")
    }
    val spark = chunks.sparkSession
    import spark.implicits._
    val shardCol = if (shard != null) shard
      else pmod(xxhash64(col(idCol)), lit(nShards))
    val sepLen = Sep.length.toLong
    chunks
      .select(shardCol.cast("long").as("shard"),
        col(idCol).cast("long"), col("chunk_idx").cast("int"),
        col("n_tokens").cast("int"), chunkLen(chunks).as("len"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col(idCol), col("chunk_idx"))
      .as[(Long, Long, Int, Int, Long)]
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var first = true
        var seq = 0L
        var pos = 0
        var fill = 0L
        var off = 0L // seq_off of the chunk being placed
        it.map { case (sh, doc, ci, nt, len) =>
          if (first || sh != curShard) { // new shard: reset the walk
            curShard = sh; first = false
            seq = 0L; pos = 0; fill = nt.toLong; off = 0L
          } else if (fill + nt > capacity) { // bin full: open the next
            seq += 1L; pos = 0; fill = nt.toLong; off = 0L
          } else {
            pos += 1; fill += nt
          }
          val row = (sh, doc, ci, nt, seq, pos, off, off + len)
          off += len + sepLen // the next chunk in this sequence starts here
          row
        }
      }
      .toDF("shard", idCol, "chunk_idx", "n_tokens", "seq_idx", "seq_pos", "seq_off", "seq_end")
  }

  /** Materialize the packed sequences themselves — the model-ready
    * artifact: one row per (shard, seq_idx) with the member chunks'
    * texts joined in seq_pos order, separated by a newline that stands
    * in for the EOS boundary between packed samples. n_tokens is the
    * true member sum (chunks are independent samples — re-tokenizing
    * the joined text across a separator is not meaningful).
    *
    * `withProvenance` appends a lineage column: the member chunks'
    * "doc_id:chunk_idx" keys in seq_pos order. When packing CROSSES
    * document boundaries (a shard holding many docs — the production
    * shape: real trainers pack unrelated samples into one context
    * window), provenance is what maps a training sequence back to its
    * source documents for audits, takedowns, and contamination
    * tracebacks; it rides the same aggregation, costing no extra
    * exchange.
    */
  def sequences(chunks: DataFrame, assignments: DataFrame,
                idCol: String = "doc_id",
                withProvenance: Boolean = false): DataFrame = {
    val sorted = array_sort(collect_list(struct(col("seq_pos"),
      col("chunk_text"), col("prov"))))
    val aggs = Seq(
      count(lit(1)).as("n_chunks"),
      sum(col("n_tokens").cast("long")).as("n_tokens"),
      array_join(transform(sorted, t => t.getField("chunk_text")), Sep)
        .as("seq_text")) ++
      (if (withProvenance)
        Seq(array_join(transform(sorted, t => t.getField("prov")), ",")
          .as("provenance"))
      else Nil)
    // every assignment has its chunk, so a left join keeps the rows an
    // inner join would; unlike the inner join it can only ever build
    // the chunk TEXT side of a broadcast join and stream the assignments
    // (which the fold already spread over the shard partitions),
    // whatever the size estimates of the two sides say
    assignments
      .join(chunks.select(col(idCol), col("chunk_idx"), col("chunk_text")),
        Seq(idCol, "chunk_idx"), "left")
      .withColumn("prov",
        concat(col(idCol).cast("string"), lit(":"), col("chunk_idx").cast("string")))
      .groupBy(col("shard"), col("seq_idx"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Char length of a chunk, from a precomputed `chunk_len` column when
    * the chunk relation is SLIM (ids + sizes only, text projected away
    * — e.g. a localCheckpoint shared by several span consumers, as
    * q_masked_pipeline does), else from `chunk_text` directly.
    */
  private def chunkLen(chunks: DataFrame): Column =
    if (chunks.columns.contains("chunk_len")) col("chunk_len").cast("long")
    else if (chunks.columns.contains("chunk_text")) length(col("chunk_text")).cast("long")
    else throw new IllegalArgumentException(
      "chunks must carry chunk_len or chunk_text — produce them with Chunking.chunk " +
        "or Chunking.chunkOffsetsMapped")

  /** Sample-boundary spans inside the packed sequences: one row per
    * packed chunk with its exact character span [span_start, span_end)
    * in the (shard, seq_idx) sequence's `seq_text` as materialized by
    * [[sequences]]. This is the packing mask a trainer consumes
    * alongside the packed window — packed samples are independent, so
    * attention must be block-diagonal per span and the loss must reset
    * at span boundaries; shipping the spans with the sequence means the
    * trainer never re-splits (or re-tokenizes) the window to find them.
    *
    * A projection of the [[packNextFit]] assignments: the fold already
    * emits each chunk's [seq_off, seq_end). Invariant (PackingSpec-
    * pinned): substring(seq_text, span_start+1, span_end-span_start) ==
    * chunk_text for every row, and spans tile seq_text exactly with
    * one-char separator gaps.
    */
  def sequenceSpans(assignments: DataFrame, idCol: String = "doc_id"): DataFrame =
    assignments.select(col("shard"), col("seq_idx"), col("seq_pos"), col(idCol),
      col("chunk_idx"), col("seq_off").as("span_start"), col("seq_end").as("span_end"))

  /** Remap DOCUMENT-coordinate character spans (e.g. the in-loss turn
    * spans of [[graft.spark.Pipeline.lossMaskSpans]] over a reassembled
    * conversation) into PACKED-SEQUENCE coordinates: for every chunk a
    * doc span overlaps, emit the intersection shifted to the chunk's
    * offset inside its sequence's seq_text. Composed with
    * [[Chunking.chunkOffsetsMapped]] (which guarantees chunk_text ==
    * substring(doc_text, char_start+1, chunk_len)) and the
    * [[packNextFit]] assignments (substring-faithful `seq_off`), the
    * output spans satisfy
    * substring(seq_text, span_start+1, span_end-span_start) ==
    * substring(doc_text, doc-span ∩ chunk window) EXACTLY — the
    * model-ready loss mask shipped in the same coordinates as the
    * packed training window, with no re-tokenization at read time.
    *
    * A span crossing a chunk boundary is clipped per chunk; a span
    * falling in the overlap region of two chunks is (correctly)
    * duplicated into both — each packed sample is independent. Spans
    * never covering a chunk emit nothing; zero-width input spans (an
    * empty turn) are dropped explicitly — they mask nothing. The one
    * doc char no chunk carries is the separator space BETWEEN two
    * adjacent chunks (seq_text replaces it with the sample separator): a
    * doc span crossing a chunk boundary loses exactly that char, so the mask
    * union covers precisely the doc chars the trainer actually reads
    * (PackingSpec pins this as set equality at overlap 0 and 2).
    *
    * Scale: the doc-span join is keyed on `idCol`, so the blow-up is
    * bounded per doc by (n_chunks x n_spans of that doc) before the
    * overlap filter — for transcript masks that is (doc_len/step) x
    * n_turns, both O(doc length). Texts cross neither join: chunks are
    * reduced to (ids, char window) and spans to (ids, two offsets).
    */
  def remapSpansToSequences(chunks: DataFrame, assignments: DataFrame,
                            docSpans: DataFrame, idCol: String = "doc_id"): DataFrame = {
    require(chunks.columns.contains("char_start"),
      "chunks must carry char_start — produce them with Chunking.chunkOffsetsMapped")
    val offs = assignments.select(col("shard"), col("seq_idx"), col("seq_pos"),
      col(idCol), col("chunk_idx"), col("seq_off"))
    val cw = chunks.select(col(idCol), col("chunk_idx"),
      col("char_start").cast("long").as("char_start"),
      (col("char_start") + chunkLen(chunks)).cast("long").as("char_end"))
    val local = cw
      .join(docSpans.select(col(idCol),
        col("span_start").cast("long").as("d_start"),
        col("span_end").cast("long").as("d_end")), Seq(idCol))
      .filter(col("d_start") < col("d_end") && // empty spans mask nothing
        col("d_start") < col("char_end") && col("d_end") > col("char_start"))
      .select(col(idCol), col("chunk_idx"),
        (greatest(col("d_start"), col("char_start")) - col("char_start")).as("l_start"),
        (least(col("d_end"), col("char_end")) - col("char_start")).as("l_end"))
    local.join(offs, Seq(idCol, "chunk_idx"))
      .select(col("shard"), col("seq_idx"), col("seq_pos"), col(idCol),
        col("chunk_idx"),
        (col("seq_off") + col("l_start")).as("span_start"),
        (col("seq_off") + col("l_end")).as("span_end"))
  }

  /** Takedown traceback — the query the provenance lineage exists for:
    * given a predicate over doc ids (a removal / contamination list),
    * return every packed sequence containing ANY chunk of a matching
    * doc, with the sorted matching-doc list. This is the assignments
    * table used as the inverted index doc -> (shard, seq_idx): one
    * filter + one aggregation on keys already partitioned by shard —
    * the sequence texts are never read, so a takedown over a 10^12-row
    * corpus touches only the (ids, shard) columns. Re-materializing
    * the affected sequences afterwards is [[sequences]] over the
    * surviving assignments.
    */
  def affectedSequences(assignments: DataFrame, takedown: Column,
                        idCol: String = "doc_id"): DataFrame =
    assignments
      .filter(takedown)
      .groupBy(col("shard"), col("seq_idx"))
      .agg(array_join(array_sort(collect_set(col(idCol).cast("string"))), ",")
        .as("hit_docs"))

  /** [[affectedSequences]] with a data-driven doc list (e.g. the
    * contaminated-doc output of Dedup.contamination) instead of a
    * predicate: a join on the id column replaces the filter. The hit
    * list is distinct-ed and ids-only before the join, so a small list
    * broadcasts and a large one shuffles only ids either way.
    */
  def affectedSequencesByDocs(assignments: DataFrame, docIds: DataFrame,
                              idCol: String = "doc_id"): DataFrame =
    // delegate: the join IS the takedown filter, the hit_docs
    // aggregation must stay byte-identical between the predicate and
    // list variants (one shape for both traceback directions)
    affectedSequences(
      assignments.join(docIds.select(col(idCol)).distinct(), Seq(idCol)),
      lit(true), idCol)

  /** Packing-efficiency report over a [[packNextFit]] assignments
    * table: per shard — chunks packed, sequences opened, true token
    * sum, the largest single sequence, and `padding_tokens` =
    * n_seqs * capacity - sum_tokens, the waste a trainer pads out (the
    * utilization number a training team watches per shard). All
    * integers, so the report replays exactly in SQL. An oversize
    * singleton (one chunk above capacity) shows up as max_seq_tokens >
    * capacity and a NEGATIVE padding contribution — reported raw, not
    * clamped: hiding overflow would misstate utilization.
    *
    * Two map-side-combinable aggregates over (ids, two ints) — per
    * (shard, seq) sums, then the shard rollup; at scale the input is
    * the persisted assignments table, so this is a metadata-sized job
    * regardless of corpus size.
    */
  def packStats(assignments: DataFrame, capacity: Int): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    assignments
      .groupBy(col("shard"), col("seq_idx"))
      .agg(count(lit(1)).as("c"), sum(col("n_tokens").cast("long")).as("t"))
      .groupBy(col("shard"))
      .agg(sum(col("c")).as("n_chunks"), count(lit(1)).as("n_seqs"),
        sum(col("t")).as("sum_tokens"), max(col("t")).as("max_seq_tokens"))
      .select(col("shard"), col("n_chunks"), col("n_seqs"),
        col("sum_tokens"), col("max_seq_tokens"),
        (col("n_seqs") * capacity - col("sum_tokens")).as("padding_tokens"))
  }
}
