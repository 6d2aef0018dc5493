package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-substring (span-level) deduplication — the finest-grained
  * member of the dedup matrix, between [[Dedup.paragraphDedup]]
  * (paragraph granularity) and [[Dedup.nearDupPairs]] (document
  * granularity): remove every occurrence but one of any word n-gram
  * that appears more than once ANYWHERE in the corpus, as exact
  * character spans cut out of the documents. This is the declarative
  * re-expression of the suffix-array "ExactSubstr" dedup of Lee et al.
  * 2022 (Deduplicating Training Data Makes Language Models Better):
  * the suffix array finds maximal duplicated substrings; a fixed-n
  * gram sweep finds the same duplicated regions as overlapping n-gram
  * occurrences, which the span-merge below coalesces back into maximal
  * removal intervals — expressible as joins/windows Catalyst can plan,
  * where a distributed suffix array is not.
  *
  * Semantics (deterministic, engine-replayable):
  *  - an n-gram is DUPLICATED iff its occurrence count across the
  *    corpus (all docs, all positions) is >= 2;
  *  - per duplicated gram, the single WINNER occurrence is the one
  *    with the smallest (doc_id, word_pos) — packed into one BIGINT so
  *    the min is a codegen'd HashAggregate (min(struct) would plan a
  *    SortAggregate; the paragraphDedup lesson);
  *  - every non-winner occurrence contributes its exact char span
  *    [char_start, char_end); per doc, overlapping-or-touching spans
  *    merge into maximal intervals ([[duplicateSpans]]);
  *  - [[exactSubstringDedup]] cuts the merged spans out of the text.
  *    Spans cover the gram text exactly — surrounding separator spaces
  *    survive, so a doc's surviving characters keep predictable
  *    offsets (whitespace normalization is a caller's later pass).
  *
  * The guarantee is an upper bound, as in the reference algorithm: at
  * most one occurrence of any duplicated n-gram survives INTACT. The
  * winner itself may be partially cut when a neighboring overlapping
  * gram's winner lives elsewhere (its removal span overlaps the
  * winner's words) — inherent to gram-level keep-one, and the reason
  * the output is the training-corpus artifact, not a reversible
  * encoding.
  *
  * Scale shape (the 100 TB walk): gram TEXT never crosses an exchange —
  * grams are projected to (md5, lengths) scan-side, so the gram-key
  * shuffle carries 16-byte hashes + three longs per occurrence. The
  * plan is: one exchange on doc_id (char-offset window: a doc's
  * occurrence rows are word-sized, so a doc bounds its own partition
  * exactly as in the repo's other per-doc windows), one on the gram
  * hash (count/min aggregate, map-side partial), the occurrences
  * re-keyed to the gram hash for the duplicate join (AQE splits a hot
  * boilerplate gram's partition; the fan-out is linear in occurrences),
  * then back to doc_id for the merge windows and the final
  * reassembly join (at local scale the gram aggregate broadcasts and
  * the merge windows reuse the offset window's doc_id partitioning —
  * audited via `explain("formatted")`, BENCH/BASELINE.md "Round-5
  * continuation (2026-08-19): exact-substring span dedup"; at
  * production scale the gram join shuffles on
  * the hash and the merge pays one doc_id exchange of span rows).
  * Removal spans are two longs each and only exist for duplicated
  * occurrences — the reassembly join against the corpus text is
  * span-sized, not gram-sized.
  *
  * The gram explode itself runs TWICE (the count/min branch and the
  * offset branch are independent scan-side projections; Catalyst
  * prunes each to just the columns it needs). That is deliberate: both
  * are per-row projections at scan speed, and pinning the occurrence
  * table to share it would trade the second explode for a corpus-scale
  * gram-table materialization — a loss whenever compute is cheaper
  * than writing n× the corpus bytes (callers who disagree can
  * localCheckpoint the input, the q_dedup_corpus pattern).
  */
object SubstringDedup {

  /** Word-n-gram occurrences with exact char coordinates:
    * (idCol, h = md5(gram), pk = packed (id, pos) BIGINT, char_start,
    * char_end). Gram text is projected to (word len, gram len, md5) IN
    * THE SCAN STAGE — the struct carries the gram string across only
    * the posexplode (same-stage), never an exchange. Shared by the
    * dedup tier ([[duplicateSpans]]) and the excision tier
    * ([[contaminationSpans]]).
    */
  private def gramOccurrences(docs: DataFrame, n: Int,
                              idCol: String, textCol: String): DataFrame = {
    require(n >= 2, s"gram size must be >= 2, got $n")
    val ws = col("ws")
    val exploded = docs
      .select(col(idCol), Dedup.gramWords(col(textCol)).as("ws"))
      .select(col(idCol),
        posexplode(transform(Dedup.gramStarts(ws, n), i =>
          struct(
            length(element_at(ws, i)).cast("long").as("wlen"),
            array_join(slice(ws, i, lit(n)), " ").as("gt"))))
          .as(Seq("pos", "g")))
      .select(col(idCol), col("pos"),
        col("g.wlen").as("wlen"),
        length(col("g.gt")).cast("long").as("glen"),
        md5(col("g.gt")).as("h"))
    // char_start(pos) = sum of (word len + 1 separator) over preceding
    // positions — every preceding word also heads a gram row (its
    // position is smaller than this one's), so the window sees them all
    val wOff = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // packed occurrence coordinate, the paragraphDedup pattern: doc_id
    // in the high 42 bits, pos in the low 21; BIGINT order ==
    // (doc_id, pos) lexicographic, min() is hash-aggregable. The isnull
    // arm fails LOUDLY for a null (or null-casting) id — a null key
    // would make every keep decision null and silently empty the doc.
    val packed = when(
      isnull(col(idCol).cast("long")) ||
        col(idCol) < 0L || col(idCol) >= (1L << 42) || col("pos") >= (1L << 21),
      raise_error(concat(lit("exactSubstringDedup: coordinate out of packable range: "),
        coalesce(col(idCol).cast("string"), lit("NULL")), lit(":"),
        col("pos").cast("string"))).cast("long"))
      .otherwise(shiftleft(col(idCol).cast("long"), 21) + col("pos"))
    exploded
      .withColumn("char_start", coalesce(sum(col("wlen") + 1L).over(wOff), lit(0L)))
      .withColumn("char_end", col("char_start") + col("glen"))
      .withColumn("pk", packed)
      .select(col(idCol), col("h"), col("pk"), col("char_start"), col("char_end"))
  }

  /** Merge overlapping-or-touching (idCol, char_start, char_end) rows
    * into maximal intervals: a span opens a new segment iff it starts
    * strictly after the running max end of everything before it; both
    * window frames share one partition+sort.
    */
  private def mergeSpans(removal: DataFrame, idCol: String): DataFrame = {
    val wPrev = Window.partitionBy(col(idCol))
      .orderBy(col("char_start"), col("char_end"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wSeg = Window.partitionBy(col(idCol))
      .orderBy(col("char_start"), col("char_end"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    removal
      .withColumn("prev_end", max(col("char_end")).over(wPrev))
      .withColumn("seg",
        sum(when(col("prev_end").isNull || col("char_start") > col("prev_end"), 1L)
          .otherwise(0L)).over(wSeg))
      .groupBy(col(idCol), col("seg"))
      .agg(min(col("char_start")).as("span_start"), max(col("char_end")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  /** Merged removal spans (idCol, span_start, span_end), char
    * coordinates over the original text, end exclusive: the all-but-
    * winner occurrences of every duplicated word n-gram, coalesced per
    * doc into maximal non-overlapping intervals. Docs with no
    * duplicated grams (including docs shorter than n words) emit no
    * rows. Null text folds to '' (the Chunking/Dedup convention).
    */
  def duplicateSpans(docs: DataFrame, n: Int = 8,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val occ = gramOccurrences(docs, n, idCol, textCol)
    val byGram = occ.groupBy(col("h"))
      .agg(count(lit(1)).as("c"), min(col("pk")).as("w"))
    val removal = occ.join(byGram, Seq("h"))
      .filter(col("c") >= 2L && col("pk") =!= col("w"))
      .select(col(idCol), col("char_start"), col("char_end"))
    mergeSpans(removal, idCol)
  }

  /** The corpus after exact-substring dedup: (idCol, textCol, n_spans,
    * chars_removed) — every doc, its merged removal spans cut out,
    * with the cut observable per row (n_spans = merged spans removed,
    * chars_removed = characters cut; both 0 for untouched docs — the
    * no-silent-drop contract). Null text folds to ''.
    *
    * The cut is one `aggregate` walk over the doc's sorted span array:
    * state = (resume position, output so far); each span appends the
    * kept characters before it and advances past it. Spans are merged
    * and sorted, so the walk is linear and substr arguments are always
    * in range.
    */
  def exactSubstringDedup(docs: DataFrame, n: Int = 8,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    cutSpans(docs, duplicateSpans(docs, n, idCol, textCol), idCol, textCol)

  /** Merged contaminated spans (idCol, span_start, span_end): every
    * corpus occurrence of any word n-gram that occurs anywhere in the
    * test set, coalesced per doc into maximal intervals — the span-level
    * companion of [[Dedup.ngramContamination]] for the excision regime
    * (see [[excisedCorpus]]). Unlike [[duplicateSpans]] there is no
    * keep-one winner: contaminated text must go EVERYWHERE it occurs.
    *
    * Scale shape: corpus gram text never crosses an exchange (the
    * [[gramOccurrences]] projection); the test gram set is DISTINCT and
    * broadcast (a release is small — the contamination contract), so
    * candidate selection is one broadcast LEFT SEMI join on the scan
    * output, and only span rows (two longs) reach the merge windows.
    */
  def contaminationSpans(corpus: DataFrame, testSet: DataFrame, n: Int = 13,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    val testGrams = broadcast(testSet
      .select(Dedup.gramWords(col(textCol)).as("ws"))
      .select(explode(Dedup.gramHashes(col("ws"), n)).as("h"))
      .distinct())
    val removal = gramOccurrences(corpus, n, idCol, textCol)
      .join(testGrams, Seq("h"), "left_semi")
      .select(col(idCol), col("char_start"), col("char_end"))
    mergeSpans(removal, idCol)
  }

  /** Decontamination by EXCISION — the corpus transform that keeps the
    * document and cuts out the leaked material, for the regime where
    * dropping whole docs ([[Dedup.ngramDecontaminatedCorpus]]) is too
    * lossy (one quoted benchmark question should not delete a million-
    * token document): every corpus occurrence of any test-set word
    * n-gram is removed as an exact char span, merged and cut exactly as
    * [[exactSubstringDedup]] cuts duplicate spans. Returns every input
    * doc with (textCol, n_spans, chars_removed) — untouched docs pass
    * through with zero counters.
    */
  def excisedCorpus(corpus: DataFrame, testSet: DataFrame, n: Int = 13,
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame =
    cutSpans(corpus, contaminationSpans(corpus, testSet, n, idCol, textCol),
      idCol, textCol)

  /** The corpus with the given merged, non-overlapping spans cut out of
    * the text: (idCol, textCol, n_spans, chars_removed), zero counters
    * for untouched docs — the no-silent-drop contract. The cut is one
    * `aggregate` walk over the doc's sorted span array (see
    * [[exactSubstringDedup]]).
    */
  private def cutSpans(docs: DataFrame, spanRows: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val spans = spanRows
      .groupBy(col(idCol))
      .agg(
        array_sort(collect_list(struct(col("span_start"), col("span_end")))).as("spans"),
        count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start")).as("chars_removed"))
    val txt = coalesce(col(textCol), lit(""))
    val cutExpr = {
      val walked = aggregate(
        coalesce(col("spans"),
          array().cast("array<struct<span_start:bigint,span_end:bigint>>")),
        struct(lit(0L).as("pos"), lit("").as("out")),
        (st, sp) => struct(
          sp("span_end").as("pos"),
          concat(st("out"),
            txt.substr((st("pos") + 1L).cast("int"),
              (sp("span_start") - st("pos")).cast("int"))).as("out")),
        st => concat(st("out"),
          txt.substr((st("pos") + 1L).cast("int"),
            (length(txt).cast("long") - st("pos")).cast("int"))))
      walked
    }
    docs
      .select(col(idCol), col(textCol))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol),
        cutExpr.as(textCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("chars_removed"), lit(0L)).as("chars_removed"))
  }
}
