package graft.spark

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Tokenizer-prep operators: corpus vocabulary induction (the top-K
  * most frequent words, the seed step of any BPE/WordPiece training
  * run — [[Bpe.learn]] trains on [[topK]]'s word-type table) and
  * per-document out-of-vocabulary statistics against an
  * induced vocabulary (the coverage check that decides whether K was
  * large enough / the corpus slice matches the tokenizer's training
  * distribution).
  *
  * Scale notes (the 100 TB shapes):
  *  - [[topK]]'s only corpus-sized movement is the word-count
  *    aggregation: map-side partial counts make the exchange carry at
  *    most (distinct words per partition) rows, and the subsequent
  *    global order-by-count is a `limit(k)` — Spark plans
  *    TakeOrderedAndProject, i.e. per-partition top-K heaps merged on
  *    the driver, NOT a global sort of the vocabulary. The final rank
  *    window runs over K rows.
  *  - [[oovStats]] broadcasts the vocabulary (K rows by definition) and
  *    partially aggregates the exploded words scan-side — ONE exchange
  *    of (doc_id, two longs) per doc, raw text never shuffles.
  *  - Ties at the same count break to the lexicographically smaller
  *    word, so the induced vocabulary is deterministic across runs,
  *    partitionings, and engines (the oracle replays it in ANSI SQL).
  */
object Vocab {

  /** The K most frequent words (split on single spaces, empty tokens
    * from runs of spaces ignored; null text contributes nothing), with
    * exact counts and a dense 1-based rank in (count desc, word asc)
    * order.
    */
  def topK(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = {
    require(k > 0, s"vocabulary size must be positive, got $k")
    val counts = docs
      .select(explode(split(coalesce(col(textCol), lit("")), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(k)
    // rank over K rows only — a single tiny task, after the
    // TakeOrderedAndProject has already reduced the vocabulary to K
    counts.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("word").asc)))
  }

  /** Per-document token coverage against a vocabulary: total word
    * tokens and how many of them are OUT of vocabulary. `vocab` needs a
    * `word` column (extra columns ignored); docs with no tokens (empty
    * or null text) report (0, 0) rather than disappearing — every input
    * doc_id is present in the output exactly once.
    */
  def oovStats(docs: DataFrame, vocab: DataFrame,
               textCol: String = "text"): DataFrame = {
    val words = docs.select(col("doc_id"),
        explode(split(coalesce(col(textCol), lit("")), " ")).as("word"))
      .filter(col("word") =!= "")
    val marked = words.join(
      broadcast(vocab.select(col("word"), lit(1).as("__in"))), Seq("word"), "left")
    val stats = marked.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_tokens"),
      sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
    // zero-token docs fall out of the explode: restore them observably
    docs.select(col("doc_id")).join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
  }
}
