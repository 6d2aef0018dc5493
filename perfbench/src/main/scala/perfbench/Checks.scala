package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output checks. Each returns the number of input turns whose output is
  * wrong (0 = correct) and runs outside the timed region.
  */
object Checks {
  private val Key = Seq("conv_id", "turn_idx")

  /** extract_batch: every expected turn committed exactly once with the
    * template's expected text. `out` has (conv_id, turn_idx,
    * extracted_text); `expected` has (conv_id, turn_idx, expected_text).
    */
  def extractedTurns(out: DataFrame, expected: DataFrame): Long =
    out.groupBy(Key.map(col): _*)
      .agg(count(lit(1)).as("n"), first(col("extracted_text")).as("got"))
      .join(expected.select(col("conv_id"), col("turn_idx"), col("expected_text")), Key, "full_outer")
      .filter(col("n").isNull || col("n") =!= 1 || col("expected_text").isNull ||
        !col("got").eqNullSafe(col("expected_text")))
      .count()

  /** extract_batch ledgers: lineage `row_count` and metrics `n_turns`
    * both equal the input turn count; otherwise every turn is counted.
    */
  def ledgers(lineage: DataFrame, metrics: DataFrame, turns: Long): Long = {
    val rows = lineage.agg(coalesce(sum(col("row_count")), lit(0L))).head().getLong(0)
    val nTurns = metrics.agg(coalesce(sum(col("n_turns")), lit(0L))).head().getLong(0)
    if (rows == turns && nTurns == turns) 0L else turns
  }

  /** dom_sql: `html` (to_html) equals the input `text` except where
    * turn_idx % 11 == 6, whose stray endtag the parser drops; `links`
    * (find_links) is exactly [/home, /about, /ord/<okey>/<lnum>].
    */
  def domOutputs(df: DataFrame): Long =
    df.filter(
      (col("turn_idx") % 11 =!= 6 && !col("html").eqNullSafe(col("text"))) ||
      (col("turn_idx") % 11 === 6 && !col("html").eqNullSafe(
        regexp_replace(col("text"), "< /q3>", ""))) ||
      !col("links").eqNullSafe(array(lit("/home"), lit("/about"),
        concat(lit("/ord/"), col("okey"), lit("/"), col("lnum")))))
      .count()

  /** curate_train: the turns of planted exact duplicates and spam that
    * reach the packed output, plus the turns of every planted source that
    * does not (dedup keeps the original of each planted copy) unless the
    * gopher repetition filter drops it, plus the turns of conversations
    * packed into a sequence over `capacity`. `packed` has (doc_id, shard,
    * seq_idx, n_tokens); `convs` has (doc_id, n_turns, kind, src);
    * `filtered` has the doc_id of each conversation the repetition filter
    * drops: the 30-word prose repeats enough 3-grams to drop some normal
    * conversations, a planted source among them on some seeds.
    */
  def curated(packed: DataFrame, convs: DataFrame, filtered: DataFrame, capacity: Int): Long = {
    val present = packed.select(col("doc_id")).distinct()
    val leaked = convs.filter(col("kind").isin(Inputs.ExactDup, Inputs.Spam))
      .join(present, Seq("doc_id"), "left_semi")
    val sources = convs.filter(col("kind").isin(Inputs.ExactDup, Inputs.NearDup))
      .select(col("src").as("doc_id")).distinct()
    val lost = convs.join(sources, Seq("doc_id"), "left_semi")
      .join(filtered.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(present, Seq("doc_id"), "left_anti")
    val over = packed.groupBy(col("shard"), col("seq_idx"))
      .agg(sum(col("n_tokens")).as("fill"))
      .filter(col("fill") > capacity)
    val overDocs = packed.join(over, Seq("shard", "seq_idx"), "left_semi")
      .select(col("doc_id")).distinct()
    val inOver = convs.join(overDocs, Seq("doc_id"), "left_semi")
    Seq(leaked, lost, inOver)
      .map(_.agg(coalesce(sum(col("n_turns")), lit(0L))).head().getLong(0)).sum
  }
}
