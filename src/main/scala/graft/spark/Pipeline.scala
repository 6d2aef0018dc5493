package graft.spark

import graft.extract.{ExtractResult, Extractor}
import graft.spark.catalyst.ExtractTurn
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalystBridge
import scala.collection.immutable.ArraySeq

/** The batch extraction pipeline (BASELINE.json north_rule):
  *
  *   transcripts scan -> resume filter (anti-join vs checkpoint) ->
  *   extraction -> per-conversation reassembly -> extracted / metrics /
  *   lineage sinks.
  *
  * The default shape is EXTRACT-FIRST: extraction runs on the
  * byte-balanced scan partitions and the single exchange moves only the
  * extracted text — measured fastest and the only shape clearing the
  * >=0.8 two-level scaling bar at 4-core executors (BENCH/BASELINE.md).
  * The salted shape below is kept as the skew-contrast reference.
  *
  * Scale design (local[32] here, 1000-executor mental model):
  *  - **Salting / skew** (salted shape): extraction is per-turn
  *    independent, so we
  *    hash-repartition on (conv_id, turn_idx) — a conversation with 10^6
  *    turns spreads over all executors instead of pinning one. This *is*
  *    the salt (turn_idx is the salt key); ordering is restored later by
  *    the reassembly shuffle, which groups back on conv_id alone.
  *    The extract-first shape needs no salt at all: file-source splits
  *    are byte-balanced by maxPartitionBytes and the oversize guard
  *    bounds per-turn cost.
  *  - **Oversize guard**: texts beyond `maxTextChars` are not parsed
  *    (the reference tree-builder is O(n^2) worst-case); they are counted
  *    in metrics and emitted with empty extraction — never silently
  *    dropped (SURVEY.md §7.5.3).
  *  - **Column pruning**: all plans select exactly (conv_id, turn_idx,
  *    text); the parquet scan reads only those columns.
  *  - **Resume**: per-input-file checkpoint. Output of each run goes to a
  *    batch subdirectory whose name is a deterministic hash of the pending
  *    file list, written with overwrite — a rerun after a crash between
  *    data-write and checkpoint-write rewrites the same directory, so
  *    resume is idempotent (parquet stand-in for an Iceberg transactional
  *    commit).
  */
object Pipeline {

  /** Bounded "first k turns by turn_idx" aggregator with an optional
    * CHAR budget: the buffer holds the longest turn_idx-ordered prefix
    * with at most k turns AND at most maxChars total characters, so the
    * map-side partial aggregate ships a bounded payload per conversation
    * per partition through the exchange — a count cap alone still lets
    * 10k turns x 1 MB each build a 10 GB reducer row (VERDICT r3 item 7).
    *
    * The bounded streaming fold is EXACT for prefix semantics because
    * infeasibility is monotone (a turn's position and char-cumsum only
    * grow as more turns arrive), BUT a char-infeasible turn cannot
    * simply be forgotten: dropping a 1 MB turn_idx-0 monster and later
    * receiving a small turn_idx-1 turn would wrongly admit the latter.
    * The buffer therefore carries `charBound` — the smallest turn_idx
    * PROVEN char-infeasible so far; arrivals at or beyond it are
    * rejected outright, and the kept prefix is always re-walked against
    * both caps on insert/merge. Invariant: buffer = (feasible prefix of
    * arrivals, min proven char-blocker), which makes the fold
    * arrival-order- and partitioning-independent (PipelineSpec pins
    * this with a shuffled monster-turn case).
    */
  final class FirstKTurns(k: Int, maxChars: Long = Long.MaxValue)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Int, String), (Seq[(Int, String)], Int), Seq[(Int, String)]] {
    require(k > 0, s"FirstKTurns cap must be positive, got $k")
    require(maxChars > 0, s"FirstKTurns char budget must be positive, got $maxChars")

    /** Walk the idx-sorted merged buffer: keep while within both caps
      * and below the known char-blocker; a fresh char violation lowers
      * the blocker. Elements past the stop point are provably
      * infeasible forever (count position and cumsum never shrink).
      */
    private def walkTrim(v: IndexedSeq[(Int, String)],
                         bound0: Int): (Seq[(Int, String)], Int) = {
      var cum = 0L
      var i = 0
      var bound = bound0
      var stop = false
      while (!stop && i < v.length && i < k && v(i)._1 < bound) {
        val len = v(i)._2.length
        if (cum + len > maxChars) { bound = v(i)._1; stop = true }
        else { cum += len; i += 1 }
      }
      (if (i == v.length) v else v.take(i), bound)
    }

    def zero: (Seq[(Int, String)], Int) = (Seq.empty, Int.MaxValue)

    def reduce(buf: (Seq[(Int, String)], Int), a: (Int, String)): (Seq[(Int, String)], Int) = {
      val (p, bound) = buf
      if (a._1 >= bound) return buf // at/past a proven char-blocker
      // fast reject: a sorts at/after the end of a count-full prefix
      if (p.length >= k && a._1 >= p.last._1) return buf
      val v: IndexedSeq[(Int, String)] = p match {
        case is: IndexedSeq[(Int, String)] => is
        case other                         => other.toIndexedSeq
      }
      var lo = 0
      var hi = v.length
      while (lo < hi) {
        val m = (lo + hi) >>> 1
        if (v(m)._1 <= a._1) lo = m + 1 else hi = m
      }
      walkTrim(v.patch(lo, a :: Nil, 0), bound)
    }

    def merge(b1: (Seq[(Int, String)], Int), b2: (Seq[(Int, String)], Int)): (Seq[(Int, String)], Int) =
      walkTrim(
        BoundedSortedBuf.mergeSorted(b1._1, b2._1, k)(Ordering.by(_._1)).toIndexedSeq,
        math.min(b1._2, b2._2))

    def finish(r: (Seq[(Int, String)], Int)): Seq[(Int, String)] = r._1

    def bufferEncoder: org.apache.spark.sql.Encoder[(Seq[(Int, String)], Int)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Int, String)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** The oversize guard's default bound in code points: the pipeline's
    * [[Config]] and the `extract_main` SQL function skip a text longer
    * than this the same way. */
  val DefaultMaxTextChars: Int = 4 << 20

  /** One turn's extraction, the kernel of [[ExtractTurn]] and the
    * `extract_main` SQL function: a NULL text reads as '', and a text
    * over `maxChars` CODE POINTS is not parsed and reads ("", no spans,
    * 0 nodes, 1 error). Code points are the unit SQL `length()` uses in
    * both Spark and DuckDB, so the lineage ledger's
    * `length(text) > maxTextChars` selects exactly the skipped rows
    * (ADVICE r2). The UTF-16 length bounds the code-point count, so
    * codePointCount runs only for texts already over it.
    */
  private[spark] def extractGuarded(text: String, maxChars: Int): ExtractResult = {
    val t = if (text == null) "" else text
    if (t.length > maxChars && t.codePointCount(0, t.length) > maxChars)
      ExtractResult("", new ArraySeq.ofLong(Array.emptyLongArray),
        new ArraySeq.ofByte(Array.emptyByteArray), 0, 1)
    else Extractor.extract(t)
  }

  /** The snapshot id every sink records: a constant for the parquet
    * stand-in (with Iceberg it is the table snapshot). */
  val SnapshotId = "parquet-v0"

  /** `shape` "extractfirst" (the default: extraction on scan partitions,
    * ONE exchange of extracted text — measured fastest AND the only shape
    * clearing the >=0.8 scaling bar at 4-core executors; BENCH/BASELINE.md
    * round-3 scaling table) or "salted" (salt repartition of RAW text
    * before extraction — the skew-contrast reference; its raw-text
    * shuffle is a measured bandwidth wall at scale: 0.471 efficiency vs
    * 0.850). */
  final case class Config(maxTextChars: Int = DefaultMaxTextChars,
                          shape: String = "extractfirst") {
    require(shape == "extractfirst" || shape == "salted",
      s"unknown pipeline shape '$shape': expected extractfirst or salted")
  }

  /** Core stage: salted repartition, then the extraction generator.
    * Input must have (conv_id string, turn_idx int, text string); the
    * salt spreads over spark.sql.shuffle.partitions partitions, passed as
    * an explicit count so AQE cannot coalesce them.
    */
  def extractTurns(turns: DataFrame, cfg: Config = Config()): Dataset[ExtractedTurn] =
    extractOnScanPartitions(
      turns.repartition(shufflePartitions(turns), col("conv_id"), col("turn_idx")), cfg)

  private def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** Reassembly with a hard cap on buffered turns per conversation: the
    * bounded aggregator keeps only the FIRST `maxTurns` turns (by
    * turn_idx), so a 10^6-turn monster conversation costs the reducer
    * O(maxTurns), not O(conv size) — the conversation-level analog of the
    * oversize-text guard. Truncation is observable, never silent:
    * n_turns carries the TRUE turn count (> maxTurns means conv_text was
    * truncated). Use [[conversations]] when full texts are required and
    * conversation sizes are known-bounded.
    */
  def conversationsCapped(extracted: Dataset[ExtractedTurn],
                          maxTurns: Int = 10000,
                          maxChars: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val firstK = udaf(new FirstKTurns(maxTurns, maxChars),
      ExpressionEncoder[(Int, String)]())
    extracted
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(col("n_nodes")).as("n_nodes"),
        sum(col("n_errors")).as("n_errors"),
        sum(length(col("extracted_text")).cast("long")).as("chars_total"),
        firstK(col("turn_idx"), col("extracted_text")).as("turns_sorted"))
      .select(col("conv_id"), col("n_turns"), col("n_nodes"), col("n_errors"),
        array_join(transform(col("turns_sorted"), t => t.getField("_2")), "\n")
          .as("conv_text"),
        col("chars_total"),
        // truncation observable, never silent (same contract as n_turns
        // vs the count cap): chars beyond the kept prefix
        (col("chars_total") -
          aggregate(col("turns_sorted"), lit(0L),
            (acc, t) => acc + length(t.getField("_2")).cast("long")))
          .as("chars_dropped"))
  }

  /** Reassembly: one shuffle on conv_id, turns ordered within each
    * conversation (array_sort over collected structs — all built-in,
    * codegen'd; partial aggregation happens map-side).
    */
  def conversations(extracted: Dataset[ExtractedTurn]): DataFrame = {
    extracted
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(col("n_nodes")).as("n_nodes"),
        sum(col("n_errors")).as("n_errors"),
        array_sort(collect_list(struct(col("turn_idx"), col("extracted_text"))))
          .as("turns_sorted"))
      .select(col("conv_id"), col("n_turns"), col("n_nodes"), col("n_errors"),
        array_join(transform(col("turns_sorted"), t => t.getField("extracted_text")), "\n")
          .as("conv_text"))
  }

  /** [[conversations]]' (conv_id, conv_text) with the conversation's
    * in-loss turn spans computed IN THE SAME AGGREGATION — the fused form
    * of `conversations` + [[lossMaskSpans]].filter(in_loss) for
    * compositions that consume both (the loss-mask training pipeline):
    * the separate spans branch costs a second conv-keyed exchange plus
    * a per-conversation sort of every turn row, while here the prefix
    * walk runs over the already-collected sorted turn array as an
    * in-row `aggregate` (turn counts per conversation are small — the
    * walk is O(turns) with an O(turns²) array-append bound that is
    * irrelevant at transcript turn counts; a 10^5-turn monster
    * conversation should use the row-wise [[lossMaskSpans]] window
    * instead).
    *
    * Output: (conv_id, conv_text, loss_spans) where loss_spans is the
    * array of [span_start, span_end) char spans of `lossRoles` turns in
    * conv_text — BY CONSTRUCTION equal to [[lossMaskSpans]]'s spans for
    * those turns (same turn order, same (len + 1) separator walk;
    * PipelineSpec pins the equality). Input must carry (conv_id,
    * turn_idx, role, extracted_text).
    */
  def conversationTextsWithLossSpans(turns: DataFrame,
                                     lossRoles: Seq[String] = Seq("assistant")): DataFrame = {
    require(lossRoles.nonEmpty, "lossRoles must not be empty")
    val emptySpans =
      array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    val walked = aggregate(
      col("ts"),
      struct(lit(0L).as("pos"), emptySpans.as("sp")),
      (st, t) => {
        val len = length(t.getField("extracted_text")).cast("long")
        struct(
          (st.getField("pos") + len + lit(1L)).as("pos"),
          when(t.getField("role").isin(lossRoles.map(lit): _*),
            concat(st.getField("sp"), array(struct(
              st.getField("pos").as("span_start"),
              (st.getField("pos") + len).as("span_end")))))
            .otherwise(st.getField("sp")).as("sp"))
      },
      st => st.getField("sp"))
    turns
      .groupBy(col("conv_id"))
      .agg(array_sort(collect_list(
          struct(col("turn_idx"), col("role"), col("extracted_text")))).as("ts"))
      .select(col("conv_id"),
        array_join(transform(col("ts"), t => t.getField("extracted_text")), "\n")
          .as("conv_text"),
        walked.as("loss_spans"))
  }

  /** Training loss-mask spans: for each turn, its character span
    * [span_start, span_end) inside the reassembled `conv_text` of
    * [[conversations]] (turns joined by a single "\n"), plus the
    * `in_loss` flag — true only for `lossRoles` turns. This is the
    * role-masking step of transcript training (compute loss only on
    * assistant tokens): the trainer reads conv_text once and masks by
    * span, so the mask never duplicates the text.
    *
    * Input must carry (conv_id, turn_idx, role, extracted_text).
    * One exchange on conv_id + a per-conversation sort (the prefix sum
    * is inherently ordered within the conversation); the window
    * carries only (ids, role, one length) — the text itself never
    * crosses this exchange. Span arithmetic is in characters, matching
    * array_join's "\n" (length 1) separator exactly; PipelineSpec pins
    * substring(conv_text, span) == extracted_text per turn.
    */
  def lossMaskSpans(turns: DataFrame,
                    lossRoles: Seq[String] = Seq("assistant")): DataFrame = {
    require(lossRoles.nonEmpty, "lossRoles must not be empty")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    turns
      .select(col("conv_id"), col("turn_idx"), col("role"),
        length(col("extracted_text")).cast("long").as("len"))
      .withColumn("span_start",
        coalesce(sum(col("len") + lit(1L)).over(w), lit(0L)))
      .select(col("conv_id"), col("turn_idx"), col("role"),
        col("span_start"),
        (col("span_start") + col("len")).as("span_end"),
        col("role").isin(lossRoles: _*).as("in_loss"))
  }

  /** ONE-SHUFFLE extraction + reassembly: range-repartition the input on
    * (conv_id, turn_idx), extract, then sort within partitions — the
    * output is globally ordered by (conv_id, turn_idx) with NO second
    * exchange. Equivalent skew defense to the hash salt: the range
    * partitioner's sampled splits cut a monster conversation into
    * turn_idx ranges across many partitions, while small conversations
    * pack together. vs [[extractTurns]]+[[reassembled]] this halves the
    * text bytes crossing the wire (the round-1 shape shuffled the input
    * once on the salt AND the extracted text again on conv_id); the cost
    * is the range partitioner's input sampling pass (scan-only, cheap).
    */
  def extractReassembledOnePass(turns: DataFrame,
                                cfg: Config = Config()): Dataset[ExtractedTurn] =
    extractOnScanPartitions(
      turns.repartitionByRange(shufflePartitions(turns), col("conv_id"), col("turn_idx")), cfg)
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))

  /** EXTRACT-FIRST pipeline: extraction runs directly on the scan
    * partitions (the file source byte-balances splits via
    * maxPartitionBytes, and per-turn parse cost is bounded by the
    * oversize guard — so extraction needs no salt shuffle at all), then
    * ONE exchange on conv_id moves only the EXTRACTED text + packed
    * spans. Since extraction strips tags and boilerplate, the shuffled
    * bytes are a fraction of the raw text that [[extractTurns]] (salt
    * shuffle of raw) or [[extractReassembledOnePass]] (range shuffle of
    * raw) move — at 100 TB input this is the cheapest correct shape.
    * Reducer-side conversation skew is the one remaining concentration;
    * cap it with [[conversationsCapped]] when conversations are
    * unbounded.
    */
  def extractReassembledExtractFirst(turns: DataFrame,
                                     cfg: Config = Config()): Dataset[ExtractedTurn] =
    reassembled(extractOnScanPartitions(turns, cfg))

  /** Shuffle-free extraction, the stage every shape plans through on its
    * (repartitioned) input: one [[ExtractTurn]] row per turn beside its
    * (conv_id, turn_idx) keys, on the incoming partitions (file splits are
    * byte-balanced; the oversize guard bounds per-turn cost). Safe on batch
    * and STREAMING DataFrames. No object boundary: a filter on a key
    * reaches the scan, and the scan reads only (conv_id, turn_idx, text). */
  def extractOnScanPartitions(turns: DataFrame, cfg: Config = Config()): Dataset[ExtractedTurn] = {
    val extracted = CatalystBridge.column(
      ExtractTurn(CatalystBridge.expression(col("text")), cfg.maxTextChars))
    turns.select(col("conv_id"), col("turn_idx"), extracted.as(ExtractTurn.Schema.fieldNames.toSeq))
      .as(Encoders.product[ExtractedTurn])
  }

  /** Per-turn output in stable (conv_id, turn_idx) order — the shape the
    * per-turn oracle compares (north_rule: "per-turn text equality under
    * stable turn ordering").
    *
    * `turnsPerShard` > 0 salts the partitioner with the turn RANGE
    * (conv_id, turn_idx / turnsPerShard) so a single monster
    * conversation cannot pin one reducer (VERDICT r4 nit 3): rows are
    * turn-sized, so conv_id-only partitioning is fine until one conv
    * outgrows a partition — the salted shape bounds any conv's
    * per-partition share at `turnsPerShard` rows. Output rows and the
    * per-partition sort key (conv_id, turn_idx) are unchanged — only
    * where partition boundaries fall moves, which the per-turn oracle
    * is insensitive to by contract (stable keys, not global order).
    * Do NOT use the salted shape for per-conversation folds — that is
    * what conversationsCapped's partition-independent aggregator is for.
    */
  def reassembled(extracted: Dataset[ExtractedTurn],
                  turnsPerShard: Int = 0): Dataset[ExtractedTurn] = {
    val parts =
      if (turnsPerShard > 0)
        Seq(col("conv_id"), floor(col("turn_idx") / lit(turnsPerShard)))
      else Seq(col("conv_id"))
    extracted
      .repartition(parts: _*)
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
  }

  final case class RunSummary(batchId: String, filesProcessed: Long,
                              rowsProcessed: Long, skippedFiles: Long)

  /** Resumable batch run over a transcripts parquet directory.
    *
    * One batch is five Spark executions, and none of them reads a sink
    * this batch wrote:
    *  1. *Resume + ledger.* The pending rows are the input left_anti
    *     JOINed with the checkpoint on src_file, never a `collect` of
    *     file lists or an IN-list in the plan (at 10^6 input files both
    *     would be memory / plan-size bottlenecks). They
    *     are aggregated once into the per-file ledger (file, row_count,
    *     n_bytes, n_oversize), cached for the batch. One aggregate over
    *     the ledger, crossed with the checkpoint's row count, gives the
    *     batch id, the pending file and row counts, the input totals and
    *     the number of files committed before this batch.
    *  2. *Extracted* (`extracted/`): the per-turn rows.
    *  3. *Lineage* (`lineage/`): the cached ledger, one row per source
    *     file. It reads nothing step 2 writes, so it runs on a thread of
    *     its own, concurrently with steps 2 and 4.
    *  4. *Metrics* (`metrics/`): ONE row per batch (n_turns, n_nodes,
    *     n_errors, n_chars_out, n_bytes_in, n_oversize, snapshot_id),
    *     aggregated from the committed extracted batch directory, with
    *     the ledger's input totals.
    *  5. *Checkpoint*, LAST, once lineage and metrics are both written:
    *     the cached ledger's files, appended. It is what marks the batch
    *     committed.
    * Lineage and checkpoint each write one file per batch (the ledger is
    * coalesced to one partition), so resume's checkpoint listing grows by
    * one file per batch, not by one per shuffle partition.
    *
    * The lineage thread is started from the calling thread after step 1
    * has returned, so it inherits no SQL execution id and its write is a
    * root execution like the others. It is joined on every path before the
    * ledger is released: when this method returns or throws, none of the
    * batch's jobs is still running. If both threads fail, the calling
    * thread's failure is thrown with the lineage failure suppressed.
    *
    * Retry safety: the batch id is an order-independent aggregate (xor of
    * per-file xxhash64) over the pending file set, and every data sink is
    * a batch-keyed overwrite, so a rerun after a crash anywhere before the
    * checkpoint write rewrites the same directories (idempotent; the
    * parquet stand-in for an Iceberg transactional commit). Every ledger
    * value is a Spark aggregate of the committed extracted batch or of the
    * same ledger relation the lineage sink writes, never an accumulator,
    * so a retried or speculative task cannot count twice.
    *
    * Trade: the ledger reads `text` (for n_bytes and n_oversize), so a
    * no-op resume (every file checkpointed) scans the input once where a
    * file-name-only scan would do. In exchange a pending batch reads the
    * input only twice: once for the ledger, once for the extraction.
    *
    * The batch id is `b` and 16 hex digits: without the letter, partition
    * inference would read an all-digit id back as a bigint. The batch's
    * own files are read with known schemas, so only the user's input
    * starts a schema-inference job.
    *
    * Per-partition turns, bytes and wall time are not written: Spark's
    * own task metrics record them.
    *
    * SCHEMA NOTE (v2 break): before the round-2 ledger rework `metrics/`
    * held per-partition accumulator rows instead. An outDir whose
    * `metrics/` contains such legacy batches mixes two incompatible
    * schemas — reprocess into a fresh outDir; readers can tell them apart
    * by the presence of the `part_id` column.
    */
  def runResumable(spark: SparkSession, transcriptsPath: String, outDir: String,
                   cfg: Config = Config()): RunSummary = {
    import spark.implicits._
    val ckptPath = s"$outDir/checkpoint"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)

    val doneFiles: DataFrame =
      if (fs.exists(new org.apache.hadoop.fs.Path(ckptPath)))
        spark.read.schema("file string, snapshot_id string, batch_id string").parquet(ckptPath)
          .select(col("file").as("src_file"))
      else spark.emptyDataset[String].toDF("src_file")

    val pending = spark.read.parquet(transcriptsPath)
      .withColumn("src_file", input_file_name())
      .join(doneFiles, Seq("src_file"), "left_anti")

    // n_bytes = true UTF-8 octets (octet_length); n_oversize counts the
    // SAME rows the extraction's code-point guard skips (extractGuarded)
    val ledger = pending.groupBy(col("src_file").as("file"))
      .agg(count(lit(1)).as("row_count"),
        coalesce(sum(octet_length(col("text"))), lit(0L)).as("n_bytes"),
        coalesce(sum(when(length(col("text")) > cfg.maxTextChars, 1L)
          .otherwise(0L)), lit(0L)).as("n_oversize"))
      .persist()
    try {
      val totals = ledger.agg(
          count(lit(1)).as("n_pending"),
          coalesce(expr("bit_xor(xxhash64(file))"), lit(0L)).as("s"),
          coalesce(expr("bit_xor(xxhash64(concat(file, '#2')))"), lit(0L)).as("s2"),
          coalesce(sum(col("row_count")), lit(0L)).as("n_rows"),
          coalesce(sum(col("n_bytes")), lit(0L)).as("n_bytes_in"),
          coalesce(sum(col("n_oversize")), lit(0L)).as("n_oversize"))
        .crossJoin(doneFiles.agg(count(lit(1)).as("n_done")))
        .head()
      def total(name: String): Long = totals.getAs[Long](name)
      val nPending = total("n_pending")
      if (nPending == 0) return RunSummary("none", 0, 0, total("n_done"))
      val batchId = "b" + f"${total("s")}%016x".take(8) + f"${total("s2")}%016x".take(8)

      val joinLineage = fork(s"graft-lineage-$batchId") {
        ledger.coalesce(1).select(lit(SnapshotId).as("snapshot_id"), col("file"),
            col("row_count"), col("n_bytes"), col("n_oversize"))
          .write.mode("overwrite").parquet(s"$outDir/lineage/batch=$batchId")
      }
      try {
        val extracted =
          if (cfg.shape == "extractfirst") extractOnScanPartitions(pending, cfg)
          else extractTurns(pending, cfg)
        val batchDir = s"$outDir/extracted/batch=$batchId"
        reassembled(extracted)
          .write.mode("overwrite")
          .parquet(batchDir)

        spark.read.schema(Encoders.product[ExtractedTurn].schema).parquet(batchDir).agg(
            count(lit(1)).as("n_turns"),
            coalesce(sum(col("n_nodes")), lit(0L)).as("n_nodes"),
            coalesce(sum(col("n_errors")), lit(0L)).as("n_errors"),
            coalesce(sum(length(col("extracted_text"))), lit(0L)).as("n_chars_out"),
            lit(total("n_bytes_in")).as("n_bytes_in"),
            lit(total("n_oversize")).as("n_oversize"),
            lit(SnapshotId).as("snapshot_id"))
          .write.mode("overwrite").parquet(s"$outDir/metrics/batch=$batchId")
      } catch { case e: Throwable =>
        joinLineage().foreach(e.addSuppressed)
        throw e
      }
      joinLineage().foreach(e => throw e)

      ledger.coalesce(1).select(col("file"), lit(SnapshotId).as("snapshot_id"),
          lit(batchId).as("batch_id"))
        .write.mode("append").parquet(ckptPath)

      RunSummary(batchId, nPending, total("n_rows"), total("n_done"))
    } finally ledger.unpersist()
  }

  /** Runs `body` on a new thread started now, from the calling thread, so
    * it inherits the caller's Spark local properties as they are at this
    * point. The returned function waits for the thread to end (across
    * interrupts, which it re-raises afterwards) and gives its failure.
    */
  private def fork(name: String)(body: => Unit): () => Option[Throwable] = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val thread = new Thread(() => try body catch { case e: Throwable => failure.set(e) }, name)
    thread.start()
    () => {
      var interrupted = false
      while (thread.isAlive) try thread.join() catch { case _: InterruptedException => interrupted = true }
      if (interrupted) Thread.currentThread.interrupt()
      Option(failure.get)
    }
  }

  /** All extracted rows across batches. refreshByPath first: a resume run
    * in the same session may have overwritten a batch directory this
    * session already listed, and Spark's FileStatusCache would otherwise
    * serve the stale (pre-overwrite) file list.
    */
  def readExtracted(spark: SparkSession, outDir: String): DataFrame = {
    spark.catalog.refreshByPath(s"$outDir/extracted")
    spark.read.parquet(s"$outDir/extracted/batch=*")
  }
}
