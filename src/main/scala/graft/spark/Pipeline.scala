package graft.spark

import graft.extract.Extractor
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Oversize test in Unicode CODE POINTS — the same unit SQL `length()`
    * uses in both Spark and DuckDB, so the lineage ledger's
    * `length(text) > maxTextChars` predicate selects exactly the rows
    * the extraction skipped (ADVICE r2: the old UTF-16 `String.length`
    * guard diverged from the ledger for supplementary-plane text near
    * the limit). The UTF-16 length upper-bounds the code-point count, so
    * the common path stays O(1); codePointCount runs only for strings
    * already over the limit in UTF-16 units.
    */
  @inline private[spark] def isOversize(t: String, maxChars: Int): Boolean =
    t.length > maxChars && t.codePointCount(0, t.length) > maxChars

  final case class Config(partitions: Int = 0, // 0 = spark.sql.shuffle.partitions
                          maxTextChars: Int = 4 << 20,
                          snapshotId: String = "parquet-v0",
                          // enable the flagged repairTagsFixed stage
                          // (Q16 intent; diverges from the reference
                          // oracle — default stays faithful)
                          repairTagsFixed: Boolean = false,
                          // "extractfirst" (default: extraction on scan
                          // partitions, ONE exchange of extracted text —
                          // measured fastest AND the only shape clearing
                          // the >=0.8 scaling bar at 4-core executors;
                          // BENCH/BASELINE.md round-3 scaling table) or
                          // "salted" (explicit salt repartition of RAW
                          // text before extraction — kept as the
                          // skew-contrast reference; its raw-text
                          // shuffle is a measured bandwidth wall at
                          // scale: 0.471 efficiency vs 0.850)
                          shape: String = "extractfirst")

  /** Core stage: salted repartition + mapPartitions extraction.
    * Input must have (conv_id string, turn_idx int, text string [, src_file]).
    * Keeps src_file if present (for lineage).
    */
  def extractTurns(turns: DataFrame, cfg: Config = Config()): Dataset[ExtractedTurn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val parts =
      if (cfg.partitions > 0) cfg.partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    extractMapped(
      turns
        .select(col("conv_id"), col("turn_idx"), col("text"))
        .repartition(parts, col("conv_id"), col("turn_idx")) // salt: turn-level spread
        .as[(String, Int, String)],
      cfg)
  }

  /** The shared extraction stage: per-row parse+extract with the
    * oversize guard. The salted, one-pass and extract-first shapes all
    * plan through here, so every shape extracts a turn the same way.
    */
  private def extractMapped(rows: Dataset[(String, Int, String)], cfg: Config): Dataset[ExtractedTurn] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val maxChars = cfg.maxTextChars
    val repairFixed = cfg.repairTagsFixed
    rows.mapPartitions(_.map { case (conv, idx, text) =>
      val t = if (text == null) "" else text
      if (isOversize(t, maxChars))
        ExtractedTurn(conv, idx, "", Array.emptyLongArray, Array.emptyByteArray, 0, 1)
      else {
        val r = Extractor.extract(t, repairFixed)
        val (pos, kinds) = SpanCodec.pack(r.spans)
        ExtractedTurn(conv, idx, r.text, pos, kinds, r.nNodes, r.nErrors)
      }
    })
  }

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

  /** Lean reassembly for consumers that need ONLY (conv_id, conv_text):
    * the [[conversations]] construction minus the counter aggregates —
    * identical conv_text (same array_sort(collect_list(struct)) walk,
    * same "\n" join), three fewer aggregate functions and a narrower
    * exchange when the counters are dead downstream (the composed
    * pipelines project them away immediately).
    */
  def conversationTexts(turns: DataFrame): DataFrame =
    turns
      .groupBy(col("conv_id"))
      .agg(array_sort(collect_list(struct(col("turn_idx"), col("extracted_text"))))
        .as("turns_sorted"))
      .select(col("conv_id"),
        array_join(transform(col("turns_sorted"), t => t.getField("extracted_text")), "\n")
          .as("conv_text"))

  /** [[conversationTexts]] with the conversation's in-loss turn spans
    * computed IN THE SAME AGGREGATION — the fused form of
    * `conversationTexts` + [[lossMaskSpans]].filter(in_loss) for
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
                                cfg: Config = Config()): Dataset[ExtractedTurn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val parts =
      if (cfg.partitions > 0) cfg.partitions
      else spark.conf.get("spark.sql.shuffle.partitions").toInt
    extractMapped(
      turns
        .select(col("conv_id"), col("turn_idx"), col("text"))
        .repartitionByRange(parts, col("conv_id"), col("turn_idx"))
        .as[(String, Int, String)],
      cfg)
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .as[ExtractedTurn]
  }

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

  /** Shuffle-free extraction: parse+extract per row directly on the
    * incoming partitions (file-source splits are byte-balanced by
    * maxPartitionBytes; the oversize guard bounds per-turn cost). Safe on
    * both batch and STREAMING DataFrames — no repartition, no sort.
    */
  def extractOnScanPartitions(turns: DataFrame, cfg: Config = Config()): Dataset[ExtractedTurn] = {
    val spark = turns.sparkSession
    import spark.implicits._
    extractMapped(
      turns
        .select(col("conv_id"), col("turn_idx"), col("text"))
        .as[(String, Int, String)],
      cfg)
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
    val spark = extracted.sparkSession
    import spark.implicits._
    val parts =
      if (turnsPerShard > 0)
        Seq(col("conv_id"), floor(col("turn_idx") / lit(turnsPerShard)))
      else Seq(col("conv_id"))
    extracted
      .repartition(parts: _*)
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .as[ExtractedTurn]
  }

  final case class RunSummary(batchId: String, filesProcessed: Long,
                              rowsProcessed: Long, skippedFiles: Long)

  /** Resumable batch run over a transcripts parquet directory.
    *
    * Each batch writes three sinks, then the checkpoint: `extracted/`
    * (per-turn rows), `lineage/` (one row per source file) and
    * `metrics/` (ONE aggregate row per batch: n_turns, n_nodes,
    * n_errors, n_chars_out, n_bytes_in, n_oversize, snapshot_id).
    * Per-partition turns, bytes and wall time are not written: Spark's
    * own task metrics record them.
    *
    * SCHEMA NOTE (v2 break): before the round-2 ledger rework `metrics/`
    * held per-partition accumulator rows instead. An outDir whose
    * `metrics/` contains such legacy batches mixes two incompatible
    * schemas — reprocess into a fresh outDir; readers can tell them apart
    * by the presence of the `part_id` column.
    *
    * The resume filter is a left_anti JOIN of the input against the
    * checkpoint table on src_file — never a driver-side collect of file
    * lists or an IN-list in the plan: at 10^6 input files both would be
    * driver-memory / plan-size bottlenecks. The batch id is an
    * order-independent distributed aggregate (xor/sum of per-file
    * xxhash64) over the pending file set, so a rerun of the same pending
    * set rewrites the same batch directory (idempotent).
    */
  def runResumable(spark: SparkSession, transcriptsPath: String, outDir: String,
                   cfg: Config = Config()): RunSummary = {
    import spark.implicits._
    val ckptPath = s"$outDir/checkpoint"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)

    val doneFiles: DataFrame =
      if (fs.exists(new org.apache.hadoop.fs.Path(ckptPath)))
        spark.read.parquet(ckptPath).select(col("file").as("src_file"))
      else spark.emptyDataset[String].toDF("src_file")

    val input = spark.read.parquet(transcriptsPath)
      .withColumn("src_file", input_file_name())

    val pending = input.join(doneFiles, Seq("src_file"), "left_anti")
    val pendingFilesDf = pending.select(col("src_file").as("file")).distinct()

    // deterministic, order-independent batch id from the pending set
    // (computed as one tiny aggregate; no file-list collect)
    val agg = pendingFilesDf.agg(
      count(lit(1)).as("n"),
      coalesce(expr("bit_xor(xxhash64(file))"), lit(0L)).as("s"),
      coalesce(expr("bit_xor(xxhash64(concat(file, '#2')))"), lit(0L)).as("s2"))
      .head()
    val nPending = agg.getLong(0)
    if (nPending == 0) {
      val nDone =
        if (fs.exists(new org.apache.hadoop.fs.Path(ckptPath)))
          spark.read.parquet(ckptPath).count()
        else 0L
      return RunSummary("none", 0, 0, nDone)
    }
    val batchId = f"${agg.getLong(1)}%016x".take(8) + f"${agg.getLong(2)}%016x".take(8)
    val extracted =
      if (cfg.shape == "extractfirst") extractOnScanPartitions(pending, cfg)
      else extractTurns(pending, cfg)
    val batchDir = s"$outDir/extracted/batch=$batchId"
    reassembled(extracted)
      .write.mode("overwrite")
      .parquet(batchDir)

    // lineage: per source file of this batch, row count + input bytes +
    // oversize count (one pass; same groupBy). Batch-keyed overwrite =>
    // idempotent on rerun of the same pending set (the `batch` partition
    // column comes from the directory name on read).
    // n_bytes = true UTF-8 octets (octet_length); n_oversize counts the
    // SAME rows the extraction's code-point guard skipped (isOversize)
    val lineage = pending.groupBy(col("src_file").as("file"))
      .agg(count(lit(1)).as("row_count"),
        coalesce(sum(octet_length(col("text"))), lit(0L)).as("n_bytes"),
        coalesce(sum(when(length(col("text")) > cfg.maxTextChars, 1L)
          .otherwise(0L)), lit(0L)).as("n_oversize"))
      .select(lit(cfg.snapshotId).as("snapshot_id"), col("file"),
        col("row_count"), col("n_bytes"), col("n_oversize"))
    lineage.write.mode("overwrite").parquet(s"$outDir/lineage/batch=$batchId")

    // metrics: DISTRIBUTED aggregates derived from the committed batch
    // output + the committed lineage — deterministic and retry-safe (a
    // task retry can't double-count data that is aggregated after the
    // write), unlike accumulators (VERDICT r1 item 5 / ROADMAP 6).
    val outAgg = spark.read.parquet(batchDir).agg(
      count(lit(1)).as("n_turns"),
      coalesce(sum(col("n_nodes")), lit(0L)).as("n_nodes"),
      coalesce(sum(col("n_errors")), lit(0L)).as("n_errors"),
      coalesce(sum(length(col("extracted_text"))), lit(0L)).as("n_chars_out"))
    val inAgg = spark.read.parquet(s"$outDir/lineage/batch=$batchId").agg(
      coalesce(sum(col("n_bytes")), lit(0L)).as("n_bytes_in"),
      coalesce(sum(col("n_oversize")), lit(0L)).as("n_oversize"))
    val metrics = outAgg.crossJoin(inAgg)
      .withColumn("snapshot_id", lit(cfg.snapshotId))
    metrics.write.mode("overwrite").parquet(s"$outDir/metrics/batch=$batchId")
    val rows = spark.read.parquet(s"$outDir/metrics/batch=$batchId")
      .head().getAs[Long]("n_turns")

    // checkpoint LAST: marks the batch committed (written from the
    // distributed pending-file set, no driver materialization)
    pendingFilesDf
      .withColumn("snapshot_id", lit(cfg.snapshotId))
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").parquet(ckptPath)

    val nDone =
      spark.read.parquet(ckptPath).count() - nPending // committed before this batch
    RunSummary(batchId, nPending, rows, nDone)
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
