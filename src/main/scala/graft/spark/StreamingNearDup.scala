package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** STREAMING near-dup ingestion — the near-dup sibling of
  * [[StreamingDedup]], closing the loop [[Dedup.writeBandIndex]] /
  * [[Dedup.newNearDupCandidates]] open: an append-only document feed is
  * probed micro-batch by micro-batch against the persisted LSH band
  * index, candidates are confirmed by the exact word-trigram tier over
  * candidate texts only, and each batch's ACCEPTED (non-near-dup) docs
  * join the corpus — text store appended, band rows appended to the
  * index — so later batches are deduplicated against everything
  * accepted before them. This is the production ingestion shape: a
  * crawl lands continuously, and each increment must be near-dup-checked
  * against the full accepted corpus without ever re-scanning it (the
  * index probe is a bucketed join against band hashes + ids; corpus
  * texts are touched only for the candidate ids, via a semi-join —
  * point reads at 100 TB, never a corpus sweep).
  *
  * Contract and retry semantics:
  *  - WITHIN-batch near-dups are not resolved here (exactly as
  *    [[Dedup.dedupedCorpus]] is the within-corpus operator): candidates
  *    come only from the index, so two NON-identical near-dup docs
  *    arriving in one micro-batch are both accepted. Pre-clean each
  *    batch with [[Dedup.nearDupGroups]] if batches can self-collide.
  *    BYTE-IDENTICAL within-batch copies do share one fate: candidate
  *    generation canonicalizes them to one probe, and the accept
  *    anti-join is keyed on md5(text) so a flagged text rejects every
  *    copy (an id-keyed join would accept the twins of a rejected doc).
  *  - Each batch's decisions are IDEMPOTENT under retry: the probe
  *    excludes self-matches (batch_id == doc_id), so a replay after a
  *    crash between the index append and the ledger commit reproduces
  *    the same accept set (under the no-within-batch-near-dup contract
  *    above); the accepted output is written to a batch-keyed directory
  *    with overwrite, and the `_batches` ledger (checked first, written
  *    last) makes a fully-committed batch a no-op on replay. Duplicate
  *    index/corpus rows from the crash window affect storage only:
  *    candidate generation groups by (batch_id, doc_id) and the flag set
  *    is DISTINCT.
  */
object StreamingNearDup {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Ingest all currently-available doc files: probe each micro-batch
    * against `indexTable`, verify candidates exactly (word-trigram
    * Jaccard >= `threshold`), write accepted docs to
    * `outDir/accepted/batch=<id>`, append them to the corpus text store
    * at `corpusPath` and their band rows to the index. `nBuckets` must
    * match the [[Dedup.writeBandIndex]] call that created the index.
    */
  def runAvailableNow(spark: SparkSession, inputPath: String,
                      indexTable: String, corpusPath: String, outDir: String,
                      nBuckets: Int, threshold: Double = 0.5,
                      maxBucketSize: Int = Dedup.DefaultMaxBucketSize,
                      maxFilesPerTrigger: Int = 2): Unit = {
    val ledgerPath = s"$outDir/_batches"
    val q = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputPath)
      .writeStream
      .option("checkpointLocation", s"$outDir/_stream_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batchDF: DataFrame, batchId: Long) =>
        // IMPORTANT: every read/write in this body goes through the
        // BATCH's session (the streaming clone), not the outer one: the
        // index/corpus appends below run through the clone, and a table
        // read through a session that didn't do the append can serve a
        // stale cached file listing — the previous batch's accepted band
        // rows would be invisible to this batch's probe. The explicit
        // refreshes cover the cross-RUN case (a fresh clone per query,
        // appends made by an earlier run's clone).
        val bs = batchDF.sparkSession
        if (!ledgerHas(bs, ledgerPath, batchId)) {
          bs.catalog.refreshTable(indexTable)
          val batch = batchDF.select(col("doc_id"), col("text"))
          // decisions are recomputed under retry, so pin this batch's
          // rows once (the stream source re-reads the same files, but
          // the downstream joins consult it several times)
          val pinned = batch.localCheckpoint(true)
          val cand = Dedup
            .newNearDupCandidates(bs, indexTable, pinned, maxBucketSize)
            // self-exclusion: a doc is never a near-dup of ITSELF
            // already in the index — this is what makes a replay after
            // a partial commit reproduce the first attempt's decisions
            .filter(col("batch_id") =!= col("doc_id"))
            .select(col("batch_id").as("a"), col("doc_id").as("b"))
          // candidate texts only: the corpus store is semi-joined down
          // to the candidate ids before any trigram work (refresh: this
          // path was appended to by the previous micro-batch, and a
          // cached file listing would otherwise serve the stale view);
          // the select pins the (doc_id, text) contract — a seed corpus
          // carrying extra columns must not fail the union below or
          // widen the appended store
          bs.catalog.refreshByPath(corpusPath)
          val candCorpusTexts = bs.read.parquet(corpusPath)
            .select(col("doc_id"), col("text"))
            .join(cand.select(col("b").as("doc_id")).distinct(),
              Seq("doc_id"), "left_semi")
          val flagged = Dedup
            .ngramJaccardPairs(pinned.unionByName(candCorpusTexts), cand, threshold)
            .select(col("a").as("doc_id")).distinct()
          // reject by TEXT, not by id: candidate generation canonicalizes
          // byte-identical batch texts to one min-id probe, so an id-keyed
          // anti-join would reject the canonical copy and silently ACCEPT
          // its byte-identical twins — admitting the very text just
          // confirmed as a corpus near-dup. Expanding the flag over
          // md5(text) gives every copy of a flagged text the same fate.
          val flaggedHashes = pinned.join(flagged, Seq("doc_id"))
            .select(md5(coalesce(col("text"), lit(""))).as("flagged_hash"))
            .distinct()
          val accepted = pinned
            .join(flaggedHashes,
              md5(coalesce(col("text"), lit(""))) === col("flagged_hash"),
              "left_anti")
            .localCheckpoint(true)
          accepted.write.mode("overwrite")
            .parquet(s"$outDir/accepted/batch=$batchId")
          accepted.write.mode("append").parquet(corpusPath)
          Dedup.bandRows(accepted)
            .write.mode("append").bucketBy(nBuckets, "band_hash")
            .sortBy("band_hash").format("parquet").saveAsTable(indexTable)
          // ledger LAST: a batch is replayable until this row lands
          bs.range(1).select(lit(batchId).as("batch_id"))
            .write.mode("append").parquet(ledgerPath)
        }
        ()
      }
      .start()
    q.awaitTermination()
  }

  private def ledgerHas(spark: SparkSession, ledgerPath: String,
                        batchId: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(ledgerPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      spark.catalog.refreshByPath(ledgerPath)
      !spark.read.parquet(ledgerPath)
        .filter(col("batch_id") === batchId).isEmpty
    }
  }

  /** All docs accepted across the stream so far (the `batch` partition
    * column from the per-batch directories is dropped — the accepted
    * SET is the deterministic artifact; batch assignment is not).
    */
  def readAccepted(spark: SparkSession, outDir: String): DataFrame = {
    spark.catalog.refreshByPath(s"$outDir/accepted")
    spark.read.parquet(s"$outDir/accepted")
      .select(col("doc_id"), col("text"))
  }
}
