package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental extraction via Structured Streaming — the streaming analog
  * of Pipeline.runResumable for continuously-landing transcript files.
  *
  * Each run goes through [[StreamingSink]]'s AvailableNow runner: it
  * processes everything currently present and stops; rerunning picks up
  * only files that landed since. Spark's streaming file source +
  * checkpoint is the exactly-once ledger here (vs. the batch path's
  * explicit per-file lineage table). The transform is the shuffle-free
  * extract-first operator (extraction on source partitions) — ordering
  * is applied at read time (sorting is not defined on unbounded streams).
  */
object StreamingExtraction {

  /** Process all currently-available transcript files into outDir.
    * Returns the number of rows written by this invocation.
    */
  def runAvailableNow(spark: SparkSession, inputPath: String, outDir: String,
                      cfg: Pipeline.Config = Pipeline.Config()): Long = {
    val turns = spark.readStream
      .schema(Transcripts.turnSchema)
      .parquet(inputPath)
    // extraction runs on the file-source partitions directly — salting
    // would shuffle raw text per microbatch for nothing (no reassembly
    // happens in the sink; ordering is applied at read time)
    StreamingSink.run(Pipeline.extractOnScanPartitions(turns, cfg), outDir, "extracted")
  }

  def readExtracted(spark: SparkSession, outDir: String): DataFrame =
    StreamingSink.read(spark, outDir, "extracted")
}
