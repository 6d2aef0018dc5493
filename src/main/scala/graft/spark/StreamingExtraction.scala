package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental extraction via Structured Streaming — the streaming analog
  * of Pipeline.runResumable for continuously-landing transcript files.
  *
  * `Trigger.AvailableNow` processes everything currently present, commits
  * the file offsets to the checkpoint, and stops; rerunning picks up only
  * files that landed since. Spark's streaming file source + checkpoint is
  * the exactly-once ledger here (vs. the batch path's explicit per-file
  * lineage table). The transform is the shuffle-free extract-first
  * operator (extraction on source partitions) — ordering is applied at
  * read time (sorting is not defined on unbounded streams).
  */
object StreamingExtraction {

  /** Process all currently-available transcript files into outDir.
    * Returns the number of rows written by this invocation.
    */
  def runAvailableNow(spark: SparkSession, inputPath: String, outDir: String,
                      cfg: Pipeline.Config = Pipeline.Config()): Long = {
    import spark.implicits._
    val before = countOutput(spark, outDir)

    val turns = spark.readStream
      .schema(Transcripts.turnSchema)
      .parquet(inputPath)
      .select(col("conv_id"), col("turn_idx"), col("text"))

    // extraction runs on the file-source partitions directly — salting
    // would shuffle raw text per microbatch for nothing (no reassembly
    // happens in the sink; ordering is applied at read time)
    val extracted = Pipeline.extractOnScanPartitions(turns, cfg)

    val q = extracted.writeStream
      .format("parquet")
      .option("path", s"$outDir/extracted")
      .option("checkpointLocation", s"$outDir/_stream_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    countOutput(spark, outDir) - before
  }

  def countOutput(spark: SparkSession, outDir: String): Long = {
    // Hadoop FS, not java.io.File: outDir may be hdfs:// or s3:// off-box
    val p = new org.apache.hadoop.fs.Path(s"$outDir/extracted")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      spark.catalog.refreshByPath(s"$outDir/extracted")
      spark.read.parquet(s"$outDir/extracted").count()
    }
  }

  def readExtracted(spark: SparkSession, outDir: String): DataFrame = {
    spark.catalog.refreshByPath(s"$outDir/extracted")
    spark.read.parquet(s"$outDir/extracted")
  }
}
