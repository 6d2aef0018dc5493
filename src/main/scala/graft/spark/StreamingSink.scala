package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** The one AvailableNow runner of the file-sink streaming operators
  * ([[StreamingExtraction]], [[StreamingDedup]], [[StreamingSessions]]):
  * the query writes the parquet sink `outDir/<sink>` (checkpoint
  * `outDir/_stream_checkpoint`), processes every file present, commits
  * the file offsets and stops; a rerun picks up only files landed since.
  */
private[spark] object StreamingSink {

  /** Runs `ds` into `outDir/<sink>`; returns the rows this run wrote,
    * observed in the query (the file sink reports no numOutputRows) and
    * summed over the run's progress events — a before/after `count()`
    * would scan every file the sink ever committed, twice per run.
    */
  def run(ds: Dataset[_], outDir: String, sink: String): Long = {
    val q = ds.observe("graft_sink_rows", count(lit(1)).as("rows"))
      .writeStream
      .format("parquet")
      .option("path", s"$outDir/$sink")
      .option("checkpointLocation", s"$outDir/_stream_checkpoint")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // recentProgress keeps only the last numRecentProgressUpdates - 1
    // events (Spark dequeues once the ring reaches the setting), so a
    // full ring may have dropped a batch's count: fail loudly, not wrongly
    val prog = q.recentProgress.toSeq
    val cap = ds.sparkSession.conf.getOption("spark.sql.streaming.numRecentProgressUpdates")
      .map(_.toInt).getOrElse(100)
    require(prog.length < cap - 1,
      s"run filled the progress buffer $cap with ${prog.length} micro-batch events; " +
        "raise spark.sql.streaming.numRecentProgressUpdates or read the sink commit log")
    prog.flatMap(p => Option(p.observedMetrics.get("graft_sink_rows")))
      .map(_.getAs[Long]("rows")).sum
  }

  /** The sink `outDir/<sink>` as a batch DataFrame, file listing refreshed. */
  def read(spark: SparkSession, outDir: String, sink: String): DataFrame = {
    spark.catalog.refreshByPath(s"$outDir/$sink")
    spark.read.parquet(s"$outDir/$sink")
  }
}
