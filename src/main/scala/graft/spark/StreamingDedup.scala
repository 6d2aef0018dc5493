package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** STREAMING exact deduplication — the incremental form of
  * [[Dedup.exactDupGroups]] for an append-only document feed: each
  * micro-batch's docs are hashed scan-side and `dropDuplicates` on the
  * hash emits exactly the first occurrence of every distinct text
  * across the whole stream (state = one 16-byte md5 per distinct text,
  * never the text itself — the state store stays proportional to the
  * DISTINCT corpus, the floor any exact dedup must pay; re-runs resume
  * from the checkpoint and never re-emit).
  *
  * Which doc_id survives a duplicate race is batch-order dependent, so
  * the deterministic (driver-checked) output is the distinct hash set;
  * survivors' ids are still written for pipeline consumers.
  */
object StreamingDedup {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Dedup all currently-available doc files into outDir; returns rows
    * written by this invocation (== newly-seen distinct texts), counted
    * in the query by [[StreamingSink.run]].
    */
  def runAvailableNow(spark: SparkSession, inputPath: String,
                      outDir: String): Long =
    StreamingSink.run(spark.readStream
      .schema(docSchema)
      .parquet(inputPath)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .dropDuplicates("text_hash"), outDir, "unique")

  def readUnique(spark: SparkSession, outDir: String): DataFrame =
    StreamingSink.read(spark, outDir, "unique")
}
