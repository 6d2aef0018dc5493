package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.spark.{Pipeline, Transcripts}

/** spark-submit entry point for the production extraction pipeline —
  * the north rule's launch shape, literally: "launched via spark-submit
  * on a multi-executor cluster at two cluster sizes (N and 4N
  * executors)". `scripts/submit_pipeline.sh` drives this class against
  * the pinned standalone cluster (scripts/standalone_cluster.sh, 1-core
  * cpuset-isolated workers) at N=1 and 4N=4 executors and reports
  * throughput at both plus the scaling efficiency.
  *
  * Subcommands:
  *   prepare <sfDir> <workDir> <repl>
  *     Materialize the replicated transcripts input once (setup, not
  *     the measured job), plus a small repl=1 copy at
  *     <workDir>/transcripts-warmup for JIT warmup.
  *   run <transcriptsDir> <outDir> [warmupDir]
  *     ONE resumable production batch (Pipeline.runResumable:
  *     anti-join checkpoint resume + per-file lineage + retry-safe
  *     metrics ledger) in the default extract-first shape, timed end
  *     to end. When warmupDir is given, an untimed batch over it (JIT +
  *     codegen, fresh JVM per submit) runs first into a throwaway dir —
  *     warming on a small input keeps large-input scaling runs
  *     affordable; without it the timed batch runs cold.
  *   scan <transcriptsDir>
  *     The scan-only control: the host-ceiling reference for the same
  *     window. One untimed pass, then one timed sum(length(text)) +
  *     count over the input — parquet scan and projection only, no
  *     parse, exchange or sink.
  * `run` and `scan` print one JSON line with rows, wall seconds,
  * turns/sec and the window's steal%.
  *
  * Everything about the session — master, shuffle partitions, split
  * size, AQE — is whatever spark-submit passes (--master, --conf); this
  * class sets none of it and reads no environment variable.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: prepare <sfDir> <workDir> <repl> | run <in> <out> [warmupDir] | scan <in>")
    val spark = SparkSession.builder()
      .appName(s"graft-pipeline-${args(0)}")
      .getOrCreate()

    args(0) match {
      case "prepare" =>
        require(args.length >= 4, "prepare <sfDir> <workDir> <repl>")
        val (sfDir, workDir, repl) = (args(1), args(2), args(3).toInt)
        require(repl > 0, s"repl must be positive, got $repl")
        Transcripts.derive(spark, sfDir)
          .withColumn("rep", explode(array((0 until repl).map(lit): _*)))
          .withColumn("conv_id", concat(col("conv_id"), lit("-r"), col("rep")))
          .drop("rep")
          .write.mode("overwrite").parquet(s"$workDir/transcripts")
        Transcripts.derive(spark, sfDir)
          .write.mode("overwrite").parquet(s"$workDir/transcripts-warmup")
        println(s"""{"prepared":"$workDir/transcripts","repl":$repl}""")

      case "run" =>
        require(args.length >= 3, "run <transcriptsDir> <outDir> [warmupDir]")
        val (in, out) = (args(1), args(2))
        if (args.length > 3) {
          val w = s"$out-warmup"
          Pipeline.runResumable(spark, args(3), w)
          org.apache.hadoop.fs.FileSystem
            .get(new java.net.URI(w), spark.sparkContext.hadoopConfiguration)
            .delete(new org.apache.hadoop.fs.Path(w), true)
        }
        val (s, wall, steal) = timed(Pipeline.runResumable(spark, in, out))
        println(
          f"""{"batch":"${s.batchId}","files":${s.filesProcessed},"rows":${s.rowsProcessed},"wall_sec":$wall%.3f,"turns_per_sec":${s.rowsProcessed / wall}%.0f,"steal_pct":$steal%.2f}""")

      case "scan" =>
        require(args.length >= 2, "scan <transcriptsDir>")
        val scan = spark.read.parquet(args(1))
          .select(sum(length(col("text"))), count(lit(1)))
        scan.head() // untimed pass
        val (r, wall, steal) = timed(scan.head())
        val rows = r.getLong(1)
        println(
          f"""{"scan":"${args(1)}","rows":$rows,"wall_sec":$wall%.3f,"turns_per_sec":${rows / wall}%.0f,"steal_pct":$steal%.2f}""")

      case other => sys.error(s"unknown subcommand '$other'")
    }
    spark.stop()
  }

  /** (result, wall seconds, host steal% over the call). */
  private def timed[T](f: => T): (T, Double, Double) = {
    val (st0, _, _, tot0) = Bench.cpuStat()
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    val (st1, _, _, tot1) = Bench.cpuStat()
    (r, wall, if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0)
  }
}
