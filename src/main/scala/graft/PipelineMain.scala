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
  *     the measured job — same protocol as ScalingBench), plus a small
  *     repl=1 copy at <workDir>/transcripts-warmup for JIT warmup.
  *   run <transcriptsDir> <outDir> [warmupDir]
  *     ONE resumable production batch (Pipeline.runResumable:
  *     anti-join checkpoint resume + per-file lineage + retry-safe
  *     metrics ledger) in the default extract-first shape, timed end
  *     to end; prints one JSON line with rows, wall seconds, turns/sec
  *     and the window's steal%. The untimed warmup batch (JIT +
  *     codegen, fresh JVM per submit) runs over warmupDir when given —
  *     warming on a small input keeps large-input scaling runs
  *     affordable without skipping the warmup.
  *
  * The master is whatever spark-submit passes (--master) — never set
  * here. Shuffle partitions come from SPARK_GRAFT_SHUFFLE_PARTITIONS
  * (default 32 — this box, not 200).
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: prepare <sfDir> <workDir> <repl> | run <in> <out> [warmupDir]")
    val spark = SparkSession.builder()
      .appName(s"graft-pipeline-${args(0)}")
      .getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    // Parallelism floor (measured on the repl=24 scaling runs): with the
    // default 128m maxPartitionBytes the ~700 MB replicated input scans
    // as 6 splits, and AQE's 64 MB advisory coalesces the 32 reduce
    // partitions to 6 — both stages then run 1.5 waves on a 4-core
    // cluster (25-30% idle) and the N-vs-4N ratio measures wave
    // remainder, not the engine. 16 MB splits + no reduce coalescing
    // keep every stage's task count well above the core count at both
    // levels; a real 100 TB batch never hits this (its scan is
    // thousands of splits), it is purely a small-input benchmark
    // artifact — but the knob is the same one a production job tunes.
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "16777216"))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
      sys.env.getOrElse("SPARK_GRAFT_AQE_COALESCE", "false"))

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
        val cfg = Pipeline.Config()
        // untimed warmup batch into a throwaway dir (JIT + codegen —
        // same per-level warmup ScalingBench applies), then the timed
        // production batch; opt out with SPARK_GRAFT_SUBMIT_WARMUP=0
        if (sys.env.getOrElse("SPARK_GRAFT_SUBMIT_WARMUP", "1") == "1") {
          val w = s"$out-warmup"
          val warmIn = if (args.length > 3) args(3) else in
          Pipeline.runResumable(spark, warmIn, w, cfg)
          org.apache.hadoop.fs.FileSystem
            .get(new java.net.URI(w), spark.sparkContext.hadoopConfiguration)
            .delete(new org.apache.hadoop.fs.Path(w), true)
        }
        val (st0, _, _, tot0) = Bench.cpuStat()
        val t0 = System.nanoTime()
        val s = Pipeline.runResumable(spark, in, out, cfg)
        val wall = (System.nanoTime() - t0) / 1e9
        val (st1, _, _, tot1) = Bench.cpuStat()
        val steal =
          if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0
        println(
          f"""{"batch":"${s.batchId}","files":${s.filesProcessed},"rows":${s.rowsProcessed},"wall_sec":$wall%.3f,"turns_per_sec":${s.rowsProcessed / wall}%.0f,"steal_pct":$steal%.2f}""")

      case other => sys.error(s"unknown subcommand '$other'")
    }
    spark.stop()
  }
}
