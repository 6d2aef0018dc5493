package perfbench

/** Attribution of one `Pipeline.runResumable` batch to its steps, from
  * Spark's record of the batch. Each root SQL execution belongs to one
  * step: a write to the sink directory it writes (metrics_diag counts as
  * metrics), a read before the extracted write to the resume step, and
  * a later read to the step of the write before it. Inside the extracted
  * write, the stages that write shuffle output are the extract stage and
  * the stages that read it are the reassembly stage.
  */
object Attribution {
  private val InsertArgs =
    """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\s]+)""".r
  private val Sinks = Seq("metrics_diag" -> "metrics", "extracted" -> "extracted",
    "lineage" -> "lineage", "metrics" -> "metrics", "checkpoint" -> "checkpoint")

  /** The step a write execution's plan writes for, if it is a write. */
  def sinkOf(plan: String): Option[String] =
    InsertArgs.findFirstMatchIn(plan).map(_.group(1)).flatMap { path =>
      Sinks.collectFirst { case (dir, step) if path.contains(s"/$dir/") || path.endsWith(s"/$dir") => step }
    }

  /** Walls in seconds per step plus the extract and reassembly stage
    * metrics. The walls of the steps, the two stages and
    * `pipeline.unattributed_s` add up to `pipeline.batch_s`. Fails when
    * a sink's write or either stage is not found: the sum alone would
    * hold even if every execution fell to `resume`.
    */
  def batch(s: StageLog.Snapshot, wallS: Double): Map[String, Double] = {
    var step = "resume"
    val byStep = s.execs.sortBy(_.start).map { e =>
      sinkOf(e.plan).foreach(step = _)
      step -> e
    }
    def wall(name: String): Double = byStep.filter(_._1 == name).map(_._2.wallMs).sum / 1e3
    val extracted = byStep.filter(_._1 == "extracted").map(_._2).flatMap(s.stagesOf)
    val extract = extracted.filter(_.shuffleWrite > 0)
    val reassemble = extracted.filter(_.shuffleRead > 0)
    val missing = Seq("extracted", "lineage", "metrics", "checkpoint").filterNot(byStep.map(_._1).contains)
    require(missing.isEmpty, s"no write execution found for sink(s): ${missing.mkString(", ")}")
    require(extract.nonEmpty && reassemble.nonEmpty,
      s"the extracted write has ${extract.size} extract and ${reassemble.size} reassembly stage(s); expected both")
    val extractWall = extract.map(_.wallMs).sum / 1e3
    val reassembleWall = reassemble.map(_.wallMs).sum / 1e3
    Map(
      "pipeline.batch_s" -> wallS,
      "pipeline.resume.s" -> wall("resume"),
      "pipeline.extract.wall_s" -> extractWall,
      "pipeline.extract.cpu_s" -> extract.map(_.cpuNs).sum / 1e9,
      "pipeline.extract.gc_s" -> extract.map(_.gcMs).sum / 1e3,
      "pipeline.extract.task_skew" -> extract.map(_.skew).maxOption.getOrElse(0.0),
      "pipeline.exchange.shuffle_write_mb" -> extract.map(_.shuffleWrite).sum / 1e6,
      "pipeline.exchange.fetch_wait_s" -> reassemble.map(_.fetchWaitMs).sum / 1e3,
      "pipeline.reassemble.wall_s" -> reassembleWall,
      "pipeline.reassemble.run_s" -> reassemble.map(_.runMs).sum / 1e3,
      "pipeline.sink.extracted_s" -> (wall("extracted") - extractWall - reassembleWall),
      "pipeline.sink.lineage_s" -> wall("lineage"),
      "pipeline.sink.metrics_s" -> wall("metrics"),
      "pipeline.sink.checkpoint_s" -> wall("checkpoint"),
      "pipeline.jobs" -> s.jobs.toDouble,
      "pipeline.unattributed_s" -> (wallS - s.execs.map(_.wallMs).sum / 1e3))
  }

  /** Per-key means over traced calls: means keep the sum identity of
    * [[batch]], which medians would not. */
  def means(runs: Seq[Map[String, Double]]): Map[String, Double] =
    runs.head.keys.map(k => k -> runs.map(_(k)).sum / runs.size).toMap
}
