package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark's own task metrics, grouped by SQL execution and stage: what a
  * traced run attributes layer time, CPU, GC, shuffle and skew from.
  * Times are epoch milliseconds as Spark reports them.
  */
final class StageLog extends SparkListener {
  import StageLog._

  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val stages = mutable.LinkedHashMap[Int, Stage]()
  private val stageExec = mutable.Map[Int, Long]()
  private val taskRuns = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val jobTimes = mutable.ArrayBuffer[Long]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        execs(s.executionId) = Exec(s.executionId, s.time, -1L,
          s.physicalPlanDescription, countNodes(s.sparkPlanInfo, "Exchange"),
          countNodes(s.sparkPlanInfo, "DeserializeToObject"))
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(x => execs(e.executionId) = x.copy(end = e.time))
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobTimes += j.time
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(p.getProperty("spark.sql.execution.id"))))
      .foreach(id => j.stageIds.foreach(s => stageExec(s) = id.toLong))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    if (t.taskMetrics != null)
      taskRuns.getOrElseUpdate(t.stageId, mutable.ArrayBuffer()) += t.taskMetrics.executorRunTime
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val i = s.stageInfo
    val m = i.taskMetrics
    val runs = taskRuns.remove(i.stageId).map(_.sorted.toVector).getOrElse(Vector.empty)
    if (m != null)
      stages(i.stageId) = Stage(i.stageId, stageExec.get(i.stageId),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled, runs)
  }

  /** Everything recorded since `mark` (epoch ms), after the bus drained. */
  def since(sc: SparkContext, mark: Long): Snapshot = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized {
      Snapshot(execs.values.filter(_.start >= mark).toVector,
        stages.values.filter(_.submitted >= mark).toVector, jobTimes.count(_ >= mark))
    }
  }
}

object StageLog {
  /** One root SQL execution: its wall and the node counts of its initial plan. */
  final case class Exec(id: Long, start: Long, end: Long, plan: String,
                        exchanges: Int, deserializes: Int) {
    def wallMs: Long = math.max(0L, end - start)
  }

  /** One completed stage, with Spark's summed task metrics (run and GC in
    * ms, CPU in ns, bytes) and each task's run time, sorted. */
  final case class Stage(id: Int, exec: Option[Long], submitted: Long, completed: Long,
                         tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long,
                         spill: Long, taskRunMs: Vector[Long]) {
    def wallMs: Long = math.max(0L, completed - submitted)
    /** max / median task run time: DS2's per-task imbalance. */
    def skew: Double =
      if (taskRunMs.isEmpty) 0.0
      else taskRunMs.last.toDouble / math.max(1L, taskRunMs(taskRunMs.size / 2))
  }

  final case class Snapshot(execs: Vector[Exec], stages: Vector[Stage], jobs: Int) {
    def stagesOf(e: Exec): Vector[Stage] = stages.filter(_.exec.contains(e.id))
  }

  def countNodes(p: SparkPlanInfo, name: String): Int =
    (if (p.nodeName == name) 1 else 0) + p.children.map(countNodes(_, name)).sum
}
