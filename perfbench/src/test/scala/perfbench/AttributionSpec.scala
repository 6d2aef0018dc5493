package perfbench

import org.scalatest.funsuite.AnyFunSuite
import StageLog.{Exec, Snapshot, Stage}

/** The batch attribution on a hand-built record of one batch. */
class AttributionSpec extends AnyFunSuite {
  private def write(dir: String) =
    s"(1) Execute InsertIntoHadoopFsRelationCommand\nInput [1]: [x]\nArguments: file:/w/out-t1/$dir, false, Parquet"

  private def exec(id: Long, start: Long, end: Long, plan: String) = Exec(id, start, end, plan, 0, 0)

  private def stage(id: Int, exec: Long, from: Long, to: Long, write: Long, read: Long) =
    Stage(id, Some(exec), from, to, 4, 100, 1000000L, 5, write, read, 0, 0, Vector(20L, 25L, 25L, 30L))

  // resume 0-100, extracted 120-620 (extract stage 150-350, reassembly
  // stage 360-560), lineage 640-700, metrics 710-800, checkpoint 820-900
  private val execs = Vector(
    exec(1, 0, 100, "(1) Scan parquet"),
    exec(2, 120, 620, write("extracted")),
    exec(3, 640, 700, write("lineage")),
    exec(4, 710, 800, write("metrics")),
    exec(5, 820, 900, write("checkpoint")))
  private val stages = Vector(stage(10, 2, 150, 350, 5000000, 0), stage(11, 2, 360, 560, 0, 5000000))
  private val batch = Snapshot(execs, stages, 7)

  test("each step's wall, and the walls add up to the batch wall") {
    val m = Attribution.batch(batch, 1.0)
    assert(m("pipeline.resume.s") == 0.1)
    assert(m("pipeline.extract.wall_s") == 0.2)
    assert(m("pipeline.reassemble.wall_s") == 0.2)
    assert(math.abs(m("pipeline.sink.extracted_s") - 0.1) < 1e-9)
    assert(m("pipeline.sink.lineage_s") == 0.06)
    assert(m("pipeline.sink.metrics_s") == 0.09)
    assert(m("pipeline.sink.checkpoint_s") == 0.08)
    assert(m("pipeline.exchange.shuffle_write_mb") == 5.0)
    val parts = Seq("pipeline.resume.s", "pipeline.extract.wall_s", "pipeline.reassemble.wall_s",
      "pipeline.sink.extracted_s", "pipeline.sink.lineage_s", "pipeline.sink.metrics_s",
      "pipeline.sink.checkpoint_s", "pipeline.unattributed_s").map(m).sum
    assert(math.abs(parts - m("pipeline.batch_s")) < 1e-9)
  }

  test("a sink with no write execution fails the attribution") {
    val e = intercept[IllegalArgumentException](
      Attribution.batch(batch.copy(execs = execs.filterNot(_.id == 3)), 1.0))
    assert(e.getMessage.contains("lineage"))
  }

  test("plans the write pattern does not match fail instead of falling to resume") {
    val other = execs.map(x => x.copy(plan = x.plan.replace("Arguments:", "Args:")))
    assertThrows[IllegalArgumentException](Attribution.batch(batch.copy(execs = other), 1.0))
  }

  test("an extracted write without its extract or reassembly stage fails") {
    assertThrows[IllegalArgumentException](Attribution.batch(batch.copy(stages = stages.take(1)), 1.0))
    assertThrows[IllegalArgumentException](Attribution.batch(batch.copy(stages = Vector.empty), 1.0))
  }
}
