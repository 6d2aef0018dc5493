package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json names exactly the metrics the runner reports, with the
  * same units. */
class BenchmarkFileSpec extends AnyFunSuite {
  private val text = {
    val src = scala.io.Source.fromFile(new java.io.File("..", "BENCHMARK.json"))
    try src.mkString finally src.close()
  }

  private def section(key: String): Seq[(String, String)] = {
    val start = text.indexOf(s"\"$key\"")
    val body = text.substring(start, text.indexOf(']', start))
    """\{"name": "([^"]+)", "unit": "([^"]+)"""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2)).toSeq
  }

  test("end-to-end metrics match the runner's") {
    assert(section("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match the runner's") {
    assert(section("per_layer") == Main.PerLayer)
  }
}
