package perfbench

import graft.extract.Extractor
import graft.parser.HtmlParser

/** Single-thread loops over a sample of a workload's own turns, outside
  * Spark: the parser alone, and the extractor (which parses, then walks).
  * After five warm passes of each, timed passes alternate between the
  * two; each figure is the median pass.
  */
object Probes {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def parserExtract(texts: IndexedSeq[String], passes: Int = 7): Map[String, Double] = {
    require(texts.nonEmpty, "empty sample")
    val n = texts.size.toDouble
    var sink = 0L
    def pass(f: String => Int): (Double, Double) = {
      val a0 = threads.getCurrentThreadAllocatedBytes
      val t0 = System.nanoTime()
      texts.foreach(t => sink += f(t))
      ((System.nanoTime() - t0) / n, (threads.getCurrentThreadAllocatedBytes - a0) / n)
    }
    val parse = (t: String) => HtmlParser.parseWithStats(t)._2.nNodes
    val extract = (t: String) => Extractor.extract(t).text.length
    (1 to 5).foreach { _ => pass(parse); pass(extract) }
    val runs = (1 to passes).map(_ => (pass(parse), pass(extract)))
    def med(f: (((Double, Double), (Double, Double))) => Double) = Stats.median(runs.map(f))
    val parseNs = med(_._1._1)
    val extractNs = med(_._2._1)
    val stats = texts.map(t => HtmlParser.parseWithStats(t)._2)
    val results = texts.map(t => Extractor.extract(t))
    val bytes = texts.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
    if (sink == 42L) println() // keeps the loops' results alive
    Map(
      "parser.ns_per_turn" -> parseNs,
      "parser.mb_per_s" -> bytes / n / parseNs * 1e3,
      "parser.alloc_bytes_per_turn" -> med(_._1._2),
      "parser.nodes_per_turn" -> stats.map(_.nNodes.toLong).sum / n,
      "parser.errors_per_turn" -> stats.map(s => (s.forcedNonpair + s.droppedEndtags).toLong).sum / n,
      "extract.self_ns_per_turn" -> (extractNs - parseNs),
      "extract.self_alloc_bytes_per_turn" -> (med(_._2._2) - med(_._1._2)),
      "extract.yield" -> results.map(_.text.length.toLong).sum.toDouble / texts.map(_.length.toLong).sum,
      "extract.spans_per_turn" -> results.map(_.spans.size.toLong).sum / n)
  }
}
