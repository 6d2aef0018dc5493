package perfbench

import scala.collection.mutable

/** Spans around the benchmark's calls into each layer: name, start, end,
  * parent and run id, held in memory and written out when the run ends.
  * `Tracer.Off` records nothing (the untraced end-to-end runs).
  */
class Tracer(val runId: String) {
  import Tracer.Span
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]

  def span[A](name: String)(f: => A): A = {
    val id = spans.size
    spans += Span(id, open.headOption.getOrElse(-1), name, System.currentTimeMillis(), -1L)
    open = id :: open
    try f
    finally {
      open = open.tail
      spans(id) = spans(id).copy(end = System.currentTimeMillis())
    }
  }

  def recorded: Seq[Span] = spans.toSeq
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  object Off extends Tracer("off") {
    override def span[A](name: String)(f: => A): A = f
  }
}

/** Process-level counters over a window: wall, GC, user/sys CPU and
  * host steal.
  */
final class JvmWindow {
  private val t0 = System.nanoTime()
  private val gc0 = JvmWindow.gcMs()
  private val (u0, s0) = JvmWindow.cpuTicks()
  private val (st0, _, _, tot0) = graft.Bench.cpuStat()

  def stop(): JvmWindow.Result = {
    val wall = (System.nanoTime() - t0) / 1e9
    val (u1, s1) = JvmWindow.cpuTicks()
    val (st1, _, _, tot1) = graft.Bench.cpuStat()
    JvmWindow.Result(wall, (JvmWindow.gcMs() - gc0) / 1e3,
      (u1 - u0) / JvmWindow.Hz, (s1 - s0) / JvmWindow.Hz,
      if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0)
  }
}

object JvmWindow {
  final case class Result(wallS: Double, gcS: Double, userS: Double, sysS: Double, stealPct: Double)

  private def pools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
  }

  private def heapPools = pools.filter(_.getType == java.lang.management.MemoryType.HEAP)

  @volatile private var heapAfterGcMax = 0L
  /** JVM uptime (ms) of the last [[resetPeaks]]. */
  @volatile private var since = 0L

  /** Keeps the largest heap use at the end of any collection after the
    * last [[resetPeaks]]. Notifications arrive on another thread, some
    * after a reset, so older collections and the reset's own are
    * skipped by their start time and cause. */
  private lazy val listening: Unit = {
    import scala.jdk.CollectionConverters._
    import com.sun.management.GarbageCollectionNotificationInfo
    val heap = heapPools.map(_.getName).toSet
    val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        if (info.getGcCause != "System.gc()" && info.getGcInfo.getStartTime >= since) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heap(pool) => u.getUsed }.sum
          JvmWindow.synchronized { heapAfterGcMax = math.max(heapAfterGcMax, used) }
        }
      }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Collect what ran before and restart the peaks that
    * [[peakUsedBytes]] reads, so it covers only what runs after. */
  def resetPeaks(): Unit = {
    listening
    System.gc()
    JvmWindow.synchronized {
      since = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
      heapAfterGcMax = heapPools.map(_.getUsage.getUsed).sum
    }
    pools.foreach(_.resetPeakUsage())
  }

  /** Memory in use since [[resetPeaks]]: the largest heap use at the end
    * of a collection (what survives it, not the garbage the young
    * generation holds until then) plus each non-heap pool's peak
    * (metaspace, code). */
  def peakUsedBytes(): Long =
    JvmWindow.synchronized(heapAfterGcMax) +
      pools.filter(p => p.getType == java.lang.management.MemoryType.NON_HEAP &&
        p.getName != "Compressed Class Space") // counted in Metaspace's use
        .map(_.getPeakUsage.getUsed).sum

  // USER_HZ: /proc reports CPU time in these ticks on Linux.
  private val Hz = 100.0

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }

  private def cpuTicks(): (Long, Long) = {
    val stat = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/self/stat")))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (f(11).toLong, f(12).toLong) // utime, stime: fields 14 and 15 of stat(5)
  }
}

/** Minimal JSON rendering for the report and the trace file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d"); d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product =>
      apply(scala.collection.immutable.ListMap.from(p.productElementNames.zip(p.productIterator)))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
}
