package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.functions._

/** The benchmark runner: one workload, one seed, one JVM.
  *
  *   --workload <extract_batch|dom_sql|curate_train> --seed <n>
  *   --seconds <n> --trace <0|1> --work <scratch dir> --out <report dir>
  *   [--turns <n>]  (input turns per call of extract_batch or dom_sql)
  *
  * Untraced (`--trace 0`): [[Setups]] set-ups (session start, input
  * generation), [[Warmups]] untimed calls, then the timed call repeated
  * on `local[4]` for `--seconds` (at least three calls). Every call's
  * output is checked after the timing. The last stdout line is the JSON
  * result with the end-to-end metrics.
  *
  * Traced (`--trace 1`): set-up once and the same warmup calls, then
  * two untraced and two traced calls, the per-layer runs and probes, and
  * two calls on `local[1]` for the scaling efficiency; the last stdout
  * line carries every per-layer metric and the spans go to
  * `<out>/trace-<workload>-seed<n>.json`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, out: File, turns: Option[Long])

  val Cores = 4
  /** Untimed calls before the first measured one (JIT, codegen, file
    * caches): on a 4-vCPU VM the first calls of a JVM are up to 3x
    * slower than later ones. */
  val Warmups = 4
  /** Set-ups per untraced run; `setup_s` is their median. The first
    * starts a cold JVM and the next ones are still speeding up, so the
    * median falls among the later ones. */
  val Setups = 5

  /** End-to-end metrics: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "turns_per_s" -> "turns/s", "setup_s" -> "s", "peak_mem_gib" -> "GiB")

  /** Per-layer metrics: (name, unit). A traced run reports all of them;
    * a layer its workload does not run reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "parser.ns_per_turn" -> "ns", "parser.mb_per_s" -> "MB/s",
    "parser.alloc_bytes_per_turn" -> "B", "parser.nodes_per_turn" -> "count",
    "parser.errors_per_turn" -> "count",
    "extract.self_ns_per_turn" -> "ns", "extract.self_alloc_bytes_per_turn" -> "B",
    "extract.yield" -> "ratio", "extract.spans_per_turn" -> "count",
    "pipeline.batch_s" -> "s", "pipeline.resume.s" -> "s",
    "pipeline.extract.wall_s" -> "s", "pipeline.extract.cpu_s" -> "s",
    "pipeline.extract.gc_s" -> "s", "pipeline.extract.task_skew" -> "ratio",
    "pipeline.exchange.shuffle_write_mb" -> "MB", "pipeline.exchange.fetch_wait_s" -> "s",
    "pipeline.reassemble.wall_s" -> "s", "pipeline.reassemble.run_s" -> "s",
    "pipeline.sink.extracted_s" -> "s", "pipeline.sink.lineage_s" -> "s",
    "pipeline.sink.metrics_s" -> "s", "pipeline.sink.checkpoint_s" -> "s",
    "pipeline.jobs" -> "count", "pipeline.unattributed_s" -> "s",
    "dom.scan.s" -> "s", "dom.parse_nodes.s" -> "s", "dom.parse_nodes.rows_per_turn" -> "count",
    "dom.find_links.s" -> "s", "dom.to_html.s" -> "s",
    "curate.conv_agg.s" -> "s", "curate.gopher.s" -> "s", "curate.gopher.kept_ratio" -> "ratio",
    "curate.dedup.s" -> "s", "curate.dedup.candidate_pairs" -> "count",
    "curate.dedup.verified_ratio" -> "ratio", "curate.chunk.s" -> "s", "curate.pack.s" -> "s",
    "curate.pack.fill_ratio" -> "ratio", "curate.exchanges" -> "count",
    "curate.deserialize_nodes" -> "count", "curate.shuffle_write_mb" -> "MB",
    "jvm.gc_share" -> "ratio", "jvm.sys_share" -> "ratio", "jvm.cpu_util" -> "ratio",
    "scaling.local1_turns_per_s" -> "turns/s", "scaling.eff" -> "ratio",
    "trace.overhead_share" -> "ratio")

  def parse(a: Array[String]): Args = {
    require(a.length % 2 == 0, "arguments come in --name value pairs")
    val m = a.grouped(2).map(p => p(0) -> p(1)).toMap
    val known = Set("--workload", "--seed", "--seconds", "--trace", "--work", "--out")
    require(known.subsetOf(m.keySet) && m.keySet.subsetOf(known + "--turns"),
      s"need exactly ${known.mkString(" ")} and optionally --turns; got ${m.keys.mkString(" ")}")
    val seconds = m("--seconds").toInt
    require(seconds >= 1, s"--seconds must be at least 1, got $seconds")
    require(Set("0", "1")(m("--trace")), s"--trace is 0 or 1, got ${m("--trace")}")
    Args(m("--workload"), m("--seed").toLong, seconds, m("--trace") == "1",
      new File(m("--work")), new File(m("--out")), m.get("--turns").map(_.toLong))
  }

  def main(a: Array[String]): Unit = {
    val args = parse(a)
    val w = Workload(args.workload, args.turns)
    val ctx = new Ctx(args.seed, args.work)
    try {
      println(s"perfbench ${w.name} seed=${args.seed} seconds=${args.seconds} trace=${if (args.trace) 1 else 0}")
      println(Json(if (args.trace) traced(w, ctx, args) else timed(w, ctx, args)))
    } finally ctx.stop()
  }

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One timed call, started from a collected heap so that its memory
    * peak and the process counters over it are its own. A throw is
    * recorded, never timed as a success. */
  private def call(w: Workload, ctx: Ctx, tag: String, tr: Tracer): (Rep, JvmWindow.Result) = {
    JvmWindow.resetPeaks()
    val win = new JvmWindow
    val t0 = System.nanoTime()
    val (out, error) =
      try (w.run(ctx, tag, tr), None)
      catch { case e: Exception => ("", Some(e.toString)) }
    val rep = Rep(tag, ctx.cores, (System.nanoTime() - t0) / 1e9, w.turns, out, error,
      JvmWindow.peakUsedBytes())
    (rep, win.stop())
  }

  /** Bad turns per call: the output check, or every turn of a call that
    * threw or whose check threw. Outputs are removed once checked. */
  private def check(w: Workload, ctx: Ctx, reps: Seq[Rep]): Seq[(Rep, Long)] = {
    val ok = reps.filter(_.error.isEmpty)
    val bad = try w.check(ctx, ok) catch {
      case e: Exception =>
        println(s"check failed: $e")
        ok.map(_.turns)
    }
    val byTag = ok.map(_.tag).zip(bad).toMap
    reps.map { r =>
      if (r.out.nonEmpty) Ctx.delete(new File(r.out))
      r -> byTag.getOrElse(r.tag, r.turns)
    }
  }

  private def report(checked: Seq[(Rep, Long)]): Unit = checked.foreach { case (r, bad) =>
    println(f"call ${r.tag}%-6s local[${r.cores}] wall_s=${r.wallS}%.3f " +
      f"peak_gib=${r.peakBytes / 1073741824.0}%.3f turns=${r.turns} " +
      s"bad_turns=$bad${r.error.fold("")(e => s" error=$e")}")
  }

  private def rate(checked: Seq[(Rep, Long)]): Option[Double] = {
    val good = checked.collect { case (r, 0L) if r.error.isEmpty => r.turnsPerS }
    if (good.isEmpty) None else Some(Stats.median(good))
  }

  private def env(ctx: Ctx, stealPct: Double): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_max_gib" -> Runtime.getRuntime.maxMemory / 1073741824.0,
      "gc_flags" -> jvmArgs.filter(a => a.startsWith("-XX") || a.startsWith("-Xm")).toSeq,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "steal_pct" -> stealPct)
  }

  private def result(checked: Seq[(Rep, Long)], metrics: Seq[(String, String, Double)]): Map[String, Any] = {
    val attempted = checked.map(_._1.turns).sum
    val failed = checked.map(_._2).sum
    println(f"failed_share ${if (attempted > 0) failed.toDouble / attempted else 0.0}%.6f ($failed of $attempted turns)")
    metrics.foreach { case (n, u, v) => println(s"metric $n $v $u") }
    scala.collection.immutable.ListMap(
      "correct" -> (failed == 0 && checked.nonEmpty),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap.from(metrics.map { case (n, u, v) =>
        n -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u) }))
  }

  def timed(w: Workload, ctx: Ctx, args: Args): Map[String, Any] = {
    val setups = (1 to Setups).map { _ =>
      val (_, a) = seconds(ctx.start(Cores))
      val (_, b) = seconds(w.setup(ctx))
      println(f"setup session_s=$a%.3f input_s=$b%.3f")
      a + b
    }
    val warm = (1 to Warmups).map(_ => seconds(w.warmup(ctx))._2)
    println(s"warmup_s ${warm.map(s => f"$s%.3f").mkString(" ")}")

    val win = new JvmWindow
    val t0 = System.nanoTime()
    val reps4 = mutable.ArrayBuffer[Rep]()
    while (reps4.size < 3 || System.nanoTime() - t0 < args.seconds * 1000000000L)
      reps4 += call(w, ctx, s"l4-${reps4.size + 1}", Tracer.Off)._1
    val jvm = win.stop()
    val (checked, checkS) = seconds(check(w, ctx, reps4.toSeq))
    ctx.stop()
    println(f"phases timed_s=${jvm.wallS}%.3f check_s=$checkS%.3f")
    report(checked)
    println(s"env ${Json(env(ctx, jvm.stealPct))}")
    val walls = checked.collect { case (r, 0L) if r.error.isEmpty => r.wallS }
    if (walls.nonEmpty)
      println(f"call_wall_s local[$Cores] median=${Stats.median(walls)}%.3f max=${walls.max}%.3f n=${walls.size}")
    result(checked, Seq(
      ("turns_per_s", "turns/s", rate(checked).getOrElse(0.0)),
      ("setup_s", "s", Stats.median(setups)),
      ("peak_mem_gib", "GiB", if (walls.isEmpty) 0.0 else Stats.median(
        checked.collect { case (r, 0L) if r.error.isEmpty => r.peakBytes.toDouble }) / 1073741824.0)))
  }

  def traced(w: Workload, ctx: Ctx, args: Args): Map[String, Any] = {
    ctx.start(Cores)
    w.setup(ctx)
    (1 to Warmups).foreach(_ => w.warmup(ctx))
    val sc = ctx.spark.sparkContext
    val tr = new Tracer(s"${w.name}-seed${args.seed}-${System.currentTimeMillis()}")
    val log = new StageLog
    val plain = mutable.ArrayBuffer[Rep]()
    val traced = mutable.ArrayBuffer[(Rep, StageLog.Snapshot)]()
    val jvms = mutable.ArrayBuffer[JvmWindow.Result]()
    // untraced and traced calls in ABBA order, so neither side gets only
    // the earlier (or later) calls
    for (tag <- Seq("u1", "t1", "t2", "u2")) {
      if (tag.startsWith("u")) plain += call(w, ctx, tag, Tracer.Off)._1
      else {
        sc.addSparkListener(log)
        val mark = System.currentTimeMillis()
        val (rep, jvm) = tr.span(s"call $tag")(call(w, ctx, tag, tr))
        jvms += jvm
        traced += rep -> log.since(sc, mark)
        sc.removeSparkListener(log)
      }
    }
    val sample = w.html(ctx)
      .orderBy(xxhash64(lit(args.seed), col("conv_id"), col("turn_idx")))
      .select(col("text")).limit(2000).collect().map(_.getString(0)).toIndexedSeq
    val probes = tr.span("probes")(Probes.parserExtract(sample))
    // a layer run that throws (or fails its own output check) fails the run
    val (layers, layerError) =
      try (tr.span("layers")(w.layers(ctx, tr, traced.toSeq)), None)
      catch { case e: Exception => (Map.empty[String, Double], Some(e.toString)) }
    val layer = probes ++ layers
    val checked4 = check(w, ctx, plain.toSeq ++ traced.map(_._1))
    // scaling: the same input on local[1]; its rate against the untraced
    // local[4] calls above
    ctx.start(1)
    val checked1 = check(w, ctx, (1 to 2).map(i => tr.span(s"call l1-$i")(call(w, ctx, s"l1-$i", tr)._1)))
    ctx.stop()
    val checked = checked4 ++ checked1 ++
      layerError.map(e => Rep("layers", Cores, 0.0, w.turns, "", Some(e)) -> w.turns)
    report(checked)

    val cpu = jvms.map(j => j.userS + j.sysS).sum
    val wall = jvms.map(_.wallS).sum
    val untracedRate = rate(checked.filter(_._1.tag.startsWith("u")))
    val tracedRate = rate(checked.filter(_._1.tag.startsWith("t")))
    val local1Rate = rate(checked1)
    val overhead = (for (u <- untracedRate; t <- tracedRate) yield (u - t) / u).getOrElse(0.0)
    println(f"tracing overhead: turns_per_s untraced=${untracedRate.getOrElse(0.0)}%.1f " +
      f"traced=${tracedRate.getOrElse(0.0)}%.1f share=$overhead%.4f")
    val all = layer ++ Map(
      "jvm.gc_share" -> jvms.map(_.gcS).sum / wall,
      "jvm.sys_share" -> (if (cpu > 0) jvms.map(_.sysS).sum / cpu else 0.0),
      "jvm.cpu_util" -> cpu / (wall * Cores),
      "scaling.local1_turns_per_s" -> local1Rate.getOrElse(0.0),
      "scaling.eff" -> (for (a <- untracedRate; b <- local1Rate) yield a / (Cores * b)).getOrElse(0.0),
      "trace.overhead_share" -> overhead)
    val unknown = all.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"unregistered per-layer metrics: ${unknown.mkString(", ")}")
    val metrics = PerLayer.map { case (n, u) => (n, u, all.getOrElse(n, 0.0)) }

    args.out.mkdirs()
    val file = new File(args.out, s"trace-${w.name}-seed${args.seed}.json")
    val steal = jvms.map(_.stealPct).sum / jvms.size
    java.nio.file.Files.write(file.toPath, Json(scala.collection.immutable.ListMap(
      "run_id" -> tr.runId, "workload" -> w.name, "seed" -> args.seed,
      "env" -> env(ctx, steal),
      "tracing_overhead" -> Map("untraced_turns_per_s" -> untracedRate.getOrElse(0.0),
        "traced_turns_per_s" -> tracedRate.getOrElse(0.0), "share" -> overhead),
      "metrics" -> metrics.map { case (n, u, v) => Map("name" -> n, "unit" -> u, "value" -> v) },
      "spans" -> spans(tr, traced.map(_._2).toSeq))).getBytes("UTF-8"))
    println(s"trace written to ${file.getPath}")
    result(checked, metrics)
  }

  /** The benchmark's spans, then Spark's executions and stages as child
    * spans: an execution under the innermost benchmark span open at its
    * start, a stage under its execution. */
  private def spans(tr: Tracer, snaps: Seq[StageLog.Snapshot]): Seq[Map[String, Any]] = {
    val own = tr.recorded
    def row(id: Int, parent: Int, name: String, start: Long, end: Long, attrs: Map[String, Any]) =
      Map("id" -> id, "parent" -> parent, "run_id" -> tr.runId, "name" -> name,
        "start_ms" -> start, "end_ms" -> end) ++ attrs
    var next = own.size
    val spark = snaps.flatMap { s =>
      s.execs.flatMap { e =>
        val parent = own.filter(o => o.start <= e.start && e.start <= o.end)
          .sortBy(o => o.end - o.start).headOption.map(_.id).getOrElse(-1)
        val eid = next
        next += 1
        row(eid, parent, s"sql ${Attribution.sinkOf(e.plan).getOrElse("read")} #${e.id}", e.start, e.end,
          Map("exchanges" -> e.exchanges, "deserialize_nodes" -> e.deserializes)) +:
          s.stagesOf(e).map { st =>
            next += 1
            row(next - 1, eid, s"stage ${st.id}", st.submitted, st.completed, Map(
              "tasks" -> st.tasks, "run_ms" -> st.runMs, "cpu_ms" -> st.cpuNs / 1000000,
              "gc_ms" -> st.gcMs, "shuffle_write_bytes" -> st.shuffleWrite,
              "shuffle_read_bytes" -> st.shuffleRead, "fetch_wait_ms" -> st.fetchWaitMs,
              "spill_bytes" -> st.spill, "task_skew" -> st.skew))
          }
      }
    }
    own.map(o => row(o.id, o.parent, o.name, o.start, o.end, Map.empty)) ++ spark
  }
}
