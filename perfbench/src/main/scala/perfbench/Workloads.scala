package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.{Chunking, Dedup, Filtering, HtmlFunctions, Packing, Pipeline}
import graft.spark.catalyst.GraftSparkExtensions

/** The session and scratch space of one benchmark run. */
final class Ctx(val seed: Long, val work: File) {
  private var session: SparkSession = _
  private var level = 0

  def spark: SparkSession = session
  def cores: Int = level

  /** (Re)start the session on `local[cores]`. */
  def start(cores: Int): Unit = {
    stop()
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .withExtensions(new GraftSparkExtensions)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // two reduce tasks per core at local[4], the same plan at local[1];
      // no AQE coalescing, as in PipelineMain, so both levels run the
      // same task counts
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.local.dir", path("spark-local"))
      .config("spark.sql.warehouse.dir", path("warehouse"))
      .getOrCreate()
    level = cores
  }

  def stop(): Unit = if (session != null) {
    session.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    session = null
  }

  def path(name: String): String = new File(work, name).getPath

  /** `path(name)` with anything already there removed. */
  def fresh(name: String): String = { Ctx.delete(new File(work, name)); path(name) }
}

object Ctx {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

/** One timed call's outcome: wall seconds, the turns it took in and the
  * JVM's peak memory use over it (see [[JvmWindow.peakUsedBytes]]). */
final case class Rep(tag: String, cores: Int, wallS: Double, turns: Long,
                     out: String, error: Option[String], peakBytes: Long = 0L) {
  def turnsPerS: Double = turns / wallS
}

/** A workload: what set-up builds, the timed call, its output check and
  * the per-layer attribution its traced run adds.
  */
trait Workload {
  def name: String
  /** Input turns one timed call processes. */
  def turns: Long
  /** Generate (and materialize) the seeded input into `ctx.work`. */
  def setup(ctx: Ctx): Unit
  /** The timed call once, untimed (JIT, codegen, file caches). */
  def warmup(ctx: Ctx): Unit = {
    val out = run(ctx, "warm", Tracer.Off)
    if (out.nonEmpty) Ctx.delete(new File(out))
  }
  /** The timed call. Returns its output directory, or "" when the
    * output is not kept. */
  def run(ctx: Ctx, tag: String, tr: Tracer): String
  /** Per call, the turns whose output is wrong (untimed). */
  def check(ctx: Ctx, reps: Seq[Rep]): Seq[Long]
  /** HTML of this workload's own input turns (for the parser probes). */
  def html(ctx: Ctx): DataFrame
  /** Per-layer metrics of this workload's layers from a traced run;
    * `traced` holds each traced call with Spark's record of it. */
  def layers(ctx: Ctx, tr: Tracer, traced: Seq[(Rep, StageLog.Snapshot)]): Map[String, Double]
}

object Workload {
  /** Input turns per call of extract_batch and dom_sql, unless given. */
  val DefaultTurns = 40000L

  def apply(name: String, turns: Option[Long] = None): Workload = name match {
    case "extract_batch" => new ExtractBatch(turns.getOrElse(DefaultTurns))
    case "dom_sql" => new DomSql(turns.getOrElse(DefaultTurns))
    case "curate_train" =>
      require(turns.isEmpty, "curate_train sets its own input size")
      new CurateTrain
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (extract_batch, dom_sql, curate_train)")
  }
}

/** Plain transcripts: input generation shared by extract_batch and dom_sql. */
abstract class TranscriptInput(val turns: Long, files: Int) extends Workload {
  private def rows(ctx: Ctx): DataFrame =
    Inputs.turnRows(ctx.spark, ctx.seed, Inputs.conversations(ctx.seed, turns.toInt, plants = false))

  private var cached: (SparkSession, DataFrame) = (null, null)

  /** The generated rows with their expected outputs, kept in memory for
    * the checks of one session. */
  protected def expected(ctx: Ctx): DataFrame = {
    if (cached._1 ne ctx.spark) cached = (ctx.spark,
      rows(ctx).select(col("conv_id"), col("turn_idx"), col("okey"), col("lnum"), col("expected_text"))
        .persist())
    cached._2
  }

  def setup(ctx: Ctx): Unit = {
    Inputs.writeTranscripts(rows(ctx), ctx.seed, files, ctx.fresh("in"))
  }

  def html(ctx: Ctx): DataFrame = ctx.spark.read.parquet(ctx.path("in"))
}

/** One production batch: Pipeline.runResumable, extract-first, all sinks. */
final class ExtractBatch(turns: Long) extends TranscriptInput(turns, files = 8) {
  val name = "extract_batch"
  private val cfg = Pipeline.Config(shape = "extractfirst")

  def run(ctx: Ctx, tag: String, tr: Tracer): String = {
    val out = ctx.fresh(s"out-$tag")
    tr.span("pipeline.runResumable")(Pipeline.runResumable(ctx.spark, ctx.path("in"), out, cfg))
    out
  }

  def check(ctx: Ctx, reps: Seq[Rep]): Seq[Long] = reps.map { rep =>
    val spark = ctx.spark
    val bad = Checks.extractedTurns(spark.read.parquet(s"${rep.out}/extracted"), expected(ctx)) +
      Checks.ledgers(spark.read.parquet(s"${rep.out}/lineage"),
        spark.read.parquet(s"${rep.out}/metrics"), turns) +
      (if (Pipeline.runResumable(spark, ctx.path("in"), rep.out, cfg).batchId == "none") 0L
       else turns)
    math.min(bad, turns)
  }

  /** The batch attributed to its steps and stages (see [[Attribution]]),
    * then the curation layer downstream of it, on its own seeded input:
    * curation is not a workload of the benchmark, as one of its runs
    * would not fit the run budget.
    */
  def layers(ctx: Ctx, tr: Tracer, traced: Seq[(Rep, StageLog.Snapshot)]): Map[String, Double] =
    Attribution.means(traced.map { case (rep, s) => Attribution.batch(s, rep.wallS) }) ++
      tr.span("curate")(new CurateTrain().layers(ctx, tr, Nil))
}

/** A single-scan, no-exchange projection of the three DOM functions into
  * the noop sink. The link list and serialization are projected below
  * the generator, so they are computed once per turn: an expression over
  * them above it (say `size(links)`) is evaluated once per node row
  * instead, which measured 3x slower.
  */
final class DomSql(turns: Long) extends TranscriptInput(turns, files = 8) {
  val name = "dom_sql"

  private def project(df: DataFrame): DataFrame =
    df.select(col("text"), HtmlFunctions.find_links(col("text")).as("links"),
        HtmlFunctions.to_html(col("text")).as("html"))
      .select(col("links"), col("html"), GraftSparkExtensions.parse_nodes(col("text")))

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx, tag: String, tr: Tracer): String = {
    tr.span("dom.projection")(noop(project(ctx.spark.read.parquet(ctx.path("in")))))
    ""
  }

  /** Every call computes the same functions over the same input, so one
    * check of them stands for each call. */
  def check(ctx: Ctx, reps: Seq[Rep]): Seq[Long] = {
    val bad = if (reps.isEmpty) 0L else Checks.domOutputs(ctx.spark.read.parquet(ctx.path("in"))
      .select(col("conv_id"), col("turn_idx"), col("text"),
        HtmlFunctions.find_links(col("text")).as("links"),
        HtmlFunctions.to_html(col("text")).as("html"))
      .join(expected(ctx).select(col("conv_id"), col("turn_idx"), col("okey"), col("lnum")),
        Seq("conv_id", "turn_idx")))
    reps.map(_ => bad)
  }

  /** Each function as its own job over the same scan, plus a scan-only
    * control: median wall of three runs each.
    */
  def layers(ctx: Ctx, tr: Tracer, traced: Seq[(Rep, StageLog.Snapshot)]): Map[String, Double] = {
    val in = ctx.spark.read.parquet(ctx.path("in"))
    def timed(name: String)(df: => DataFrame): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tr.span(name)(noop(df))
      (System.nanoTime() - t0) / 1e9
    })
    val rows = in.select(GraftSparkExtensions.parse_nodes(col("text"))).count()
    Map(
      "dom.scan.s" -> timed("dom.scan")(in.select(col("text"))),
      "dom.parse_nodes.s" -> timed("dom.parse_nodes")(in.select(GraftSparkExtensions.parse_nodes(col("text")))),
      "dom.parse_nodes.rows_per_turn" -> rows.toDouble / turns,
      "dom.find_links.s" -> timed("dom.find_links")(in.select(HtmlFunctions.find_links(col("text")))),
      "dom.to_html.s" -> timed("dom.to_html")(in.select(HtmlFunctions.to_html(col("text")))))
  }
}

/** Training-data curation over conversations set-up extracted once:
  * loss-span reassembly, gopher repetition filter, exact + near dedup,
  * chunking and next-fit packing, written to parquet.
  */
final class CurateTrain extends Workload {
  val name = "curate_train"
  private val baseTurns = 10000
  private val Capacity = 2048
  private var convs: Seq[Inputs.Conv] = Nil
  def turns: Long = convs.map(_.n_turns.toLong).sum

  /** The planted transcripts, extracted once into (conv_id, turn_idx,
    * role, extracted_text). */
  def setup(ctx: Ctx): Unit = {
    convs = Inputs.conversations(ctx.seed, baseTurns, plants = true)
    Inputs.writeTranscripts(Inputs.turnRows(ctx.spark, ctx.seed, convs), ctx.seed, 8, ctx.fresh("raw"))
    Pipeline.extractOnScanPartitions(ctx.spark.read.parquet(ctx.path("raw")))
      .select(col("conv_id"), col("turn_idx"),
        expr("CASE turn_idx % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END").as("role"),
        col("extracted_text"))
      .write.parquet(ctx.fresh("turns"))
  }

  def html(ctx: Ctx): DataFrame = ctx.spark.read.parquet(ctx.path("raw"))

  private def docs(turns: DataFrame): DataFrame =
    Pipeline.conversationTextsWithLossSpans(turns)
      .select(expr("CAST(substring(conv_id, 3) AS BIGINT)").as("doc_id"),
        col("conv_text").as("text"), col("loss_spans"))

  private def gopher(d: DataFrame): DataFrame =
    Filtering.gopherRepetitionFilter(d).filter(col("keep")).select(col("doc_id"), col("text"))

  private def chunks(d: DataFrame): DataFrame = Chunking.chunkOffsetsMapped(d, maxTokens = 512, overlap = 64)

  private def pack(c: DataFrame): DataFrame = Packing.packNextFit(c, capacity = Capacity)

  private def chain(turns: DataFrame): DataFrame =
    pack(chunks(Dedup.dedupedCorpus(gopher(docs(turns)))))

  def run(ctx: Ctx, tag: String, tr: Tracer): String = {
    val out = ctx.fresh(s"out-$tag")
    tr.span("curate.chain")(chain(ctx.spark.read.parquet(ctx.path("turns"))).write.parquet(out))
    out
  }

  private def convTable(ctx: Ctx): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    convs.toDF().select(col("conv_no").as("doc_id"), col("n_turns"), col("kind"), col("src"))
  }

  /** The conversations the gopher step drops, by the filter's own flag. */
  private def filtered(ctx: Ctx): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    Filtering.gopherRepetitionFilter(docs(spark.read.parquet(ctx.path("turns")))).filter(!col("keep"))
      .select(col("doc_id")).as[Long].collect().toSeq.toDF("doc_id")
  }

  def check(ctx: Ctx, reps: Seq[Rep]): Seq[Long] = {
    val gone = filtered(ctx)
    reps.map(rep =>
      math.min(turns, Checks.curated(ctx.spark.read.parquet(rep.out), convTable(ctx), gone, Capacity)))
  }

  /** Each step checkpointed to parquet and timed on its own; plan shape
    * and shuffle volume from the traced calls of the whole chain. With no
    * traced calls (measured from another workload's traced run), this
    * sets itself up and records and checks its warmup call instead.
    */
  def layers(ctx: Ctx, tr: Tracer, traced: Seq[(Rep, StageLog.Snapshot)]): Map[String, Double] = {
    val spark = ctx.spark
    val calls = if (traced.nonEmpty) traced else {
      setup(ctx)
      // the warmup call, checked and recorded, stands for the traced calls
      val log = new StageLog
      spark.sparkContext.addSparkListener(log)
      val mark = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = run(ctx, "warm", tr)
      val rep = Rep("warm", ctx.cores, (System.nanoTime() - t0) / 1e9, turns, out, None)
      val snap = log.since(spark.sparkContext, mark)
      spark.sparkContext.removeSparkListener(log)
      val bad = check(ctx, Seq(rep)).head
      Ctx.delete(new File(out))
      require(bad == 0, s"curation output check failed on $bad turns")
      Seq(rep -> snap)
    }
    def step(name: String, df: => DataFrame): (Double, DataFrame) = {
      val out = ctx.fresh(s"step-$name")
      val t0 = System.nanoTime()
      tr.span(s"curate.$name")(df.write.parquet(out))
      ((System.nanoTime() - t0) / 1e9, spark.read.parquet(out))
    }
    val (aggS, d0) = step("conv_agg", docs(spark.read.parquet(ctx.path("turns"))))
    val (gopherS, d1) = step("gopher", gopher(d0))
    val (dedupS, d2) = step("dedup", Dedup.dedupedCorpus(d1))
    val (chunkS, c) = step("chunk", chunks(d2))
    val (packS, p) = step("pack", pack(c))
    val cand = Dedup.nearDupPairs(d1).select(col("a"), col("b")).localCheckpoint()
    val nCand = cand.count()
    val nVerified = Dedup.ngramJaccardPairs(d1, cand, 0.5).count()
    val nSeq = p.select(col("shard"), col("seq_idx")).distinct().count()
    val tokens = p.agg(sum(col("n_tokens"))).head().getLong(0)
    def perCall(f: StageLog.Snapshot => Double): Double = Stats.median(calls.map(t => f(t._2)))
    Map(
      "curate.conv_agg.s" -> aggS,
      "curate.gopher.s" -> gopherS,
      "curate.gopher.kept_ratio" -> d1.count().toDouble / d0.count(),
      "curate.dedup.s" -> dedupS,
      "curate.dedup.candidate_pairs" -> nCand.toDouble,
      "curate.dedup.verified_ratio" -> (if (nCand == 0) 0.0 else nVerified.toDouble / nCand),
      "curate.chunk.s" -> chunkS,
      "curate.pack.s" -> packS,
      "curate.pack.fill_ratio" -> tokens.toDouble / (nSeq * Capacity),
      "curate.exchanges" -> perCall(_.execs.map(_.exchanges).sum.toDouble),
      "curate.deserialize_nodes" -> perCall(_.execs.map(_.deserializes).sum.toDouble),
      "curate.shuffle_write_mb" -> perCall(_.stages.map(_.shuffleWrite).sum / 1e6))
  }
}
