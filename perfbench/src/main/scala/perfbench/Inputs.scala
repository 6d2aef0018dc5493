package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spark.Transcripts

/** Seeded synthetic transcripts in the oracle HTML template
  * (`Transcripts.textSqlExpr`), so every turn's expected extraction is
  * known exactly. The prose and the conversation lengths follow figures
  * measured from the sf0.1 test data (`profile.py` prints them): there,
  * a turn's prose is a `documents.text` of 10 to 100 words drawn
  * uniformly from a 30-word vocabulary, and a conversation is an order
  * with one turn per `lineitem`. On top of that body, the conversation
  * lengths get a skew tail the test data does not have: a few
  * conversations that hold thousands of turns at production batch
  * sizes. The seed sets the lengths, the prose, the plants and the row
  * order across files. The same seed always gives the same rows.
  */
object Inputs {
  val Normal = 0
  val ExactDup = 1 // same turns as `src`: the dedup exact tier must drop it
  val NearDup = 2  // `src` with turn 1's facts changed
  val Spam = 3     // repetitive prose: the gopher repetition filter must drop it

  final case class Conv(conv_no: Long, n_turns: Int, src: Long, kind: Int)

  /** Orders of sf0.1 `lineitem` by their number of lines (1 to 17). */
  private val LinesPerOrder = Array(11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407,
    1959, 818, 292, 93, 29, 10, 1, 2, 1)
  private val LinesTotal = LinesPerOrder.sum

  /** A conversation length drawn from [[LinesPerOrder]]. */
  private def orderLength(r: java.util.Random): Int = {
    var k = r.nextInt(LinesTotal)
    var i = 0
    while (k >= LinesPerOrder(i)) { k -= LinesPerOrder(i); i += 1 }
    i + 1
  }

  /** The skew tail: `TailConvs` conversations of `turns * TailTop / rank`
    * turns (Zipf, exponent 1), about 14% of the turns. A choice, not a
    * measurement; not seeded, so seeds do not move the longest task. */
  private val TailConvs = 8
  private val TailTop = 0.05

  /** Conversation table: the skew tail, then lengths drawn from the
    * measured profile, cut so the normal conversations hold exactly
    * `turns` turns; conversation numbers are a seeded permutation. With
    * `plants`, 3% exact and 3% near duplicates of 3..40-turn
    * conversations and 2% spam conversations are appended, numbered
    * after every normal conversation (so dedup keeps the original).
    */
  def conversations(seed: Long, turns: Int, plants: Boolean): Seq[Conv] = {
    require(turns > 0, s"turns must be positive, got $turns")
    val r = new java.util.Random(seed)
    val lens = scala.collection.mutable.ArrayBuffer[Int]()
    var left = turns
    def add(l: Int): Unit = { lens += math.min(l, left); left -= lens.last }
    for (rank <- 1 to TailConvs if left > 0)
      add(math.max(1, math.round(turns * TailTop / rank).toInt))
    while (left > 0) add(orderLength(r))
    val order = scala.util.Random.javaRandomToRandom(r).shuffle(lens.indices.toVector)
    val normal = order.zipWithIndex.map { case (rk, i) =>
      Conv(i + 1L, lens(rk), i + 1L, Normal) }
    if (!plants) return normal
    val sources = scala.util.Random.javaRandomToRandom(r)
      .shuffle(normal.filter(c => c.n_turns >= 3 && c.n_turns <= 40))
    val nPlant = math.max(1, normal.size * 3 / 100)
    val nSpam = math.max(1, normal.size * 2 / 100)
    require(sources.size >= 2 * nPlant, s"too few mid-size conversations to plant from: ${sources.size}")
    var next = normal.size.toLong
    def id(): Long = { next += 1; next }
    val exact = sources.take(nPlant).map(s => Conv(id(), s.n_turns, s.conv_no, ExactDup))
    val near = sources.slice(nPlant, 2 * nPlant).map(s => Conv(id(), s.n_turns, s.conv_no, NearDup))
    val spam = (0 until nSpam).map { _ =>
      val n = id(); Conv(n, 2 + r.nextInt(7), n, Spam) }
    normal ++ exact ++ near ++ spam
  }

  /** The words of sf0.1 `documents.text` (each about 3.3% of all words;
    * a 31st word, `dup`, makes 0.1% and is left out). */
  private val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  /** 10..100 seeded vocabulary words: the prose of one turn of `src`. */
  def prosePick(seed: Long, src: Long, turn: Int): String = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ src * 0xC2B2AE3D27D4EB4FL ^ turn)
    val n = 10 + r.nextInt(91)
    val b = new StringBuilder(n * 6)
    for (i <- 0 until n) {
      if (i > 0) b += ' '
      b ++= Vocab(r.nextInt(Vocab.length))
    }
    b.toString
  }

  private val SpamProse =
    Seq.fill(24)("buy cheap pills now").mkString(" ")

  /** One row per turn: the Turn columns plus the fields the template was
    * filled from and the template's expected extraction.
    */
  def turnRows(spark: SparkSession, seed: Long, convs: Seq[Conv]): DataFrame = {
    import spark.implicits._
    val s = lit(seed)
    val ti = col("turn_idx")
    val src = col("src")
    def h(salt: Column): Column = xxhash64(s, src, ti, salt)
    val prose = udf(prosePick _)
    val factSalt = when(col("kind") === NearDup && ti === 1, lit(-3)).otherwise(lit(-2))
    convs.toDF()
      .select(col("*"), explode(sequence(lit(1), col("n_turns"))).as("turn_idx"))
      .select(
        concat(lit("c-"), col("conv_no")).as("conv_id"),
        col("conv_no"), col("kind"), ti,
        when(col("kind") === Spam, lit(SpamProse)).otherwise(prose(s, src, ti)).as("dtext"),
        pmod(xxhash64(s, src, ti, factSalt), lit(6000000L)).cast("string").as("okey"),
        (pmod(h(lit(-4)), lit(7L)) + 1).cast("string").as("lnum"),
        element_at(array(lit("A"), lit("N"), lit("R")), (pmod(h(lit(-5)), lit(3L)) + 1).cast("int")).as("rf"),
        element_at(array(lit("F"), lit("O")), (pmod(h(lit(-6)), lit(2L)) + 1).cast("int")).as("ls"),
        (lit(1700000000L) + col("conv_no") * 1000 + ti).cast("timestamp").as("ts"))
      .select(col("conv_id"), col("conv_no"), col("kind"), ti,
        expr("CASE turn_idx % 3 WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END").as("role"),
        expr(Transcripts.textSqlExpr).as("text"),
        expr("CASE WHEN turn_idx % 3 = 2 THEN 'browser' ELSE '' END").as("tool"),
        col("ts"), col("okey"), col("lnum"),
        concat(lit("Conversation record\n"), col("dtext"), lit("\norder "), col("okey"),
          lit(" line "), col("lnum"), lit(" flag "), col("rf"), lit(" status "), col("ls"))
          .as("expected_text"))
  }

  /** Write the Turn columns of `rows` to `dir` as `files` parquet files,
    * rows spread over the files and ordered within each by a seeded hash.
    */
  def writeTranscripts(rows: DataFrame, seed: Long, files: Int, dir: String): Unit =
    rows.select(col("conv_id"), col("turn_idx"), col("role"), col("text"), col("tool"), col("ts"))
      .withColumn("o", xxhash64(lit(seed + 1), col("conv_id"), col("turn_idx")))
      .repartition(files, col("o"))
      .sortWithinPartitions(col("o"))
      .drop("o")
      .write.mode("overwrite").parquet(dir)
}
