package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.spark.{HtmlFunctions, Pipeline}

/** Each output check passes the program's real output and catches one
  * corrupted row. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private lazy val convs = Inputs.conversations(5L, 2000, plants = true)
  private lazy val rows = Inputs.turnRows(spark, 5L, convs).cache()
  private lazy val extracted = Pipeline.extractOnScanPartitions(rows).toDF().cache()

  /** `df` with `column` replaced by `value` on its first row by (conv_id, turn_idx). */
  private def corrupt(df: DataFrame, column: String, value: org.apache.spark.sql.Column): DataFrame = {
    val first = df.orderBy(col("conv_id"), col("turn_idx")).limit(1)
      .select(col("conv_id").as("c"), col("turn_idx").as("t"))
    df.join(first, col("conv_id") === col("c") && col("turn_idx") === col("t"), "left")
      .withColumn(column, when(col("c").isNotNull, value).otherwise(col(column)))
      .drop("c", "t")
  }

  test("extracted turns: real output passes; a changed, lost or doubled turn is caught") {
    assert(Checks.extractedTurns(extracted, rows) == 0)
    assert(Checks.extractedTurns(corrupt(extracted, "extracted_text", lit("x")), rows) == 1)
    assert(Checks.extractedTurns(extracted.limit(rows.count().toInt - 1), rows) == 1)
    assert(Checks.extractedTurns(extracted.unionByName(extracted.limit(1)), rows) == 1)
  }

  test("ledgers: counts equal to the input pass, a short count fails every turn") {
    val lineage = spark.range(1).select(lit(100L).as("row_count"))
    val metrics = spark.range(1).select(lit(100L).as("n_turns"))
    assert(Checks.ledgers(lineage, metrics, 100) == 0)
    assert(Checks.ledgers(lineage.select(lit(99L).as("row_count")), metrics, 100) == 100)
    assert(Checks.ledgers(lineage, metrics.select(lit(101L).as("n_turns")), 100) == 100)
  }

  test("dom outputs: real output passes; a wrong serialization or link list is caught") {
    val dom = rows.select(col("conv_id"), col("turn_idx"), col("text"), col("okey"), col("lnum"),
      HtmlFunctions.find_links(col("text")).as("links"), HtmlFunctions.to_html(col("text")).as("html"))
    assert(dom.filter(col("turn_idx") % 11 === 6).count() > 0, "input lacks the stray-endtag variant")
    assert(Checks.domOutputs(dom) == 0)
    assert(Checks.domOutputs(corrupt(dom, "html", concat(col("html"), lit(" ")))) == 1)
    assert(Checks.domOutputs(corrupt(dom, "links", array(lit("/home"), lit("/about")))) == 1)
  }

  test("curated: clean packing passes; a leaked plant, a lost source or an overfull sequence is caught") {
    import spark.implicits._
    val table = convs.toDF().select(col("conv_no").as("doc_id"), col("n_turns"), col("kind"), col("src"))
    val keep = convs.filter(c => c.kind == Inputs.Normal)
    def packed(docs: Seq[(Long, Int)]): DataFrame =
      docs.zipWithIndex.map { case ((d, tok), i) => (d, 0L, i.toLong, tok) }
        .toDF("doc_id", "shard", "seq_idx", "n_tokens")
    val none = Seq.empty[Long].toDF("doc_id")
    val clean = packed(keep.map(c => c.conv_no -> 10))
    assert(Checks.curated(clean, table, none, 100) == 0)
    val spam = convs.find(_.kind == Inputs.Spam).get
    assert(Checks.curated(clean.unionByName(packed(Seq(spam.conv_no -> 10))), table, none, 100) == spam.n_turns)
    val source = convs.find(_.kind == Inputs.ExactDup).get.src
    val lost = convs.find(_.conv_no == source).get
    assert(Checks.curated(clean.filter(col("doc_id") =!= source), table, none, 100) == lost.n_turns)
    // a source the repetition filter drops is not lost to dedup
    assert(Checks.curated(clean.filter(col("doc_id") =!= source), table, Seq(source).toDF("doc_id"), 100) == 0)
    val big = keep.head
    assert(Checks.curated(clean.withColumn("n_tokens",
      when(col("doc_id") === big.conv_no, lit(101)).otherwise(col("n_tokens"))), table, none, 100) == big.n_turns)
  }
}
