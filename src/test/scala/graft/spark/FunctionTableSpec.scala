package graft.spark

import graft.parser.HtmlParser
import graft.spark.catalyst.GraftSparkExtensions
import graft.text.{Fingerprints, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The one function table: Column functions need no install and bind no
  * SQL name, the extension and `register` install the same table, and the
  * table's builders check argument counts.
  */
class FunctionTableSpec extends SparkTestBase {

  private val natives = Seq("parse_nodes", "parse_html", "find_nodes",
    "ws_token_count", "bpeish_token_count", "simhash64", "winnow_fingerprints")
  private val html = "<div id='m'><a href='/x'>go</a> some main content, text</div>"

  /** A session with neither the extension nor `register`: a new session
    * starts from the built-in registry, without the suite's temp functions. */
  private def bareSession(): SparkSession = {
    val s = spark.newSession()
    natives.foreach(n => assert(!s.catalog.functionExists(n), s"$n bound before the test"))
    s
  }

  private def names(s: SparkSession): Set[String] =
    s.catalog.listFunctions().collect().map(_.name).toSet

  test("native Column functions evaluate in a bare session and bind no SQL name") {
    val s = bareSession()
    import s.implicits._
    val df = Seq(html).toDF("text")
    val row = df.select(
      GraftSparkExtensions.ws_token_count(col("text")),
      GraftSparkExtensions.bpeish_token_count(col("text")),
      GraftSparkExtensions.simhash64(col("text"))).head
    assert(row.getInt(0) == TextAnalysis.wsTokenCount(html))
    assert(row.getInt(1) == TextAnalysis.bpeishTokenCount(html))
    assert(row.getLong(2) == Fingerprints.simHash(html))
    val nodes = HtmlParser.parseWithStats(html)._2.nNodes + 1 // the tokens and the container
    assert(df.select(GraftSparkExtensions.parse_nodes(col("text"))).count() == nodes)
    assert(df.select(size(HtmlFunctions.parse_html(col("text")))).head.getInt(0) == nodes)
    assert(df.select(explode(HtmlFunctions.find_nodes(col("text"), lit("a"),
      typedLit(Map("href" -> "/x")))).as("n")).select("n.raw").as[String].collect().toSeq ==
      Seq("<a href='/x'>"))
    assert(df.select(GraftSparkExtensions.winnow_fingerprints(col("text")))
      .as[Long].collect().toSeq == Fingerprints.winnow(html).toSeq)
    natives.foreach(n => assert(!s.catalog.functionExists(n), s"$n was bound by a Column call"))
  }

  test("Dedup.simhashTable leaves the caller's own simhash64 in place") {
    val s = bareSession()
    import s.implicits._
    s.udf.register("simhash64", (t: String) => 7L)
    val got = Dedup.simhashTable(Seq((1, html)).toDF("doc_id", "text"))
      .select("simhash").as[Long].head
    assert(got == Fingerprints.simHash(html))
    assert(s.sql("SELECT simhash64('x')").head.getLong(0) == 7L)
  }

  test("extension and register install the same names: the whole table") {
    val table = GraftSparkExtensions.functions.map(_.name).toSet
    assert(table.size == GraftSparkExtensions.functions.size)
    assert(natives.toSet.subsetOf(table) && HtmlFunctions.udfs.map(_._1).toSet.subsetOf(table))
    val builtin = names(bareSession())
    val registered = spark.newSession()
    GraftSparkExtensions.register(registered)
    assert(names(registered) -- builtin == table)

    // With an active or default session set, getOrCreate() returns that
    // session unchanged, so both are cleared first.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder()
      .master("local[2]")
      .appName("FunctionTableSpecExt")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftSparkExtensions)
      .getOrCreate()
    try {
      assert(ext ne spark, "the builder returned the suite's own session")
      assert(names(ext) -- builtin == table)

      import ext.implicits._
      val page = "<div><p>one <b>two</b></p><a href='/x'>x</a><br></div>"
      val df = Seq(page).toDF("text")
      df.createOrReplaceTempView("pages")
      val viaSql = ext.sql(
        """SELECT dom_tag_nodes(text), bfs_tag_order(text), remove_tags(text, array('b', 'a'))
          |FROM pages""".stripMargin).head
      val viaColumn = df.select(
        HtmlFunctions.dom_tag_nodes(col("text")),
        HtmlFunctions.bfs_tag_order(col("text")),
        HtmlFunctions.remove_tags(col("text"), array(lit("b"), lit("a")))).head
      assert(viaSql == viaColumn)
      assert(viaColumn.getString(2) == "<div><p>one </p><br></div>")
    } finally {
      // do NOT close(): ext shares the suite's SparkContext
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("a call with the wrong number of arguments names the function") {
    val s = spark.newSession()
    GraftSparkExtensions.register(s)
    for (call <- Seq("find_links('a', 'b')", "remove_tags('a')", "simhash64()")) {
      val err = intercept[Exception](s.sql(s"SELECT $call").collect())
      val name = call.takeWhile(_ != '(')
      assert(err.getMessage.contains(name), s"$call: ${err.getMessage}")
    }
  }
}
