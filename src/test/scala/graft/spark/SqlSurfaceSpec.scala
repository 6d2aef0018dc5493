package graft.spark

import graft.extract.SpanCodec
import graft.spark.catalyst.GraftSparkExtensions
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.functions._

/** The registered SQL surface: every UDF must be callable from
  * spark.sql(...) so the library works for SQL-only users.
  */
class SqlSurfaceSpec extends SparkTestBase {
  import spark.implicits._

  test("all registered functions are usable from SQL") {
    GraftSparkExtensions.register(spark)
    Seq(("c1", 0, "<div id='m'><a href='/x'>go</a> some main content text</div>"))
      .toDF("conv_id", "turn_idx", "text").createOrReplaceTempView("turns")

    val row = spark.sql(
      """SELECT
        |  find_links(text) AS links,
        |  get_content(text, 'div') AS content,
        |  to_html(text) AS rt,
        |  node_count(text) AS n,
        |  prettify_html(text) AS pretty,
        |  first_tag_string(text, 'div', 'id', 'm') AS ts,
        |  extract_main(text)._1 AS extracted,
        |  size(parse_html(text)) AS n_nodes
        |FROM turns""".stripMargin).head

    assert(row.getSeq[String](row.fieldIndex("links")).toSeq == Seq("/x"))
    assert(row.getAs[String]("rt") == "<div id='m'><a href='/x'>go</a> some main content text</div>")
    assert(row.getAs[Int]("n") == 6)
    assert(row.getAs[String]("ts") == """<div id="m">""")
    assert(row.getAs[String]("extracted").contains("some main content text"))
    assert(row.getAs[Int]("n_nodes") == 7) // 6 tokens + container
  }

  test("spans_view: packed span columns unpack from SQL") {
    GraftSparkExtensions.register(spark)
    val packed = SpanCodec.packPos(3, 8)
    Seq((Array(packed), Array(SpanCodec.kindByte("text"))))
      .toDF("span_pos", "span_kind").createOrReplaceTempView("ex")
    val row = spark.sql(
      "SELECT inline(spans_view(span_pos, span_kind)) FROM ex").head
    assert(row.getAs[Int]("start") == 3 && row.getAs[Int]("end") == 8 &&
      row.getAs[String]("kind") == "text")
  }

  test("spans_view: NULL gives NULL; mismatched or unknown kinds name the function (parquet input)") {
    GraftSparkExtensions.register(spark)
    val dir = tmpDir("spansview")
    val p = SpanCodec.packPos(3, 8)
    Seq((1, Array(p), null: Array[Byte]), (2, null: Array[Long], Array[Byte](0)),
      (3, Array(p, p), Array[Byte](0)), (4, Array(p), Array[Byte](9)))
      .toDF("id", "span_pos", "span_kind").write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("spansview")
    val nulls = spark.sql("SELECT spans_view(span_pos, span_kind) AS v FROM spansview WHERE id <= 2")
      .collect()
    assert(nulls.length == 2 && nulls.forall(_.isNullAt(0)))
    for ((id, what) <- Seq(3 -> "1 span kinds", 4 -> "unknown span kind byte 9")) {
      val err = intercept[Exception](
        spark.sql(s"SELECT spans_view(span_pos, span_kind) FROM spansview WHERE id = $id").collect())
      val iae = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .collectFirst { case e: IllegalArgumentException => e }
      assert(iae.exists(e => e.getMessage.contains("spans_view") && e.getMessage.contains(what)), err)
    }
  }

  test("find_nodes: generic find(tag, params) from SQL, arena ids + DFS order") {
    GraftSparkExtensions.register(spark)
    Seq(("c1", 0,
      "<div><a href='/x' rel='me'>one</a><p><a href='/y'>two</a></p><a href='/x'>three</a></div>"))
      .toDF("conv_id", "turn_idx", "text").createOrReplaceTempView("turns2")

    // tag-only match: DFS pre-order, endtags excluded (reference find)
    val all = spark.sql(
      "SELECT find_nodes(text, 'a', map()) AS ns FROM turns2")
      .select(explode(col("ns")).as("n")).select("n.node_id", "n.tagname").as[(Int, String)]
      .collect().toSeq
    assert(all.map(_._2).forall(_ == "a") && all.size == 3)
    assert(all.map(_._1) == all.map(_._1).sorted) // pre-order ids ascend

    // params-subset match (Q21): only href=/x anchors
    val hx = spark.sql(
      "SELECT find_nodes(text, 'a', map('href', '/x')) AS ns FROM turns2")
      .select(explode(col("ns")).as("n"))
      .select(element_at(col("n.params"), "href")).as[String].collect().toSeq
    assert(hx == Seq("/x", "/x"))

    // ids are the parse arena's ids (match parse_html positions); each
    // function runs alone in its query
    val fids = spark.sql("SELECT find_nodes(text, 'p', NULL) AS ns FROM turns2")
      .select(explode(col("ns")).as("n")).select("n.node_id").as[Int].collect().toSeq
    val pids = spark.sql("SELECT parse_html(text) AS ns FROM turns2")
      .select(explode(col("ns")).as("n"))
      .filter(col("n.tagname") === "p" && col("n.kind") === 2)
      .select("n.node_id").as[Int].collect().toSeq
    assert(fids.nonEmpty && fids == pids)
  }

  test("parse_html and find_nodes: SQL route == Column route on NULL, cast and map arguments (parquet input)") {
    GraftSparkExtensions.register(spark)
    val dir = tmpDir("nodefns")
    Seq((1, "<a x=1>", "<a x=1>b</a>", null: String, 123, Seq("a")))
      .toDF("id", "a", "ab", "nul", "num", "arr").write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    df.createOrReplaceTempView("nodefns")
    val nul = lit(null)
    // (SQL call, Column call, rows) over the table's one row
    val calls = Seq(
      ("parse_html(nul)", HtmlFunctions.parse_html(col("nul")), 0),
      ("parse_html(num)", HtmlFunctions.parse_html(col("num")), 2),
      ("find_nodes(a, 'a', map('x', 1))",
        HtmlFunctions.find_nodes(col("a"), lit("a"), map(lit("x"), lit(1))), 1),
      ("find_nodes(a, 'a', map('x', NULL))",
        HtmlFunctions.find_nodes(col("a"), lit("a"), map(lit("x"), nul)), 0),
      ("find_nodes(a, 'a', NULL)", HtmlFunctions.find_nodes(col("a"), lit("a"), nul), 1),
      ("find_nodes(a, 'a', map())", HtmlFunctions.find_nodes(col("a"), lit("a"), map()), 1),
      ("find_nodes(ab, NULL, map())", HtmlFunctions.find_nodes(col("ab"), nul, map()), 0),
      ("find_nodes(nul, 'a', map())", HtmlFunctions.find_nodes(col("nul"), lit("a"), map()), 0))
    for ((sql, column, n) <- calls) {
      val viaSql = spark.sql(s"SELECT $sql FROM nodefns").head
      val viaColumn = df.select(column).head
      assert(!viaSql.isNullAt(0) && viaSql.getSeq[Row](0).length == n, s"$sql: $viaSql")
      assert(viaSql == viaColumn, sql)
    }
    intercept[AnalysisException](spark.sql("SELECT parse_html(arr) FROM nodefns").collect())
    intercept[AnalysisException](df.select(HtmlFunctions.parse_html(col("arr"))).collect())
  }

  test("to_html_fixed merges comment-split tags; default surface reproduces the no-op (Q16)") {
    GraftSparkExtensions.register(spark)
    Seq(("c1", 0, "<HT<!-- c -->ML>payload</HTML>"))
      .toDF("conv_id", "turn_idx", "text").createOrReplaceTempView("turns3")
    val row = spark.sql(
      "SELECT to_html(text) AS faithful, to_html_fixed(text) AS fixed FROM turns3").head
    // faithful (Q16 no-op): "<HT" and "ML>" stay TEXT siblings around the
    // comment, and the stray </HTML> is dropped by parseDOM (Q18)
    assert(row.getAs[String]("faithful") == "<HT<!-- c -->ML>payload")
    // fixed: the split tag is merged into <HTML>, which pairs with </HTML>
    assert(row.getAs[String]("fixed") == "<HTML><!-- c -->payload</HTML>")
  }

  test("a NULL argument gives NULL from the DOM builder and mutators (parquet input)") {
    GraftSparkExtensions.register(spark)
    val dir = tmpDir("nullargs")
    Seq((1, "<div><b>x</b></div>", null: String, Option.empty[Seq[String]]))
      .toDF("id", "text", "nul", "no_names").write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("nullargs")
    val row = spark.sql(
      """SELECT
        |  remove_tags(text, no_names) AS rm_names,
        |  build_tag('p', 'k', 'v', nul) AS bt_text,
        |  build_tag('p', 'k', nul, 'x') AS bt_value,
        |  build_tag('p', nul, 'v', 'x') AS bt_key,
        |  replace_tag(text, 'b', nul, 'k', 'v') AS rt_new_tag,
        |  replace_tag(text, 'b', 'i', 'k', nul) AS rt_value,
        |  replace_tag(text, 'b', 'i', nul, 'v') AS rt_key,
        |  remove_tags(text, array('b', nul)) AS rm_null_name,
        |  remove_tags(text, array('b')) AS rm_b,
        |  replace_tag(text, nul, 'i', 'k', 'v') AS rt_null_tag
        |FROM nullargs""".stripMargin).head
    Seq("rm_names", "bt_text", "bt_value", "bt_key", "rt_new_tag", "rt_value", "rt_key")
      .foreach(c => assert(row.isNullAt(row.fieldIndex(c)), c))
    // a NULL name, or a NULL tag to match, matches nothing
    assert(row.getAs[String]("rm_null_name") == row.getAs[String]("rm_b"))
    assert(row.getAs[String]("rt_null_tag") == "<div><b>x</b></div>")
  }
}
