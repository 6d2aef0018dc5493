package graft.spark

import graft.parser.HtmlParser
import graft.spark.catalyst.GraftSparkExtensions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The shared parse (HtmlFunctions.parsed): the read-only DOM functions
  * and the parse_nodes generator over one input read one parse of it per
  * row, and the mutators never receive that tree. Inputs are parquet, so
  * the functions run in tasks and not in constant folding while planning;
  * the expected values are each function called alone outside any task,
  * where every call parses privately.
  */
class SharedParseSpec extends SparkTestBase {
  import spark.implicits._

  private def page(i: Int): String =
    s"<div id='d$i'><a href='/p/$i'>go $i</a><p>body <b>$i</b></p><br>" +
      s"<a href='/q/$i' class='x'>back</a><!-- c$i --></div>"

  /** `rows` as a parquet table in one file, so adjacent rows stay adjacent
    * in one task. */
  private def parquet(rows: DataFrame, name: String): DataFrame = {
    val dir = tmpDir(name)
    rows.coalesce(1).write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t")
  }

  private def misses[T](body: => T): (T, Long) = {
    val before = HtmlFunctions.memoMisses.sum()
    val out = body
    (out, HtmlFunctions.memoMisses.sum() - before)
  }

  /** parse_nodes' and parse_html's row count: the tokens and the container. */
  private def nodeCount(t: String): Int = HtmlParser.parseWithStats(t)._2.nNodes + 1

  private def links(c: String) = HtmlFunctions.find_links(col(c))
  private def html(c: String) = HtmlFunctions.to_html(col(c))

  test("find_links + to_html + parse_nodes over N distinct rows parse N times") {
    val n = 40
    val df = { // three files: several tasks, each with its own memo
      val dir = tmpDir("oneparse")
      (0 until n).map(i => (i, page(i))).toDF("id", "text")
        .repartition(3).write.parquet(s"$dir/t")
      spark.read.parquet(s"$dir/t")
    }
    // the perfbench dom_sql shape: the UDFs below the generator
    val q = df.select(col("id"), col("text"), links("text").as("links"), html("text").as("html"))
      .select(col("id"), col("links"), col("html"), GraftSparkExtensions.parse_nodes(col("text")))
    val (got, parses) = misses(q.collect())
    assert(parses == n, s"expected one parse per row, got $parses for $n rows")
    val texts = (0 until n).map(i => i -> page(i)).toMap
    got.groupBy(_.getInt(0)).foreach { case (id, rows) =>
      val t = texts(id)
      assert(rows.length == nodeCount(t))
      assert(rows.forall(r => r.getSeq[String](1) == HtmlFunctions.findLinks(t)))
      assert(rows.forall(r => r.getString(2) == HtmlFunctions.roundtrip(t)))
    }
    assert(got.map(_.getInt(0)).distinct.length == n)
  }

  test("mutators never receive the shared tree: each column order equals each function alone") {
    val texts = (0 until 12).map(page)
    val df = parquet(texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text"), "mut")
    val remove = HtmlFunctions.remove_tags(col("text"), array(lit("a"))).as("removed")
    val expected = texts.map(t =>
      (HtmlFunctions.removeTags(t, Seq("a")), HtmlFunctions.findLinks(t), HtmlFunctions.roundtrip(t)))
    def collected(cols: Column*): Seq[(String, Seq[String], String)] =
      df.orderBy(col("id")).select(cols: _*).collect().toSeq
        .map(r => (r.getAs[String]("removed"), r.getAs[Seq[String]]("links"), r.getAs[String]("html")))
    assert(collected(remove, links("text").as("links"), html("text").as("html")) == expected)
    assert(collected(links("text").as("links"), html("text").as("html"), remove) == expected)
    // every mutator between readers of the same row
    val got = df.orderBy(col("id")).select(
      links("text"),
      HtmlFunctions.reset_nonpair(col("text"), lit("p")),
      html("text"),
      HtmlFunctions.replace_tag(col("text"), lit("b"), lit("i"), lit("k"), lit("v")),
      HtmlFunctions.get_content(col("text"), lit("p")),
      remove,
      HtmlFunctions.prettify_html(col("text"))).collect().toSeq
    assert(got == texts.map(t => Row(HtmlFunctions.findLinks(t),
      HtmlFunctions.resetNonPair(t, "p"), HtmlFunctions.roundtrip(t),
      HtmlFunctions.replaceTag(t, "b", "i", "k", "v"), HtmlFunctions.getContentOf(t, "p"),
      HtmlFunctions.removeTags(t, Seq("a")), HtmlFunctions.prettifyHtml(t))))
  }

  test("two text columns interleaved, a null row and adjacent equal rows give the per-function results") {
    val rows = Seq(
      (0, page(0), page(1)),
      (1, null: String, page(2)),
      (2, page(3), page(3)),          // both columns equal
      (3, page(4), "<p>other</p>"),
      (4, page(4), "<p>other</p>"),   // adjacent rows with equal text
      (5, "plain text", null: String),
      (6, "", "<a href=x>"))
    val df = parquet(rows.toDF("id", "a", "b"), "interleave")
    val got = df.orderBy(col("id")).select(
      links("a"), links("b"), html("b"), html("a"),
      HtmlFunctions.node_count(col("a")), HtmlFunctions.node_count(col("b")),
      HtmlFunctions.parse_html(col("b")), HtmlFunctions.parse_html(col("a")),
      HtmlFunctions.find_nodes(col("a"), lit("a"), typedLit(Map("class" -> "x"))),
      HtmlFunctions.first_tag_string(col("b"), lit("a"), lit("class"), lit("x")),
      HtmlFunctions.dom_tag_nodes(col("a")), HtmlFunctions.bfs_tag_order(col("b")),
      HtmlFunctions.get_content(col("a"), lit("div")), HtmlFunctions.prettify_html(col("b")))
      .collect().toSeq
    // the node-row functions have no Scala form: each runs alone in a query
    def alone(c: Column): Seq[Seq[Row]] =
      df.orderBy(col("id")).select(c).collect().toSeq.map(_.getSeq[Row](0))
    val nodesB = alone(HtmlFunctions.parse_html(col("b")))
    val nodesA = alone(HtmlFunctions.parse_html(col("a")))
    val found = alone(HtmlFunctions.find_nodes(col("a"), lit("a"), typedLit(Map("class" -> "x"))))
    assert(found.count(_.nonEmpty) == 4, found)
    val expected = rows.zipWithIndex.map { case ((_, a, b), i) => Row(
      HtmlFunctions.findLinks(a), HtmlFunctions.findLinks(b),
      HtmlFunctions.roundtrip(b), HtmlFunctions.roundtrip(a),
      HtmlFunctions.nodeCount(a), HtmlFunctions.nodeCount(b),
      nodesB(i), nodesA(i), found(i),
      HtmlFunctions.firstTagString(b, "a", "class", "x"),
      HtmlFunctions.domTagNodes(a).map(Row.fromTuple), HtmlFunctions.bfsTagOrder(b).map(Row.fromTuple),
      HtmlFunctions.getContentOf(a, "div"), HtmlFunctions.prettifyHtml(b))
    }
    assert(got == expected)
  }

  test("dom_tag_nodes == the non-text rows of parse_html, ids unchanged") {
    val texts = (0 until 5).map(page) ++ Seq("<HT<!-- c -->ML>x</HTML>", "<br><hr>t", "", "text")
    val df = parquet(texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text"), "tagnodes")
    val got = df.orderBy(col("id")).select(HtmlFunctions.parse_html(col("text"))).collect().toSeq
    assert(got.length == texts.length)
    texts.zip(got).foreach { case (t, r) =>
      assert(HtmlFunctions.domTagNodes(t) == r.getSeq[Row](0).filter(_.getAs[Byte]("kind") != 0)
        .map(n => (n.getAs[Int]("node_id"), n.getAs[Int]("parent_id"), n.getAs[Int]("pos"),
          n.getAs[Int]("depth"), n.getAs[Byte]("kind").toInt, n.getAs[String]("tagname"),
          n.getAs[Boolean]("nonpair"))), t)
    }
  }

  test("SQL route (LATERAL VIEW parse_nodes with find_links) == Column route, one parse per row") {
    GraftSparkExtensions.register(spark)
    val n = 16
    val df = parquet((0 until n).map(i => (i, page(i))).toDF("id", "text"), "sqlroute")
    df.createOrReplaceTempView("shared_parse_t")
    val (viaSql, sqlParses) = misses(spark.sql(
      """SELECT id, find_links(text) AS links, n.node_id, n.tagname, n.params
        |FROM shared_parse_t LATERAL VIEW parse_nodes(text) n""".stripMargin).collect())
    val (viaColumns, colParses) = misses(
      df.select(col("id"), col("text"), links("text").as("links"))
        .select(col("id"), col("links"), GraftSparkExtensions.parse_nodes(col("text")))
        .select(col("id"), col("links"), col("node_id"), col("tagname"), col("params")).collect())
    assert(viaSql.map(_.toString).sorted.toSeq == viaColumns.map(_.toString).sorted.toSeq)
    assert(viaSql.length == (0 until n).map(i => nodeCount(page(i))).sum)
    assert(sqlParses == n && colParses == n, s"parses: sql $sqlParses, columns $colParses, rows $n")
  }

  test("outside a task every call parses privately") {
    val t = page(7)
    val (pair, parses) = misses((HtmlFunctions.parsed(t), HtmlFunctions.parsed(t)))
    assert(parses == 2 && (pair._1 ne pair._2))
  }
}
