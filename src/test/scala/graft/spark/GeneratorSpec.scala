package graft.spark

import graft.spark.catalyst.{GraftSparkExtensions, ParseHtmlNodes}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The native Catalyst Generator surface (ParseHtmlNodes): must emit the
  * EXACT row set of the UDF+explode path for any input, plan as a Generate
  * without a ScalaUDF in the hot path, and be reachable from SQL both via
  * SparkSessionExtensions injection and registry installation.
  */
class GeneratorSpec extends SparkTestBase {
  import spark.implicits._

  private val samples = Seq(
    "<div id='m'><a href='/x'>go</a> body text</div>",
    "<html><head><title>t</title><meta charset='utf-8'></head><body><p>x</p></body></html>",
    "<HT<!-- c -->ML>payload</HTML>", // Q16/Q18 shapes
    "<section><section>nested</section></section>", // Q17 outer-leaf
    "<br><hr><img src='/x.png'>", // void list (Q4)
    "plain text, no tags",
    "", // empty
    "<a href=\"q\\\"uo\\\"te\">esc</a>") // Q8/Q10 escapes

  test("generator row set == UDF parse_html row set (all fields, all samples)") {
    GraftSparkExtensions.register(spark)
    val df = samples.zipWithIndex.map { case (h, i) => (i, h) }.toDF("id", "text")
    val gen = df.select(col("id"), GraftSparkExtensions.parse_nodes(col("text")))
      .select(col("id"), col("node_id"), col("parent_id"), col("pos"), col("depth"),
        col("kind").cast("int").as("kind"), col("tagname"), col("raw"), col("params"),
        col("nonpair"), col("endtag_id"), col("opener_id"), col("src_offset"))
    val viaUdf = df.select(col("id"), explode(HtmlFunctions.parse_html(col("text"))).as("n"))
      .select(col("id"), col("n.node_id"), col("n.parent_id"), col("n.pos"), col("n.depth"),
        col("n.kind").cast("int").as("kind"), col("n.tagname"), col("n.raw"), col("n.params"),
        col("n.nonpair"), col("n.endtag_id"), col("n.opener_id"), col("n.src_offset"))
    val a = gen.collect().map(_.toString).sorted.toSeq
    val b = viaUdf.collect().map(_.toString).sorted.toSeq
    assert(a == b)
    // a parse always yields at least the container row — even "" and plain text
    assert(gen.groupBy("id").count().collect().forall(_.getLong(1) >= 1))
  }

  test("generator plans as Generate with no ScalaUDF and no extra exchange") {
    GraftSparkExtensions.register(spark)
    val df = samples.zipWithIndex.map { case (h, i) => (i, h) }.toDF("id", "text")
    val plan = df.select(col("id"), GraftSparkExtensions.parse_nodes(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate parse_nodes"), s"expected native Generate:\n$plan")
    assert(!plan.contains("ScalaUDF") && !plan.toLowerCase.contains("batchevalpython"))
    assert(!plan.contains("Exchange"))
  }

  test("SQL surface: LATERAL VIEW parse_nodes via extensions-built session") {
    // a genuinely separate session wired through SparkSessionExtensions
    // (the spark-submit path: spark.sql.extensions=graft.spark.catalyst.GraftSparkExtensions).
    // With an active or default session set, getOrCreate() returns that
    // session unchanged, so both are cleared first.
    val page = "<div><a href='/x'>go</a><a href='/y'>back</a></div>"
    val perFunction =
      """SELECT ws_token_count(text), bpeish_token_count(text), simhash64(text),
        |  (SELECT count(*) FROM turns_gen LATERAL VIEW winnow_fingerprints(text) f)
        |FROM turns_gen""".stripMargin
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("GeneratorSpecExt")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftSparkExtensions)
      .getOrCreate()
    try {
      assert(s2 ne spark, "the builder returned the suite's own session")
      import s2.implicits._
      Seq((1, page)).toDF("id", "text").createOrReplaceTempView("turns_gen")
      val hrefs = s2.sql(
        """SELECT n.node_id, n.params['href'] AS href
          |FROM turns_gen LATERAL VIEW parse_nodes(text) n
          |WHERE n.kind = 2 AND n.tagname = 'a'
          |ORDER BY n.node_id""".stripMargin)
        .collect().map(_.getString(1)).toSeq
      assert(hrefs == Seq("/x", "/y"))
      // the other four injected functions resolve there too, and agree
      // with the same table installed through register()
      val injected = s2.sql(perFunction).collect().toSeq
      GraftSparkExtensions.register(spark)
      spark.createDataFrame(Seq((1, page))).toDF("id", "text")
        .createOrReplaceTempView("turns_gen")
      assert(injected == spark.sql(perFunction).collect().toSeq)
    } finally {
      // do NOT close(): s2 shares the suite's SparkContext (local master,
      // getOrCreate) and stopping it would kill every later test's session.
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("null input and type errors") {
    GraftSparkExtensions.register(spark)
    val df = Seq((1, null: String)).toDF("id", "text")
    assert(df.select(GraftSparkExtensions.parse_nodes(col("text"))).count() == 0)
    val err = intercept[Exception] {
      Seq((1, 2)).toDF("id", "num")
        .select(GraftSparkExtensions.parse_nodes(col("num"))).collect()
    }
    assert(err.getMessage.toLowerCase.contains("string"))
  }

  test("extract_main == spans_view of the pipeline's packed spans (samples + soup)") {
    // the UDF and the pipeline read the same packed extractor output:
    // same text, same spans, on clean samples and on tag soup
    import org.scalacheck.{Gen => G}
    import org.scalacheck.rng.Seed
    val tags = Seq("div", "p", "a", "nav", "pre", "h1", "br", "script")
    val soup: G[String] = G.listOfN(30, G.frequency(
      (3, G.listOfN(12, G.frequency((8, G.alphaNumChar), (3, G.oneOf(' ', '<', '>', '/', '='))))
        .map(_.mkString)),
      (3, G.oneOf(tags).map(t => s"<$t>")),
      (3, G.oneOf(tags).map(t => s"</$t>")),
      (1, G.const("<!-- c -->")))).map(_.mkString)
    val texts = samples ++
      (0 until 60).flatMap(i => soup(G.Parameters.default.withSize(100), Seed(0xD0C + i)))
    val df = texts.zipWithIndex.map { case (t, i) => ("c", i, t) }.toDF("conv_id", "turn_idx", "text")
    val viaUdf = df.select(col("turn_idx"), HtmlFunctions.extract_main(col("text")).as("r"))
    assert(viaUdf.schema("r").dataType.catalogString ==
      "struct<_1:string,_2:array<struct<start:int,end:int,kind:string>>,_3:int,_4:int>")
    val a = viaUdf.select(col("turn_idx"), col("r._1"), col("r._2")).collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getSeq[org.apache.spark.sql.Row](2))).toMap
    val b = Pipeline.extractOnScanPartitions(df).toDF()
      .select(col("turn_idx"), col("extracted_text"),
        HtmlFunctions.spans_view(col("span_pos"), col("span_kind")))
      .collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getSeq[org.apache.spark.sql.Row](2))).toMap
    assert(a.size == texts.size && a == b)
    assert(a.values.count(_._2.nonEmpty) > texts.size / 4, "too few turns with spans to compare")
  }

  test("extract_main applies the pipeline's oversize guard in code points") {
    // one code point over the default bound: neither path parses the turn
    // (the tree builder is O(n^2) worst case); exactly at the bound, with
    // non-BMP symbols making the UTF-16 length larger, both parse it
    val n = Pipeline.DefaultMaxTextChars
    def turn(codePoints: Int) = "<p>" + "😀" * 8 + "x" * (codePoints - 11)
    val df = Seq(("c", 0, turn(n + 1)), ("c", 1, turn(n)))
      .toDF("conv_id", "turn_idx", "text")
    // texts compare by (length, hash): a failure message stays readable
    def row(r: org.apache.spark.sql.Row) = r.getInt(0) -> ((r.getString(1).length,
      r.getString(1).hashCode, r.getSeq[org.apache.spark.sql.Row](2), r.getInt(3), r.getInt(4)))
    val a = df.select(col("turn_idx"), HtmlFunctions.extract_main(col("text")).as("r"))
      .select(col("turn_idx"), col("r._1"), col("r._2"), col("r._3"), col("r._4"))
      .collect().map(row).toMap
    val b = Pipeline.extractOnScanPartitions(df).toDF()
      .select(col("turn_idx"), col("extracted_text"),
        HtmlFunctions.spans_view(col("span_pos"), col("span_kind")),
        col("n_nodes"), col("n_errors"))
      .collect().map(row).toMap
    assert(a(0) == ((0, "".hashCode, Seq.empty, 0, 1)), a(0))
    assert(a(1)._1 > 0 && a(1)._4 > 0, a(1))
    assert(a == b)
  }

  test("ws_token_count: equals the char-based counter on adversarial unicode (property)") {
    import org.scalacheck.{Gen => G}
    import org.scalacheck.rng.Seed
    // mix ASCII, exotic Unicode whitespace (U+2028, U+1680, U+3000 count;
    // U+00A0 and U+202F must NOT), astral plane, combining marks
    val ch: G[Char] = G.frequency(
      (8, G.alphaNumChar), (4, G.oneOf(' ', '\t', '\n', '\r', '\f')),
      (2, G.oneOf(' ', ' ', ' ', '　', ' ')),
      (2, G.oneOf('\u00A0', '\u202F', '\u2007')), // NON-whitespace lookalikes
      (1, G.oneOf('\uD83D', '\uDE00', '\u0301', '\u4E2D', '\u041F')))
    val gen = G.listOf(ch).map(_.mkString)
    val cases = (0 until 500).flatMap(i =>
      gen(G.Parameters.default.withSize(120), Seed(0xC0FFEE + i))) :+
      "a b   c" :+ "😀 two　three" :+ ""
    cases.foreach { s =>
      val viaUtf8 = graft.text.TextAnalysis.wsTokenCountUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val viaChars = graft.text.TextAnalysis.wsTokenCount(s)
      assert(viaUtf8 == viaChars, s"input: ${s.take(60).map(_.toInt)}")
    }
  }

  test("ws_token_count stays inside WholeStageCodegen (no UDF boundary)") {
    GraftSparkExtensions.register(spark)
    // parquet-backed: a LocalRelation would be folded at optimization
    // time and never reach codegen
    val dir = tmpDir("wstok")
    Seq((1, "one two three"), (2, "a  b")).toDF("id", "text")
      .write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    val q = df.select(GraftSparkExtensions.ws_token_count(col("text")).as("n"))
    // compiledOnly: a doGenCode that does not compile fails here instead
    // of falling back to interpreted evaluation with only a log line
    assert(compiledOnly(q.orderBy(col("n")).collect()).map(_.getInt(0)).toSeq == Seq(2, 3))
    val plan = q.queryExecution.executedPlan.toString
    // "*(n)" marks operators fused into WholeStageCodegen stage n
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("ws_token_count")), s"not codegen'd:\n$plan")
    assert(!plan.contains("ScalaUDF"))
    // the null path returns null, not 0
    val n = compiledOnly(Seq((1, null: String)).toDF("id", "text")
      .select(GraftSparkExtensions.ws_token_count(col("text"))).head)
    assert(n.isNullAt(0))
  }

  test("bpeish_token_count: equals the char-based counter on adversarial unicode (property)") {
    import org.scalacheck.{Gen => G}
    import org.scalacheck.rng.Seed
    // letters with case flips, long runs, digit runs, punctuation, CJK
    // (letters!), unicode whitespace, lone + paired surrogates (a lone
    // surrogate and its UTF-8 '?' replacement are both one symbol char)
    val ch: G[Char] = G.frequency(
      (8, G.alphaNumChar), (3, G.oneOf(' ', '\t', '\n')),
      (2, G.oneOf('.', ',', '!', '-', '@')),
      (2, G.oneOf('\u4E2D', '\u041F', '\u00E9', '\u00A0', ' ')),
      (1, G.oneOf('\uD83D', '\uDE00', '\u0301')))
    val gen = G.listOf(ch).map(_.mkString)
    val cases = (0 until 500).flatMap(i =>
      gen(G.Parameters.default.withSize(120), Seed(0xBEEF + i))) :+
      "CamelCaseWord internationalization 1234567 😀!" :+ ""
    cases.foreach { s =>
      val viaUtf8 = graft.text.TextAnalysis.bpeishTokenCountUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val viaChars = graft.text.TextAnalysis.bpeishTokenCount(s)
      assert(viaUtf8 == viaChars, s"input: ${s.take(60).map(_.toInt)}")
    }
  }

  test("simhash64: equals the String-based simHash on well-formed unicode (property)") {
    import org.scalacheck.{Gen => G}
    import org.scalacheck.rng.Seed
    // well-formed strings only: a lone surrogate round-trips through
    // UTF-8 as '?' so the two forms legitimately differ there — Spark
    // strings come from UTF-8 data, where lone surrogates cannot occur
    val piece: G[String] = G.frequency(
      (8, G.alphaNumStr.map(_.take(5))), (4, G.const(" ")),
      (2, G.oneOf("\t", "\n", "\r", "\u000B", "\f")),
      (2, G.oneOf("中", "Пр", "é", "\u00A0", "\u2028")), // NBSP/LS are WORD chars for regex \s
      (1, G.oneOf("😀", "𝕏")))                            // astral: folds as surrogate pair
    val gen = G.listOf(piece).map(_.mkString)
    val cases = (0 until 500).flatMap(i =>
      gen(G.Parameters.default.withSize(60), Seed(0xFACE + i))) :+
      "the quick brown fox" :+ "one\u00A0word" :+ "😀 emoji doc" :+ ""
    cases.foreach { s =>
      val viaUtf8 = graft.text.Fingerprints.simHashUtf8(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val viaChars = graft.text.Fingerprints.simHash(s)
      assert(viaUtf8 == viaChars, s"input: ${s.take(60).map(_.toInt)}")
    }
  }

  test("bpeish_token_count and simhash64 stay inside WholeStageCodegen") {
    GraftSparkExtensions.register(spark)
    val dir = tmpDir("textexpr")
    Seq((1, "CamelCase 123456"), (2, "plain words here"))
      .toDF("id", "text").write.parquet(s"$dir/t")
    val df = spark.read.parquet(s"$dir/t")
    val q = df.select(col("id"),
      GraftSparkExtensions.bpeish_token_count(col("text")).as("n"),
      GraftSparkExtensions.simhash64(col("text")).as("h"))
    val got = compiledOnly(q.orderBy(col("id")).collect())
    assert(got.map(_.getInt(1)).toSeq ==
      Seq(graft.text.TextAnalysis.bpeishTokenCount("CamelCase 123456"),
          graft.text.TextAnalysis.bpeishTokenCount("plain words here")))
    assert(got.map(_.getLong(2)).toSeq ==
      Seq(graft.text.Fingerprints.simHash("CamelCase 123456"),
          graft.text.Fingerprints.simHash("plain words here")))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("bpeish_token_count") && l.contains("simhash64")),
      s"not codegen'd:\n$plan")
    assert(!plan.contains("ScalaUDF"))
  }

  test("winnow_fingerprints generator == UDF+explode path; no ScalaUDF in the plan") {
    GraftSparkExtensions.register(spark)
    val texts = Seq(
      (1, "the quick brown fox jumps over the lazy dog and keeps running"),
      (2, "short"),                       // below k=8: single fnv64 hash
      (3, ""),                            // empty: single fnv64 hash
      (4, "aaaaaaaaaaaaaaaaaaaaaaaa"),    // degenerate equal k-grams
      (5, null: String))
    val df = spark.createDataFrame(texts).toDF("doc_id", "text")
    val viaGen = Dedup.fingerprintTable(df)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted
    val wUdf = udf((t: String) =>
      graft.text.Fingerprints.winnow(if (t == null) "" else t).toSeq)
    val viaUdf = df.select(col("doc_id"), explode(wUdf(col("text"))).as("fingerprint"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sorted
    assert(viaGen.toSeq == viaUdf.toSeq)
    val plan = Dedup.fingerprintTable(df).queryExecution.executedPlan.toString
    assert(plan.contains("winnow_fingerprints"), s"generator missing:\n$plan")
    assert(!plan.contains("ScalaUDF"), s"UDF leaked into plan:\n$plan")
  }

  test("expression is reusable directly (case class API)") {
    // library users embedding the expression in their own rules/plans
    val e = ParseHtmlNodes(org.apache.spark.sql.catalyst.expressions.Literal("<p>x</p>"))
    val rows = e.eval(null).iterator.toSeq
    assert(rows.size == 4) // container + <p> + text + </p>
  }
}
