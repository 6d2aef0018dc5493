package graft.parser

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator-driven invariants over random tag soup
  * (FIXTURES.md §4): no throw, determinism, link integrity, idempotent
  * re-parse of toHtml output. Generators are sampled with deterministic
  * seeds (no scalatestplus bridge in the offline cache).
  */
class ParserPropertySpec extends AnyFunSuite {

  private val soupChar: Gen[Char] = Gen.frequency(
    (8, Gen.alphaNumChar),
    (3, Gen.oneOf('<', '>', '/', '=', ' ')),
    (2, Gen.oneOf('\'', '"', '\\', '-', '!')),
    (1, Gen.oneOf('\n', '\t', '&', ';', '.'))
  )
  private val soup: Gen[String] = Gen.listOf(soupChar).map(_.mkString)

  private def cases(n: Int = 300, size: Int = 400): Seq[String] =
    (0 until n).flatMap { i =>
      soup(Gen.Parameters.default.withSize(size), Seed(0xDEADBEEFL + i))
    }

  private def allNodes(root: HtmlNode): Vector[HtmlNode] = {
    val b = Vector.newBuilder[HtmlNode]
    def walk(n: HtmlNode): Unit = { b += n; n.childs.foreach(walk) }
    walk(root)
    b.result()
  }

  test("parser never throws and is deterministic on random soup") {
    cases().foreach { s =>
      val d1 = HtmlParser.parseString(s)
      val d2 = HtmlParser.parseString(s)
      assert(structure(d1) == structure(d2), s"input: ${s.take(120)}")
    }
  }

  test("lexer loses no characters: token concat == input; offsets consistent") {
    cases().foreach { s =>
      val (toks, offs) = Lexer.rawSplitWithOffsets(s)
      assert(toks.mkString == s, s"input: ${s.take(120)}")
      toks.indices.foreach { i =>
        assert(s.regionMatches(offs(i), toks(i), 0, toks(i).length),
          s"offset mismatch at token $i for input: ${s.take(120)}")
      }
    }
  }

  test("endtag/openertag links mutually consistent; endtag is next sibling of opener") {
    cases().foreach { s =>
      val dom = HtmlParser.parseString(s)
      def check(n: HtmlNode): Unit = {
        if (n.endtag != null) assert(n.endtag.openertag eq n)
        val cs = n.childs
        cs.indices.foreach { i =>
          val c = cs(i)
          if (c.endtag != null)
            assert(i + 1 < cs.length && (cs(i + 1) eq c.endtag),
              s"endtag not adjacent for input: ${s.take(120)}")
          check(c)
        }
      }
      check(dom)
    }
  }

  test("unmatched opening pair tags become childless nonpair leaves") {
    cases().foreach { s =>
      val dom = HtmlParser.parseString(s)
      allNodes(dom).drop(1).foreach { n =>
        if (n.isTag && !n.isEndTag && !n.isComment && n.endtag == null)
          assert(n.isNonPairTag || n.childs.isEmpty)
        if (n.isNonPairTag && !n.isTag) assert(n.childs.isEmpty)
      }
    }
  }

  test("toHtml is idempotent after one round: parse(toHtml(parse(x))) fixpoint") {
    cases(200).foreach { s =>
      val once = HtmlParser.parseString(s).toHtml
      val twice = HtmlParser.parseString(once).toHtml
      assert(HtmlParser.parseString(twice).toHtml == twice, s"input: ${s.take(120)}")
    }
  }

  test("tree builder numbers every node with its pre-order position (arenaId)") {
    // the FIXTURES.md §3 quirk templates
    val templates = Seq(
      "text <div", "<!DOCTYPE HTML PUBLIC \"-//W3C//DTD HTML 4.01//EN\">x",
      "<a href=\"x</y\">t</a>", "< /div>", "<br>", "<BR>", "<spacer>", "<area>",
      "<img src=x>", "<p / >", "<div\nid=x>y</div>", "hello", "<div id>",
      "<input checked>", "<input type=x checked>", "<a HREF='a\\'b' X=Y>",
      "<a title=\"a>b\">t</a>", "<script>if(a<b){}</script>", "<a t=\"x\\\"y\">",
      "<a t=\"x\\\\\">", "<HT<!-- c -->ML>", "<DIV Id='1' B=\"2\">x</DIV>", "<A HREF=x>",
      "<div> <b>x</b> </div>", "<pre> a\n  b</pre>", "<div><div></div>",
      "<p><b></p></b>", "</x>y", "\uFEFF<a>x</a>", "<div>x</div>",
      "&amp; &lt;<a t='&amp;'>x</a>")
    for (s <- cases() ++ templates; repairFixed <- Seq(false, true)) {
      val (dom, stats) = HtmlParser.parseWithStats(s, repairFixed)
      val nodes = allNodes(dom)
      val where = s"repairFixed=$repairFixed input: ${s.take(120)}"
      assert(nodes.length == stats.nNodes + 1, where)
      nodes.indices.foreach { i =>
        val n = nodes(i)
        assert(n.arenaId == i, where)
        if (n.endtag != null) assert(nodes(n.endtag.arenaId) eq n.endtag, where)
        if (n.openertag != null) assert(nodes(n.openertag.arenaId) eq n.openertag, where)
      }
    }
  }

  test("escape/unescape round-trip on backslash-free strings") {
    // The reference's escape doesn't escape backslashes (quote_escaper.d:29-40),
    // so the round-trip only holds when the input has none: escape("\\\"")
    // = "\\\\\"" which unescape keeps verbatim (the \\ toggle, Q10).
    cases(300, 200).map(_.replace("\\", "")).foreach { s =>
      assert(QuoteEscaper.unescape(QuoteEscaper.escape(s, '"'), '"') == s)
      assert(QuoteEscaper.unescape(QuoteEscaper.escape(s, '\''), '\'') == s)
    }
    // the documented lossy case:
    assert(QuoteEscaper.escape("""\"""", '"') == """\\"""")
    assert(QuoteEscaper.unescape("""\\"""", '"') == """\\"""")
  }

  private def structure(n: HtmlNode): String = {
    val sb = new StringBuilder
    def walk(x: HtmlNode): Unit = {
      sb.append(x.rawElement).append('|').append(x.getTagName).append('|')
        .append(x.isTag).append(x.isEndTag).append(x.isComment).append(x.isNonPairTag)
        .append('|').append(x.params.toSeq.sorted.mkString(","))
        .append('{')
      x.childs.foreach(walk)
      sb.append('}')
    }
    walk(n)
    sb.toString
  }
}
