package graft.parser

import org.scalatest.funsuite.AnyFunSuite

/** One test per quirk in SURVEY.md §2.5 / FIXTURES.md §3. Expected values
  * are hand-traced from the cited reference code paths (no D compiler in
  * this sandbox; see FIXTURES.md §5).
  */
class QuirkSpec extends AnyFunSuite {
  private def parse(s: String) = HtmlParser.parseString(s)

  test("Q1: unterminated tag at EOF is flushed as text (dhtmlparser.d:287-292,832-833)") {
    val dom = parse("text <div")
    assert(dom.childs.map(_.rawElement).toSeq == Seq("text ", "<div"))
    assert(dom.childs.forall(!_.isTag))
  }

  test("Q2: DOCTYPE is a tag named !doctype, becomes nonpair leaf (dhtmlparser.d:346-361)") {
    val dom = parse("""<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01//EN">x""")
    val dt = dom.childs.head
    assert(dt.isTag && !dt.isComment)
    assert(dt.getTagName == "!doctype")
    assert(dt.isNonPairTag)
    assert(dt.childs.isEmpty)
    assert(dom.childs(1).rawElement == "x")
  }

  test("Q3a: endtag detection is quote-blind (dhtmlparser.d:294-306)") {
    // '/' inside the quoted attr value follows '<' => whole tag is an endtag
    val dom = parse("""<a href="x</y">t</a>""")
    // stray endtags are dropped; only the text survives
    assert(dom.childs.map(_.rawElement).toSeq == Seq("t"))
  }

  test("Q3b: whitespace between < and / still endtag (dhtmlparser.d:298-304)") {
    val tok = HtmlNode.fromRaw("< /div>")
    assert(tok.isEndTag)
    assert(tok.getTagName == "div")
  }

  test("Q4: exact 9-name void list; area is NOT void (dhtmlparser.d:308-344)") {
    // void br: never takes children even when followed by </br>
    val d1 = parse("<br>x</br>")
    assert(d1.childs.head.getTagName == "br" && d1.childs.head.isNonPairTag)
    assert(d1.childs.head.childs.isEmpty)
    // area is not in the list: pairs normally
    val d2 = parse("<area>x</area>")
    assert(d2.childs.head.getTagName == "area")
    assert(d2.childs.head.childs.map(_.rawElement).toSeq == Seq("x"))
    // uppercase BR still void; spacer is void
    assert(HtmlNode.fromRaw("<BR>").isNonPairTag)
    assert(HtmlNode.fromRaw("<spacer>").isNonPairTag)
    // whitespace-blind '/>' scan
    assert(HtmlNode.fromRaw("<p / >").isNonPairTag)
  }

  test("Q5: tagname splits on single space only; newline corrupts it (dhtmlparser.d:353-361)") {
    val dom = parse("<div\nid=x>y</div>")
    val el = dom.childs.head
    assert(el.getTagName == "div\nid=x")
    assert(el.params.isEmpty) // no ' ' in element => parseParams bails
    assert(el.isNonPairTag)   // name mismatch => unmatched => forced nonpair
  }

  test("Q6: text tagname is the raw string, matchable, case kept (dhtmlparser.d:54-60,630)") {
    val dom = parse("<div>HeLLo</div>")
    assert(dom.findAll("HeLLo").size == 1)
    assert(dom.findAll("hello").isEmpty)
  }

  test("Q7: params gated on '='; trailing bare key -> empty value (dhtmlparser.d:65,364,423-428)") {
    assert(HtmlNode.fromRaw("<div id>").params.isEmpty)
    assert(HtmlNode.fromRaw("<input checked>").params.isEmpty)
    val n = HtmlNode.fromRaw("<input type=x checked>")
    assert(n.params.toMap == Map("type" -> "x", "checked" -> ""))
  }

  test("Q8: keys lowercased, quoted values unescaped, value case kept (dhtmlparser.d:399-408)") {
    val n = HtmlNode.fromRaw("""<a HREF='a\'b' X=Y>""")
    assert(n.params.toMap == Map("href" -> "a'b", "x" -> "Y"))
  }

  test("Q9: quotes protect '>' inside tags; '<' in content always opens a tag (dhtmlparser.d:769-787)") {
    val d1 = parse("""<a title="a>b">t</a>""")
    val a = d1.find("a").head
    assert(a.params("title") == "a>b")
    assert(a.getContent == "t")
    // script bodies are mangled exactly as the reference mangles them
    val d2 = parse("<script>if(a<b){}</script>")
    val script = d2.childs.head
    assert(script.getTagName == "script")
    assert(script.isNonPairTag) // its endtag got eaten by the '<b...' token
    assert(d2.childs(1).rawElement == "if(a")
    assert(d2.childs.length == 2) // '<b){}</script>' classified endtag, dropped
  }

  test("Q10: backslash/double-backslash quote closing (dhtmlparser.d:406,802)") {
    assert(HtmlNode.fromRaw("""<a t="x\"y">""").params("t") == """x"y""")
    assert(HtmlNode.fromRaw("""<a t="x\\">""").params("t") == """x\\""")
  }

  test("Q11: comment-split tag stays three siblings; repairTags is a no-op (dhtmlparser.d:842-862)") {
    val dom = parse("<HT<!-- c -->ML>")
    assert(dom.childs.map(_.rawElement).toSeq == Seq("<HT", "<!-- c -->", "ML>"))
    assert(dom.childs(1).isComment)
    assert(!dom.childs(0).isTag && !dom.childs(2).isTag)
  }

  test("Q12: tagToString normalizes: lowercase, sorted keys, double quotes (dhtmlparser.d:491-502)") {
    val dom = parse("""<DIV Id='1' B="2">x</DIV>""")
    assert(dom.find("div").head.tagToString == """<div b="2" id="1">""")
  }

  test("Q13: toHtml — raw for children-bearing, normalized for childless opening, '' for lone endtag (dhtmlparser.d:601-616)") {
    // childless forced-nonpair keeps raw element (not an opening tag)
    val d1 = parse("<A HREF=x>")
    assert(d1.toHtml == "<A HREF=x>")
    // matched pair with empty body: childs empty -> normalized tagToString, endtag lost
    val d2 = parse("<A HREF=x></A>")
    assert(d2.toHtml == """<a href="x">""")
    // with children: raw element + children + raw endtag
    val d3 = parse("<A HREF=x>y</A>")
    assert(d3.toHtml == "<A HREF=x>y</A>")
    // lone endtag prints nothing
    val end = HtmlNode.fromRaw("</a>")
    assert(end.toHtml == "")
  }

  test("Q14: getContent = prettify of children minus one trailing newline (dhtmlparser.d:514-526)") {
    val dom = parse("<div> <b>x</b> </div>")
    assert(dom.find("div").head.getContent == "<b>x</b>")
  }

  test("Q15: pre verbatim mode and inline detection (dhtmlparser.d:533-587)") {
    val dom = parse("<pre> a\n  b</pre>")
    assert(dom.find("pre").head.prettify() == "<pre> a\n  b</pre>\n")
    // mixed text+tag children render inline
    val d2 = parse("<div>x<b>y</b></div>")
    assert(d2.find("div").head.prettify() == "<div>x<b>y</b></div>\n")
  }

  test("Q17: <div><div></div> — OUTER div is the unmatched leaf (dhtmlparser.d:869-922)") {
    val dom = parse("<div><div></div>")
    assert(dom.childs.length == 3) // outer, inner, /inner as siblings
    val outer = dom.childs(0)
    val inner = dom.childs(1)
    assert(outer.isNonPairTag && outer.childs.isEmpty)
    assert(!inner.isNonPairTag && (inner.endtag eq dom.childs(2)))
    assert(dom.childs(2).openertag eq inner)
  }

  test("Q18: span-restricted matching; stray endtags dropped (dhtmlparser.d:903-916)") {
    val dom = parse("<p><b></p></b>")
    assert(dom.childs.length == 2) // p, /p
    val p = dom.childs.head
    assert(p.getTagName == "p" && (p.endtag eq dom.childs(1)))
    assert(p.childs.length == 1)
    assert(p.childs.head.getTagName == "b" && p.childs.head.isNonPairTag)
    // stray endtag at top level dropped
    val d2 = parse("</x>y")
    assert(d2.childs.map(_.rawElement).toSeq == Seq("y"))
  }

  test("Q19: UTF-8 BOM stripped (dhtmlparser.d:932-934)") {
    val dom = parse("\uFEFF<a>x</a>")
    assert(dom.find("a").head.getContent == "x")
    // lone BOM is NOT stripped (D guards on byte length > 3)
    assert(parse("\uFEFF").childs.map(_.rawElement).toSeq == Seq("\uFEFF"))
  }

  test("Q20: findAll includes endtags, find filters them (dhtmlparser.d:155-157,232-247)") {
    val dom = parse("<div>x</div>")
    assert(dom.findAll("div").length == 2)
    assert(dom.findAll("div")(1).isEndTag)
    assert(dom.find("div").length == 1)
  }

  test("Q21: find(null, params) with no fn matches nothing (dhtmlparser.d:623-647)") {
    val dom = parse("<div id='x'>y</div>")
    assert(dom.find(null, Map("id" -> "x")).isEmpty)
    assert(dom.find(null).isEmpty)
    // but a user fn alone works
    assert(dom.find(null, null, e => e.params.get("id").contains("x")).length == 1)
  }

  test("Q21b: params-subset match requires element params nonempty (dhtmlparser.d:634)") {
    val dom = parse("<div>y</div><div id='x'>z</div>")
    assert(dom.find("div", Map("id" -> "x")).length == 1)
    assert(dom.find("div", Map("id" -> "nope")).isEmpty)
    // empty search params match any div
    assert(dom.find("div", Map.empty[String, String]).length == 2)
  }

  test("Q22: removeChild by identity removes node and its endtag (dhtmlparser.d:698-714)") {
    val dom = parse("<root><object1>A</object1><object2>B</object2></root>")
    dom.find("object1").foreach(e => dom.removeChild(e))
    assert(dom.find("object1").isEmpty)
    assert(dom.find("object2").length == 1)
    // removal is by reference: a structurally equal foreign node does nothing
    val foreign = HtmlParser.parseString("<object2>B</object2>").find("object2").head
    dom.removeChild(foreign)
    assert(dom.find("object2").length == 1)
  }

  test("Q23: setNonPairTag(false) clears endtag and childs (dhtmlparser.d:655-661)") {
    val dom = parse("<div>x</div>")
    val div = dom.find("div").head
    div.setNonPairTag(false)
    assert(div.endtag == null && div.childs.isEmpty)
  }

  test("Q24: replaceWith normalizes element to tagToString (dhtmlparser.d:668-681)") {
    val dom = parse("<div>x</div>")
    val div = dom.find("div").head
    val repl = HtmlNode.fromRaw("<SPAN A='1'>")
    div.replaceWith(repl)
    assert(div.getTagName == "span")
    assert(div.rawElement == """<span a="1">""")
  }

  test("Q25: builder escape round-trip + auto-close (dhtmlparser.d:74-95,721-743)") {
    val n = HtmlNode.create("tag", Map("p" -> "a\"b"), Seq(HtmlNode.fromRaw("t")))
    assert(n.rawElement == """<tag p="a\"b">""")
    assert(n.params("p") == "a\"b") // re-parse round-trips through unescape
    assert(n.endtag == null)        // closeElements closes the *children*
    val container = HtmlNode.container(Seq(n))
    assert(container.childs.length == 2)
    assert(container.childs(1).isEndTag && (n.endtag eq container.childs(1)))
  }

  test("Q26: HTML entities pass through verbatim (reference TODO:10)") {
    val dom = parse("""<a t="&amp;">&amp; &lt;</a>""")
    assert(dom.find("a").head.getContent == "&amp; &lt;")
    assert(dom.find("a").head.params("t") == "&amp;")
  }

  test("repairTagsFixed (flag, default OFF) merges comment-split tags as the doc comment intended") {
    val (toks, _, n) = Lexer.rawSplitArrays("<HT<!-- c -->ML> x")
    val nodes = toks.take(n).map(HtmlNode.fromRaw)
    val fixed = HtmlParser.repairTagsFixed(nodes)
    assert(fixed.map(_.rawElement).toSeq == Seq("<HTML>", "<!-- c -->", " x"))
    assert(fixed(0).isTag && fixed(0).getTagName == "html")
    // and the default path stays the reference's no-op (Q16)
    assert(HtmlParser.repairTags(nodes).map(_.rawElement).toSeq ==
      Seq("<HT", "<!-- c -->", "ML>", " x"))
  }

  test("parseDOM marks text/comment nodes nonpair as a side effect (dhtmlparser.d:903-904)") {
    val dom = parse("x<!-- c -->")
    assert(dom.childs(0).isNonPairTag) // text
    assert(dom.childs(1).isNonPairTag) // comment
  }
}
