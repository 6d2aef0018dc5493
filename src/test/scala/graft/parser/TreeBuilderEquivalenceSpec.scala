package graft.parser

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** SURVEY.md §7.5.1 gate: the O(n) global-bracket-pairing tree builder
  * must produce byte-identical trees (structure, flags, links, stats) to
  * the reference's literal O(n^2) construction, on random soup and on
  * structured tag-heavy documents.
  */
class TreeBuilderEquivalenceSpec extends AnyFunSuite {

  private val soupChar: Gen[Char] = Gen.frequency(
    (8, Gen.alphaNumChar),
    (4, Gen.oneOf('<', '>', '/', '=', ' ')),
    (2, Gen.oneOf('\'', '"', '\\', '-', '!')),
    (1, Gen.oneOf('\n', '\t', '&', ';'))
  )
  private val soup: Gen[String] = Gen.listOf(soupChar).map(_.mkString)

  // tag-heavy generator: nested/unbalanced same-name structures that
  // exercise the span-restriction corner (Q17/Q18)
  private val tagNames = Seq("div", "p", "b", "DIV", "a", "br", "x")
  private val tagSoup: Gen[String] = Gen.listOfN(60, Gen.frequency(
    (4, Gen.oneOf(tagNames).map(t => s"<$t>")),
    (4, Gen.oneOf(tagNames).map(t => s"</$t>")),
    (1, Gen.oneOf(tagNames).map(t => s"<$t/>")),
    (2, Gen.alphaStr.map(_.take(5))),
    (1, Gen.const("<!-- c -->"))
  )).map(_.mkString)

  private def cases(g: Gen[String], n: Int): Seq[String] =
    (0 until n).flatMap(i => g(Gen.Parameters.default.withSize(300), Seed(0xBEEF + i)))

  private def buildBoth(s: String): (String, String, Seq[Int], Seq[Int]) = {
    def tokens(): Array[HtmlNode] = {
      val (toks, _, n) = Lexer.rawSplitArrays(s)
      toks.take(n).map(HtmlNode.fromRaw)
    }
    val c1 = new Array[Int](2)
    val t1 = tokens()
    val root1 = HtmlNode.container()
    root1.childs ++= HtmlParser.parseDOMFaithful(t1, 0, t1.length, c1)

    val c2 = new Array[Int](2)
    val t2 = tokens()
    val root2 = HtmlNode.container()
    root2.childs ++= HtmlParser.parseDOM(t2, 0, t2.length, c2)

    (fingerprint(root1), fingerprint(root2), c1.toSeq, c2.toSeq)
  }

  private def fingerprint(n: HtmlNode): String = {
    val sb = new StringBuilder
    val ids = new java.util.IdentityHashMap[HtmlNode, Integer]()
    var next = 0
    def number(x: HtmlNode): Unit = {
      ids.put(x, next); next += 1; x.foreachChild(number)
    }
    number(n)
    def walk(x: HtmlNode): Unit = {
      sb.append(x.rawElement).append('|')
        .append(x.isTag).append(x.isEndTag).append(x.isComment).append(x.isNonPairTag)
        .append('|').append(if (x.endtag == null) -1 else ids.get(x.endtag).intValue)
        .append('|').append(if (x.openertag == null) -1 else ids.get(x.openertag).intValue)
        .append('{')
      x.foreachChild(walk)
      sb.append('}')
    }
    walk(n)
    sb.toString
  }

  test("optimized builder == faithful builder on random soup (300 cases)") {
    cases(soup, 300).foreach { s =>
      val (f, o, cf, co) = buildBoth(s)
      assert(f == o, s"structure diverged on: ${s.take(150)}")
      assert(cf == co, s"stats diverged on: ${s.take(150)}")
    }
  }

  test("optimized builder == faithful builder on tag-heavy soup (300 cases)") {
    cases(tagSoup, 300).foreach { s =>
      val (f, o, cf, co) = buildBoth(s)
      assert(f == o, s"structure diverged on: ${s.take(200)}")
      assert(cf == co, s"stats diverged on: ${s.take(200)}")
    }
  }

  test("quirk corpus: identical trees on every FIXTURES.md template") {
    val fixtures = Seq(
      "text <div", "<!DOCTYPE HTML>x", "<a href=\"x</y\">t</a>", "< /div>z",
      "<br>x</br>", "<area>x</area>", "<div\nid=x>y</div>", "<div id>x</div>",
      "<a title=\"a>b\">t</a>", "<script>if(a<b){}</script>",
      "<HT<!-- c -->ML>", "<div><div></div>", "<p><b></p></b>", "</x>y",
      "<div><div></div></div>", "<p><p><p></p></p>", "<a><b><a></a></b></a>"
    )
    fixtures.foreach { s =>
      val (f, o, cf, co) = buildBoth(s)
      assert(f == o, s"structure diverged on: $s")
      assert(cf == co, s"stats diverged on: $s")
    }
  }

  test("optimized builder is O(n)-ish: 100k same-name siblings parse fast") {
    val big = "<div>" + ("<span>x</span>" * 100000) + "</div>"
    val t0 = System.nanoTime()
    val dom = HtmlParser.parseString(big)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(dom.find("span").length == 100000)
    assert(ms < 5000, s"took $ms ms")
  }
}
