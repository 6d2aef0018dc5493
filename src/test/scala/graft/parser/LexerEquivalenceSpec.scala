package graft.parser

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The index-based lexer must emit byte-identical tokens AND offsets to
  * the faithful per-char transcription of dhtmlparser.d:758-836, on
  * random tag soup biased toward the state machine's trigger characters
  * (quotes, backslashes, comment dashes, nested '<').
  */
class LexerEquivalenceSpec extends AnyFunSuite {

  private val soupChar: Gen[Char] = Gen.frequency(
    (8, Gen.alphaNumChar),
    (4, Gen.oneOf('<', '>', '/', '=', ' ')),
    (3, Gen.oneOf('\'', '"', '\\', '-', '!')),
    (1, Gen.oneOf('\n', '\t', '&', ';', '.'))
  )
  private val soup: Gen[String] = Gen.listOf(soupChar).map(_.mkString)

  private def cases(n: Int, size: Int, seed: Long): Seq[String] =
    (0 until n).flatMap { i =>
      soup(Gen.Parameters.default.withSize(size), Seed(seed + i))
    }

  private def assertSame(s: String): Unit = {
    val (t1, o1, n) = Lexer.rawSplitArrays(s)
    val (t2, o2) = Lexer.rawSplitFaithful(s)
    assert(t1.take(n).toSeq == t2, s"tokens differ for input: ${s.take(160)}")
    assert(o1.take(n).toSeq == o2, s"offsets differ for input: ${s.take(160)}")
  }

  test("index-based == faithful on 400 random soup cases") {
    cases(400, 300, 0xC0FFEE42L).foreach(assertSame)
  }

  test("index-based == faithful on comment/quote-dense soup") {
    val dense: Gen[String] = Gen.listOf(Gen.frequency(
      (5, Gen.oneOf('<', '>', '-', '!')),
      (3, Gen.oneOf('\'', '"', '\\')),
      (2, Gen.alphaChar))).map(_.mkString)
    (0 until 300).flatMap { i =>
      dense(Gen.Parameters.default.withSize(200), Seed(0xBADCAB1EL + i))
    }.foreach(assertSame)
  }

  test("index-based == faithful on handpicked quirk inputs") {
    Seq(
      "", "<", ">", "<div", "plain text", "<div>x</div>",
      "<HT<!-- c -->ML>",                       // comment-split tag (Q11/Q16)
      "a<!--->b", "a<!---->b", "<!-- -- >-->",  // comment edge shapes
      "<a href='x>y'>z</a>",                    // quoted '>' inside tag (Q9)
      "<a b=\"c\\\">d\">e",                     // escaped quote (Q10)
      "<a b=\"c\\\\\">d",                       // double backslash toggle
      "< /div>", "<di<v>",                      // nested '<' inside tag
      "﻿bom<x>", "text<",                  // trailing unterminated
      "<!--x--><p>y</p>", "<pre><</pre>"
    ).foreach(assertSame)
  }
}
