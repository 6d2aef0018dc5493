package graft.extract

import graft.parser.{Ascii, HtmlNode, HtmlParser}
import scala.collection.mutable.ArrayBuffer

/** A selected content span in the (BOM-stripped) source document:
  * [start, end) character offsets plus a kind tag.
  */
final case class Span(start: Int, end: Int, kind: String)

/** Per-turn extraction result (the `north_rule` output shape:
  * extracted text + spans + parse metrics).
  */
final case class ExtractResult(text: String, spans: Seq[Span],
                               nNodes: Int, nErrors: Int)

/** Deterministic main-content extraction over the DHTMLParser-semantics
  * DOM: boilerplate-subtree exclusion + block segmentation + text/link
  * density filtering (boilerpipe-style heuristic from the public
  * literature — Kohlschütter et al., WSDM 2010 — simplified to be exactly
  * reproducible across cluster sizes; no randomness, no floats beyond one
  * ratio compare).
  *
  * Policy (all constants fixed):
  *  - subtrees under EXCLUDED tags are dropped wholesale;
  *  - walking the remaining tree in document order, entering/leaving a
  *    BLOCK tag flushes the current text block;
  *  - a block is kept iff stripped length >= MinBlockChars and
  *    linkChars/totalChars <= MaxLinkDensity;
  *  - extracted text = kept blocks' stripped text joined with '\n';
  *    spans = the kept blocks' contributing text-node source ranges.
  */
object Extractor {

  val MinBlockChars = 10
  val MaxLinkDensity = 1.0 / 3.0

  /** Subtrees never contributing content. */
  val Excluded: Set[String] = Set(
    "script", "style", "noscript", "nav", "header", "footer", "aside",
    "form", "iframe", "head", "svg", "template", "button", "select",
    "option", "object", "applet")

  /** Block-boundary tags (entering/leaving flushes the current block). */
  val BlockTags: Set[String] = Set(
    "address", "article", "blockquote", "body", "br", "caption", "div",
    "dd", "dl", "dt", "fieldset", "figure", "h1", "h2", "h3", "h4", "h5",
    "h6", "hr", "html", "li", "main", "ol", "p", "pre", "section", "table",
    "tbody", "td", "tfoot", "th", "thead", "tr", "ul")

  private final class Block {
    val sb = new java.lang.StringBuilder(64)
    val spans = new ArrayBuffer[Span]()
    var linkChars = 0
    def totalChars: Int = sb.length
    def reset(): Unit = { sb.setLength(0); spans.clear(); linkChars = 0 }
  }

  private final case class KeptBlock(text: String, spans: Seq[Span])

  def extract(html: String): ExtractResult = {
    val (dom, stats) = HtmlParser.parseWithStats(html)

    val kept = new ArrayBuffer[KeptBlock]()
    val cur = new Block // reused across blocks (flush() is the hot call)

    def flush(): Unit = {
      if (cur.totalChars > 0) {
        val stripped = Ascii.strip(cur.sb.toString)
        val density = cur.linkChars.toDouble / cur.totalChars.toDouble
        if (stripped.length >= MinBlockChars && density <= MaxLinkDensity)
          kept += KeptBlock(stripped, cur.spans.toSeq)
        cur.reset()
      }
    }

    def walk(n: HtmlNode, inLink: Boolean): Unit = {
      n.foreachChild { c =>
        if (c.isComment) ()
        else if (!c.isTag) {
          val raw = c.rawElement
          if (Ascii.strip(raw).nonEmpty) {
            cur.sb.append(raw)
            if (c.srcOffset >= 0)
              cur.spans += Span(c.srcOffset, c.srcOffset + raw.length, "text")
            if (inLink) cur.linkChars += raw.length
          }
        } else if (c.isEndTag) ()
        else {
          val name = c.getTagName
          if (Excluded.contains(name)) () // drop subtree
          else {
            val isBlock = BlockTags.contains(name)
            if (isBlock) flush()
            walk(c, inLink || name == "a")
            if (isBlock) flush()
          }
        }
      }
    }

    walk(dom, inLink = false)
    flush()

    val text = kept.map(_.text).mkString("\n")
    val spans = kept.flatMap(_.spans).toSeq
    ExtractResult(text, spans, stats.nNodes, stats.forcedNonpair + stats.droppedEndtags)
  }
}
