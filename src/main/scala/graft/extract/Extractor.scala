package graft.extract

import graft.parser.{Ascii, HtmlNode, HtmlParser}
import scala.collection.immutable.ArraySeq

/** Per-turn extraction result (the `north_rule` output shape: extracted
  * text + spans + parse metrics). Spans are held packed, as the extractor
  * produced them (SpanCodec); `spans` is the struct view. The arrays are
  * wrapped so results compare by value.
  */
final case class ExtractResult(text: String, spanPos: ArraySeq.ofLong,
                               spanKind: ArraySeq.ofByte,
                               nNodes: Int, nErrors: Int) {
  def spans: Seq[SpanRec] = SpanCodec.unpack(spanPos.unsafeArray, spanKind.unsafeArray)
}

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
  *
  * Spans are packed where they are produced: each text node's span goes
  * straight into one SpanCodec.Builder, and a rejected block's spans are
  * dropped by truncating the builder back to the block's first span, so
  * no per-span or per-block object is built.
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

  private val TextKind = SpanCodec.kindByte("text")

  def extract(html: String): ExtractResult = {
    val (dom, stats) = HtmlParser.parseWithStats(html)

    val text = new java.lang.StringBuilder()
    val spans = new SpanCodec.Builder
    // the current block, reused across blocks (flush() is the hot call)
    val block = new java.lang.StringBuilder(64)
    var linkChars = 0
    var firstSpan = 0 // spans.length when the block began

    def flush(): Unit = {
      if (block.length > 0) {
        // the block's Ascii.strip bounds, found in place (no copy)
        var s = 0
        var e = block.length
        while (s < e && Ascii.isUniWhite(block.charAt(s))) s += 1
        while (e > s && Ascii.isUniWhite(block.charAt(e - 1))) e -= 1
        val density = linkChars.toDouble / block.length.toDouble
        if (e - s >= MinBlockChars && density <= MaxLinkDensity) {
          if (text.length > 0) text.append('\n') // kept blocks are never empty
          text.append(block, s, e)
        } else spans.truncate(firstSpan)
        block.setLength(0); linkChars = 0; firstSpan = spans.length
      }
    }

    def walk(n: HtmlNode, inLink: Boolean): Unit = {
      n.foreachChild { c =>
        if (c.isComment) ()
        else if (!c.isTag) {
          val raw = c.rawElement
          if (!Ascii.isBlank(raw)) {
            block.append(raw)
            if (c.srcOffset >= 0)
              spans.add(c.srcOffset, c.srcOffset + raw.length, TextKind)
            if (inLink) linkChars += raw.length
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

    ExtractResult(text.toString, new ArraySeq.ofLong(spans.positions),
      new ArraySeq.ofByte(spans.kindBytes),
      stats.nNodes, stats.forcedNonpair + stats.droppedEndtags)
  }
}
