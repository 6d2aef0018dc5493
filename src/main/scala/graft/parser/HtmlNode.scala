package graft.parser

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One DOM node, reproducing the observable semantics of the reference's
  * `HTMLElement` (/root/reference/dhtmlparser.d:29-745): classification
  * flags, tagname/param parsing, DFS/BFS finders, serializers
  * (tagToString / toHtml / prettify / getContent) and tree mutators
  * (removeChild / replaceWith / nonpair setter).
  *
  * The reference's API is mutable (childs array, endtag/openertag links);
  * we keep that shape for the in-JVM library surface. Nodes are created
  * per-parse and never shared across threads; the Spark layer converts
  * trees to flat node rows before anything crosses a task boundary.
  *
  * Perf notes (this runs per-token for 10^12-turn corpora): `childs` and
  * `params` are lazily allocated — text/leaf nodes (the majority) never
  * materialize either; serializers append into one shared StringBuilder
  * instead of building per-node strings.
  *
  * Quirk ledger references (Q1..Q27) are SURVEY.md §2.5.
  */
final class HtmlNode private[parser] () {
  private[parser] var element: String = ""
  private[parser] var tagname: String = ""
  private[parser] var istag: Boolean = false
  private[parser] var isendtag: Boolean = false
  private[parser] var iscomment: Boolean = false
  private[parser] var isnonpairtag: Boolean = false

  private[parser] var _childs: ArrayBuffer[HtmlNode] = null
  private[parser] var _params: mutable.HashMap[String, String] = null

  /** Nested nodes, in document order (dhtmlparser.d:34). Lazily allocated;
    * accessing this on a leaf materializes an empty buffer.
    */
  def childs: ArrayBuffer[HtmlNode] = {
    if (_childs == null) _childs = new ArrayBuffer[HtmlNode](4)
    _childs
  }
  def childs_=(v: ArrayBuffer[HtmlNode]): Unit = _childs = v

  /** Non-null iff classify gated params-parsing on this element but the
    * parse is DEFERRED until first access (most pipeline paths — notably
    * extraction and toHtml — never read params, so the attribute state
    * machine and the HashMap never run for them). Holds the tagname as
    * it was at the original call point (pre-lowercase: the D slicing at
    * dhtmlparser.d:368-370 locates the tagname inside the raw element,
    * so deferring must not observe the lowered form).
    */
  private[parser] var paramsPending: String = null
  @inline private def ensureParams(): Unit =
    if (paramsPending != null) {
      val tn = paramsPending
      paramsPending = null
      parseParams(tn)
    }

  /** Tag parameters; keys are stored lowercased (dhtmlparser.d:36,399). */
  def params: mutable.HashMap[String, String] = {
    ensureParams()
    if (_params == null) _params = new mutable.HashMap[String, String]()
    _params
  }
  def params_=(v: mutable.HashMap[String, String]): Unit = {
    paramsPending = null
    _params = v
  }

  @inline private[graft] def hasChilds: Boolean = _childs != null && _childs.nonEmpty
  @inline private[graft] def hasParams: Boolean = {
    ensureParams()
    _params != null && _params.nonEmpty
  }
  @inline private[graft] def foreachChild(f: HtmlNode => Unit): Unit =
    if (_childs != null) { var i = 0; while (i < _childs.length) { f(_childs(i)); i += 1 } }

  var endtag: HtmlNode = null
  var openertag: HtmlNode = null

  /** Start offset of this node's raw token in the original document
    * (-1 for synthetic/builder nodes). Lineage addition; not part of the
    * reference API.
    */
  var srcOffset: Int = -1

  /** Pre-order id set by HtmlParser's tree builder (-1 if none); valid on an unmodified parse. */
  private[graft] var arenaId: Int = -1

  // ===== classification (ctor logic, dhtmlparser.d:47-69) ==================

  private[parser] def classify(str: String): Unit = {
    element = str
    parseIsTag()
    parseIsComment()

    if (!istag || iscomment) tagname = element
    else parseTagName()

    if (iscomment || !istag) return

    parseEndAndNonPair()

    if (istag && !isendtag && element.indexOf('=') > 0) paramsPending = getTagName

    tagname = Ascii.lower(tagname)
  }

  /** Q1: tag iff starts with '<' and ends with '>' (dhtmlparser.d:287-292). */
  private def parseIsTag(): Unit =
    istag = element.length >= 2 && element.charAt(0) == '<' &&
      element.charAt(element.length - 1) == '>'

  /** Q3 + Q4 in ONE scan (the reference runs two identical-shape loops,
    * dhtmlparser.d:294-306 and 313-322; both track the same `last`
    * printable-char state, so a fused pass computes both flags with
    * identical results):
    *  - endtag: any '/' whose last preceding char >32 was '<';
    *  - nonpair: any '>' whose last preceding char >32 was '/',
    *    OR tagname in the 9-name void list (dhtmlparser.d:325-335).
    * Both scans are quote-blind and whitespace-blind by construction.
    */
  private def parseEndAndNonPair(): Unit = {
    var last: Char = 0xFF.toChar
    isendtag = false
    isnonpairtag = false
    if (istag) {
      var i = 0
      val n = element.length
      while (i < n) {
        val c = element.charAt(i)
        if (c == '/' && last == '<') isendtag = true
        else if (c == '>' && last == '/') isnonpairtag = true
        if (c > 32) last = c
        i += 1
      }
    }
    if (!isnonpairtag && HtmlNode.NonPairTags.contains(Ascii.lower(tagname)))
      isnonpairtag = true
  }

  /** Q2: comment iff starts "<!--" and ends "-->" (dhtmlparser.d:346-351). */
  private def parseIsComment(): Unit =
    iscomment = element.startsWith("<!--") && element.endsWith("-->")

  /** Q5: tagname = first space-split token with < > / deleted; splits on
    * the single char ' ' only (dhtmlparser.d:353-361).
    */
  private def parseTagName(): Unit = {
    var start = 0
    val n = element.length
    while (start <= n) {
      val sp = element.indexOf(' ', start)
      val end = if (sp < 0) n else sp
      if (end > start) {
        val tok = stripChars(element, start, end)
        if (tok.length > 0) { tagname = tok; return }
      }
      if (sp < 0) return
      start = sp + 1
    }
  }

  /** Delete all '/', '<', '>' chars from element[from, until) (dhtmlparser.d:355).
    * Fast path: real tokens are `<name`, `</name`, `<name>` — the deleted
    * chars form a prefix/suffix around a clean run, which is one substring.
    */
  private def stripChars(s: String, from: Int, until: Int): String = {
    @inline def deleted(c: Char) = c == '/' || c == '<' || c == '>'
    var lo = from
    while (lo < until && deleted(s.charAt(lo))) lo += 1
    var hi = until
    while (hi > lo && deleted(s.charAt(hi - 1))) hi -= 1
    var i = lo
    while (i < hi && !deleted(s.charAt(i))) i += 1
    if (i == hi) return s.substring(lo, hi) // clean middle: one copy
    val out = new java.lang.StringBuilder(hi - from)
    out.append(s, lo, i)
    while (i < hi) {
      val c = s.charAt(i)
      if (!deleted(c)) out.append(c)
      i += 1
    }
    out.toString
  }

  /** Q7/Q8/Q10: attribute state machine (dhtmlparser.d:363-429).
    * Gated by the caller on '=' at index>0; self-gated on ' ' at index>0.
    * Keys lowercased, quoted values unescaped, trailing bare key kept.
    */
  private def parseParams(tn: String): Unit = {
    if (element.indexOf(" ") <= 0 || element.indexOf("=") <= 0) return

    // remove '<' & '>' then drop the tagname prefix (dhtmlparser.d:368-370).
    var p = Ascii.strip(element.substring(1, element.length - 1))
    val idx = p.indexOf(tn)
    // D slices p[idx + tn.length .. $]; idx is -1 only when parseTagName
    // deleted </> chars out of the name. D would then slice from
    // (tn.length - 1); clamp into range instead of throwing.
    var from = idx + tn.length
    if (from < 0) from = 0
    if (from > p.length) from = p.length
    p = Ascii.strip(p.substring(from))

    var state = 0
    val key = new java.lang.StringBuilder(16)
    val value = new java.lang.StringBuilder(32)
    var endQuote: Char = 0
    // D `char buff[2] = [' ', ' ']` (dhtmlparser.d:376)
    var b0 = ' '; var b1 = ' '
    var i = 0
    while (i < p.length) {
      val c = p.charAt(i)
      (state: @annotation.switch) match {
        case 0 => // key
          if (!Ascii.isWhite(c)) {
            if (c == '=') state = 1
            else key.append(c)
          }
        case 1 => // value decisioner
          if (!Ascii.isWhite(c)) {
            if (c == '\'' || c == '"') { state = 3; endQuote = c }
            else { state = 2; value.append(c) }
          }
        case 2 => // bare value
          if (Ascii.isWhite(c)) {
            state = 0
            params(Ascii.lower(key.toString)) = value.toString
            key.setLength(0); value.setLength(0)
          } else value.append(c)
        case 3 => // quoted value
          if (c == endQuote && (b0 != '\\' || (b0 == '\\' && b1 == '\\'))) {
            state = 0
            params(Ascii.lower(key.toString)) = QuoteEscaper.unescape(value.toString, endQuote)
            key.setLength(0); value.setLength(0)
            endQuote = 0
          } else value.append(c)
      }
      b1 = b0; b0 = c
      i += 1
    }

    if (key.length > 0) { // tail handler (dhtmlparser.d:423-428)
      val v = value.toString
      if (endQuote != 0 && Ascii.strip(v) != "")
        params(Ascii.lower(key.toString)) = QuoteEscaper.unescape(v, endQuote)
      else
        params(Ascii.lower(key.toString)) = v
    }
  }

  // ===== getters (dhtmlparser.d:439-509) ===================================

  def isTag: Boolean = istag
  def isEndTag: Boolean = isendtag
  def isNonPairTag: Boolean = isnonpairtag
  def isComment: Boolean = iscomment

  /** tag AND not comment AND not endtag AND not nonpair (dhtmlparser.d:468-473). */
  def isOpeningTag: Boolean = istag && !iscomment && !isendtag && !isnonpairtag

  /** endtag AND opener is opening AND case-insensitive name equality
    * (dhtmlparser.d:478-486).
    */
  def isEndTagTo(opener: HtmlNode): Boolean =
    isendtag && opener.isOpeningTag && Ascii.equalsLower(tagname, opener.getTagName)

  def getTagName: String = tagname

  def rawElement: String = element

  /** Q12/Q27: normalized single-tag render for opening tags — lowercase
    * name, sorted lowercase keys, values backslash-escaped in double
    * quotes; all other node kinds return the raw element verbatim
    * (dhtmlparser.d:491-502; sorted-attr decision SURVEY.md §7.3).
    */
  def tagToString: String = {
    if (!isOpeningTag) element
    else {
      val out = new java.lang.StringBuilder(element.length + 8)
      tagToStringInto(out)
      out.toString
    }
  }

  private def tagToStringInto(out: java.lang.StringBuilder): Unit = {
    if (!isOpeningTag) { out.append(element); return }
    ensureParams()
    out.append('<').append(tagname)
    if (_params != null && _params.nonEmpty) {
      val keys = _params.keysIterator.toArray
      java.util.Arrays.sort(keys.asInstanceOf[Array[AnyRef]])
      var i = 0
      while (i < keys.length) {
        val k = keys(i)
        out.append(' ').append(k).append("=\"")
        QuoteEscaper.escapeInto(_params(k), '"', out)
        out.append('"')
        i += 1
      }
    }
    out.append('>')
  }

  /** Q14: concat of prettify() of non-endtag children, minus exactly one
    * trailing newline (dhtmlparser.d:514-526).
    */
  def getContent: String = {
    val out = new java.lang.StringBuilder(64)
    foreachChild { c => if (!c.isEndTag) c.prettifyInto(out, 0, "  ", false, false) }
    if (out.length > 0 && out.charAt(out.length - 1) == '\n')
      out.setLength(out.length - 1)
    out.toString
  }

  /** Q15: pretty printer (dhtmlparser.d:533-587): whitespace-only-element
    * elision, <pre> verbatim mode, inline detection, container-no-depth,
    * endtag at the parent's depth.
    */
  def prettify(depth: Int = 0, separator: String = "  ", last: Boolean = true,
               pre0: Boolean = false, inline0: Boolean = false): String = {
    val out = new java.lang.StringBuilder(128)
    prettifyInto(out, depth, separator, pre0, inline0)
    out.toString
  }

  private def prettifyInto(out: java.lang.StringBuilder, depth: Int,
                           separator: String, pre0: Boolean, inline0: Boolean): Unit = {
    var pre = pre0
    var inline = inline0
    var sep = separator
    val tts = tagToString // computed once; the node can't mutate mid-render

    // whitespace-only element elision (dhtmlparser.d:536-537)
    if (tagname != "" && Ascii.strip(tts) == "") return

    if (!pre && !inline) {
      var i = 0
      while (i < depth) { out.append(sep); i += 1 }
    }

    if (Ascii.equalsLower(tagname, "pre") && isOpeningTag) {
      pre = true
      sep = ""
    }

    out.append(tts)

    // detect inline: any non-tag non-comment child with nonblank text
    // (dhtmlparser.d:553-557). is_inline remembers the *parameter* value.
    val isInline = inline
    foreachChild { c =>
      if (!(c.isTag || c.isComment) && Ascii.strip(c.tagToString).nonEmpty)
        inline = true
    }

    var d = depth
    val originalDepth = depth
    if (tagname != "" && !pre && !inline) {
      d += 1
      if (Ascii.strip(tts) != "") out.append('\n')
    }

    val dd = d; val ss = sep; val pp = pre; val ii = inline
    foreachChild { e =>
      if (!e.isEndTag) e.prettifyInto(out, dd, ss, pp, ii)
    }

    if (endtag != null) {
      if (!pre && !inline) {
        var i = 0
        while (i < originalDepth) { out.append(sep); i += 1 }
      }
      out.append(Ascii.strip(endtag.tagToString))
      if (!isInline) out.append('\n')
    }
  }

  /** Q13: original-string reconstruction (dhtmlparser.d:601-616). */
  def toHtml: String = {
    val out = new java.lang.StringBuilder(64)
    toHtmlInto(out)
    out.toString
  }

  private def toHtmlInto(out: java.lang.StringBuilder): Unit = {
    if (hasChilds) {
      out.append(element)
      foreachChild(_.toHtmlInto(out))
      if (endtag != null) endtag.tagToStringInto(out)
    } else if (!isEndTag) {
      tagToStringInto(out)
    }
  }

  override def toString: String = toHtml

  // ===== finders (dhtmlparser.d:150-282, 623-647) ==========================

  /** Q21: user fn short-circuits; tagname compared case-sensitively against
    * the stored (lowercased-for-tags) name; "" / null never matches;
    * params-subset requires the node to have >=1 param (dhtmlparser.d:623-647).
    */
  def isAlmostEqual(tagName: String, sparams: Map[String, String] = null,
                    fn: HtmlNode => Boolean = null): Boolean = {
    if (fn != null && fn(this)) return true
    // D string equality treats null and "" as equal
    val mine = if (tagname == null) "" else tagname
    val want = if (tagName == null) "" else tagName
    if (mine == want && mine != "") {
      if (sparams == null || sparams.isEmpty) return true
      else if (hasParams) {
        val it = sparams.iterator
        while (it.hasNext) {
          val (k, v) = it.next()
          _params.get(k) match {
            case Some(pv) => if (pv != v) return false
            case None => return false
          }
        }
        return true
      }
    }
    false
  }

  /** Q20: DFS pre-order, includes self and endtags (dhtmlparser.d:232-247). */
  def findAll(tagName: String, sparams: Map[String, String] = null,
              fn: HtmlNode => Boolean = null): ArrayBuffer[HtmlNode] = {
    val out = new ArrayBuffer[HtmlNode]()
    def walk(n: HtmlNode): Unit = {
      if (n.isAlmostEqual(tagName, sparams, fn)) out += n
      n.foreachChild(walk)
    }
    walk(this)
    out
  }

  /** BFS level order via appending queue, includes self and endtags
    * (dhtmlparser.d:265-282).
    */
  def findAllB(tagName: String, sparams: Map[String, String] = null,
               fn: HtmlNode => Boolean = null): ArrayBuffer[HtmlNode] = {
    val out = new ArrayBuffer[HtmlNode]()
    if (isAlmostEqual(tagName, sparams, fn)) out += this
    val queue = new ArrayBuffer[HtmlNode]()
    foreachChild(queue += _)
    var i = 0
    while (i < queue.length) {
      val el = queue(i)
      if (el.isAlmostEqual(tagName, sparams, fn)) out += el
      el.foreachChild(queue += _)
      i += 1
    }
    out
  }

  /** findAll minus endtags (dhtmlparser.d:150-160). */
  def find(tagName: String, sparams: Map[String, String] = null,
           fn: HtmlNode => Boolean = null): ArrayBuffer[HtmlNode] =
    findAll(tagName, sparams, fn).filterNot(_.isEndTag)

  /** findAllB minus endtags (dhtmlparser.d:169-179). */
  def findB(tagName: String, sparams: Map[String, String] = null,
            fn: HtmlNode => Boolean = null): ArrayBuffer[HtmlNode] =
    findAllB(tagName, sparams, fn).filterNot(_.isEndTag)

  // ===== setters / mutators (dhtmlparser.d:655-714) ========================

  /** Q23: setting false also clears endtag and childs (dhtmlparser.d:655-661). */
  def setNonPairTag(v: Boolean): Unit = {
    isnonpairtag = v
    if (!v) {
      endtag = null
      _childs = null
    }
  }

  /** Q24: copy all fields; element becomes el.tagToString (normalized)
    * (dhtmlparser.d:668-681).
    */
  def replaceWith(el: HtmlNode): Unit = {
    el.ensureParams()
    paramsPending = null
    _childs = el._childs
    _params = el._params
    endtag = el.endtag
    openertag = el.openertag
    tagname = el.getTagName
    element = el.tagToString
    istag = el.isTag
    isendtag = el.isEndTag
    iscomment = el.isComment
    isnonpairtag = el.isNonPairTag
  }

  /** Q22: recursive removal by reference identity, linked endtag too by
    * default. Reproduces D's remove-while-foreach semantics
    * (dhtmlparser.d:698-714): the foreach walks the original slice length
    * with live reads while std.algorithm.remove shifts elements left, so
    * the element right after a removed index is skipped in that pass and
    * the stale last slot (duplicate of the old last element) is visited.
    */
  def removeChild(child: HtmlNode, endTagToo: Boolean = true): Unit = {
    if (!hasChilds) return
    var endTag: HtmlNode = null
    if (endTagToo) endTag = child.endtag

    val origLen = _childs.length
    val mem = new Array[HtmlNode](origLen)
    _childs.copyToArray(mem)
    var len = origLen
    var i = 0
    while (i < origLen) {
      val e = mem(i)
      if (e eq child) {
        var j = i
        while (j < len - 1) { mem(j) = mem(j + 1); j += 1 }
        len -= 1
      } else if (endTagToo && (endTag != null) && (e eq endTag)) {
        var j = i
        while (j < len - 1) { mem(j) = mem(j + 1); j += 1 }
        len -= 1
      } else {
        e.removeChild(child, endTagToo)
      }
      i += 1
    }
    val nb = new ArrayBuffer[HtmlNode](len)
    var k = 0
    while (k < len) { nb += mem(k); k += 1 }
    _childs = nb
  }
}

object HtmlNode {
  /** The exact 9-name void list (dhtmlparser.d:325-335): includes the
    * nonstandard `spacer`; excludes area/col/embed/param/source/track/wbr.
    */
  val NonPairTags: Set[String] =
    Set("br", "hr", "img", "input", "link", "meta", "spacer", "frame", "base")

  /** Blank container node (root of the DOM; dhtmlparser.d:40-42). */
  def container(): HtmlNode = fromRaw("")

  /** Classify one raw token (ctor at dhtmlparser.d:47-69). */
  def fromRaw(str: String): HtmlNode = {
    val n = new HtmlNode()
    n.classify(str)
    n
  }

  /** Builder ctor (tagname, params) (dhtmlparser.d:74-95): normalizes the
    * name, renders sorted-key double-quoted escaped params, re-parses.
    */
  def create(tagName: String, params: Map[String, String]): HtmlNode = {
    var tn = Ascii.strip(tagName).replace(" ", "")
    var nonpair = ""
    if (tn.startsWith("<")) tn = tn.substring(1)
    if (tn.endsWith("/>")) { tn = tn.substring(0, tn.length - 2); nonpair = " /" }
    else if (tn.endsWith(">")) tn = tn.substring(0, tn.length - 1)

    val out = new java.lang.StringBuilder(32)
    out.append('<').append(tn)
    params.toSeq.sortBy(_._1).foreach { case (k, v) =>
      out.append(' ').append(k).append("=\"").append(QuoteEscaper.escape(v, '"')).append('"')
    }
    out.append(nonpair).append('>')
    val n = fromRaw(out.toString)
    n.tagname = Ascii.lower(n.tagname)
    n
  }

  /** Builder ctor (tagname, params, childs) (dhtmlparser.d:117-120). */
  def create(tagName: String, params: Map[String, String],
             children: Seq[HtmlNode]): HtmlNode = {
    val n = create(tagName, params)
    n.childs ++= closeElements(children)
    n
  }

  /** Builder ctor (tagname, childs) (dhtmlparser.d:122-133). */
  def create(tagName: String, children: Seq[HtmlNode]): HtmlNode = {
    var tn = tagName
    if (Ascii.strip(tn).nonEmpty) {
      if (!tn.startsWith("<")) tn = "<" + tn
      if (!tn.endsWith(">")) tn = tn + ">"
    }
    val n = fromRaw(tn)
    n.childs ++= closeElements(children)
    n
  }

  /** Builder ctor (childs) (dhtmlparser.d:135-138). */
  def container(children: Seq[HtmlNode]): HtmlNode = {
    val n = container()
    n.childs ++= closeElements(children)
    n
  }

  /** Q25: recursively append synthetic endtags to unclosed pair tags and
    * double-link opener/endtag (dhtmlparser.d:721-743).
    */
  def closeElements(children: Seq[HtmlNode]): ArrayBuffer[HtmlNode] = {
    val o = new ArrayBuffer[HtmlNode]()
    children.foreach { e =>
      if (e.isTag) {
        if (!e.isNonPairTag && !e.isEndTag && !e.isComment && e.endtag == null) {
          e.childs = closeElements(e.childs.toSeq)
          o += e
          val end = fromRaw("</" + e.getTagName + ">")
          o += end
          e.endtag = end
          end.openertag = e
        } else o += e
      } else o += e
    }
    o
  }
}
