package graft.parser

import scala.collection.mutable.ArrayBuffer

/** Entry point and tree construction, reproducing the reference's
  * `parseString` / `parseDOM` / `indexOfEndTag` / `repairTags`
  * (/root/reference/dhtmlparser.d:842-944).
  */
object HtmlParser {

  /** Parse text into a DOM under a blank container node
    * (dhtmlparser.d:929-944). Strips a single leading UTF-8 BOM first
    * (Q19; D checks byte length > 3, i.e. at least one byte after the BOM).
    */
  def parseString(txt: String): HtmlNode = parseWithStats(txt)._1

  /** Parse metrics for the pipeline's per-partition metrics table:
    * `nNodes = nTokens - droppedEndtags` (every token either lands in the
    * tree or is a dropped stray endtag); `forcedNonpair` counts *tags*
    * forced into nonpair leaves by parseDOM (text/comment nodes also get
    * the flag, per the reference, but are not parse errors).
    */
  final case class ParseStats(nTokens: Int, nNodes: Int,
                              forcedNonpair: Int, droppedEndtags: Int)

  def parseWithStats(txt: String, repairFixed: Boolean = false): (HtmlNode, ParseStats) = {
    var t = txt
    if (t.length > 1 && t.charAt(0) == '\uFEFF') t = t.substring(1)

    val (tokens, offsets, nTok) = Lexer.rawSplitArrays(t)
    var istack = new Array[HtmlNode](nTok)
    var i = 0
    while (i < nTok) {
      val n = HtmlNode.fromRaw(tokens(i))
      n.srcOffset = offsets(i)
      istack(i) = n
      i += 1
    }
    istack = if (repairFixed) repairTagsFixed(istack) else repairTags(istack)

    val container = HtmlNode.container()
    container.arenaId = 0
    val counters = new Array[Int](2) // 0: forced nonpair tags, 1: dropped endtags
    container.childs ++= parseDOM(istack, 0, istack.length, counters)
    (container,
      ParseStats(istack.length, istack.length - counters(1), counters(0), counters(1)))
  }

  /** Q16: the reference's repairTags is effectively a NO-OP — its `index`
    * counter is only incremented inside a branch gated on `index > 0`,
    * which never fires (dhtmlparser.d:842-862). We reproduce the no-op;
    * the intended behavior lives in [[repairTagsFixed]] behind a flag.
    */
  def repairTags(rawInput: Array[HtmlNode]): Array[HtmlNode] = rawInput

  /** The behavior repairTags' doc comment *describes* (merge comment-split
    * tags like `<HT<!-- x -->ML>`; dhtmlparser.d:838-841): provided for
    * completeness, OFF by default — enabling it diverges from the oracle.
    */
  def repairTagsFixed(rawInput: Array[HtmlNode]): Array[HtmlNode] = {
    val o = new ArrayBuffer[HtmlNode](rawInput.length)
    var i = 0
    while (i < rawInput.length) {
      val el = rawInput(i)
      if (el.isComment && i > 0 && i + 1 < rawInput.length &&
          rawInput(i - 1).tagToString.startsWith("<") &&
          rawInput(i + 1).tagToString.endsWith(">") && o.nonEmpty) {
        val merged = HtmlNode.fromRaw(o.last.tagToString + rawInput(i + 1).tagToString)
        o(o.length - 1) = merged
        o += el
        i += 2
      } else {
        o += el
        i += 1
      }
    }
    o.toArray
  }

  /** Q17: forward scan for the balancing endtag of istack(from), counting
    * same-name openers case-insensitively; returns the offset from `from`,
    * or 0 if none (dhtmlparser.d:869-890).
    */
  private[parser] def indexOfEndTag(istack: Array[HtmlNode], from: Int, until: Int): Int = {
    if (until - from <= 0) return 0
    val opener = istack(from)
    if (!opener.isOpeningTag) return 0
    var cnt = 0
    var i = from + 1
    while (i < until) {
      val el = istack(i)
      if (el.isOpeningTag && Ascii.equalsLower(el.getTagName, opener.getTagName)) cnt += 1
      else if (el.isEndTagTo(opener)) {
        if (cnt == 0) return i - from
        else cnt -= 1
      }
      i += 1
    }
    0
  }

  /** Optimized same-semantics tree builder: O(n) instead of the
    * reference's O(n^2) rescan.
    *
    * Correctness argument (gated by the ScalaCheck equivalence property in
    * TreeBuilderEquivalenceSpec): the reference's indexOfEndTag scans only
    * FORWARD of the current index, while parseDOM's flag mutations only
    * touch positions <= the current index (the element itself, or inner
    * slices the loop then jumps past), so every scan observes pristine
    * classifier flags. A scan from i bounded by `until` returns the first
    * same-name ender j with flat opener/ender balance 0 between — which is
    * exactly global per-tagname bracket pairing, restricted to j < until.
    * So we pair once globally (one pass, a stack per tagname) and validate
    * each pair against the current slice limit during construction.
    */
  private[parser] def computeMatches(istack: Array[HtmlNode]): Array[Int] = {
    val n = istack.length
    val matches = Array.fill(n)(-1)
    // per-tagname stacks as an int-chained linked list: below(i) = index
    // of the previous open same-name tag (no per-tagname Deque allocs)
    val below = new Array[Int](n)
    val top = new java.util.HashMap[String, Integer](16)
    var i = 0
    while (i < n) {
      val el = istack(i)
      if (el.isOpeningTag) {
        val prev = top.put(el.getTagName, Integer.valueOf(i))
        below(i) = if (prev == null) -1 else prev.intValue
      } else if (el.isEndTag) {
        val t = top.get(el.getTagName)
        if (t != null && t.intValue >= 0) {
          // isEndTagTo also requires the opener be an opening tag — it is,
          // we only pushed opening tags
          val ti = t.intValue
          matches(ti) = i
          top.put(el.getTagName, Integer.valueOf(below(ti)))
        }
      }
      i += 1
    }
    matches
  }

  /** Builds over [[computeMatches]] and numbers the tree in pre-order from 1 (arenaId): a
    * node when reached, a matched endtag after its opener's slice, a stray endtag never. */
  private[parser] def parseDOM(istack: Array[HtmlNode], from: Int, until: Int,
                               counters: Array[Int]): ArrayBuffer[HtmlNode] = {
    val matches = computeMatches(istack)
    var nextId = 1
    def build(from: Int, until: Int): ArrayBuffer[HtmlNode] = {
      val ostack = new ArrayBuffer[HtmlNode]()
      var index = from
      while (index < until) {
        val el = istack(index)
        val m = matches(index)
        val matched = m > index && m < until

        if (!el.isNonPairTag && !matched && !el.isEndTag) {
          el.setNonPairTag(true)
          if (counters != null && el.isTag && !el.isComment) counters(0) += 1
        }

        if (matched) {
          el.arenaId = nextId; nextId += 1
          el.childs = build(index + 1, m)
          el.endtag = istack(m)
          el.endtag.openertag = el
          el.endtag.arenaId = nextId; nextId += 1
          ostack += el
          ostack += el.endtag
          index = m
        } else {
          if (!el.isEndTag) { el.arenaId = nextId; nextId += 1; ostack += el }
          else if (counters != null && (el.openertag == null)) counters(1) += 1
          index += 1
        }
      }
      ostack
    }
    build(from, until)
  }

  /** The reference's literal O(n^2) construction (dhtmlparser.d:895-922):
    * kept as the equivalence oracle for the optimized builder; matched
    * pair -> recurse into the exclusive slice, double-link
    * endtag/openertag, endtag appended as the sibling after the opener;
    * unmatched non-endtag -> forced nonpair leaf (this also marks text and
    * comment nodes nonpair, as the reference does); stray endtag -> dropped.
    */
  private[parser] def parseDOMFaithful(istack: Array[HtmlNode], from: Int, until: Int,
                                       counters: Array[Int] = null): ArrayBuffer[HtmlNode] = {
    val ostack = new ArrayBuffer[HtmlNode]()
    var index = from
    while (index < until) {
      val el = istack(index)
      val endTagOffset = indexOfEndTag(istack, index, until)

      if (!el.isNonPairTag && endTagOffset == 0 && !el.isEndTag) {
        el.setNonPairTag(true)
        if (counters != null && el.isTag && !el.isComment) counters(0) += 1
      }

      if (endTagOffset != 0) {
        el.childs = parseDOMFaithful(istack, index + 1, index + endTagOffset, counters)
        el.endtag = istack(index + endTagOffset)
        el.endtag.openertag = el
        ostack += el
        ostack += el.endtag
        index = index + endTagOffset
      } else {
        if (!el.isEndTag) ostack += el
        else if (counters != null && (el.openertag == null)) counters(1) += 1
        index += 1
      }
    }
    ostack
  }
}
