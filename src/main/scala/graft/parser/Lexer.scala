package graft.parser

import scala.collection.mutable.ArrayBuffer

/** Tokenizer reproducing the reference's `rawSplit` 4-state character
  * machine (/root/reference/dhtmlparser.d:758-836): splits HTML text into
  * alternating content / tag / comment substrings.
  *
  * States: 0 = content, 1 = inside tag, 2 = quoted string inside tag,
  * 3 = comment. A 4-char lookbehind drives comment open/close detection
  * and backslash-escaped quote closing (quirks Q9-Q11 in SURVEY.md §2.5).
  *
  * This implementation is INDEX-BASED: every token the reference's
  * machine emits is a contiguous substring of the input (the machine
  * never skips or reorders characters within a token), so we track only
  * (start, end) boundaries and materialize each token with one bulk
  * `String.substring` — no per-character StringBuilder copying. The
  * byte-identical per-char implementation is kept as
  * [[rawSplitFaithful]] and gated against this one by a ScalaCheck
  * equivalence property (LexerEquivalenceSpec).
  *
  * D iterates UTF-8 bytes; we iterate UTF-16 code units. All state
  * transitions trigger on ASCII chars ( < > ' " - ! \ ), and neither UTF-8
  * continuation bytes nor UTF-16 surrogates collide with ASCII, so the
  * produced token boundaries are identical for any valid input.
  */
object Lexer {

  /** Split `itxt` into raw tokens and, aligned with them, the start
    * offset of each token in `itxt` (used for span lineage; offsets are an
    * addition of ours, invisible to reference semantics). Primitive arrays
    * for the parser hot path: no Int boxing, no per-append ArrayBuffer
    * overhead. Returns (tokens, offsets, count); the arrays may be longer
    * than count.
    */
  def rawSplitArrays(itxt: String): (Array[String], Array[Int], Int) = {
    var toks = new Array[String](16)
    var offArr = new Array[Int](16)
    var cnt = 0
    var state = 0
    var insideTag = false
    var echr: Char = 0
    // lookbehind: b0 = itxt(i-1), b1 = itxt(i-2), b2 = itxt(i-3);
    // D inits its ring buffer to 0xFF, which matches none of the guards
    var b0 = 0xFF.toChar; var b1 = 0xFF.toChar; var b2 = 0xFF.toChar
    var tokStart = 0

    def push(from: Int, until: Int): Unit =
      if (until > from) {
        if (cnt == toks.length) {
          toks = java.util.Arrays.copyOf(toks, cnt * 2)
          offArr = java.util.Arrays.copyOf(offArr, cnt * 2)
        }
        toks(cnt) = itxt.substring(from, until)
        offArr(cnt) = from
        cnt += 1
      }

    var i = 0
    val n = itxt.length
    while (i < n) {
      val c = itxt.charAt(i)
      (state: @annotation.switch) match {
        case 0 => // content (dhtmlparser.d:768-778)
          if (c == '<') {
            push(tokStart, i)
            tokStart = i
            state = 1
            insideTag = false
          }

        case 1 => // html tag (dhtmlparser.d:779-800)
          if (c == '>') {
            push(tokStart, i + 1)
            tokStart = i + 1
            state = 0
          } else if (c == '\'' || c == '"') {
            echr = c
            state = 2
          } else if (c == '-' && b0 == '-' && b1 == '!' && b2 == '<') {
            // saw "<!--": token-so-far ends with "<!-"; split off the
            // prefix before it (dhtmlparser.d:788-792)
            if (i - 3 > tokStart) push(tokStart, i - 3)
            tokStart = i - 3
            state = 3
          } else if (c == '<') insideTag = true // (dhtmlparser.d:794-796)

        case 2 => // quoted string inside tag (dhtmlparser.d:801-807)
          if (c == echr && (b0 != '\\' || (b0 == '\\' && b1 == '\\')))
            state = 1

        case 3 => // html comment (dhtmlparser.d:808-821)
          if (c == '>' && b0 == '-' && b1 == '-') {
            state = if (insideTag) 1 else 0
            insideTag = false
            push(tokStart, i + 1)
            tokStart = i + 1
          }
      }

      b2 = b1; b1 = b0; b0 = c
      i += 1
    }

    push(tokStart, n) // flush (dhtmlparser.d:832-833)
    (toks, offArr, cnt)
  }

  // ===== faithful per-char implementation (equivalence oracle) ===========

  private val tlContent: ThreadLocal[java.lang.StringBuilder] =
    ThreadLocal.withInitial(() => new java.lang.StringBuilder(256))

  /** The round-1 per-char StringBuilder implementation, a direct
    * transcription of dhtmlparser.d:758-836. Kept ONLY as the oracle for
    * LexerEquivalenceSpec; production code uses the index-based machine.
    */
  private[parser] def rawSplitFaithful(itxt: String): (ArrayBuffer[String], ArrayBuffer[Int]) = {
    val buff = Array.fill[Char](4)(0xFF.toChar)
    var echr: Char = 0
    val content = tlContent.get()
    content.setLength(0)
    var contentStart = 0
    val out = new ArrayBuffer[String]()
    val offs = new ArrayBuffer[Int]()
    var state = 0
    var insideTag = false

    def push(tok: String, start: Int): Unit = { out += tok; offs += start }

    var i = 0
    val n = itxt.length
    while (i < n) {
      val c = itxt.charAt(i)
      (state: @annotation.switch) match {
        case 0 =>
          if (c == '<') {
            if (content.length > 0) push(content.toString, contentStart)
            content.setLength(0); content.append(c); contentStart = i
            state = 1
            insideTag = false
          } else {
            if (content.length == 0) contentStart = i
            content.append(c)
          }

        case 1 =>
          if (c == '>') {
            content.append(c)
            push(content.toString, contentStart)
            content.setLength(0)
            state = 0
          } else if (c == '\'' || c == '"') {
            echr = c
            content.append(c)
            state = 2
          } else if (c == '-' && buff(0) == '-' && buff(1) == '!' && buff(2) == '<') {
            val len = content.length
            if (len - 3 > 0) push(content.substring(0, len - 3), contentStart)
            val tail = content.substring(len - 3)
            contentStart = contentStart + len - 3
            content.setLength(0)
            content.append(tail).append(c)
            state = 3
          } else {
            if (c == '<') insideTag = true
            content.append(c)
          }

        case 2 =>
          if (c == echr && (buff(0) != '\\' || (buff(0) == '\\' && buff(1) == '\\')))
            state = 1
          content.append(c)

        case 3 =>
          if (c == '>' && buff(0) == '-' && buff(1) == '-') {
            state = if (insideTag) 1 else 0
            insideTag = false
            content.append(c)
            push(content.toString, contentStart)
            content.setLength(0)
            contentStart = i + 1
          } else content.append(c)
      }

      buff(3) = buff(2); buff(2) = buff(1); buff(1) = buff(0); buff(0) = c
      i += 1
    }

    if (content.length > 0) push(content.toString, contentStart)
    (out, offs)
  }
}
