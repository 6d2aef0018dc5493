package graft.parser

/** Character-level helpers matching the D runtime semantics the reference
  * relies on (see /root/reference/dhtmlparser.d).
  *
  * - `lower` is ASCII-only lowering (SURVEY.md §7.3 decision: HTML tag/attr
  *   names in transcripts are ASCII; avoids JVM locale surprises).
  * - `isWhite` matches D `std.ascii.isWhite` (space + 0x09..0x0D), used by
  *   the attribute parser state machine (dhtmlparser.d:380,387,397).
  * - `strip` matches D `std.string.strip` (Unicode White_Space property on
  *   both ends), used at dhtmlparser.d:75,123,368,370,424,536,556,564,580.
  */
object Ascii {
  def lowerChar(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  def lower(s: String): String = {
    var i = 0
    var needs = false
    while (i < s.length && !needs) {
      val c = s.charAt(i)
      if (c >= 'A' && c <= 'Z') needs = true
      i += 1
    }
    if (!needs) s
    else {
      val a = s.toCharArray
      var j = 0
      while (j < a.length) { a(j) = lowerChar(a(j)); j += 1 }
      new String(a)
    }
  }

  /** Case-insensitive ASCII equality without allocating. */
  def equalsLower(a: String, b: String): Boolean = {
    if (a.length != b.length) return false
    var i = 0
    while (i < a.length) {
      if (lowerChar(a.charAt(i)) != lowerChar(b.charAt(i))) return false
      i += 1
    }
    true
  }

  /** D std.ascii.isWhite: space, \t, \n, \v, \f, \r. */
  def isWhite(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** D std.uni White_Space (what std.string.strip consults). Java's
    * Character.isWhitespace excludes U+00A0/U+0085; D includes them.
    */
  def isUniWhite(c: Char): Boolean =
    Character.isWhitespace(c) || c == '\u00A0' || c == '\u0085'

  /** `strip(s).isEmpty`, without the copy. */
  def isBlank(s: String): Boolean = {
    var i = 0
    while (i < s.length && isUniWhite(s.charAt(i))) i += 1
    i == s.length
  }

  /** D std.string.strip: remove leading+trailing Unicode whitespace. */
  def strip(s: String): String = {
    var start = 0
    var end = s.length
    while (start < end && isUniWhite(s.charAt(start))) start += 1
    while (end > start && isUniWhite(s.charAt(end - 1))) end -= 1
    if (start == 0 && end == s.length) s else s.substring(start, end)
  }
}
