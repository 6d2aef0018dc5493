package graft.extract

/** One selected content span: [start, end) character offsets in the
  * (BOM-stripped) source document plus its kind — the struct view of one
  * packed span.
  */
final case class SpanRec(start: Int, end: Int, kind: String)

/** The packed span format, owned by the layer that produces spans: each
  * span is one long (start << 32 | end) plus one dictionary-coded kind
  * byte. The extractor writes spans in this form as it walks, and the
  * pipeline stores and ships the two primitive arrays as they are (they
  * encode/decode as flat memcpy-able buffers on every exchange, where an
  * array<struct<int,int,string>> paid a per-span row and string on both
  * sides). Pure functions — usable from UDFs and plain JVM code alike.
  */
object SpanCodec {
  /** Append-only kind dictionary; index = wire byte. */
  val Kinds: Vector[String] = Vector("text", "code", "heading")
  private val KindIndex: Map[String, Byte] =
    Kinds.zipWithIndex.map { case (k, i) => k -> i.toByte }.toMap

  def packPos(start: Int, end: Int): Long = (start.toLong << 32) | (end.toLong & 0xFFFFFFFFL)
  def kindByte(kind: String): Byte = KindIndex.getOrElse(kind,
    throw new IllegalArgumentException(
      s"unknown span kind '$kind' — not in SpanCodec.Kinds ${Kinds.mkString("[", ",", "]")}; " +
        "append new kinds to the dictionary (it is wire-format, append-only)"))

  /** The struct view of two packed arrays of one length; `caller` names
    * the function an IllegalArgumentException blames for a length
    * mismatch or a kind byte outside [[Kinds]]. */
  def unpack(pos: Array[Long], kinds: Array[Byte], caller: String = "SpanCodec.unpack"): Seq[SpanRec] = {
    require(pos.length == kinds.length,
      s"$caller: ${pos.length} span positions but ${kinds.length} span kinds")
    pos.indices.map { i =>
      val k = kinds(i)
      require(k >= 0 && k < Kinds.length, s"$caller: unknown span kind byte $k, not in SpanCodec.Kinds")
      SpanRec((pos(i) >>> 32).toInt, pos(i).toInt, Kinds(k))
    }
  }

  /** Growable packed span arrays. Spans are appended in document order;
    * `truncate` drops everything past a mark (a rejected block's spans).
    */
  final class Builder {
    private var pos = new Array[Long](8)
    private var kinds = new Array[Byte](8)
    private var n = 0

    def length: Int = n
    def truncate(mark: Int): Unit = n = mark

    def add(start: Int, end: Int, kind: Byte): Unit = {
      if (n == pos.length) {
        pos = java.util.Arrays.copyOf(pos, 2 * n)
        kinds = java.util.Arrays.copyOf(kinds, 2 * n)
      }
      pos(n) = packPos(start, end); kinds(n) = kind; n += 1
    }

    def positions: Array[Long] = java.util.Arrays.copyOf(pos, n)
    def kindBytes: Array[Byte] = java.util.Arrays.copyOf(kinds, n)
  }
}
