package graft.spark

import java.sql.Timestamp

/** The input-table shape mandated by BASELINE.json's input_hint:
  * an Iceberg (parquet stand-in here) table of multi-turn transcripts.
  */
final case class Turn(conv_id: String, turn_idx: Int, role: String,
                      text: String, tool: String, ts: Timestamp)

/** Per-turn extraction output (north_rule: extracted text/spans per turn).
  *
  * Spans travel PACKED — `span_pos` holds (start << 32 | end) and
  * `span_kind` the dictionary-coded kind byte — because the span column
  * rides every pipeline exchange: two primitive arrays encode/decode as
  * flat memcpy-able buffers, while the round-1 array<struct<int,int,
  * string>> paid a per-span InternalRow + string allocation on both
  * sides of every shuffle. `spans` reconstructs the struct view.
  */
final case class SpanRec(start: Int, end: Int, kind: String)
final case class ExtractedTurn(conv_id: String, turn_idx: Int,
                               extracted_text: String, span_pos: Array[Long],
                               span_kind: Array[Byte],
                               n_nodes: Int, n_errors: Int) {
  def spans: Seq[SpanRec] = SpanCodec.unpack(span_pos, span_kind)
}

/** Packed-span codec: fixed kind dictionary (append-only), offsets in one
  * long. Pure functions — usable from UDFs and plain JVM code alike.
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

  def pack(spans: Seq[graft.extract.Span]): (Array[Long], Array[Byte]) = {
    val pos = new Array[Long](spans.length)
    val kinds = new Array[Byte](spans.length)
    var i = 0
    spans.foreach { s =>
      pos(i) = packPos(s.start, s.end); kinds(i) = kindByte(s.kind); i += 1
    }
    (pos, kinds)
  }

  def unpack(pos: Array[Long], kinds: Array[Byte]): Seq[SpanRec] = {
    if (pos == null) return Seq.empty
    val out = Vector.newBuilder[SpanRec]
    var i = 0
    while (i < pos.length) {
      out += SpanRec((pos(i) >>> 32).toInt, pos(i).toInt, Kinds(kinds(i)))
      i += 1
    }
    out.result()
  }
}

/** Relational encoding of one parsed DOM node (the integer-id arena from
  * SURVEY.md §1.2): pointer cycles (endtag/openertag) become ids; node_id
  * is pre-order, so ORDER BY node_id reproduces DFS document order.
  * kind: 0=text, 1=comment, 2=tag (open or nonpair), 3=endtag.
  */
final case class NodeRow(node_id: Int, parent_id: Int, pos: Int, depth: Int,
                         kind: Byte, tagname: String, raw: String,
                         params: Map[String, String], nonpair: Boolean,
                         endtag_id: Int, opener_id: Int, src_offset: Int)

/** Lineage row: which input slice produced which output, with input byte
  * and oversize accounting per file (snapshot id is a deterministic
  * constant for the parquet stand-in; with Iceberg it is the table
  * snapshot).
  */
final case class LineageRec(snapshot_id: String, file: String,
                            row_count: Long, n_bytes: Long, n_oversize: Long)
