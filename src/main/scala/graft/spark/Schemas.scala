package graft.spark

import graft.extract.{SpanCodec, SpanRec}
import java.sql.Timestamp

/** The input-table shape mandated by BASELINE.json's input_hint:
  * an Iceberg (parquet stand-in here) table of multi-turn transcripts.
  */
final case class Turn(conv_id: String, turn_idx: Int, role: String,
                      text: String, tool: String, ts: Timestamp)

/** Per-turn extraction output (north_rule: extracted text/spans per turn).
  *
  * Spans travel PACKED in the graft.extract.SpanCodec format — `span_pos`
  * holds (start << 32 | end) and `span_kind` the dictionary-coded kind
  * byte — because the span column rides every pipeline exchange. The
  * extractor produces spans in this form, so the arrays are stored as it
  * returned them. `spans` reconstructs the struct view.
  */
final case class ExtractedTurn(conv_id: String, turn_idx: Int,
                               extracted_text: String, span_pos: Array[Long],
                               span_kind: Array[Byte],
                               n_nodes: Int, n_errors: Int) {
  def spans: Seq[SpanRec] = SpanCodec.unpack(span_pos, span_kind)
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
