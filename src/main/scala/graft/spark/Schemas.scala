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
