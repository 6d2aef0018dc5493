package graft.spark.catalyst

import graft.text.Fingerprints
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst Generator: winnowing document fingerprints (Schleimer
  * et al. '03), one output row per selected k-gram hash — the same
  * no-intermediate-array tier as [[ParseHtmlNodes]]. The UDF+explode path
  * builds an Array[Long], encodes it into a Catalyst ArrayData, and lets
  * Generate iterate that copy; this expression writes each fingerprint
  * STRAIGHT into a single-field InternalRow. Fingerprint semantics are
  * exactly [[Fingerprints.winnow]] (k=8, w=4 — the Dedup defaults);
  * equality with the UDF path is pinned by GeneratorSpec.
  */
case class WinnowFingerprints(child: Expression)
    extends StringFunction("winnow_fingerprints") with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(Seq(StructField("fingerprint", LongType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Nil
    val fps = Fingerprints.winnow(v.asInstanceOf[UTF8String].toString)
    new Iterator[InternalRow] {
      private var i = 0
      override def hasNext: Boolean = i < fps.length
      override def next(): InternalRow = {
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        row.update(0, fps(i))
        i += 1
        row
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}
