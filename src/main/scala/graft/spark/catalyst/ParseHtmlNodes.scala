package graft.spark.catalyst

import graft.spark.{ExtractedTurn, HtmlFunctions, Pipeline}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst Generator: parse an HTML string and emit one output row
  * per DOM node, pre-order (the NodeRow arena of Schemas.scala), with NO
  * intermediate array materialization.
  *
  * Why a Generator and not `explode(udf(...))` (SURVEY.md §4.3 tiering,
  * ROADMAP item 5): the UDF path builds a Seq[NodeRow], encodes it into a
  * Catalyst ArrayData (one copy of every string/map), and then Generate
  * iterates that array. This expression walks the freshly parsed tree and
  * writes each node STRAIGHT into an InternalRow — per 10^12-turn corpora
  * that is one fewer materialization of the entire node arena per turn.
  * The parse itself dominates, so CodegenFallback (virtual eval call) is
  * the right tier; GenerateExec handles non-codegen generators.
  *
  * Ids are the parse's own pre-order numbering (HtmlNode.arenaId, given by
  * the tree builder) and kind comes from the same walk as
  * HtmlFunctions.parseNodes (HtmlFunctions.walkArena); this generator only
  * writes each visited node into a row, so the two outputs cannot drift
  * (GeneratorSpec compares them). Kind: 0=text 1=comment 2=tag 3=endtag.
  *
  * The tree is the task's shared parse (HtmlFunctions.parsed): a Generate
  * cannot share a subexpression with the Project below it that evaluates
  * find_links or to_html over the same text, but the memo lets all three
  * read one parse of the row.
  */
case class ParseHtmlNodes(child: Expression)
    extends StringFunction("parse_nodes") with Generator with CodegenFallback {

  override def elementSchema: StructType = ParseHtmlNodes.Schema

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Nil
    val root = HtmlFunctions.parsed(v.asInstanceOf[UTF8String].toString).root
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow]()
    HtmlFunctions.walkArena(root, (n, id, parent, pos, depth, kind, endId, opId) => {
      val params =
        if (n.hasParams)
          ArrayBasedMapData(n.params,
            (k: Any) => UTF8String.fromString(k.asInstanceOf[String]),
            (x: Any) => UTF8String.fromString(x.asInstanceOf[String]))
        else ParseHtmlNodes.EmptyMap
      val raw = UTF8String.fromString(n.rawElement)
      // a text or comment node's tagname is its element (HtmlNode.classify)
      val tagname = if (n.getTagName eq n.rawElement) raw else UTF8String.fromString(n.getTagName)
      out += new GenericInternalRow(Array[Any](id, parent, pos, depth, kind,
        tagname, raw, params, n.isNonPairTag, endId, opId, n.srcOffset))
    })
    out
  }

  override protected def withNewChildInternal(newChild: Expression): ParseHtmlNodes =
    copy(child = newChild)
}

object ParseHtmlNodes {
  /** Same field set as [[graft.spark.NodeRow]] (kept interchangeable). */
  val Schema: StructType = StructType(Seq(
    StructField("node_id", IntegerType, nullable = false),
    StructField("parent_id", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("depth", IntegerType, nullable = false),
    StructField("kind", ByteType, nullable = false),
    StructField("tagname", StringType, nullable = false),
    StructField("raw", StringType, nullable = false),
    StructField("params", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false),
    StructField("nonpair", BooleanType, nullable = false),
    StructField("endtag_id", IntegerType, nullable = false),
    StructField("opener_id", IntegerType, nullable = false),
    StructField("src_offset", IntegerType, nullable = false)))

  private val EmptyMap =
    ArrayBasedMapData(Array.empty[Any], Array.empty[Any])
}

/** The pipeline's per-turn extraction as a native one-row Generator over
  * [[Pipeline.extractGuarded]]. Being an expression, not a typed
  * `mapPartitions`, it crosses no object boundary, so column pruning and
  * filter pushdown on the (conv_id, turn_idx) keys reach the scan.
  * Column-side only; no SQL name is bound. The parse dominates, so
  * CodegenFallback is the tier, as for [[ParseHtmlNodes]].
  */
case class ExtractTurn(child: Expression, maxChars: Int)
    extends StringFunction("extract_turn") with Generator with CodegenFallback {

  override def elementSchema: StructType = ExtractTurn.Schema

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    val r = Pipeline.extractGuarded(if (v == null) null else v.toString, maxChars)
    Iterator.single(InternalRow(UTF8String.fromString(r.text),
      UnsafeArrayData.fromPrimitiveArray(r.spanPos.unsafeArray), r.spanKind.unsafeArray,
      r.nNodes, r.nErrors))
  }

  override protected def withNewChildInternal(newChild: Expression): ExtractTurn =
    copy(child = newChild)
}

object ExtractTurn {
  /** [[ExtractedTurn]]'s columns after its (conv_id, turn_idx) keys:
    * the case class stays the one definition of the row. */
  val Schema: StructType = StructType(
    Encoders.product[ExtractedTurn].schema.filterNot(f => f.name == "conv_id" || f.name == "turn_idx"))
}
