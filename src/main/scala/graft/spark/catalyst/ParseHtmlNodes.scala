package graft.spark.catalyst

import graft.parser.HtmlNode
import graft.spark.{ExtractedTurn, HtmlFunctions, Pipeline}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow,
  ImplicitCastInputTypes, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** Native Catalyst Generator: one output row per DOM node, pre-order, with
  * no intermediate array, from the one node-row writer
  * [[ParseHtmlNodes.rows]]. parse_html and find_nodes wrap the same rows in
  * an array ([[NodeRowArray]]), so their outputs cannot drift
  * (GeneratorSpec compares them). The parse dominates, so CodegenFallback
  * is the tier. The tree is the task's shared parse (HtmlFunctions.parsed):
  * a Generate cannot share a subexpression with the Project below it that
  * evaluates find_links or to_html over the same text, but the memo lets
  * all three read one parse of the row.
  */
case class ParseHtmlNodes(child: Expression)
    extends StringFunction("parse_nodes") with Generator with CodegenFallback {

  override def elementSchema: StructType = ParseHtmlNodes.Schema

  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    ParseHtmlNodes.rows(child.eval(input), null)

  override protected def withNewChildInternal(newChild: Expression): ParseHtmlNodes =
    copy(child = newChild)
}

object ParseHtmlNodes {
  /** One DOM node as a row, the integer-id arena of SURVEY.md §1.2: pointer
    * cycles (endtag/openertag) become ids; node_id is pre-order
    * (HtmlNode.arenaId), so ORDER BY node_id reproduces DFS document order.
    * kind: 0=text, 1=comment, 2=tag (open or nonpair), 3=endtag. */
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

  /** The one node-row writer: one row of [[Schema]] per node of the task's
    * shared parse of `html` (a UTF8String) that `keep` accepts, given the
    * node and its kind; every node when `keep` is null. NULL gives none. */
  def rows(html: Any, keep: (HtmlNode, Byte) => Boolean): ArrayBuffer[InternalRow] = {
    val out = new ArrayBuffer[InternalRow]()
    if (html == null) return out
    val root = HtmlFunctions.parsed(html.asInstanceOf[UTF8String].toString).root
    HtmlFunctions.walkArena(root, (n, id, parent, pos, depth, kind, endId, opId) =>
      if (keep == null || keep(n, kind)) {
        val params =
          if (n.hasParams)
            ArrayBasedMapData(n.params,
              (k: Any) => UTF8String.fromString(k.asInstanceOf[String]),
              (x: Any) => UTF8String.fromString(x.asInstanceOf[String]))
          else EmptyMap
        val raw = UTF8String.fromString(n.rawElement)
        // a text or comment node's tagname is its element (HtmlNode.classify)
        val tagname = if (n.getTagName eq n.rawElement) raw else UTF8String.fromString(n.getTagName)
        out += new GenericInternalRow(Array[Any](id, parent, pos, depth, kind,
          tagname, raw, params, n.isNonPairTag, endId, opId, n.srcOffset))
      })
    out
  }
}

/** A non-null array of [[ParseHtmlNodes.rows]]. Arguments are cast as a
  * UDF's are, so an int or a NULL literal works. */
trait NodeRowArray extends ImplicitCastInputTypes with CodegenFallback {
  override def dataType: DataType = ArrayType(ParseHtmlNodes.Schema, containsNull = false)
  override def nullable: Boolean = false
  protected def array(rows: ArrayBuffer[InternalRow]): GenericArrayData =
    new GenericArrayData(rows.toArray[Any])
}

/** The reference's `parseString` (dhtmlparser.d:929-944): every node's
  * row; a NULL input gives an empty array. */
case class ParseHtml(child: Expression) extends UnaryExpression with NodeRowArray {
  override def prettyName: String = "parse_html"
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def eval(input: InternalRow): Any = array(ParseHtmlNodes.rows(child.eval(input), null))

  override protected def withNewChildInternal(newChild: Expression): ParseHtml =
    copy(child = newChild)
}

/** The reference's generic `find(tag, params)` (dhtmlparser.d:150,
  * 623-647): the rows of the non-endtag nodes `isAlmostEqual` accepts, in
  * DFS order. A NULL or empty params map matches on the tag name only, a
  * NULL map value or a NULL tag matches nothing, and a NULL input gives an
  * empty array. */
case class FindNodes(html: Expression, tag: Expression, params: Expression)
    extends Expression with NodeRowArray {
  override def prettyName: String = "find_nodes"
  override def children: Seq[Expression] = Seq(html, tag, params)
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType, MapType(StringType, StringType))

  override def eval(input: InternalRow): Any = {
    val name = Option(tag.eval(input)).map(_.toString).orNull
    val pm = CatalystTypeConverters.convertToScala(params.eval(input), params.dataType)
      .asInstanceOf[Map[String, String]]
    array(ParseHtmlNodes.rows(html.eval(input), (n, kind) => kind != 3 && n.isAlmostEqual(name, pm)))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FindNodes =
    FindNodes(c(0), c(1), c(2))
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
