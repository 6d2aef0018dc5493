package graft.spark

import graft.extract.SpanCodec
import graft.parser.{HtmlNode, HtmlParser}
import graft.parser.HtmlParser.ParseStats
import graft.spark.catalyst.{FindNodes, ParseHtml, TagNodes}
import org.apache.spark.TaskContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.graft.CatalystBridge.{column => native, expression}

/** The engine's scalar-function surface over HTML text columns.
  *
  * Design (SURVEY.md §4.3): the parser itself is a pure JVM function and
  * per-turn parse cost dominates, so most functions are Scala UDFs (codegen
  * calls them with UTF8String->String conversion only). parse_html and
  * find_nodes build native expressions over the parse_nodes generator's
  * node-row writer instead, as do dom_tag_nodes and bfs_tag_order
  * ([[graft.spark.catalyst.TagNodes]]). Keep plans in the shape
  * `select(cols..., fn(col("text")))` so Catalyst column pruning still
  * reaches the parquet scan (never `Dataset.map` over whole rows).
  *
  * One parse per row: the read-only functions (parse_html, find_nodes,
  * dom_tag_nodes, bfs_tag_order, find_links, get_content,
  * first_tag_string, to_html, prettify_html, node_count) and the
  * parse_nodes generator ([[graft.spark.catalyst.ParseHtmlNodes]]) read
  * one shared parse of their input ([[parsed]]), so a select of several
  * of them over one column parses each row once, as the reference runs
  * every finder and serializer against one DOM (SURVEY.md §1.1). The
  * mutators (remove_tags, reset_nonpair, replace_tag) change their tree,
  * and to_html_fixed parses with repairFixed, so each of these owns a
  * private tree. Node ids are the parse's own pre-order numbering
  * (HtmlNode.arenaId); none renumbers.
  *
  * Every function here mirrors a reference operator (SURVEY.md §2.1):
  * parse_html (#1), find/findAll via node rows or find_links (#17-21),
  * get_content (#27), prettify (#28), to_html round-trip (#29),
  * tag_to_string (#25), plus extract_main (the north_rule extraction).
  *
  * The Column functions work in any session; their SQL names come from
  * the one table in graft.spark.catalyst.GraftSparkExtensions.
  */
object HtmlFunctions {

  // ===== the shared parse ==================================================

  /** One parse of `html`: its root and stats. Readers only: the tree may be
    * handed to the next function over the same input. */
  final class Parsed(val html: String, val root: HtmlNode, val stats: ParseStats)

  /** A thread's memo: the last parse and the task attempt it was made in. */
  private final class Slot { var task = -1L; var last: Parsed = null }
  private val slots = ThreadLocal.withInitial[Slot](() => new Slot)

  /** Parses [[parsed]] has run: memo misses, and every call outside a task.
    * A test hook. */
  private[graft] val memoMisses = new java.util.concurrent.atomic.LongAdder

  /** The parse of `html` (non-null), shared by every read-only function
    * over the same input in the running task: a one-entry memo keyed on
    * the input's content. Spark evaluates a row's functions one after
    * another on the task's thread, and so does a Generate above the
    * Project that evaluates the UDFs, so one entry serves them all. A task
    * completion listener empties the slot, so an idle executor thread pins
    * no tree. With no TaskContext (constant folding while planning) it
    * parses privately. The tree is safe to share because readers change
    * nothing but the deterministic lazy params parse
    * (HtmlNode.ensureParams); mutators must parse their own.
    */
  private[graft] def parsed(html: String): Parsed = {
    val tc = TaskContext.get()
    if (tc == null) return parse(html)
    val slot = slots.get()
    val task = tc.taskAttemptId()
    val last = slot.last
    if (last != null && slot.task == task && last.html.equals(html)) return last
    if (slot.task != task) {
      slot.task = task
      tc.addTaskCompletionListener[Unit] { _ =>
        if (slot.task == task) { slot.last = null; slot.task = -1L }
      }
    }
    slot.last = null // the old tree is garbage before the new one is built
    val p = parse(html)
    slot.last = p
    p
  }

  private def parse(html: String): Parsed = {
    memoMisses.increment()
    val (root, stats) = HtmlParser.parseWithStats(html)
    new Parsed(html, root, stats)
  }

  private def dom(html: String): HtmlNode = parsed(html).root

  // ===== pure row-wise functions ============================================

  /** Constructor-built DOM (reference ctor surface, dhtmlparser.d:74-138
    * + closeElements 721-743, Q25): build `tag` with one param and one
    * text child, wrap in a container (which auto-closes the unclosed pair
    * tag and double-links the synthetic endtag), serialize with toHtml.
    * NULL if any argument is NULL.
    */
  def buildTagHtml(tag: String, key: String, value: String, text: String): String = {
    if (tag == null || key == null || value == null || text == null) return null
    val el = HtmlNode.create(tag, Map(key -> value), Seq(HtmlNode.fromRaw(text)))
    HtmlNode.container(Seq(el)).toHtml
  }

  /** Round-trip with the repairTagsFixed stage enabled (the flagged
    * comment-split-tag merge the reference *documents* but never executes
    * — Q16; HtmlParser.repairTagsFixed). Diverges from the oracle by
    * design; exposed for pipeline users who want the documented intent.
    */
  def roundtripFixed(html: String): String =
    if (html == null) null
    else HtmlParser.parseWithStats(html, repairFixed = true)._1.toHtml

  def findLinks(html: String): Seq[String] =
    if (html == null) Seq.empty
    else dom(html).find("a").flatMap(_.params.get("href")).toSeq

  /** getContent of the first DFS match of `tag` (null if no match). */
  def getContentOf(html: String, tag: String): String = {
    if (html == null) return null
    val hits = dom(html).find(tag)
    if (hits.isEmpty) null else hits.head.getContent
  }

  /** Normalized tagToString of the first match of tag[key=value]. */
  def firstTagString(html: String, tag: String, key: String, value: String): String = {
    if (html == null) return null
    val hits = dom(html).find(tag, Map(key -> value))
    if (hits.isEmpty) null else hits.head.tagToString
  }

  def roundtrip(html: String): String =
    if (html == null) null else dom(html).toHtml

  def prettifyHtml(html: String): String =
    if (html == null) null else dom(html).prettify()

  def nodeCount(html: String): Int =
    if (html == null) 0 else parsed(html).stats.nNodes

  // The mutators below change their tree, so each parses its own and never
  // reads the shared parse. A NULL argument gives NULL, except a NULL tag to
  // match (or a NULL name in remove_tags' array), which matches nothing.

  /** Remove every match of each tag name (removeChild incl. endtag),
    * then reconstruct (toHtml) — the remove_tag.d workflow as one op.
    */
  def removeTags(html: String, names: Seq[String]): String = {
    if (html == null || names == null) return null
    val dom = HtmlParser.parseString(html)
    names.foreach { n => dom.find(n).foreach(e => dom.removeChild(e)) }
    dom.toHtml
  }

  /** Q23 workflow: toggle isNonPairTag on every match of `tag` — setting
    * FALSE clears the node's endtag link and children (dhtmlparser.d:
    * 655-661), so on reconstruction the element renders as a bare opening
    * tag and its now-orphaned endtag sibling disappears (endtag nodes
    * serialize only through their opener's link).
    */
  def resetNonPair(html: String, tag: String): String = {
    if (html == null) return null
    val dom = HtmlParser.parseString(html)
    dom.find(tag).foreach { n => n.setNonPairTag(true); n.setNonPairTag(false) }
    dom.toHtml
  }

  /** Q24 workflow: replaceWith a constructor-built element on every match
    * of `tag` (dhtmlparser.d:668-681): the node takes the replacement's
    * normalized element string, (empty) children and null endtag, so the
    * old subtree and endtag vanish from the reconstruction.
    */
  def replaceTag(html: String, tag: String, newTag: String,
                 key: String, value: String): String = {
    if (html == null || newTag == null || key == null || value == null) return null
    val dom = HtmlParser.parseString(html)
    dom.find(tag).foreach(_.replaceWith(HtmlNode.create(newTag, Map(key -> value))))
    dom.toHtml
  }

  // ===== Column functions ==================================================

  def parse_html(html: Column): Column = native(ParseHtml(expression(html)))
  def find_nodes(html: Column, tag: Column, params: Column): Column =
    native(FindNodes(expression(html), expression(tag), expression(params)))
  def dom_tag_nodes(html: Column): Column = native(TagNodes(expression(html), bfs = false))
  def bfs_tag_order(html: Column): Column = native(TagNodes(expression(html), bfs = true))
  val to_html_fixed = udf(roundtripFixed _)
  val build_tag = udf(buildTagHtml _)
  val remove_tags = udf(removeTags _)
  val reset_nonpair = udf(resetNonPair _)
  val replace_tag = udf(replaceTag _)
  val find_links = udf(findLinks _)
  val get_content = udf(getContentOf _)
  val first_tag_string = udf(firstTagString _)
  val to_html = udf(roundtrip _)
  val prettify_html = udf(prettifyHtml _)
  val node_count = udf(nodeCount _)
  /** Main-text extraction of one turn through the pipeline's guarded
    * kernel ([[Pipeline.extractGuarded]]) at
    * [[Pipeline.DefaultMaxTextChars]], so it reads what
    * [[Pipeline.extractOnScanPartitions]] emits, spans as structs. */
  val extract_main = udf((html: String) => {
    val r = Pipeline.extractGuarded(html, Pipeline.DefaultMaxTextChars)
    (r.text, r.spans, r.nNodes, r.nErrors)
  })

  /** Struct view over the packed span columns (SpanCodec wire format) —
    * for inspecting/oracle-checking pipeline output without re-parsing.
    * A NULL argument gives NULL; arrays of different lengths or an
    * unknown kind byte fail the query, naming the function.
    */
  val spans_view = udf((pos: Array[Long], kinds: Array[Byte]) =>
    if (pos == null || kinds == null) null else SpanCodec.unpack(pos, kinds, "spans_view"))

  def extractMainText(c: Column): Column = extract_main(c).getField("_1")

  /** Every UDF above under its SQL name: the UDF half of the one
    * function table (graft.spark.catalyst.GraftSparkExtensions). */
  val udfs: Seq[(String, UserDefinedFunction)] = Seq(
    "to_html_fixed" -> to_html_fixed, "build_tag" -> build_tag,
    "remove_tags" -> remove_tags, "reset_nonpair" -> reset_nonpair, "replace_tag" -> replace_tag,
    "find_links" -> find_links, "get_content" -> get_content,
    "first_tag_string" -> first_tag_string, "to_html" -> to_html,
    "prettify_html" -> prettify_html, "node_count" -> node_count,
    "extract_main" -> extract_main, "spans_view" -> spans_view)
}
