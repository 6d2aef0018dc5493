package graft.spark.catalyst

import graft.spark.HtmlFunctions
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ScalaUDF, UnaryExpression}
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.graft.CatalystBridge

/** SparkSessionExtensions entry point for the engine's one SQL function
  * table: the native Catalyst expressions and the [[HtmlFunctions.udfs]].
  * Enable on a fresh session with either
  *
  *   SparkSession.builder().withExtensions(new GraftSparkExtensions) ...
  *   // or, config-only (spark-submit):
  *   --conf spark.sql.extensions=graft.spark.catalyst.GraftSparkExtensions
  *
  * For a session that already exists (e.g. one handed to us by a driver),
  * [[GraftSparkExtensions.register]] installs the same table into the
  * session's FunctionRegistry directly. The Column functions below need
  * neither: they build their expressions themselves.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftSparkExtensions.functions.foreach(f => ext.injectFunction(f.description))
}

object GraftSparkExtensions {

  /** One SQL function: its name, the class `DESCRIBE FUNCTION` reports,
    * its argument count and its expression. */
  private[graft] final case class Fn(name: String, cls: Class[_], arity: Int,
                                     make: Seq[Expression] => Expression) {
    def build(args: Seq[Expression]): Expression = {
      require(args.length == arity, s"$name takes $arity argument(s), got ${args.length}")
      make(args)
    }
    def description: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
  }

  /** Every SQL name the engine binds; [[apply]] and [[register]] install
    * exactly this table. A UDF is named on the SQL side only, so SQL plans
    * print `name(args)` while Column-side plans stay as they were. */
  private[graft] val functions: Seq[Fn] = Seq(
    Fn("parse_nodes", classOf[ParseHtmlNodes], 1, a => ParseHtmlNodes(a.head)),
    Fn("parse_html", classOf[ParseHtml], 1, a => ParseHtml(a.head)),
    Fn("find_nodes", classOf[FindNodes], 3, a => FindNodes(a(0), a(1), a(2))),
    Fn("ws_token_count", classOf[WsTokenCount], 1, a => WsTokenCount(a.head)),
    Fn("bpeish_token_count", classOf[BpeishTokenCount], 1, a => BpeishTokenCount(a.head)),
    Fn("simhash64", classOf[SimHash64], 1, a => SimHash64(a.head)),
    Fn("winnow_fingerprints", classOf[WinnowFingerprints], 1, a => WinnowFingerprints(a.head)),
    Fn("dom_tag_nodes", classOf[TagNodes], 1, a => TagNodes(a.head, bfs = false)),
    Fn("bfs_tag_order", classOf[TagNodes], 1, a => TagNodes(a.head, bfs = true))) ++
    HtmlFunctions.udfs.map { case (name, f) =>
      val named = f.withName(name)
      Fn(name, classOf[ScalaUDF], CatalystBridge.arity(f), CatalystBridge.scalaUdf(named, _))
    }

  /** Install into an already-built session (driver-owned sessions). */
  def register(spark: SparkSession): Unit =
    functions.map(_.description).foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }

  private def column(make: Expression => Expression, c: Column): Column =
    CatalystBridge.column(make(CatalystBridge.expression(c)))

  /** DataFrame-side surface: `df.select(parse_nodes(col("text")))` plans a
    * Generate over the native expression (no UDF, no array encode).
    */
  def parse_nodes(c: Column): Column = column(ParseHtmlNodes(_), c)

  /** Codegen'd whitespace token count (see [[WsTokenCount]]). */
  def ws_token_count(c: Column): Column = column(WsTokenCount(_), c)

  /** Codegen'd BPE-ish subword token count (see [[BpeishTokenCount]]). */
  def bpeish_token_count(c: Column): Column = column(BpeishTokenCount(_), c)

  /** Codegen'd 64-bit SimHash (see [[SimHash64]]). */
  def simhash64(c: Column): Column = column(SimHash64(_), c)

  /** Winnowing-fingerprint Generator (see [[WinnowFingerprints]]). */
  def winnow_fingerprints(c: Column): Column = column(WinnowFingerprints(_), c)
}

/** A native expression over one string argument, and the name that plans
  * and type errors print (the SQL name, for an entry of the function
  * table). Serializable, because Java needs a no-argument constructor on
  * the first non-serializable superclass. */
abstract class StringFunction(override val prettyName: String)
    extends UnaryExpression with Serializable {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${child.dataType.catalogString}")
}
