package graft.spark.catalyst

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point for the engine's native Catalyst
  * expressions. Enable on a fresh session with either
  *
  *   SparkSession.builder().withExtensions(new GraftSparkExtensions) ...
  *   // or, config-only (spark-submit):
  *   .config("spark.sql.extensions", "graft.spark.catalyst.GraftSparkExtensions")
  *
  * For a session that already exists (e.g. one handed to us by a driver),
  * [[GraftSparkExtensions.register]] installs the same builders into the
  * session's FunctionRegistry directly.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftSparkExtensions.functions.foreach { case (name, cls, make) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        GraftSparkExtensions.builder(name, make)))
    }
}

object GraftSparkExtensions {

  /** (SQL name, expression class, constructor) of every native function:
    * the one table both the injection and the [[register]] path install.
    */
  private val functions: Seq[(String, Class[_], Expression => Expression)] = Seq(
    ("parse_nodes", classOf[ParseHtmlNodes], ParseHtmlNodes(_)),
    ("ws_token_count", classOf[WsTokenCount], WsTokenCount(_)),
    ("bpeish_token_count", classOf[BpeishTokenCount], BpeishTokenCount(_)),
    ("simhash64", classOf[SimHash64], SimHash64(_)),
    ("winnow_fingerprints", classOf[WinnowFingerprints], WinnowFingerprints(_)))

  private def builder(name: String, make: Expression => Expression)
                     (args: Seq[Expression]): Expression = {
    require(args.length == 1, s"$name takes 1 argument, got ${args.length}")
    make(args.head)
  }

  /** Install into an already-built session (driver-owned sessions). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, make) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder(name, make), "scala_udf")
    }

  /** DataFrame-side surface: `df.select(parse_nodes(col("text")))` plans a
    * Generate over the native expression (no UDF, no array encode).
    * Resolves through the session FunctionRegistry (the public
    * Column-from-Expression path is sql-private in Spark 4), so call
    * [[register]] — or build the session with [[GraftSparkExtensions]] —
    * first.
    */
  def parse_nodes(c: Column): Column =
    org.apache.spark.sql.functions.call_function("parse_nodes", c)

  /** Codegen'd whitespace token count (see [[WsTokenCount]]). */
  def ws_token_count(c: Column): Column =
    org.apache.spark.sql.functions.call_function("ws_token_count", c)

  /** Codegen'd BPE-ish subword token count (see [[BpeishTokenCount]]). */
  def bpeish_token_count(c: Column): Column =
    org.apache.spark.sql.functions.call_function("bpeish_token_count", c)

  /** Codegen'd 64-bit SimHash (see [[SimHash64]]). */
  def simhash64(c: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", c)

  /** Winnowing-fingerprint Generator (see [[WinnowFingerprints]]). */
  def winnow_fingerprints(c: Column): Column =
    org.apache.spark.sql.functions.call_function("winnow_fingerprints", c)
}
