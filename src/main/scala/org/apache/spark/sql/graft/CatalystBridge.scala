package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, UserDefinedFunctionUtils}
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

/** The engine's only use of Spark's `private[sql]` API: Column <->
  * Expression, and the ScalaUDF a UDF plans to. With them a Column function
  * builds its own expression, and the function table in
  * `graft.spark.catalyst.GraftSparkExtensions` builds UDFs like natives. */
object CatalystBridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def scalaUdf(f: UserDefinedFunction, args: Seq[Expression]): Expression =
    UserDefinedFunctionUtils.toScalaUDF(f.asInstanceOf[SparkUserDefinedFunction], args)

  /** Check it before [[scalaUdf]]: the ScalaUDF constructor casts the
    * function by its child count, so a wrong count throws a
    * ClassCastException there. */
  def arity(f: UserDefinedFunction): Int =
    f.asInstanceOf[SparkUserDefinedFunction].inputEncoders.length
}
