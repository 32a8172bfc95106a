package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Minimal bridge into `private[sql]` surface — the standard pattern for
  * Spark extension libraries that ship custom Catalyst expressions
  * (Column <-> Expression moved behind ColumnNode in Spark 4).
  */
object Bridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toCol(e: Expression): Column = ExpressionUtils.column(e)

  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")

  /** Apply an extensions object's FUNCTION registrations to an existing
    * session (test hook: `spark.sql.extensions` is read only at session
    * construction, and a shared-JVM test suite can't rebuild its session;
    * `registerFunctions` is the exact call BaseSessionStateBuilder makes
    * at construction, so this exercises the same injection path).
    */
  def applyFunctionExtensions(spark: SparkSession,
                              f: org.apache.spark.sql.SparkSessionExtensions => Unit): Unit = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    f(ext)
    ext.registerFunctions(spark.sessionState.functionRegistry)
  }

  /** A clone of `spark` with a conf of its own: extensions, registered
    * functions and the current settings carry over, and a setting made
    * later on either session stays on that session. */
  def cloneSession(spark: SparkSession): SparkSession =
    ClassicConversions.castToImpl(spark).cloneSession()

  /** `df`'s analyzed plan as a frame of `spark`: its actions are planned
    * and run under `spark`'s settings (the `Dataset.ofRows` factory). */
  def ofRows(spark: SparkSession, df: DataFrame): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(spark),
      ClassicConversions.castToImpl(df).logicalPlan)
}
