package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

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

  /** `df` local-checkpointed in ONE job that also counts its rows and
    * evaluates the aggregate `probes` over them (observed while the job
    * runs, `Dataset.observe`, never a second action). One SQL execution,
    * run the way `Dataset.localCheckpoint` runs its own. Returns the
    * checkpointed frame (of `df`'s session), its row count and the probe
    * values in the order given (an empty row without probes). */
  def checkpointProbed(df: DataFrame, probes: Seq[Column]): (DataFrame, Long, Row) = {
    val ds = probes match {
      case p +: ps => ClassicConversions.castToImpl(df).observe(ProbeName, p, ps: _*)
      case _ => ClassicConversions.castToImpl(df)
    }
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      qe.executedPlan.resetMetrics()
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val rows = rdd.count() // computes, stores and marks every partition
      val cp = Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
      (cp, rows, qe.observedMetrics.getOrElse(ProbeName, Row.empty))
    }
  }

  private val ProbeName = "graft_checkpoint_probes"

  /** Blocks until every event posted so far has reached the SparkListeners
    * of `spark` (the listener bus delivers asynchronously). */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Drops the stored rows of a frame made by `localCheckpoint` or
    * [[checkpointProbed]]; reading it afterwards fails. Any other frame is
    * left alone. */
  def release(df: DataFrame): Unit = ClassicConversions.castToImpl(df).logicalPlan match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
