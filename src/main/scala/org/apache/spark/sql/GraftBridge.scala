package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column↔Expression bridge for graft's custom Catalyst expressions.
  * `ExpressionUtils` is private[sql] in Spark 4's classic module, so the
  * usual extension-library pattern applies: a minimal adapter compiled
  * into the org.apache.spark.sql package. Only these two conversions are
  * used — no other internals are touched.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached every listener
    * (`listenerBus` is private[spark]). */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Unloads every loaded StateStore provider and cancels the singleton
    * maintenance task. Called by Bench before its final contract print:
    * the maintenance ScheduledExecutor outlives `spark.stop()` and its
    * next tick logs `WARN StateStore: Error running maintenance thread`
    * (SparkEnv already gone) — async output that landed AFTER the
    * contract line in rounds 1–6 and made the driver's last-line JSON
    * parse fail. Public at the bytecode level but `private[sql]` in
    * source, hence this bridge.
    */
  def stopStateStoreMaintenance(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** The materialized RDDs behind the locally-checkpointed Datasets
    * `df` reads (each is a LogicalRDD leaf of its analyzed plan). Lets
    * iterative operators free a dead round's blocks deterministically —
    * the ContextCleaner would reclaim them eventually, but an explicit
    * release keeps the operators' "no leaked frames" cache contract
    * testable. Empty for frames that read no checkpoint.
    */
  def checkpointRdds(df: Dataset[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
}
