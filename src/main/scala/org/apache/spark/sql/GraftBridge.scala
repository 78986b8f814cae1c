package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 made the Column ↔ catalyst-Expression conversion package-
  * private (`classic.ExpressionUtils`); this bridge re-exports the two
  * functions for graft's native expressions. No Spark internals are
  * reimplemented here.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a hand-constructed logical plan (the
    * entry point for graft's custom plan nodes, e.g. AsofJoinNode).
    */
  def ofRows(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** The public extra-strategies hook, typed through the classic
    * session (Spark 4 moved `experimental` off the API interface).
    */
  def experimentalMethods(s: SparkSession): ExperimentalMethods =
    s.asInstanceOf[classic.SparkSession].experimental

  /** Remove the streaming-query listener buses of the throwaway
    * session that started `q`, and of the clone Spark runs the stream
    * in, from the SparkContext's listener bus. Every session's
    * StreamingQueryManager registers one when it is built and Spark
    * never removes it, so each drain in a fresh session would leave
    * listeners on the context for the context's lifetime. Call after
    * `q` stopped; neither session may start a stream afterwards. The
    * bus is a private field, hence the reflection.
    */
  def detachStreamingListenerBuses(q: streaming.StreamingQuery): Unit = {
    val exec = q.asInstanceOf[
      execution.streaming.runtime.StreamingQueryWrapper].streamingQuery
    val field = classOf[classic.StreamingQueryManager]
      .getDeclaredField("listenerBus")
    field.setAccessible(true)
    Seq(exec.sparkSession, exec.sparkSessionForStream).foreach { s =>
      s.sparkContext.removeSparkListener(field.get(s.streams)
        .asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface])
    }
  }
}
