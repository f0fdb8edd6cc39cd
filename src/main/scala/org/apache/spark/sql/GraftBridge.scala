package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark 4's package-private APIs: the Column ↔ catalyst
  * Expression conversions (org.apache.spark.sql.classic.ExpressionUtils),
  * needed to expose custom Catalyst expressions as user-facing Columns,
  * a thread's local properties, which work handed to a thread pool
  * must carry so its jobs stay in the caller's job group, and the
  * listener bus's drain, which [[graft.QueryMeter]] reads behind.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A copy of the calling thread's Spark local properties (job group,
    * description, scheduler pool), to hand to work run on other threads.
    */
  def localProperties(sc: org.apache.spark.SparkContext): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  /** Run `body` with a copy of `props` as this thread's local properties
    * (Spark sets per-query entries in them, so concurrent threads must not
    * share one object), then put the thread's own back (a pooled thread
    * must not keep a caller's).
    */
  def withLocalProperties[T](sc: org.apache.spark.SparkContext,
      props: java.util.Properties)(body: => T): T = {
    val own = sc.getLocalProperties
    sc.setLocalProperties(org.apache.spark.util.Utils.cloneProperties(props))
    try body finally sc.setLocalProperties(own)
  }

  /** Block until the listener bus has delivered every event posted so far;
    * throws `java.util.concurrent.TimeoutException` after `timeoutMs`.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
