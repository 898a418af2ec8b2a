package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Test-only access to `private[spark]` internals (the
  * [[CatalystBridge]] pattern, but on the TEST classpath — production
  * code never needs these).
  *
  * `waitListenerBus` drains the shared listener bus so a
  * QueryExecutionListener registered by a spec has seen every
  * execution of the actions run so far — PlanAuditSpec uses it to
  * audit plans of CONSTRUCTION-TIME jobs (driver-finish statistics
  * like mannWhitneyU execute inside query construction; their plans
  * never appear in the returned DataFrame). */
object TestBridge {
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A session on `spark`'s context and shared state whose extensions
    * are empty — what a session built without `GraftExtensions` (or any
    * `spark.sql.extensions`) looks like. The constructor is private to
    * Spark, hence reflection. */
  def sessionWithoutExtensions(spark: SparkSession): SparkSession = {
    val c = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classOf[org.apache.spark.sql.classic.SparkSession].getConstructors
      .find(_.getParameterCount == 6).get
      .newInstance(c.sparkContext, Some(c.sharedState), None,
        new org.apache.spark.sql.SparkSessionExtensions,
        Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]
  }
}
