package org.apache.spark.sql.perfbench

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The few Spark-internal reads the benchmark's probe needs. They are
  * package-private in Spark, hence this object lives under
  * `org.apache.spark.sql`.
  */
object SparkProbeAccess {

  /** Block until every listener event posted so far is delivered. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Cached RDD blocks held by the block managers. */
  def rddBlocks(): Int =
    SparkEnv.get.blockManager.master.getStorageStatus.map(_.rddBlocks.size).sum

  /** The query execution a finished SQL execution ran (null for
    * events replayed from a log).
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  def queryExecution(df: DataFrame): QueryExecution =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution

  /** Planning phases recorded so far: name -> (start ms, end ms). */
  def phases(qe: QueryExecution): Map[String, (Long, Long)] =
    qe.tracker.phases.map { case (k, p) => k -> ((p.startTimeMs, p.endTimeMs)) }

  def cachedPlans(spark: org.apache.spark.sql.SparkSession): Boolean =
    !spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
