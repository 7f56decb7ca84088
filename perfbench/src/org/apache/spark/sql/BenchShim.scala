package org.apache.spark.sql

import org.apache.spark.sql.execution.SparkPlan

/** The two Spark-private hooks the benchmark needs from outside the
  * engine: the physical plan of a frame (to time planning on its own)
  * and a drain of the listener bus (so counters are complete before
  * they are read).
  */
object BenchShim {
  def executedPlan(df: DataFrame): SparkPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan

  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
