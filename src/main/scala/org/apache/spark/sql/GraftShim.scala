package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-private Column↔Expression converters (Spark 4 moved
  * them behind `private[sql]` in org.apache.spark.sql.classic). Lives in
  * the spark package solely to re-export the two conversions the graft
  * expression layer needs.
  */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Catalyst→source filter translation (protected[sql] in Spark 4) —
    * used by the row-identity scan to hand its pushable predicates to
    * parquet's row-group/page pruning.
    */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** Wrap a LogicalPlan as a DataFrame (classic Dataset.ofRows is
    * sql-private in Spark 4).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan behind a DataFrame. */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** The optimizer's size estimate for a frame — the SAME signal the
    * planner's broadcast decision reads, exposed so an operator can
    * dispatch between a broadcast-shaped and a shuffle-shaped algebra
    * the way the planner itself would.
    */
  def estimatedSizeInBytes(df: Dataset[_]): BigInt =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.optimizedPlan.stats.sizeInBytes

  /** The session's resolved autoBroadcastJoinThreshold in bytes (≤ 0 =
    * broadcasting disabled).
    */
  def autoBroadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Wrap an InternalRow RDD as a (batch) DataFrame — the sql-private
    * constructor a custom streaming Sink needs to detach a micro-batch's
    * rows from the incremental execution that produced them.
    */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** The InternalRow RDD of a frame's executed plan (row objects may be
    * reused by the scan — copy before holding).
    */
  def toRdd(df: Dataset[_]): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd

  /** The RowLevelOperation behind a row-level read relation's table, if
    * any — `RowLevelOperationTable` is sql-private in Spark 4, so the
    * unwrap lives here (used by the pre-CBO auto runtime-group-filter
    * rule to find its own MERGE operation in a ReplaceData plan).
    */
  def rowLevelOperationOf(table: org.apache.spark.sql.connector.catalog.Table)
      : Option[org.apache.spark.sql.connector.write.RowLevelOperation] =
    table match {
      case t: org.apache.spark.sql.connector.write.RowLevelOperationTable =>
        Some(t.operation)
      case _ => None
    }

  /** Parquet MessageType → Spark schema under the session's conf flags
    * (the converter is sql-private) — the fallback for footers without
    * a serialized Spark schema in the driver-side inference path.
    */
  def footerSchema(spark: SparkSession,
      msg: org.apache.parquet.schema.MessageType)
      : org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(
        spark.asInstanceOf[classic.SparkSession].sessionState.conf)
      .convert(msg)

  /** `s` with every field, element and value nullable, at any depth —
    * what a file-source relation applies to any data schema it is given.
    */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** A streaming-tagged frame over an InternalRow RDD (for a source's
    * empty micro-batch, where there is no file relation to re-tag).
    */
  def internalCreateStreamingDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** Re-tag a batch file-relation frame as streaming — what a custom V1
    * streaming Source must hand back from getBatch (MicroBatchExecution
    * asserts isStreaming). The relation, and with it the vectorized
    * parquet scan, pushdown and pruning, is untouched; only the logical
    * flag flips (the FileStreamSource pattern).
    */
  def asStreamingScan(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val plan = logicalPlan(df) match {
      case lr: LogicalRelation => lr.copy(isStreaming = true)
      case other => throw new IllegalStateException(
        s"expected a LogicalRelation scan, got ${other.getClass.getSimpleName}")
    }
    ofRows(df.sparkSession, plan)
  }
}
