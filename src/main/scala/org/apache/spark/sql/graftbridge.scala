package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ Expression bridge.
  *
  * Spark 4 made `Column.expr` / `Column(expr)` private to the sql
  * package (columnNodeSupport.scala); custom Catalyst expressions
  * still need the bridge, so this one-file shim lives in the
  * org.apache.spark.sql package — the documented pattern for
  * extension libraries building native expressions.
  */
object graftbridge {
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Blocks until the (private[spark]) listener bus has delivered
    * every event posted so far, so listener counts read afterwards
    * are complete — a fixed sleep can miss late events. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Public re-export of the `private[sql]` streaming-fallback trait:
    * a DSv2 [[connector.catalog.Table]] implementing it streams
    * through the V1 provider its `v1Table` names (the Delta pattern
    * for `readStream.table` / `writeStream.toTable` without a DSv2
    * reader). */
  trait V1FallbackTable extends connector.catalog.V2TableWithV1Fallback

  /** `Dataset.ofRows` (private[sql] in Spark 4) — a logical plan as a
    * DataFrame, for RunnableCommands that receive a child plan. */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A batch DataFrame re-wrapped with `isStreaming = true` — what a
    * V1 streaming Source's `getBatch` must return (the engine asserts
    * it; `internalCreateDataFrame` is private[sql]). The plan's
    * execution stays lazy: the RDD materializes when the micro-batch
    * runs. */
  def asStreamingFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** A driver-built RDD of InternalRows as a batch DataFrame — the
    * wrap side of hand-rolled checkpoint fusion (materialize + count
    * in one job, then keep using the pinned RDD as a frame). */
  def fromInternalRdd(spark: SparkSession,
                      rdd: org.apache.spark.rdd.RDD[
                        catalyst.InternalRow],
                      schema: types.StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(rdd, schema, isStreaming = false)
  }

  /** The inverse: the micro-batch frame a V1 streaming Sink's
    * `addBatch` receives, re-wrapped as a BATCH DataFrame over the
    * SAME (incremental) execution — planning a new query over the
    * streaming-marked plan would throw, and `toRdd` keeps execution
    * lazy and inside the micro-batch. Callers must materialize it
    * exactly once (the ledgered writers checkpoint or single-action
    * it by construction). */
  def asBatchFrame(spark: SparkSession, df: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** [[fromInternalRdd]] for a materialized RDD of known size: the
    * leaf reports `rows` as its exact row count (and a size from the
    * schema's per-row width), so the planner can broadcast it. */
  def pinnedFrame(spark: SparkSession,
                  rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
                  schema: types.StructType, rows: Long): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val attrs = catalyst.types.DataTypeUtils.toAttributes(schema)
    val stats = catalyst.plans.logical.Statistics(
      sizeInBytes = catalyst.plans.logical.statsEstimation.EstimationUtils
        .getSizePerRow(attrs) * rows,
      rowCount = Some(BigInt(rows)))
    classic.Dataset.ofRows(cs,
      execution.LogicalRDD(attrs, rdd)(cs, Some(stats)))
  }

  /** Driver-held InternalRows as a LocalRelation frame. */
  def localFrame(spark: SparkSession, schema: types.StructType,
                 rows: Seq[catalyst.InternalRow]): DataFrame =
    ofRows(spark, catalyst.plans.logical.LocalRelation(
      catalyst.types.DataTypeUtils.toAttributes(schema), rows))
}
