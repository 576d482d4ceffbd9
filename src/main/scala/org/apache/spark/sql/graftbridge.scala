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

  /** The catalog entry behind a built-in session catalog's table
    * (`V1Table` is `private[sql]`); None for any other table. */
  def v1EntryOf(t: connector.catalog.Table)
      : Option[catalyst.catalog.CatalogTable] = t match {
    case v: connector.catalog.V1Table => Some(v.v1Table)
    case _ => None
  }

  /** The table Spark's built-in session catalog serves for an entry
    * of a v2 provider (a `TableProvider` that is not a file source):
    * `V2SessionCatalog` builds it only while no custom session catalog
    * is bound, and leaves it to the custom one otherwise. Built here
    * the same way, skipped like there when the entry's V1 relation is
    * cached; None for any other entry. */
  def providerTable(spark: SparkSession,
                    entry: catalyst.catalog.CatalogTable)
      : Option[connector.catalog.Table] =
    entry.provider
      .filterNot(_ => execution.command.DDLUtils.isHiveTable(entry))
      .filter(_ => spark.sessionState.catalog.getCachedTable(
        catalyst.QualifiedTableName(
          entry.identifier.catalog.getOrElse("spark_catalog"),
          entry.database, entry.identifier.table)) == null)
      .flatMap(execution.datasources.v2.DataSourceV2Utils
        .getTableProvider(_, spark.sessionState.conf))
      .map { provider =>
        val opts = new util.CaseInsensitiveStringMap(
          scala.jdk.CollectionConverters.MapHasAsJava(entry.properties ++
            entry.storage.locationUri.map(u =>
              "path" -> catalyst.catalog.CatalogUtils.URIToString(u)))
            .asJava)
        if (provider.supportsExternalMetadata())
          provider.getTable(entry.schema,
            new connector.catalog.V1Table(entry).partitioning,
            opts.asCaseSensitiveMap())
        else provider.getTable(provider.inferSchema(opts),
          provider.inferPartitioning(opts), opts.asCaseSensitiveMap())
      }

  /** Drop every cached plan (`CACHE TABLE`, `Dataset.cache`) for
    * which `drop` holds. The cache manager keeps its entries private,
    * so they are read by reflection; each match leaves through the
    * public `uncacheQuery`. */
  def uncacheWhere(spark: SparkSession,
                   drop: catalyst.plans.logical.LogicalPlan => Boolean)
      : Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val cm = cs.sharedState.cacheManager
    val entries = classOf[execution.CacheManager]
      .getDeclaredMethod("cachedData")
    entries.setAccessible(true)
    entries.invoke(cm).asInstanceOf[IndexedSeq[execution.CachedData]]
      .map(_.plan).filter(drop)
      .foreach(cm.uncacheQuery(cs, _, cascade = false))
  }

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
