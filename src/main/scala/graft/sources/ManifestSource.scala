package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{BaseRelation,
  CreatableRelationProvider, DataSourceRegister, SchemaRelationProvider,
  StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.ManifestTable

/** `USING graft-manifest` — the provider behind manifest tables'
  * catalog entries, path reads
  * (`spark.read.format("graft-manifest").load(root)`), `df.write`
  * and streaming: the catalog entry stores only the provider name and
  * the table root.
  *
  * Options:
  *  - `path` (required): the manifest table root;
  *  - `versionAsOf` (optional, ad-hoc reads only): pin a published
  *    version. Persistent entries never carry it — time travel is a
  *    statement-level pin, not a catalog identity.
  *
  * A DSv2 [[TableProvider]] whose table is [[graft.catalog.GraftTable]]
  * keyed by the root, so every read takes the catalog door's read
  * path: a path read is a `DataSourceV2Relation` that
  * [[graft.plans.GraftDsv2Reads]] swaps for [[ManifestSql.relation]],
  * as it does for `db.t`; and `CREATE TABLE … USING graft-manifest` /
  * CTAS stay v2 commands, which [[graft.catalog.GraftCatalog]]
  * serves. The table declares no `BATCH_WRITE` or `STREAMING_WRITE`,
  * so `df.write` and `writeStream` by path take the V1 write and sink
  * arms below. The [[SchemaRelationProvider]] arm serves one caller:
  * a session whose `spark_catalog` is someone else's resolves an
  * entry through Spark's V1 path, and its read is served only while
  * that path's bare relation gives the graft door's rows (no renamed
  * column, no deletion vector, the stored schema still the table's),
  * and refused with the fix named otherwise. Nullability-only drift
  * is tolerated (every recorded field is nullable by construction). */
final class ManifestSource extends TableProvider
  with SchemaRelationProvider with CreatableRelationProvider
  with StreamSinkProvider
  with org.apache.spark.sql.sources.StreamSourceProvider
  with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-manifest requires a 'path' option (the manifest table root)"))

  // ---- STREAMING READ arm (r19): the table itself as a source ----
  // `spark.readStream.table("graft.default.t")` (through the DSv2
  // door's V1 fallback) or `.format("graft-manifest").option("path",
  // root)` streams the table's INSERT-ROW FEED: every row any commit
  // ADDED, in the table's own schema — appends deliver whole batches,
  // row-level updates/merges deliver their rewritten rows (the Delta
  // `ignoreChanges` contract, here the default and documented),
  // compaction delivers nothing. `readChangeFeed=true` serves the
  // full change rows instead (`_change_type`/`_commit_version` —
  // exactly format "graft-cdf", which this arm delegates to, offsets,
  // rate limiting, and restart monotonicity included).

  private def readChangeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.trim.equalsIgnoreCase("true"))

  private def tableSchema(spark: org.apache.spark.sql.SparkSession,
                          root: String): StructType = {
    val full = CdfStreamSource.changeSchema(spark, root)
    StructType(full.fields.dropRight(2)) // minus _change_type/_commit_version
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : (String, StructType) = {
    val root = rootOf(parameters)
    (shortName(),
      if (readChangeFeed(parameters))
        CdfStreamSource.changeSchema(sqlContext.sparkSession, root)
      else tableSchema(sqlContext.sparkSession, root))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val cdf = new CdfStreamSource().createSource(sqlContext,
      metadataPath, None, "graft-cdf", parameters - "readChangeFeed")
    if (readChangeFeed(parameters)) cdf
    else new ManifestSource.InsertFeedSource(cdf,
      tableSchema(sqlContext.sparkSession, rootOf(parameters)))
  }

  private def versionOf(parameters: Map[String, String]): Option[Int] =
    parameters.get("versionAsOf").map(_.trim.toInt)

  // ---- the DSv2 arm: every read is a GraftTable ----

  /** Writers and a supplied schema hand [[getTable]] a schema; only a
    * read without one asks for this. */
  override def supportsExternalMetadata(): Boolean = true

  /** The pinned version's recorded schema (a catalog without graft's
    * stores it on an entry it creates). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val parameters = CaseInsensitiveMap(options.asScala.toMap)
    ManifestSql.recordedSchema(SparkSession.active, rootOf(parameters),
      versionOf(parameters))
  }

  /** The table at the `path` root. Reads nothing: `DataFrameWriter`
    * and `DataStreamWriter` ask for it, with the frame's schema, before
    * they take the V1 arms — a first write creates its root. The
    * schema given is checked against the table's when a read first asks
    * for it. */
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val parameters = CaseInsensitiveMap(properties.asScala.toMap)
    val root = rootOf(parameters)
    graft.catalog.GraftTable(SparkSession.active, root, root, None,
      versionOf(parameters), Some(schema))
  }

  /** The WRITE arm ([[CreatableRelationProvider]]): makes
    * `df.write.format("graft-manifest").option("path", root)`
    * first-class — a table is CREATED (manifest init + first ledgered
    * write) or written through the existing commit protocol, never as
    * raw files. SaveMode maps onto the ledger ops: ErrorIfExists
    * refuses an existing manifest, Ignore no-ops one, Append appends
    * (creating if absent), Overwrite replaces the snapshot atomically
    * (creating if absent). The commit itself is
    * [[ManifestSql.sqlWrite]], the one whole-table write owner, by
    * column name: `spark.graft.sql.batchId` ledgers an append and
    * refuses an overwrite before anything (the init included) lands.
    *
    * Creation-time declarations ride options: `statCols` /
    * `bloomCols` (comma-separated) and `bloomCapacity` — the same
    * knobs as [[ManifestTable.init]]. On an EXISTING table they
    * refuse loudly: stats/bloom shape is a table declaration, not a
    * per-write preference (recompact/re-init to change it). */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    require(parameters.get("versionAsOf").isEmpty,
      "cannot write through a versionAsOf option — time travel is " +
        "read-only")
    val declared = ManifestSql.declarationsOf(parameters)
    val exists = ManifestTable.latest(root).isDefined
    if (exists)
      require(declared.isEmpty,
        s"statCols/bloomCols/bloomCapacity are creation-time " +
          s"declarations and the manifest table at $root already " +
          "exists — drop/re-init the table to change its stat shape")
    // PREDICATE OVERWRITE: mode(Overwrite) + a 'replaceWhere' option
    // (a SQL boolean expression) replaces exactly the matching rows
    // with the batch in one ledgered commit (ManifestTable
    // .overwriteWhere — pruned victim scan, new rows must satisfy
    // the predicate). The daily-partition-reload shape.
    val replaceWhere = parameters.get("replaceWhere").map(_.trim)
      .filter(_.nonEmpty)
    require(replaceWhere.isEmpty || mode == SaveMode.Overwrite,
      "'replaceWhere' applies to mode(\"overwrite\") only")
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"manifest table at $root already exists (SaveMode." +
            "ErrorIfExists) — use mode(\"append\") or mode(\"overwrite\")")
      case SaveMode.Ignore if exists => ()
      case _ =>
        val shape = (mode, replaceWhere) match {
          case (SaveMode.Overwrite, Some(cond)) if exists =>
            ManifestSql.WriteShape.ReplaceWhere(
              org.apache.spark.sql.functions.expr(cond))
          case (SaveMode.Overwrite, _) => ManifestSql.WriteShape.Overwrite
          case _ => ManifestSql.WriteShape.Append
        }
        ManifestSql.sqlWrite(spark, root, data, shape, data.columns.toSeq,
          prepare = () => if (!exists) declared.init(root))
    }
    ManifestSql.baseRelation(spark, root, None)
  }

  /** The STREAMING WRITE arm ([[StreamSinkProvider]]):
    * `df.writeStream.format("graft-manifest").option("path", root)` —
    * every output mode commits through the `#batch:<id>` ledger, so
    * engine-level batch replays no-op (exactly-once without
    * `foreachBatch`). See [[ManifestStreamSink]] for the mode →
    * ledger-op mapping and the one-ledger-per-table contract. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val root = rootOf(parameters)
    require(parameters.get("versionAsOf").isEmpty,
      "cannot write through a versionAsOf option — time travel is " +
        "read-only")
    require(partitionColumns.isEmpty,
      "graft-manifest does not partition by directory — cluster the " +
        "table with compact(clusterBy) / GRAFT COMPACT ... CLUSTER BY " +
        "instead")
    val mergeKey = parameters.get("mergeKey").map(_.trim).filter(_.nonEmpty)
    require(outputMode != OutputMode.Update() || mergeKey.isDefined,
      "update mode replace-or-inserts by key — pass a 'mergeKey' " +
        "option naming the merge column")
    require(outputMode == OutputMode.Update() || mergeKey.isEmpty,
      s"'mergeKey' applies to update mode only (got $outputMode)")
    val declared = ManifestSql.declarationsOf(parameters)
    // the checkpoint LOCATION travels to the sink; the fingerprint
    // itself resolves lazily at the first batch from the STREAMING
    // QUERY ID the engine persists inside the checkpoint — a
    // wiped-and-recreated checkpoint at the same path gets a fresh id
    // and refuses loudly instead of silently no-opping new batches
    // below the old ledger watermark
    new ManifestStreamSink(sqlContext.sparkSession, root, outputMode,
      mergeKey, declared.statCols, declared.bloomCols,
      declared.bloomCapacity,
      parameters.get("checkpointLocation").map(_.trim))
  }

  /** A foreign-catalog session's V1 read of an entry (see the class
    * note): refused on a renamed or DV-carrying table, or when the
    * stored `schema` names other columns or types than the table's. */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String],
                              schema: StructType): BaseRelation = {
    val root = rootOf(parameters)
    val snap = ManifestTable.latest(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root"))
    val fix = s"read it through graft's catalog: set " +
      s"${graft.catalog.GraftCatalog.SessionCatalogKey}=" +
      "graft.catalog.GraftCatalog (Sessions.local and " +
      "GraftCatalog.install do)"
    require(ManifestTable.colmapOfSnap(snap).isEmpty,
      s"the manifest table at $root has renamed columns, which this " +
        s"session's V1 catalog path would read by physical name — $fix")
    require(!ManifestTable.hasDv(snap),
      s"the manifest table at $root carries deletion vectors, which " +
        s"this session's V1 catalog path does not apply — $fix")
    val rel = ManifestSql.baseRelation(sqlContext.sparkSession, root,
      versionOf(parameters))
    require(rel.schema.fieldNames.toSeq == schema.fieldNames.toSeq &&
      rel.schema.fields.map(_.dataType).toSeq ==
        schema.fields.map(_.dataType).toSeq,
      s"manifest table at $root has schema ${rel.schema.simpleString}, " +
        s"not the given ${schema.simpleString} — the table evolved since " +
        s"its catalog registration; $fix, or re-register the entry")
    rel
  }
}

object ManifestSource {

  /** The insert-row feed: the change feed filtered to `insert` rows
    * and projected back to the table's own schema — plan-level
    * transformations of the underlying streaming-marked micro-batch
    * frame, so laziness and the streaming marker carry. Offsets,
    * rate limiting, restart monotonicity, and retention checks all
    * belong to the wrapped CDF source. */
  private final class InsertFeedSource(
      underlying: org.apache.spark.sql.execution.streaming.Source,
      tableSchema: StructType)
    extends org.apache.spark.sql.execution.streaming.Source {
    import org.apache.spark.sql.{functions => F}
    override def schema: StructType = tableSchema
    override def getOffset = underlying.getOffset
    override def getBatch(
        start: Option[org.apache.spark.sql.execution.streaming.Offset],
        end: org.apache.spark.sql.execution.streaming.Offset)
        : DataFrame =
      underlying.getBatch(start, end)
        .filter(F.col("_change_type") === "insert")
        .select(tableSchema.fieldNames.toIndexedSeq.map(F.col): _*)
    override def commit(
        end: org.apache.spark.sql.execution.streaming.Offset): Unit =
      underlying.commit(end)
    override def stop(): Unit = underlying.stop()
  }
}
