package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{Column, Identifier,
  StagedTable, SupportsWrite, Table, TableCapability, TableCatalog}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate,
  V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType

import graft.operators.ManifestTable
import graft.sources.ManifestSql

/** The staged half of an atomic CTAS / `REPLACE TABLE [AS SELECT]`
  * through [[GraftCatalog]]:
  *
  *  - the QUERY's rows land as ONE ledgered OVERWRITE at the root,
  *    through [[ManifestSql.sqlWrite]] (the one whole-table write
  *    owner; a set `spark.graft.sql.batchId` refuses there and the
  *    statement aborts) — the content after the statement IS the
  *    query result (SQL CTAS/RTAS semantics), pre-replace history
  *    stays time-travel readable, and the data swap is atomic by the
  *    manifest's own commit protocol;
  *  - `commitStagedChanges` publishes the catalog entry
  *    ([[GraftCatalog.publishStaged]], with the statement's
  *    `tableProps`): created fresh, refreshed in
  *    place, or repointed in one alterTable — the table NAME is never
  *    absent mid-statement (the window the non-staged drop-then-create
  *    shape has);
  *  - a plain `REPLACE TABLE` (no AS SELECT — nothing written when
  *    commit fires) commits a ledgered EMPTY overwrite of the declared
  *    schema, per SQL semantics — a schema seed, not a user write, so
  *    it calls [[ManifestTable.overwrite]] directly;
  *  - `abortStagedChanges`: a manifest THIS statement inited is
  *    deleted (nothing referenced it); an already-committed data
  *    overwrite is a versioned commit and stays — logged, history
  *    intact, old catalog entry untouched. */
final case class StagedGraftTable(spark: SparkSession,
                                  catalog: GraftCatalog,
                                  ident: Identifier, fullName: String,
                                  root: String, declared: StructType,
                                  tableProps: util.Map[String, String],
                                  replaceSemantics: Boolean,
                                  freshlyInited: Boolean)
  extends StagedTable with SupportsWrite {

  @volatile private var wrote = false

  override def name(): String = fullName

  override def schema(): StructType = declared

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.BATCH_READ).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // overwrite anyway
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean)
                : Unit = {
              ManifestSql.sqlWrite(data.sparkSession, root, data,
                ManifestSql.WriteShape.Overwrite,
                if (declared.isEmpty) data.columns.toSeq
                else declared.fieldNames.toSeq)
              wrote = true
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    // a write-less REPLACE (or a CTAS whose exec never wrote — the
    // engine always writes for CTAS, but the empty-overwrite is the
    // right recovery either way) still replaces the CONTENT
    if (!wrote && (replaceSemantics || freshlyInited) &&
      declared.nonEmpty)
      ManifestTable.overwrite(spark, root, spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), declared))
    catalog.publishStaged(ident, root, tableProps)
    spark.catalog.refreshByPath(root)
  }

  override def abortStagedChanges(): Unit = {
    if (freshlyInited) {
      // nothing referenced this manifest — remove what THIS statement
      // created: the manifest and data trees, then the root only if
      // that emptied it (stageCreate refused non-empty manifest-less
      // locations, so the root was absent or empty before init; still,
      // never recursively delete a root that holds anything else)
      scala.util.Try {
        val p = new org.apache.hadoop.fs.Path(root)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root, "manifest"), true)
        fs.delete(new org.apache.hadoop.fs.Path(root, "data"), true)
        if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, false)
      }
      ()
    } else if (wrote)
      graft.util.Log.warn(
        s"aborted staged CTAS/REPLACE of $fullName after its data " +
          s"overwrite committed at $root — the overwrite is a " +
          "versioned ledger commit (pre-statement rows remain " +
          "time-travel readable); the catalog entry was not changed")
  }
}

/** A CTAS / `REPLACE TABLE [AS SELECT]` of any other v2 provider
  * through the session catalog, run as the built-in catalog runs it
  * (the best-effort staging Delta's `DeltaCatalog` uses): the table
  * already exists, created by the built-in catalog; writes pass
  * through to it; an abort drops it. */
private[catalog] final case class BestEffortStagedTable(
    ident: Identifier, table: Table, catalog: TableCatalog)
  extends StagedTable with SupportsWrite {

  override def name(): String = table.name()

  override def schema(): StructType = table.schema()

  override def columns(): Array[Column] = table.columns()

  override def partitioning(): Array[Transform] = table.partitioning()

  override def properties(): util.Map[String, String] = table.properties()

  override def capabilities(): util.Set[TableCapability] =
    table.capabilities()

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    table match {
      case w: SupportsWrite => w.newWriteBuilder(info)
      case _ => throw new UnsupportedOperationException(
        s"table ${table.name()} does not support writes")
    }

  override def commitStagedChanges(): Unit = ()

  override def abortStagedChanges(): Unit = { catalog.dropTable(ident); () }
}
