package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write,
  Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType

import graft.operators.ManifestTable
import graft.sources.ManifestSql

/** The DSv2 [[Table]] of a manifest table — behind a catalog name
  * ([[GraftCatalog]]) and a path read (`spark.read.format(
  * "graft-manifest").load(root)`, through
  * [[graft.sources.ManifestSource]]'s `TableProvider` arm) alike.
  * Deliberately THIN:
  *
  *  - READS carry no scan machinery here. The table declares
  *    `BATCH_READ`, and the injected [[graft.plans.GraftDsv2Reads]]
  *    rule replaces its `DataSourceV2Relation` with the pruned
  *    snapshot-pinned V1 relation ([[ManifestSql.relation]]) during
  *    analysis — one shared scan path for every door (the public
  *    DeltaAnalysis pattern; a second DSv2 reader would duplicate the
  *    stats/Bloom pruning and lose the vectorized parquet exec). A
  *    session without the graft extensions never swaps it, and its
  *    scan builder refuses with the fix named.
  *  - WRITES go through the `V1_BATCH_WRITE` fallback: the
  *    [[WriteBuilder]] picks the write shape (append, overwrite,
  *    replace-where) and its [[V1Write]]'s [[InsertableRelation]]
  *    hands it to [[ManifestSql.sqlWrite]], the one owner every door
  *    commits whole-table writes through — `INSERT INTO db.t` is one
  *    atomic manifest commit, `INSERT OVERWRITE` (truncate mode) an
  *    atomic snapshot replace, `TRUNCATE TABLE` ([[truncateTable]]) a
  *    ledgered empty overwrite. A time-travel pin refuses writes.
  *    (`df.write` and `writeStream` by path find no `BATCH_WRITE` /
  *    `STREAMING_WRITE` here and take the provider's V1 write arms.)
  *
  * `versionAsOf` pins a snapshot (the native v2 time-travel overloads
  * `VERSION AS OF` / `TIMESTAMP AS OF`, or a path read's option). The
  * SCHEMA is the pinned snapshot's logical read shape (renamed columns
  * under their new names) — exactly what the V1 relation will serve
  * when the read rule swaps it in; a `declared` schema (a path read's
  * supplied one) must name the same columns and types, or the first
  * read of the schema refuses. Nothing is read before that: a writer
  * asks for the table of a root that may not exist yet. `entry` is
  * the session-catalog entry a catalog name resolved to (None for a
  * path read). */
final case class GraftTable(spark: SparkSession, fullName: String,
                            root: String,
                            entry: Option[org.apache.spark.sql.catalyst
                              .catalog.CatalogTable],
                            versionAsOf: Option[Int],
                            declared: Option[StructType] = None)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.TruncatableTable
  with org.apache.spark.sql.graftbridge.V1FallbackTable {

  override def name(): String = fullName

  /** The one guard for what needs the live head — every write, and
    * streaming: a time-travel pin is a fixed snapshot. */
  private def requireHead(verb: String): Unit =
    require(versionAsOf.isEmpty,
      s"cannot $verb a time-travel pin of $fullName — time travel is " +
        "read-only; address the head")

  /** NATIVE v2 DELETE ([[org.apache.spark.sql.connector.catalog
    * .SupportsDelete]]) — the API-contract door for a
    * filter-translatable `DELETE FROM db.t`: Spark's own
    * `OptimizeMetadataOnlyDeleteFromTable` plans it straight to this
    * call. The injected rewrite chain (GraftDsv2Reads → ManifestSqlDml)
    * serves SQL DML first — this door is the structural backstop that
    * keeps v2-addressed DELETE working if the analyzer's rule order
    * reshuffles, and commits through the same
    * [[ManifestSql.sqlDeleteAt]] (which honors the table's `#dvmode:`
    * declaration). */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    versionAsOf.isEmpty

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    requireHead("DELETE from")
    ManifestSql.sqlDeleteAt(SparkSession.active, root,
      GraftTable.conditionOf(filters))
  }

  /** `TRUNCATE TABLE` as a versioned ledger commit: the whole-table
    * write owner ([[ManifestSql.sqlWrite]]) overwrites with zero rows
    * of the RECORDED schema, whatever the table's `#dvmode` — never a
    * file deletion. History stays time-travel readable; the superseded
    * files become ordinary vacuum orphans. */
  override def truncateTable(): Boolean = {
    requireHead("TRUNCATE")
    val session = SparkSession.active
    val head = ManifestTable.latest(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root"))
    val schema = ManifestTable.recordedSchemaOf(session, root, head)
    ManifestSql.sqlWrite(session, root,
      session.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        schema),
      ManifestSql.WriteShape.Overwrite, schema.fieldNames.toSeq)
    true
  }

  /** STREAMING fallback (r19): `spark.readStream.table("db.t")` /
    * `writeStream.toTable(…)` resolve through the V1 provider this
    * CatalogTable names — `graft-manifest`'s StreamSourceProvider
    * (the insert-row feed; `readChangeFeed=true` for change rows) and
    * its exactly-once ledgered sink. Only the head streams: a
    * time-travel pin is a fixed snapshot. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog
      .CatalogTable = {
    requireHead("stream")
    entry.getOrElse(throw new IllegalStateException(
      s"$fullName has no catalog entry to stream through"))
  }

  /** The pinned relation — built once per analysis (the same pin the
    * rewrite rule serves, so schema and scan agree). Head pins stay
    * `versionAsOf = None` — the DML rewrites downstream must see a
    * HEAD registration (writable), not a frozen version. */
  lazy val relation: DataFrame =
    ManifestSql.relation(spark, root, versionAsOf)

  /** A FRESH relation with its own exprIds: the analyzer caches one
    * [[GraftTable]] per name per query, so a self-join sees this
    * instance twice — the second occurrence must not share the
    * first's output attributes (Spark's DeduplicateRelations has
    * already run by post-hoc time). A head pin re-resolves the head;
    * a commit racing mid-analysis between the two constructions is
    * the same exposure any two same-query file-source scans share. */
  def freshRelation: DataFrame =
    ManifestSql.relation(spark, root, versionAsOf)

  override def schema(): StructType = {
    val own = relation.schema
    def shape(s: StructType) = s.fields.toSeq.map(f => f.name -> f.dataType)
    declared.foreach(d => require(shape(d) == shape(own),
      s"manifest table at $root has schema ${own.simpleString}, not the " +
        s"given ${d.simpleString} — read it without a schema: the " +
        "manifest records its own"))
    own
  }

  override def newScanBuilder(options: org.apache.spark.sql.util
      .CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    throw new UnsupportedOperationException(
      s"$fullName is read through graft's session extensions: set " +
        "spark.sql.extensions=graft.plans.GraftSparkExtensions " +
        "(Sessions.local does)")

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER).asJava

  override def properties(): util.Map[String, String] =
    Map("path" -> root,
      "provider" -> ManifestSql.ManifestProvider).asJava

  /** `INSERT INTO` arrives with no filters (append), `INSERT
    * OVERWRITE` as truncate() (= overwrite AlwaysTrue), `INSERT INTO …
    * REPLACE WHERE <cond>` as overwrite(filters) — the PREDICATE
    * OVERWRITE shape ([[graft.operators.ManifestTable.overwriteWhere]]:
    * replace exactly the matching rows with the query's in one
    * ledgered commit; new rows must satisfy the predicate). Every
    * shape commits through [[ManifestSql.sqlWrite]], aligned to the
    * head's columns. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var shape: ManifestSql.WriteShape = ManifestSql.WriteShape.Append
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : WriteBuilder = {
        shape =
          if (filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue))
            ManifestSql.WriteShape.Overwrite
          else ManifestSql.WriteShape.ReplaceWhere(
            GraftTable.conditionOf(filters))
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit = {
              requireHead("INSERT into")
              val session = data.sparkSession
              // positional alignment to the head's LOGICAL names — the
              // recorded schema; no relation is built for the write
              val head = ManifestTable.latest(root)
                .getOrElse(throw new IllegalStateException(
                  s"no manifest at $root"))
              ManifestSql.sqlWrite(session, root, data, shape,
                ManifestTable.recordedSchemaOf(session,
                  root, head).fieldNames.toSeq)
            }
          }
      }
    }
}

object GraftTable {

  /** The conjunction of translated source filters as a Column (TRUE
    * for none) — a v2 DELETE or REPLACE WHERE condition. */
  private def conditionOf(filters: Array[org.apache.spark.sql.sources.Filter])
      : org.apache.spark.sql.Column =
    filters.map(filterToColumn).reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))

  /** The v2 `REPLACE WHERE` condition arrives as translated source
    * filters — re-expressed as a Column for the ledgered predicate
    * overwrite. Every translatable shape is covered; an unknown
    * filter class refuses loudly (never silently widen or narrow a
    * REPLACE region). */
  private[catalog] def filterToColumn(
      f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.functions._
    f match {
      case AlwaysTrue() => lit(true)
      case AlwaysFalse() => lit(false)
      case EqualTo(a, v) => col(a) === lit(v)
      case EqualNullSafe(a, v) => col(a) <=> lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isInCollection(vs.toSeq)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case And(l, r) => filterToColumn(l) && filterToColumn(r)
      case Or(l, r) => filterToColumn(l) || filterToColumn(r)
      case Not(c) => !filterToColumn(c)
      case StringStartsWith(a, v) => col(a).startsWith(v)
      case StringEndsWith(a, v) => col(a).endsWith(v)
      case StringContains(a, v) => col(a).contains(v)
      case other => throw new UnsupportedOperationException(
        s"REPLACE WHERE filter shape ${other.getClass.getSimpleName} " +
          "is not supported on manifest tables")
    }
  }
}
