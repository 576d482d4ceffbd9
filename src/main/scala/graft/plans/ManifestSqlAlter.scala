package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.{AlterTableAddColumnsCommand,
  LeafRunnableCommand, TruncateTableCommand}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.operators.ManifestTable
import graft.sources.ManifestSql

/** `ALTER TABLE <manifest catalog table> ADD COLUMNS (…)` routed
  * through the schema ledger, with the catalog registration refreshed
  * IN PLACE — so a catalog user evolves the table and keeps reading,
  * instead of hitting the fail-loudly-until-re-register contract a
  * data-path schema commit (rightly) enforces.
  *
  * Spark resolves the statement to [[AlterTableAddColumnsCommand]]
  * for session-catalog V1 tables, whose `run` refuses any datasource
  * it doesn't know how to alter (`graft-manifest` included). This
  * rule replaces the command for manifest-provider tables with one
  * that (1) commits the added columns to the manifest's schema ledger
  * ([[ManifestTable.addColumns]] — metadata-only, zero data I/O,
  * existing files read NULL), (2) updates the catalog entry's stored
  * schema to match, and (3) drops the session's cached relation. A
  * sibling (or future) session then resolves the catalog entry
  * against the new recorded schema directly — no re-register. The
  * ledger commit comes FIRST: if the catalog update then fails, the
  * stale registration fails loudly with the standing re-register
  * instruction rather than serving a schema the table no longer has.
  *
  * RENAME COLUMN and DROP COLUMN(S) route through the same ledger
  * (coalesce chains, tombstones — `ManifestTable.renameColumn` /
  * `dropColumn`), but are REWRITTEN AT PARSE TIME by
  * [[GraftSqlParser]], not here: those statements are v2-only, so
  * `ResolveSessionCatalog` throws for a V1 target DURING resolution,
  * before any injected rule sees the plan. Their runnable commands
  * ([[ManifestSqlAlter.RenameColumnCommand]] /
  * [[ManifestSqlAlter.DropColumnsCommand]]) live in this object
  * beside the ADD COLUMNS one. Because a rename/drop changes the
  * PHYSICAL projection (not just appends nullable fields), their
  * epilogue re-registers the catalog entry the way
  * `registerPersistent` would register the table today: a
  * rename-chained table flips to `<name>_store` + coalesce VIEW
  * (read-only from SQL — the documented rename-chain contract), a
  * drop stays a bare insertable table. Top-level columns only, and a
  * coalesce VIEW's fixed SELECT list cannot itself be altered
  * (alter its `<name>_store` table instead). */
case class ManifestSqlAlter(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case AlterTableAddColumnsCommand(ident, cols)
          if isManifestTable(ident) =>
        ManifestSqlAlter.AddColumnsCommand(ident, cols)

      // Spark's V1 TRUNCATE deletes the files under the table
      // location — on a manifest root that would erase ledger + data
      // behind every reader's back. Rewrite it to the ledgered
      // equivalent: one atomic empty-overwrite commit (schema and
      // declarations carried, history time-travel-able, old files
      // ordinary vacuum orphans).
      case TruncateTableCommand(ident, partSpec)
          if isManifestTable(ident) =>
        require(partSpec.isEmpty,
          "manifest tables have no partitions to truncate")
        ManifestSqlAlter.TruncateCommand(ident)
    }

  private def isManifestTable(ident: TableIdentifier): Boolean =
    scala.util.Try(ManifestSql.manifestEntryOf(spark, ident).isDefined)
      .getOrElse(false)
}

object ManifestSqlAlter {

  private def rootOf(session: SparkSession,
                     ident: TableIdentifier): String =
    ManifestSql.rootOfEntry(
      session.sessionState.catalog.getTableMetadata(ident))

  /** Drop `CACHE TABLE` materializations of the table — they carry
    * the pre-statement schema/data; uncache re-resolves the table,
    * so this runs BEFORE the ledger moves. */
  private def uncache(session: SparkSession, ident: TableIdentifier): Unit = {
    val name = ident.quotedString
    if (session.catalog.isCached(name)) session.catalog.uncacheTable(name)
  }

  /** The shared epilogue of an in-place schema change (ADD COLUMNS,
    * type widening): uncache, the ledger op, then the catalog schema
    * set to the manifest's own PHYSICAL read shape — recorded schema
    * plus rename-chain names, in ITS order (appending to the old
    * catalog schema would drift on a rename-chained STORE table, whose
    * new recorded columns land before the chain names, and trip the
    * provider's schema-drift guard) — and the session's cached
    * RELATION dropped (not Catalog.refreshTable, which would re-drive
    * the OLD FileIndex's refresh and trip its drift guard): the next
    * resolution rebuilds from the updated entry. */
  private def alterInPlace(session: SparkSession, ident: TableIdentifier,
                           root: String)(ledgerOp: => Unit): Seq[Row] = {
    val cat = session.sessionState.catalog
    uncache(session, ident)
    ledgerOp
    val snap = ManifestTable.latest(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root"))
    cat.alterTableDataSchema(ident,
      ManifestSql.physicalSchemaOf(session, root, snap))
    cat.refreshTable(ident)
    Seq.empty
  }

  /** Shared epilogue of a schema-SHAPE change (rename/drop): the
    * physical projection changed, so rebuild the registration the
    * way [[ManifestSql.registerPersistent]] would register it today
    * — a rename-chained table flips to `<name>_store` + coalesce
    * VIEW, a drop stays (or returns to) a bare table. The ledger
    * commit comes FIRST; a failed rebuild leaves the stale entry
    * failing loudly with the standing re-register instruction. */
  private def reRegister(session: SparkSession,
                         ident: TableIdentifier): Unit = {
    val name = ident.unquotedString
    ManifestSql.registerPersistent(session, name,
      rootOf(session, ident))
  }

  /** Resolve a user-written column name against the recorded schema
    * under the session's case-sensitivity conf — the parse-time
    * rewrite bypasses the analyzer's field resolution, so the stock
    * case-insensitive (by default) semantics are re-applied here. */
  private def resolveCol(session: SparkSession, root: String,
                         name: String): Option[String] = {
    val resolver = session.sessionState.conf.resolver
    ManifestTable.latest(root)
      .flatMap(s => ManifestTable.recordedSchemaOf(session, root, s)
        .fieldNames.find(resolver(_, name)))
  }

  /** `ALTER TABLE … RENAME COLUMN a TO b` on a manifest catalog
    * table: ledger rename (old files read through the chain), then
    * the in-place registration rebuild. */
  case class RenameColumnCommand(ident: TableIdentifier,
                                 from: String, to: String)
    extends LeafRunnableCommand {
    override def run(session: SparkSession): Seq[Row] = {
      val root = rootOf(session, ident)
      val resolved = resolveCol(session, root, from).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$from' to rename on ${ident.quotedString}"))
      // the target-name collision check must use the SAME resolver:
      // renaming a -> B on a table with column b would otherwise
      // pass the ledger's exact-match guard and leave every
      // unqualified reference ambiguous under the default
      // case-insensitive resolution (a case-only rename of the SAME
      // column stays allowed)
      resolveCol(session, root, to).filter(_ != resolved).foreach(c =>
        throw new IllegalArgumentException(
          s"cannot rename '$resolved' to '$to' on " +
            s"${ident.quotedString} — it collides with column '$c' " +
            "under the session's case-insensitive resolution"))
      uncache(session, ident)
      ManifestTable.renameColumn(session, root, resolved, to)
      reRegister(session, ident)
      Seq.empty
    }
  }

  /** `ALTER TABLE … DROP COLUMN[S] [IF EXISTS] …` on a manifest
    * catalog table: ledger tombstone per column, then the
    * registration rebuild. Names resolve case-per-conf against the
    * CURRENT recorded schema (the analyzer never sees this plan);
    * with IF EXISTS, absent columns skip silently. The WHOLE list
    * validates up front — missing columns (without IF EXISTS)
    * and dropping every remaining column refuse BEFORE the first
    * ledger commit (duplicates after resolution collapse into one
    * drop), so a multi-column statement cannot half-apply on its
    * own validation; and if a drop still fails mid-list (a concurrent
    * schema race), the registration is rebuilt for whatever DID
    * commit, so the catalog never serves a schema the ledger no
    * longer has. */
  case class DropColumnsCommand(ident: TableIdentifier,
                                cols: Seq[String], ifExists: Boolean)
    extends LeafRunnableCommand {
    override def run(session: SparkSession): Seq[Row] = {
      val root = rootOf(session, ident)
      val victims = cols.flatMap { c =>
        resolveCol(session, root, c) match {
          case Some(r) => Some(r)
          case None if ifExists => None
          case None => throw new IllegalArgumentException(
            s"no column '$c' to drop on ${ident.quotedString} " +
              "(use IF EXISTS to ignore missing columns)")
        }
      }.distinct
      if (victims.nonEmpty) {
        val width = ManifestTable.latest(root)
          .map(s => ManifestTable.recordedSchemaOf(session, root, s)
            .fieldNames.length).getOrElse(0)
        require(victims.size < width,
          s"cannot drop every column of ${ident.quotedString}")
        uncache(session, ident)
        var dropped = 0
        try victims.foreach { c =>
          ManifestTable.dropColumn(session, root, c); dropped += 1
        } finally if (dropped > 0) reRegister(session, ident)
      }
      Seq.empty
    }
  }

  /** The ledgered ALTER: schema-ledger commit, catalog schema update,
    * relation-cache drop — in that order (see class doc). */
  case class AddColumnsCommand(ident: TableIdentifier,
                               colsToAdd: Seq[StructField])
    extends LeafRunnableCommand {
    override def run(session: SparkSession): Seq[Row] = {
      val root = rootOf(session, ident)
      alterInPlace(session, ident, root) {
        ManifestTable.addColumns(session, root,
          StructType(colsToAdd.map(_.copy(nullable = true))))
      }
    }
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE <t>` on a manifest catalog
    * table: the ledger's in-family numeric widening
    * ([[ManifestTable.widenColumn]] — metadata-only, files narrower
    * than the new type upcast at read exactly as Spark's parquet
    * reader always does), then the in-place catalog-schema update of
    * the ADD COLUMNS epilogue (widening changes a column's TYPE, not
    * the projection shape — no re-register needed). Narrowing and
    * cross-family changes refuse loudly from the ledger. */
  case class WidenColumnCommand(ident: TableIdentifier,
                                col: String,
                                to: org.apache.spark.sql.types.DataType)
    extends LeafRunnableCommand {
    override def run(session: SparkSession): Seq[Row] = {
      val root = rootOf(session, ident)
      val resolved = resolveCol(session, root, col).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$col' to widen on ${ident.quotedString}"))
      alterInPlace(session, ident, root) {
        ManifestTable.widenColumn(session, root, resolved, to)
      }
    }
  }

  /** TRUNCATE as a versioned ledger commit: the one whole-table write
    * owner ([[ManifestSql.sqlWrite]]) overwrites with zero rows of the
    * RECORDED schema — never a file deletion (see the rule's doc).
    * Not the catalog schema: a rename-chained `<name>_store` entry
    * also carries the renamed-away names, which the schema ledger
    * refuses to re-introduce. History stays time travel-readable;
    * the superseded files become ordinary vacuum orphans. */
  case class TruncateCommand(ident: TableIdentifier)
    extends LeafRunnableCommand {
    override def run(session: SparkSession): Seq[Row] = {
      val root = rootOf(session, ident)
      val snap = ManifestTable.latest(root).getOrElse(
        throw new IllegalStateException(s"no manifest at $root"))
      val schema = ManifestTable.recordedSchemaOf(session, root, snap)
      uncache(session, ident)
      ManifestSql.sqlWrite(session, root,
        session.createDataFrame(new java.util.ArrayList[Row](), schema),
        ManifestSql.WriteShape.Overwrite, schema.fieldNames.toSeq)
      // drop the cached relation (its FileIndex pin predates the
      // truncate)
      session.sessionState.catalog.refreshTable(ident)
      Seq.empty
    }
  }
}
