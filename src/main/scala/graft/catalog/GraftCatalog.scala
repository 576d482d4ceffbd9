package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException,
  NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.ManifestTable
import graft.plans.ManifestSqlAlter
import graft.sources.ManifestSql

/** The DSv2 `TableCatalog` door onto graft-manifest tables — the
  * structural alternative to the parse-time re-routes the V1
  * session-catalog path needs (`GraftSqlParser`): under a v2 catalog,
  * Spark's OWN analyzer serves time travel (`loadTable(ident,
  * version/timestamp)` overloads), ALTER (RENAME/DROP COLUMN included
  * — the statements that are v2-only and die in `ResolveSessionCatalog`
  * for V1 targets), and INSERT (a [[org.apache.spark.sql.connector
  * .write.V1Write]] onto the ledgered commit) with no injected
  * string rewriting at all.
  *
  * Install: `spark.sql.catalog.graft=graft.catalog.GraftCatalog`
  * (settable at runtime before first use — [[GraftCatalog.install]]).
  * Then `graft.db.t` addresses the SAME table `db.t` names on the V1
  * path: this catalog is a v2 WINDOW onto the session catalog's
  * `USING graft-manifest` entries (namespaces = databases), not a
  * second metadata store — both doors always see one table. The V1
  * path keeps working unchanged; migration is incremental by
  * construction.
  *
  * Reads: [[GraftTable]] carries no scan machinery of its own — the
  * injected [[graft.plans.GraftDsv2Reads]] resolution rule replaces
  * the analyzed `DataSourceV2Relation` with the SAME pruned,
  * snapshot-pinned V1 relation every other door serves
  * ([[ManifestSql.relation]]), exprIds re-stamped so parent operators
  * keep resolving (the public DeltaAnalysis pattern). One scan
  * implementation for the engine — stats pruning, Bloom skipping, and
  * the vectorized parquet path are shared, not duplicated. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with StagingTableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
  }

  override def name(): String = catalogName

  private def session: SparkSession = SparkSession.active

  private def sessionCatalog = session.sessionState.catalog

  private def v1Ident(ident: Identifier): TableIdentifier = {
    ident.namespace() match {
      case Array() => TableIdentifier(ident.name(),
        Some(sessionCatalog.getCurrentDatabase))
      case Array(db) => TableIdentifier(ident.name(), Some(db))
      case other => throw new NoSuchTableException(
        Array(catalogName) ++ other :+ ident.name())
    }
  }

  /** A resolved manifest behind a graft identifier: the table root,
    * plus whether the registration is RENAME-CHAINED (`<name>_store`
    * manifest table + coalesce VIEW `<name>` — what the V1 door's
    * rename epilogue leaves). A chained table READS through this door
    * (the relation applies the colmap projection itself); writes and
    * ALTERs refuse with the store named, mirroring the V1 read-only
    * rename-chain contract. */
  private final case class Resolved(root: String, chained: Boolean,
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable)

  /** Resolve a graft identifier to its manifest root, or a loud
    * NoSuchTable — this catalog only ever serves `USING
    * graft-manifest` entries (directly, or through their
    * rename-chain `<name>_store` sibling); other providers keep
    * resolving through their own doors. */
  private def resolve(ident: Identifier): Resolved = {
    val v1 = v1Ident(ident)
    def missing = new NoSuchTableException(
      Array(catalogName) ++ ident.namespace() :+ ident.name())
    def resolved(meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
                 chained: Boolean) =
      Resolved(ManifestSql.rootOfEntry(meta), chained, meta)
    ManifestSql.manifestEntryOf(session, v1)
      .map(resolved(_, chained = false))
      .orElse {
        // the rename-chain shape: `name` is a VIEW over `name_store`
        val viewShaped = sessionCatalog.tableExists(v1) &&
          !sessionCatalog.isTempView(v1) &&
          sessionCatalog.getTableMetadata(v1).tableType ==
            org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW
        if (!viewShaped) None
        else ManifestSql.manifestEntryOf(session,
          v1.copy(table = v1.table + "_store")).map(resolved(_, chained = true))
      }
      .getOrElse(throw missing)
  }

  override def loadTable(ident: Identifier): Table = {
    val r = resolve(ident)
    GraftTable(session, fullName(ident), r.root, None,
      readOnlyChain = r.chained, v1Meta = Some(r.meta))
  }

  /** `VERSION AS OF <n>` — served natively by the v2 resolution
    * path; no parse-time re-route. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val r = resolve(ident)
    val v = scala.util.Try(version.trim.toInt).getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF on ${fullName(ident)} takes an integer " +
          s"manifest version; got '$version'"))
    GraftTable(session, fullName(ident), r.root, Some(v),
      readOnlyChain = r.chained, v1Meta = Some(r.meta))
  }

  /** `TIMESTAMP AS OF <ts>` — `timestamp` arrives in MICROseconds
    * since epoch, already parsed by the analyzer in the session
    * timezone; resolved by commit mtime ([[ManifestTable.versionAt]],
    * the Delta convention) AT RESOLUTION time, like every other
    * registration-free pin. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val r = resolve(ident)
    val millis = Math.floorDiv(timestamp, 1000L)
    val v = ManifestTable.versionAt(r.root, millis).getOrElse(
      throw new IllegalArgumentException(
        s"TIMESTAMP AS OF predates every surviving version of " +
          fullName(ident)))
    GraftTable(session, fullName(ident), r.root, Some(v),
      readOnlyChain = r.chained, v1Meta = Some(r.meta))
  }

  private def fullName(ident: Identifier): String =
    (Seq(catalogName) ++ ident.namespace() :+ ident.name()).mkString(".")

  /** Only a definitive "no such table" answers false — a transient
    * metastore failure must propagate, not read as "absent" (which
    * could green-light a CREATE over a live table). */
  override def tableExists(ident: Identifier): Boolean =
    try { resolve(ident); true }
    catch { case _: NoSuchTableException => false }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val db = namespace match {
      case Array() => sessionCatalog.getCurrentDatabase
      case Array(d) => d
      case other => throw new NoSuchNamespaceException(
        Array(catalogName) ++ other)
    }
    if (!sessionCatalog.databaseExists(db))
      throw new NoSuchNamespaceException(Array(catalogName, db))
    sessionCatalog.listTables(db).filter { t =>
      scala.util.Try(ManifestSql.isManifestEntry(
        sessionCatalog.getTableMetadata(t))).getOrElse(false)
    }.map(t => Identifier.of(Array(db), t.table)).toArray
  }

  /** CREATE TABLE graft.db.t (cols) — requires a `path`/`location`
    * property. A manifest already there registers as-is (schemas must
    * agree is the reader's business — the recorded schema wins); an
    * absent one is INITIALIZED with the declared columns recorded via
    * an empty ledgered overwrite, honoring `statCols`/`bloomCols`/
    * `bloomCapacity` properties. The entry lands in the session
    * catalog (`USING graft-manifest`), so the V1 door sees it too. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft-manifest does not partition by directory — cluster with " +
        "GRAFT COMPACT ... CLUSTER BY instead")
    val props = properties.asScala
    val root = props.get("path").orElse(props.get("location")).getOrElse(
      throw new IllegalArgumentException(
        s"CREATE TABLE ${fullName(ident)} needs a 'path' (or " +
          "'location') property naming the manifest root"))
    ManifestTable.latest(root) match {
      case None =>
        ManifestSql.declarationsOf(props).init(root)
        // the schema seed — not a user write, so not through the
        // whole-table write owner
        if (schema.nonEmpty)
          ManifestTable.overwrite(session, root, session.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            StructType(schema.fields.map(_.copy(nullable = true)))))
      case Some(snap) if schema.nonEmpty =>
        // registering an existing manifest: the RECORDED schema wins
        // (documented contract) — but a silently-ignored declaration
        // surprises; say so when they differ
        val recorded = ManifestTable.recordedSchemaOf(session, root, snap)
        val declared =
          StructType(schema.fields.map(_.copy(nullable = true)))
        if (recorded != declared)
          graft.util.Log.warn(
            s"CREATE TABLE ${fullName(ident)}: the manifest at $root " +
              s"already exists; its recorded schema " +
              s"(${recorded.simpleString}) wins over the declared " +
              s"column list (${declared.simpleString})")
      case _ => ()
    }
    val v1 = v1Ident(ident)
    ManifestSql.registerPersistent(session, v1.unquotedString, root)
    loadTable(ident)
  }

  // ---- ATOMIC CTAS / REPLACE (StagingTableCatalog, r19) ----
  // CTAS and REPLACE TABLE [AS SELECT] stage their work and publish
  // in commitStagedChanges, so a REPLACE never has a window where the
  // table is absent (the non-staged drop-then-create shape): the data
  // swap is ONE ledgered overwrite at the root, and the catalog entry
  // is refreshed (same root) or repointed (one alterTable) — never
  // dropped. A plain REPLACE TABLE (no AS SELECT) that writes nothing
  // commits a ledgered EMPTY overwrite of the declared schema, per
  // SQL semantics. abort: a manifest this statement inited is deleted
  // (nothing referenced it); a committed data overwrite stays — it is
  // a versioned commit, history intact — and is WARNed about.

  private def stagedTable(ident: Identifier,
                          info: org.apache.spark.sql.connector.catalog
                            .TableInfo,
                          replace: Boolean, orCreate: Boolean)
      : StagedTable = {
    require(info.partitions().isEmpty,
      "graft-manifest does not partition by directory — cluster with " +
        "GRAFT COMPACT ... CLUSTER BY instead")
    val props = info.properties().asScala
    val existing = scala.util.Try(resolve(ident)).toOption
    if (!replace && existing.isDefined)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Array(catalogName) ++ ident.namespace() :+ ident.name())
    if (replace && !orCreate && existing.isEmpty)
      throw new NoSuchTableException(
        Array(catalogName) ++ ident.namespace() :+ ident.name())
    existing.filter(_.chained).foreach(_ =>
      throw new UnsupportedOperationException(
        s"${fullName(ident)} is a rename-chained registration — " +
          s"replace its ${ident.name()}_store, or drop both objects " +
          "first"))
    val root = props.get("path").orElse(props.get("location"))
      .orElse(existing.map(_.root)).getOrElse(
        throw new IllegalArgumentException(
          s"CREATE/REPLACE TABLE ${fullName(ident)} needs a 'path' " +
            "(or LOCATION) naming the manifest root"))
    val freshlyInited = ManifestTable.latest(root).isEmpty
    if (freshlyInited) {
      // a staged statement that fails must be able to clean up what
      // it created WITHOUT destroying anything else — so a CTAS /
      // REPLACE may only INITIALIZE into an absent or empty
      // directory. A non-empty, manifest-less location (e.g. a plain
      // parquet dataset) refuses loudly: aborting such a statement
      // would otherwise have to guess which of the directory's
      // contents it owns.
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(session.sparkContext.hadoopConfiguration)
      require(!fs.exists(p) || fs.listStatus(p).isEmpty,
        s"CREATE/REPLACE TABLE ${fullName(ident)}: $root exists, is " +
          "not empty, and carries no manifest — refusing to stage a " +
          "table into it (an aborted statement could not clean up " +
          "without touching pre-existing contents); point at an " +
          "empty/absent location or init the manifest explicitly")
      ManifestSql.declarationsOf(props).init(root)
    }
    StagedGraftTable(session, this, ident, fullName(ident), root,
      StructType(info.schema().fields.map(_.copy(nullable = true))),
      replaceSemantics = replace, freshlyInited = freshlyInited)
  }

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : StagedTable = stagedTable(ident, info, replace = false,
    orCreate = false)

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : StagedTable = stagedTable(ident, info, replace = true,
    orCreate = false)

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : StagedTable = stagedTable(ident, info, replace = true,
    orCreate = true)

  /** The publish half of a staged CTAS/REPLACE: the catalog entry is
    * created fresh, schema-refreshed in place (same root), or
    * repointed in ONE alterTable (new root) — the table name is never
    * absent mid-statement. */
  private[catalog] def publishStaged(ident: Identifier,
                                     root: String): Unit = {
    val v1 = v1Ident(ident)
    val existing = scala.util.Try(resolve(ident)).toOption
    existing match {
      case None =>
        ManifestSql.registerPersistent(session, v1.unquotedString, root)
      case Some(r) =>
        val snap = ManifestTable.latest(root).getOrElse(
          throw new IllegalStateException(s"no manifest at $root"))
        val physical = ManifestSql.physicalSchemaOf(session, root, snap)
        val meta = sessionCatalog.getTableMetadata(v1)
        if (r.root == root) {
          if (meta.dataSchema != physical)
            sessionCatalog.alterTableDataSchema(v1, physical)
        } else {
          // repoint storage + schema in one catalog operation
          sessionCatalog.alterTable(meta.copy(
            schema = physical,
            storage = meta.storage.copy(
              locationUri = Some(new org.apache.hadoop.fs.Path(root)
                .toUri),
              properties = meta.storage.properties + ("path" -> root))))
        }
        sessionCatalog.refreshTable(v1)
    }
  }

  /** ALTER under v2 — the statements that needed parse-time
    * re-routing on the V1 path resolve natively here; each change
    * routes through the SAME ledger commands the V1 door uses (one
    * owner per semantic). */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val v1 = v1Ident(ident)
    val r = resolve(ident) // existence + provider check
    require(!r.chained,
      s"${fullName(ident)} is a rename-chained registration (a " +
        s"coalesce VIEW over ${ident.name()}_store) — its fixed " +
        s"SELECT list cannot be altered; ALTER " +
        s"${ident.name()}_store instead")
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "manifest ALTER adds top-level columns only; " +
            s"'${add.fieldNames().mkString(".")}' is nested")
        ManifestSqlAlter.AddColumnsCommand(v1, Seq(
          org.apache.spark.sql.types.StructField(
            add.fieldNames().head, add.dataType(),
            nullable = true))).run(session)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames().length == 1,
          "manifest ALTER renames top-level columns only; " +
            s"'${rn.fieldNames().mkString(".")}' is nested")
        ManifestSqlAlter.RenameColumnCommand(v1,
          rn.fieldNames().head, rn.newName()).run(session)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames().length == 1,
          "manifest ALTER drops top-level columns only; " +
            s"'${del.fieldNames().mkString(".")}' is nested")
        ManifestSqlAlter.DropColumnsCommand(v1,
          Seq(del.fieldNames().head), del.ifExists()).run(session)
      case upd: TableChange.UpdateColumnType =>
        require(upd.fieldNames().length == 1,
          "manifest ALTER COLUMN TYPE changes top-level columns only; " +
            s"'${upd.fieldNames().mkString(".")}' is nested")
        ManifestSqlAlter.WidenColumnCommand(v1,
          upd.fieldNames().head, upd.newDataType()).run(session)
      case other => throw new UnsupportedOperationException(
        s"graft catalog does not support table change " +
          s"${other.getClass.getSimpleName} — supported: ADD COLUMNS, " +
          "RENAME COLUMN, DROP COLUMN, ALTER COLUMN TYPE (in-family " +
          "numeric widening)")
    }
    loadTable(ident)
  }

  /** DROP TABLE drops the catalog entry; the manifest root (an
    * external location by construction) stays on disk. A
    * rename-chained registration is TWO session-catalog objects
    * (coalesce VIEW + `<name>_store` table) — dropping only the view
    * would orphan the store, so it refuses loudly like ALTER/RENAME
    * do: drop both objects through the session catalog. */
  override def dropTable(ident: Identifier): Boolean = {
    val r = try Some(resolve(ident))
      catch { case _: NoSuchTableException => None }
    r match {
      case None => false
      case Some(res) =>
        require(!res.chained,
          s"${fullName(ident)} is a rename-chained registration (a " +
            s"coalesce VIEW over ${ident.name()}_store) — drop BOTH " +
            "objects through the session catalog (DROP VIEW " +
            s"${ident.name()}; DROP TABLE ${ident.name()}_store)")
        sessionCatalog.dropTable(v1Ident(ident), ignoreIfNotExists = true,
          purge = false)
        true
    }
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    val r = resolve(oldIdent)
    require(!r.chained,
      s"rename the ${oldIdent.name()}_store pair through the session " +
        "catalog — a chained registration is two objects")
    sessionCatalog.renameTable(v1Ident(oldIdent), v1Ident(newIdent))
  }

  override def invalidateTable(ident: Identifier): Unit =
    scala.util.Try(sessionCatalog.refreshTable(v1Ident(ident)))

  // ---- namespaces = the session catalog's databases ----

  override def defaultNamespace(): Array[String] =
    Array(sessionCatalog.getCurrentDatabase)

  override def listNamespaces(): Array[Array[String]] =
    sessionCatalog.listDatabases().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = namespace match {
    case Array() => listNamespaces()
    case Array(db) if sessionCatalog.databaseExists(db) => Array.empty
    case other => throw new NoSuchNamespaceException(
      Array(catalogName) ++ other)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace match {
      case Array(db) => sessionCatalog.databaseExists(db)
      case _ => false
    }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = namespace match {
    case Array(db) if sessionCatalog.databaseExists(db) =>
      new util.HashMap[String, String]()
    case other => throw new NoSuchNamespaceException(
      Array(catalogName) ++ other)
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "create databases through the session catalog (CREATE DATABASE)")

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "alter databases through the session catalog")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "drop databases through the session catalog (DROP DATABASE)")
}

object GraftCatalog {

  /** The conf key installing this catalog as `graft` — settable at
    * runtime BEFORE the first `graft.…` reference (Spark loads
    * catalog plugins lazily, once, per session). */
  val ConfKey = "spark.sql.catalog.graft"

  /** Install the catalog into a live session (idempotent; a user's
    * own `graft` catalog binding, if any, is never clobbered). */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[GraftCatalog].getName)
}
