package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat,
  CatalogTable, CatalogTableType, CatalogUtils}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.v2.V2SessionCatalog
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.ManifestTable
import graft.sources.ManifestSql

/** The one SQL catalog door onto graft-manifest tables — the
  * `DelegatingCatalogExtension` pattern (Delta's `DeltaCatalog`),
  * bound as the SESSION catalog: `spark.sql.catalog.spark_catalog=
  * graft.catalog.GraftCatalog` ([[graft.api.Sessions.local]] sets it
  * at build time, [[GraftCatalog.install]] at runtime). A `USING
  * graft-manifest` entry loads as a [[GraftTable]]; every other name
  * is the built-in catalog's, unchanged (a parquet table still loads
  * as its `V1Table` and keeps every V1 command; a v2 provider's table
  * and its CTAS/REPLACE are served as the built-in catalog serves
  * them). So `db.t` is a DSv2
  * table, and Spark's OWN analyzer serves its time travel
  * (`loadTable(ident, version/timestamp)`), ALTER ([[alterTable]]),
  * TRUNCATE ([[GraftTable.truncateTable]]), INSERT (a V1Write onto
  * the ledgered commit) and streaming (the V1 fallback) — no
  * parse-time rewrite and no post-hoc rule per verb. `CREATE TABLE …
  * USING graft-manifest`, CTAS and REPLACE stay v2 commands (the
  * provider is a `TableProvider`) and land in [[createTable]] and the
  * staging methods, which branch on the statement's provider.
  *
  * The same class bound under another name (`spark.sql.catalog.graft`,
  * the `graft.db.t` alias) is a window onto the same entries that
  * serves manifest entries only: other names are NoSuchTable there.
  *
  * Reads: [[GraftTable]] carries no scan machinery of its own — the
  * injected [[graft.plans.GraftDsv2Reads]] resolution rule replaces
  * the analyzed `DataSourceV2Relation` with the pruned V1 relation
  * ([[ManifestSql.relation]]) of the head at resolution time, so a
  * catalog name reads the head at each statement, renamed columns
  * read through their chain and deletion vectors are overlaid. The
  * entry's stored schema drives nothing: a Scala-side schema commit
  * needs no re-register. */
class GraftCatalog extends DelegatingCatalogExtension
  with StagingTableCatalog {

  private var catalogName: String = GraftCatalog.SessionCatalogName

  /** Bound under any name but `spark_catalog`, Spark hands this no
    * delegate — the alias then delegates namespaces to a built-in
    * catalog over the same session catalog, and serves manifest
    * entries only. */
  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    if (isAlias)
      delegate = new V2SessionCatalog(SparkSession.active.sessionState.catalog)
  }

  override def name(): String = catalogName

  private def isAlias: Boolean =
    !catalogName.equalsIgnoreCase(GraftCatalog.SessionCatalogName)

  private def session: SparkSession = SparkSession.active

  private def sessionCatalog = session.sessionState.catalog

  private def v1Ident(ident: Identifier): TableIdentifier =
    ident.namespace() match {
      case Array() => TableIdentifier(ident.name(),
        Some(sessionCatalog.getCurrentDatabase))
      case Array(db) => TableIdentifier(ident.name(), Some(db))
      case _ => throw missing(ident)
    }

  private def missing(ident: Identifier) = new NoSuchTableException(
    Array(catalogName) ++ ident.namespace() :+ ident.name())

  private def fullName(ident: Identifier): String =
    (Seq(catalogName) ++ ident.namespace() :+ ident.name()).mkString(".")

  /** What `ident` names: Right(the `USING graft-manifest` entry), or
    * Left(the table the built-in catalog serves) for any other name —
    * one metadata read either way. Under a custom session catalog
    * Spark's delegate serves every entry as a `V1Table`, so a v2
    * provider's table is built here, as the built-in catalog builds
    * it. The alias knows manifest entries only. */
  private def lookup(ident: Identifier): Either[Table, CatalogTable] =
    if (isAlias)
      Right(ManifestSql.manifestEntryOf(session, v1Ident(ident))
        .getOrElse(throw missing(ident)))
    else {
      val t = super.loadTable(ident)
      graftbridge.v1EntryOf(t) match {
        case Some(entry) if ManifestSql.isManifestEntry(entry) => Right(entry)
        case Some(entry) =>
          Left(graftbridge.providerTable(session, entry).getOrElse(t))
        case None => Left(t)
      }
    }

  /** The manifest entry behind `ident`, if it names one. */
  private def manifestEntry(ident: Identifier): Option[CatalogTable] =
    try lookup(ident).toOption
    catch { case _: NoSuchTableException => None }

  private def graftTable(ident: Identifier, entry: CatalogTable,
                         versionAsOf: Option[Int]): GraftTable =
    GraftTable(session, fullName(ident), ManifestSql.rootOfEntry(entry),
      Some(entry), versionAsOf)

  override def loadTable(ident: Identifier): Table =
    lookup(ident).fold(identity, graftTable(ident, _, None))

  /** `VERSION AS OF <n>` — served natively by the v2 resolution path. */
  override def loadTable(ident: Identifier, version: String): Table =
    lookup(ident) match {
      case Left(_) => super.loadTable(ident, version)
      case Right(entry) =>
        val v = scala.util.Try(version.trim.toInt).getOrElse(
          throw new IllegalArgumentException(
            s"VERSION AS OF on ${fullName(ident)} takes an integer " +
              s"manifest version; got '$version'"))
        graftTable(ident, entry, Some(v))
    }

  /** `TIMESTAMP AS OF <ts>` — `timestamp` arrives in MICROseconds
    * since epoch, already parsed by the analyzer in the session
    * timezone; resolved by commit mtime ([[ManifestTable.versionAt]],
    * the Delta convention) at resolution time. */
  override def loadTable(ident: Identifier, timestamp: Long): Table =
    lookup(ident) match {
      case Left(_) => super.loadTable(ident, timestamp)
      case Right(entry) =>
        val v = ManifestTable.versionAt(ManifestSql.rootOfEntry(entry),
          Math.floorDiv(timestamp, 1000L)).getOrElse(
          throw new IllegalArgumentException(
            "TIMESTAMP AS OF predates every surviving version of " +
              fullName(ident)))
        graftTable(ident, entry, Some(v))
    }

  /** Only a definitive "no such table" answers false — a transient
    * metastore failure must propagate, not read as "absent" (which
    * could green-light a CREATE over a live table). */
  override def tableExists(ident: Identifier): Boolean =
    if (isAlias) manifestEntry(ident).isDefined else super.tableExists(ident)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (!isAlias) super.listTables(namespace)
    else super.listTables(namespace).filter { t =>
      scala.util.Try(ManifestSql.isManifestEntry(
        sessionCatalog.getTableMetadata(v1Ident(t)))).getOrElse(false)
    }

  /** A CREATE's properties, its `OPTIONS (…)` under their own keys
    * (`statCols`, `bloomCols`, `bloomCapacity`, `path`). */
  private def propsOf(properties: util.Map[String, String])
      : Map[String, String] =
    properties.asScala.toMap.map { case (k, v) =>
      k.stripPrefix(TableCatalog.OPTION_PREFIX) -> v }

  /** Does a CREATE / CTAS / REPLACE make a manifest table? Its `USING`
    * says so (the alias's default when it names none). */
  private def createsManifest(properties: util.Map[String, String]): Boolean =
    Option(properties.get(TableCatalog.PROP_PROVIDER))
      .forall(_.equalsIgnoreCase(ManifestSql.ManifestProvider))

  /** The manifest root a CREATE names: its `path` option or LOCATION,
    * else `fallback` (a REPLACE keeps the entry's root). */
  private def rootOf(ident: Identifier, props: Map[String, String],
                     fallback: Option[String] = None): String =
    props.get("path").orElse(props.get("location")).orElse(fallback)
      .getOrElse(throw new IllegalArgumentException(
        s"CREATE/REPLACE TABLE ${fullName(ident)} needs a 'path' (or " +
          "LOCATION) naming the manifest root"))

  /** `CREATE TABLE … USING graft-manifest`, under either name — a
    * `USING graft-manifest` statement is a v2 command (the provider is
    * a `TableProvider`), so Spark hands it here; so does
    * [[ManifestSql.registerPersistent]]'s `spark.catalog.createTable`.
    * Any other provider is the built-in catalog's. */
  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    if (!createsManifest(properties))
      super.createTable(ident, columns, partitions, properties)
    else {
      requireUnpartitioned(partitions)
      val props = propsOf(properties)
      val root = rootOf(ident, props)
      ManifestSql.createDeclared(session, root, StructType(columns.map(c =>
        StructField(c.name(), c.dataType(), c.nullable()))),
        ManifestSql.declarationsOf(props), fullName(ident))
      putEntry(ident, root, properties)
      loadTable(ident)
    }

  private def requireUnpartitioned(partitions: Array[Transform]): Unit =
    require(partitions.isEmpty,
      "graft-manifest does not partition by directory — cluster with " +
        "GRAFT COMPACT ... CLUSTER BY instead")

  /** Write the session-catalog entry of the manifest table at `root` —
    * the ONE place one is written (CREATE, a staged CTAS/REPLACE's
    * publish, every persistent registration): `USING graft-manifest`,
    * the root as its location and `path`, the head's recorded schema
    * (what a session bound to another catalog checks its V1 read
    * against), and the statement's own table properties and comment. */
  private def putEntry(ident: Identifier, root: String,
                       properties: util.Map[String, String]): Unit = {
    val props = properties.asScala.toMap
    val schema = ManifestTable.latest(root)
      .map(ManifestTable.recordedSchemaOf(session, root, _))
      .getOrElse(StructType(Nil))
    sessionCatalog.createTable(CatalogTable(
      identifier = v1Ident(ident),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(CatalogUtils.stringToURI(root)),
        properties = Map("path" -> root)),
      schema = StructType(schema.fields.map(_.copy(nullable = true))),
      provider = Some(ManifestSql.ManifestProvider),
      properties = props.filterNot { case (k, _) =>
        GraftCatalog.ReservedProperties(k) ||
          k.startsWith(TableCatalog.OPTION_PREFIX) ||
          props.contains(TableCatalog.OPTION_PREFIX + k)
      },
      comment = props.get(TableCatalog.PROP_COMMENT)),
      ignoreIfExists = false)
  }

  // ---- ATOMIC CTAS / REPLACE (StagingTableCatalog, r19) ----
  // CTAS and REPLACE TABLE [AS SELECT] stage their work and publish
  // in commitStagedChanges, so a REPLACE never has a window where the
  // table is absent (the non-staged drop-then-create shape): the data
  // swap is ONE ledgered overwrite at the root, and the catalog entry
  // is kept (same root) or repointed (one alterTable) — never
  // dropped. A plain REPLACE TABLE (no AS SELECT) that writes nothing
  // commits a ledgered EMPTY overwrite of the declared schema, per
  // SQL semantics. abort: a manifest this statement inited is deleted
  // (nothing referenced it); a committed data overwrite stays — it is
  // a versioned commit, history intact — and is WARNed about. A
  // `USING graft-manifest` statement stages here under either name;
  // every other provider's CTAS/REPLACE stages as the built-in catalog
  // runs it: drop (for a REPLACE) and create up front, write through,
  // drop on abort.

  private def stagedTable(ident: Identifier, info: TableInfo,
                          replace: Boolean, orCreate: Boolean)
      : StagedTable =
    if (!createsManifest(info.properties())) {
      if (replace) super.dropTable(ident)
      // the built-in createTable returns no table: load what it made
      super.createTable(ident, info.columns(), info.partitions(),
        info.properties())
      BestEffortStagedTable(ident, loadTable(ident), this)
    } else stagedManifest(ident, info, replace, orCreate)

  private def stagedManifest(ident: Identifier, info: TableInfo,
                             replace: Boolean, orCreate: Boolean)
      : StagedTable = {
    requireUnpartitioned(info.partitions())
    val props = propsOf(info.properties())
    val existing = manifestEntry(ident).map(ManifestSql.rootOfEntry)
    if (!replace && existing.isDefined)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Array(catalogName) ++ ident.namespace() :+ ident.name())
    if (replace && !orCreate && existing.isEmpty) throw missing(ident)
    val root = rootOf(ident, props, existing)
    val freshlyInited = ManifestTable.latest(root).isEmpty
    if (freshlyInited) {
      // a staged statement that fails must be able to clean up what
      // it created WITHOUT destroying anything else — so a CTAS /
      // REPLACE may only INITIALIZE into an absent or empty
      // directory. A non-empty, manifest-less location (e.g. a plain
      // parquet dataset) refuses loudly: aborting such a statement
      // would otherwise have to guess which of the directory's
      // contents it owns.
      require(ManifestSql.absentOrEmpty(session, root),
        s"CREATE/REPLACE TABLE ${fullName(ident)}: $root exists, is " +
          "not empty, and carries no manifest — refusing to stage a " +
          "table into it (an aborted statement could not clean up " +
          "without touching pre-existing contents); point at an " +
          "empty/absent location or init the manifest explicitly")
      ManifestSql.declarationsOf(props).init(root)
    }
    StagedGraftTable(session, this, ident, fullName(ident), root,
      StructType(info.schema().fields.map(_.copy(nullable = true))),
      info.properties(), replaceSemantics = replace,
      freshlyInited = freshlyInited)
  }

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stagedTable(ident, info, replace = false, orCreate = false)

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stagedTable(ident, info, replace = true, orCreate = false)

  override def stageCreateOrReplace(ident: Identifier,
                                    info: TableInfo): StagedTable =
    stagedTable(ident, info, replace = true, orCreate = true)

  /** The publish half of a staged CTAS/REPLACE: the catalog entry is
    * created fresh, left in place (same root — reads resolve the head
    * anyway), or repointed in ONE alterTable (new root) — the table
    * name is never absent mid-statement. */
  private[catalog] def publishStaged(ident: Identifier, root: String,
                                     properties: util.Map[String, String])
      : Unit =
    manifestEntry(ident) match {
      case None => putEntry(ident, root, properties)
      case Some(meta) if ManifestSql.rootOfEntry(meta) != root =>
        repoint(meta, root)
      case Some(_) => ()
    }

  /** Point a manifest entry at another root: its location and its
    * `path` property, which [[ManifestSql.rootOfEntry]] reads first. */
  private def repoint(meta: CatalogTable, root: String): Unit =
    sessionCatalog.alterTable(meta.copy(
      storage = meta.storage.copy(
        locationUri = Some(new org.apache.hadoop.fs.Path(root).toUri),
        properties = meta.storage.properties + ("path" -> root))))

  /** ALTER on a manifest entry. A column change is one schema-ledger
    * op (metadata-only; existing files read through the new shape):
    * user-written names resolve against the recorded schema under the
    * session's case sensitivity; a rename may not collide with
    * another column under it; a multi-column DROP validates as a
    * whole (missing columns without IF EXISTS, dropping every column)
    * before the first commit. Top-level columns only. A property
    * change (`SET/UNSET TBLPROPERTIES`, `COMMENT ON TABLE`) edits the
    * catalog entry through the built-in catalog; `SET LOCATION`
    * repoints the entry at another manifest. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table =
    manifestEntry(ident) match {
      case None => super.alterTable(ident, changes: _*)
      case Some(entry) =>
        val (props, columns) = changes.partition {
          case _: TableChange.SetProperty | _: TableChange.RemoveProperty =>
            true
          case _ => false
        }
        val (location, entryProps) = props.partition {
          case s: TableChange.SetProperty =>
            s.property() == TableCatalog.PROP_LOCATION
          case _ => false
        }
        if (columns.nonEmpty)
          alterManifest(fullName(ident), ManifestSql.rootOfEntry(entry),
            columns)
        if (entryProps.nonEmpty) super.alterTable(ident, entryProps: _*)
        location.collect { case s: TableChange.SetProperty => s.value() }
          .lastOption.foreach { root =>
            require(ManifestTable.latest(root).isDefined,
              s"SET LOCATION on ${fullName(ident)}: no manifest at $root")
            repoint(sessionCatalog.getTableMetadata(v1Ident(ident)), root)
          }
        loadTable(ident)
    }

  private def alterManifest(name: String, root: String,
                            changes: Seq[TableChange]): Unit = {
    val recorded = ManifestTable.latest(root)
      .map(ManifestTable.recordedSchemaOf(session, root, _))
      .getOrElse(throw new IllegalStateException(s"no manifest at $root"))
    val resolver = session.sessionState.conf.resolver
    def resolveCol(c: String): Option[String] =
      recorded.fieldNames.find(resolver(_, c))
    def present(c: String, verb: String): String = resolveCol(c).getOrElse(
      throw new IllegalArgumentException(s"no column '$c' to $verb on $name"))
    def topLevel(names: Array[String], verb: String): String = {
      require(names.length == 1,
        s"manifest ALTER $verb top-level columns only; " +
          s"'${names.mkString(".")}' is nested")
      names.head
    }
    // resolve and validate every change before the first commit
    val added = changes.collect { case a: TableChange.AddColumn =>
      StructField(topLevel(a.fieldNames(), "adds"), a.dataType(),
        nullable = true)
    }
    val ops: Seq[() => Unit] = changes.collect {
      case rn: TableChange.RenameColumn =>
        val from = present(topLevel(rn.fieldNames(), "renames"), "rename")
        // renaming a -> B beside a column b would leave every
        // unqualified reference ambiguous under case-insensitive
        // resolution (a case-only rename of the SAME column is fine)
        resolveCol(rn.newName()).filter(_ != from).foreach(c =>
          throw new IllegalArgumentException(
            s"cannot rename '$from' to '${rn.newName()}' on $name — it " +
              s"collides with column '$c' under the session's " +
              "case-insensitive resolution"))
        () => { ManifestTable.renameColumn(session, root, from,
          rn.newName()); () }
      case upd: TableChange.UpdateColumnType =>
        val col = present(topLevel(upd.fieldNames(), "changes the type of"),
          "widen")
        () => { ManifestTable.widenColumn(session, root, col,
          upd.newDataType()); () }
      case _: TableChange.AddColumn | _: TableChange.DeleteColumn =>
        () => ()
      case other => throw new UnsupportedOperationException(
        s"graft catalog does not support table change " +
          s"${other.getClass.getSimpleName} — supported: ADD COLUMNS, " +
          "RENAME COLUMN, DROP COLUMN, ALTER COLUMN TYPE (in-family " +
          "numeric widening), table properties and SET LOCATION")
    }
    val dropped = changes.collect { case d: TableChange.DeleteColumn =>
      val c = topLevel(d.fieldNames(), "drops")
      resolveCol(c) match {
        case None if !d.ifExists() => throw new IllegalArgumentException(
          s"no column '$c' to drop on $name (use IF EXISTS to ignore " +
            "missing columns)")
        case r => r
      }
    }.flatten.distinct
    require(dropped.size < recorded.fields.length || dropped.isEmpty,
      s"cannot drop every column of $name")
    if (added.nonEmpty)
      ManifestTable.addColumns(session, root, StructType(added))
    ops.foreach(_())
    dropped.foreach(ManifestTable.dropColumn(session, root, _))
  }

  /** DROP TABLE drops the catalog entry; the manifest root (an
    * external location by construction) stays on disk. */
  override def dropTable(ident: Identifier): Boolean =
    if (!isAlias) super.dropTable(ident)
    else manifestEntry(ident).isDefined && {
      sessionCatalog.dropTable(v1Ident(ident), ignoreIfNotExists = true,
        purge = false)
      true
    }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    if (!isAlias) super.renameTable(oldIdent, newIdent)
    else {
      lookup(oldIdent)
      sessionCatalog.renameTable(v1Ident(oldIdent), v1Ident(newIdent))
    }

  override def invalidateTable(ident: Identifier): Unit =
    scala.util.Try(sessionCatalog.refreshTable(v1Ident(ident)))
}

object GraftCatalog {

  private val SessionCatalogName = "spark_catalog"

  /** The properties Spark derives from a CREATE's clauses (USING,
    * LOCATION, COMMENT, …), which the entry records in its own fields. */
  private val ReservedProperties = {
    import TableCatalog._
    Set(PROP_LOCATION, PROP_IS_MANAGED_LOCATION, PROP_EXTERNAL,
      PROP_TABLE_TYPE, PROP_COMMENT, PROP_COLLATION, PROP_PROVIDER, PROP_OWNER)
  }

  /** The conf key binding the `graft.db.t` alias. */
  val ConfKey = "spark.sql.catalog.graft"

  /** The conf key binding the session catalog (`db.t`). */
  val SessionCatalogKey = "spark.sql.catalog.spark_catalog"

  /** Bind this catalog as `spark_catalog` and as the `graft` alias in
    * a live session — idempotent, and never over a user's own binding
    * of either name. Settable at runtime: Spark reads the session
    * catalog's binding at each lookup, and loads the alias lazily on
    * first reference. A session whose `spark_catalog` is someone
    * else's resolves manifest entries through Spark's V1 path, where
    * [[graft.sources.ManifestSource]] serves only the tables that path
    * reads correctly. */
  def install(spark: SparkSession): Unit = {
    val cls = classOf[GraftCatalog].getName
    if (spark.conf.getOption(ConfKey).isEmpty) spark.conf.set(ConfKey, cls)
    if (spark.conf.getOption(SessionCatalogKey).forall(_ == "builtin"))
      spark.conf.set(SessionCatalogKey, cls)
  }

  /** Does `spark` resolve `db.t` through this catalog? */
  private[graft] def isSessionCatalog(spark: SparkSession): Boolean =
    spark.sessionState.catalogManager.catalog(SessionCatalogName)
      .isInstanceOf[GraftCatalog]
}
