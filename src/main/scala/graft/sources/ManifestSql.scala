package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{NoSuchDatabaseException,
  NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}

import graft.operators.{ManifestStats, ManifestTable}

/** THE MANIFEST SCAN and the SQL front door for [[ManifestTable]].
  * [[scan]] is the one place a snapshot becomes rows: the Scala reads,
  * the writers' victim scans and probes, the layout rewrite, the change
  * feed and every SQL door (temp view, catalog name, the
  * `graft_manifest` TVF) plan through it, so
  * `spark.sql("SELECT … FROM corpus WHERE doc_id = 7")` and
  * `ManifestTable.read(…).filter(…)` plan the same stats-pruned,
  * snapshot-isolated scan.
  *
  * Design: a custom [[FileIndex]] over Spark's own parquet
  * `HadoopFsRelation` — the seam transactional table formats use
  * publicly (Delta Lake's TahoeFileIndex popularized it). Spark calls
  * `listFiles(partitionFilters, dataFilters)` AT PLANNING TIME with
  * the query's pushed data filters as resolved Catalyst expressions;
  * the index maps them onto the manifest's per-file stats
  * ([[ManifestTable.candidatesOf]] — min/max bounds, null counts,
  * prefix intervals AND the per-file Bloom side index), so the
  * planned scan lists only candidate files, and file statuses come
  * from the manifest's recorded sizes. Everything downstream is stock
  * Spark: vectorized parquet readers, row-group pushdown, whole-stage
  * codegen — a hand-rolled DataSource-V2 reader factory would repeat
  * the pruning but lose the vectorized exec path.
  *
  * Snapshot semantics: the relation PINS a snapshot — exactly a
  * transactional reader's contract: queries are repeatable while
  * writers commit new versions. A SQL head registration pins the head
  * current at registration, and `REFRESH TABLE` (routed to
  * [[ManifestFileIndex.refresh]]) moves it to the current head; a
  * version pin — `versionAsOf` time travel, and every Scala read —
  * stays exactly where it is, file subset included (time travel must
  * never silently start serving head data). Re-[[register]] rebuilds
  * everything. Renamed columns read through their `#colmap:` chain
  * ([[shapeOf]]); predicates on a renamed column's
  * coalesce are not prunable shapes — compaction normalizes the
  * files and restores pruning, as documented on the rename.
  *
  * Writes: this object owns one entry per SQL verb for every door —
  * [[sqlWrite]] for every whole-table write (INSERT, INSERT
  * OVERWRITE, REPLACE WHERE, CTAS/RTAS, TRUNCATE, `df.write`),
  * [[sqlDeleteAt]], [[sqlUpdate]] and [[sqlMergeInto]] for row-level
  * DML — and the one [[BatchIdConf]] reader, [[withBatchId]]. */
object ManifestSql {

  /** The datasource provider name manifest catalog entries register
    * under (`USING graft-manifest`) — the one string the catalog door
    * ([[graft.catalog.GraftCatalog]]) detects them by. */
  val ManifestProvider = "graft-manifest"

  /** Is this catalog entry a `USING graft-manifest` table? The one
    * provider check, behind [[manifestEntryOf]] and the catalog
    * listing. */
  private[graft] def isManifestEntry(meta: CatalogTable): Boolean =
    meta.provider.exists(_.equalsIgnoreCase(ManifestProvider))

  /** The manifest root a catalog entry points at: its `path` storage
    * property, else its location. */
  private[graft] def rootOfEntry(meta: CatalogTable): String =
    meta.storage.properties.get("path")
      .orElse(meta.storage.locationUri.map(u => new HPath(u).toString))
      .getOrElse(throw new IllegalStateException(
        s"manifest catalog table ${meta.identifier.quotedString} " +
          "has no path"))

  /** The session-catalog identifier a one- or two-part name (or a
    * `spark_catalog`-qualified three-part one) addresses; None for any
    * other shape. */
  private[graft] def sessionIdentOf(multipart: Seq[String])
      : Option[TableIdentifier] = multipart match {
    case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
      Some(TableIdentifier(t, Some(db)))
    case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
    case Seq(t) => Some(TableIdentifier(t))
    case _ => None
  }

  /** The `USING graft-manifest` session-catalog entry behind `ident`:
    * None for a missing table or database, a temp view, or another
    * provider — the one lookup behind every door's catalog probe. Any
    * other failure (a metastore outage) propagates; each caller keeps
    * its own policy for it. */
  private[graft] def manifestEntryOf(spark: SparkSession,
                                     ident: TableIdentifier)
      : Option[CatalogTable] = {
    val cat = spark.sessionState.catalog
    try {
      if (!cat.tableExists(ident) || cat.isTempView(ident)) None
      else Some(cat.getTableMetadata(ident)).filter(isManifestEntry)
    } catch {
      case _: NoSuchTableException | _: NoSuchDatabaseException |
           _: NoSuchNamespaceException => None
    }
  }

  /** A table's creation-time declarations, as options or properties
    * carry them: `statCols` / `bloomCols` (comma-separated) and
    * `bloomCapacity` — the knobs of [[ManifestTable.init]]. */
  private[graft] final case class Declarations(statCols: Seq[String],
                                               bloomCols: Seq[String],
                                               bloomCapacity: Option[Long]) {
    def isEmpty: Boolean =
      statCols.isEmpty && bloomCols.isEmpty && bloomCapacity.isEmpty
    def init(root: String): Unit =
      ManifestTable.init(root, statCols, bloomCols,
        bloomCapacity.getOrElse(ManifestStats.BloomKeyCapacity))
  }

  private[graft] def declarationsOf(opts: collection.Map[String, String])
      : Declarations = {
    def csv(k: String): Seq[String] = opts.get(k).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    Declarations(csv("statCols"), csv("bloomCols"),
      opts.get("bloomCapacity").map(_.trim.toLong))
  }

  /** Is `root` absent, or an empty directory? */
  private[graft] def absentOrEmpty(spark: SparkSession,
                                   root: String): Boolean = {
    val p = new HPath(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(p) || fs.listStatus(p).isEmpty
  }

  /** `CREATE TABLE name (cols) … USING graft-manifest` — the init
    * behind `GraftCatalog.createTable`, whichever name it comes
    * through. An absent or
    * empty root is INITIALIZED with the declarations and seeded with
    * the declared columns by an empty ledgered overwrite (a schema
    * seed, not a user write, so not through [[sqlWrite]]); an existing
    * manifest registers as-is — its recorded schema wins, with a
    * warning when the declared columns differ. A non-empty directory
    * without a manifest refuses. */
  private[graft] def createDeclared(spark: SparkSession, root: String,
                                    schema: StructType,
                                    declared: Declarations,
                                    name: String): Unit = {
    val nullable = StructType(schema.fields.map(_.copy(nullable = true)))
    ManifestTable.latest(root) match {
      case None =>
        require(absentOrEmpty(spark, root),
          s"CREATE TABLE $name: $root exists, is not empty, and carries " +
            "no manifest — point at an empty/absent location or init " +
            "the manifest explicitly")
        declared.init(root)
        if (schema.nonEmpty)
          ManifestTable.overwrite(spark, root, spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), nullable))
      case Some(snap) if schema.nonEmpty =>
        val recorded = ManifestTable.recordedSchemaOf(spark, root, snap)
        if (recorded != nullable)
          graft.util.Log.warn(
            s"CREATE TABLE $name: the manifest at $root already exists; " +
              s"its recorded schema (${recorded.simpleString}) wins over " +
              s"the declared column list (${nullable.simpleString})")
      case _ => ()
    }
  }

  /** The manifest-backed [[FileIndex]]: `listFiles` returns only the
    * files whose recorded stats may match the pushed data filters.
    * Conservative everywhere the stats machinery is — an
    * un-evaluable filter shape simply lists every file, and Spark
    * re-applies every filter on the rows anyway (this index only
    * ever SKIPS provably matchless files). `overlays` says whether the
    * plan over this index drops deletion-vector rows ([[scan]]). */
  final class ManifestFileIndex(
      spark: SparkSession, val root: String,
      initial: ManifestTable.Snapshot,
      val versionAsOf: Option[Int],
      val physicalSchema: StructType,
      private[graft] val overlays: Boolean) extends FileIndex {

    /** One immutable pin = (snapshot, its file statuses): swapped
      * atomically by [[refresh]], so a query planning concurrently
      * with a refresh sees a CONSISTENT pair — never the new file
      * list against the old status map. Statuses SYNTHESIZE from the
      * manifest's recorded per-file byte sizes (the `bytes:` stat the
      * writer commits with the file list — the Iceberg/Delta
      * `file_size_in_bytes` idea), so planning issues ZERO
      * per-file `getFileStatus` RPCs; only legacy files whose lines
      * predate the bytes field fall back to the FS, and only when a
      * query actually plans them ([[listFiles]] maps candidates, not
      * the table). The synthesized status carries mtime 0 — batch
      * file-source planning reads only path and length (split
      * sizing), never modification time. */
    private final class Pin(val snap: ManifestTable.Snapshot) {
      private lazy val fs = new HPath(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      private val cache =
        new java.util.concurrent.ConcurrentHashMap[String, FileStatus]()
      // per-file, on demand — pin construction (registration, every
      // post-insert refresh) stays O(1): a query planning N candidates
      // decodes N payloads (through the shared content-addressed LRU),
      // never the whole table
      def statusOf(f: String): FileStatus = {
        val hit = cache.get(f)
        if (hit != null) return hit
        val st = ManifestTable.recordedBytesOf(snap, f) match {
          case Some(len) => new FileStatus(len, false, 1,
            128L * 1024 * 1024, 0L, new HPath(root, f))
          case None => fs.getFileStatus(new HPath(root, f))
        }
        cache.putIfAbsent(f, st)
        st
      }
      /** Table size for the optimizer: recorded bytes, plus an FS
        * stat for only the legacy files lacking them. */
      lazy val totalBytes: Long =
        ManifestTable.bytesOf(snap, snap.files)(statusOf(_).getLen)
      /** Any deletion vector among the pinned files? Once per pin. */
      lazy val hasDv: Boolean = ManifestTable.hasDv(snap)
    }

    @volatile private var pin = new Pin(initial)

    /** The snapshot this index currently serves — what the DV overlay
      * reads ([[DvIndex]] lists the deletion vectors of this pin, so
      * overlay and file list always agree). */
    private[graft] def pinnedSnapshot: ManifestTable.Snapshot = pin.snap

    override def rootPaths: Seq[HPath] = Seq(new HPath(root))

    override def partitionSchema: StructType = StructType(Nil)

    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression])
        : Seq[PartitionDirectory] = {
      val p = pin
      // a plan built without the overlay cannot drop the rows of a
      // deletion vector its pin moved onto: refuse, never resurface them
      require(overlays || !p.hasDv,
        s"the manifest table at $root gained deletion vectors after this " +
          "plan was built — re-register the temp view (or read the table " +
          "again) to apply them")
      val cand =
        if (dataFilters.isEmpty) p.snap.files
        else {
          val cond = dataFilters.reduce(
            org.apache.spark.sql.catalyst.expressions.And)
          ManifestTable.candidatesOf(spark, Some(root), p.snap,
            physicalSchema, cond)
        }
      Seq(PartitionDirectory(InternalRow.empty,
        cand.map(p.statusOf).toArray[FileStatus]))
    }

    override def inputFiles: Array[String] =
      pin.snap.files.map(f => s"$root/$f").toArray

    /** REFRESH TABLE and every `refreshByPath` recache: a head pin
      * moves to the current head, whose recorded schema must still
      * match the pinned one — a temp view over a table whose schema
      * changed since needs a re-[[register]] (catalog names resolve the
      * head at each statement and never need one; a schema commit drops
      * every cached head-pinned plan first, [[uncacheRoot]]). A version
      * pin — time travel, and every scan [[scan]] builds for the Scala
      * reads and writers — keeps its snapshot and file subset: a pinned
      * version never changes, so refresh does nothing (time travel never
      * silently becomes the head, a cached frame never widens to its
      * whole version, and an expired version fails only when a query
      * actually reads its vacuumed files — never the recache a
      * committed write runs). */
    override def refresh(): Unit = versionAsOf match {
      case Some(_) => ()
      case None =>
        val target = resolveSnapshot(root, None)
        val headPhysical = shapeOf(spark, root, target)._1
        require(headPhysical == physicalSchema,
          s"manifest schema at $root changed since registration — " +
            "re-register the temp view to pick up the new projection")
        pin = new Pin(target)
    }

    override def sizeInBytes: Long = pin.totalBytes

    /** Two indexes pinned to the same files of one snapshot serve the
      * same rows: a catalog name resolves a fresh index per statement,
      * and `CACHE TABLE` / `UNCACHE TABLE` find their cached plan by
      * `sameResult`, which compares relations by equality. The file set
      * is part of the identity, so a cached whole-table plan never
      * serves a subset scan, nor a subset the whole table. */
    override def equals(other: Any): Boolean = other match {
      case o: ManifestFileIndex =>
        (o eq this) || {
          val (mine, theirs) = (pinnedSnapshot, o.pinnedSnapshot)
          o.root == root && o.versionAsOf == versionAsOf &&
            theirs.version == mine.version &&
            o.physicalSchema == physicalSchema && theirs.files == mine.files
        }
      case _ => false
    }

    override def hashCode: Int = (root, versionAsOf).hashCode
  }

  private def resolveSnapshot(root: String,
                              versionAsOf: Option[Int])
      : ManifestTable.Snapshot = versionAsOf match {
    case Some(v) => ManifestTable.snapshot(root, v).getOrElse(
      throw new IllegalStateException(
        s"no manifest v$v at $root (never published or expired)"))
    case None => ManifestTable.latest(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root"))
  }

  /** The recorded schema of the head (or the `versionAsOf` version). */
  private[sources] def recordedSchema(spark: SparkSession, root: String,
                                      versionAsOf: Option[Int]): StructType =
    ManifestTable.recordedSchemaOf(spark, root,
      resolveSnapshot(root, versionAsOf))

  /** A column as its rename chain reads it: new-then-old coalesced
    * when `name` was renamed, the bare column otherwise. */
  private def chained(colmap: Map[String, Seq[String]])(name: String): Column =
    colmap.get(name).fold(org.apache.spark.sql.functions.col(name))(olds =>
      org.apache.spark.sql.functions.coalesce(
        (name +: olds).map(org.apache.spark.sql.functions.col): _*).as(name))

  /** THE read shape of a snapshot: the physical scan schema (the
    * recorded schema all-nullable, plus every historical name of a
    * renamed column, same type) and — when any chain exists — the
    * coalesce projection back to the logical columns. */
  private def shapeOf(spark: SparkSession, root: String,
                      snap: ManifestTable.Snapshot)
      : (StructType, Option[Seq[Column]]) = {
    val logical = ManifestTable.recordedSchemaOf(spark, root, snap)
    val colmap = ManifestTable.colmapOfSnap(snap)
    val historical = logical.fields.flatMap(f => colmap.getOrElse(f.name, Nil)
      .map(StructField(_, f.dataType, nullable = true)))
    (StructType(logical.fields.map(_.copy(nullable = true)) ++ historical),
      if (colmap.isEmpty) None
      else Some(logical.fieldNames.toSeq.map(chained(colmap))))
  }

  /** [[ParquetFileFormat]] with the RAW write path disabled: plain
    * `INSERT INTO`/`INSERT OVERWRITE` on a temp-view registration
    * routes through [[ManifestWritableRelation.insert]] (the
    * `InsertableRelation` case of Spark's DataSourceAnalysis precedes
    * its HadoopFsRelation case), and a catalog entry writes through
    * [[graft.catalog.GraftTable]]; any OTHER V1 write shape — e.g. an
    * INSERT on a catalog entry in a session whose `spark_catalog` is
    * not graft's, where Spark's FindDataSourceTable drops the
    * InsertableRelation mixin — falls through to
    * `InsertIntoHadoopFsRelationCommand` and would write bare parquet
    * into the table root: files no manifest references, invisible to
    * readers and swept by vacuum. Better a loud refusal at
    * `prepareWrite` (write jobs only — the read side never calls it)
    * than silent data loss. */
  private final class ManifestGuardedParquet extends ParquetFileFormat {
    override def prepareWrite(sparkSession: SparkSession,
                              job: org.apache.hadoop.mapreduce.Job,
                              options: Map[String, String],
                              dataSchema: StructType)
        : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
      throw new UnsupportedOperationException(
        "this write shape would bypass the manifest commit protocol — " +
          "catalog writes to a graft-manifest table need graft's " +
          s"catalog: set ${graft.catalog.GraftCatalog.SessionCatalogKey}=" +
          "graft.catalog.GraftCatalog (Sessions.local and " +
          "GraftCatalog.install do), or write through the ManifestTable " +
          "Scala API")
  }

  /** The front-door [[HadoopFsRelation]], WRITABLE through the
    * manifest commit protocol: `INSERT INTO` appends (one atomic
    * ledgered commit), `INSERT OVERWRITE` replaces the snapshot
    * ([[ManifestTable.overwrite]]) — never a raw file write into the
    * root. After a successful insert the relation's own pin moves to
    * the new head, so the writing session's next read sees its write
    * (the transactional-table contract); OTHER registrations of the
    * same table keep their pins until refreshed, exactly as for
    * Scala-path writes. Time-travel registrations refuse writes. */
  final class ManifestWritableRelation private[sources] (
      spark: SparkSession, val root: String,
      val versionAsOf: Option[Int],
      private[graft] val idx: ManifestFileIndex,
      private[graft] val physical: StructType)
    extends HadoopFsRelation(idx, StructType(Nil), physical, None,
      new ManifestGuardedParquet, Map.empty)(spark)
    with org.apache.spark.sql.sources.InsertableRelation {
    override def insert(data: DataFrame, overwrite: Boolean): Unit =
      sqlInsert(spark, idx, data, overwrite, physical.fieldNames.toSeq)
  }

  /** What a whole-table write does with its rows: append them,
    * replace the table's contents with them, or replace exactly the
    * rows matching a predicate (`REPLACE WHERE`). */
  private[graft] sealed trait WriteShape
  private[graft] object WriteShape {
    case object Append extends WriteShape
    case object Overwrite extends WriteShape
    final case class ReplaceWhere(predicate: Column) extends WriteShape
  }

  /** The ONE owner of whole-table writes — `INSERT INTO`, `INSERT
    * OVERWRITE`, `REPLACE WHERE`, CTAS/RTAS, `TRUNCATE` and
    * `df.write`, on every door (temp view, `USING graft-manifest`,
    * `graft.<db>.<t>`, the provider's write arm). In one place:
    * positional alignment under the table's column names (SQL INSERT
    * semantics; pass the frame's own columns to keep by-name writes),
    * the [[BatchIdConf]] contract (an append commits under the id
    * through [[ManifestTable.appendBatch]]; every other shape refuses
    * it; the conf resets in every outcome), the ledger op, and the
    * invalidation of cached plans over the root (`CACHE TABLE` holds
    * materialized InMemoryRelations a pin cannot move — Spark's own
    * insert commands recache the same way). `prepare` runs after the
    * batch-id check and before any data moves (the provider's
    * create-on-write init), so a refused write leaves nothing behind. */
  private[graft] def sqlWrite(spark: SparkSession, root: String,
                              data: DataFrame, shape: WriteShape,
                              columnNames: Seq[String],
                              prepare: () => Unit = () => ()): Unit = {
    val aligned =
      if (data.columns.toSeq == columnNames) data
      else data.toDF(columnNames.toIndexedSeq: _*)
    withBatchId(spark) { batchId =>
      if (batchId.isDefined && shape != WriteShape.Append)
        throw new IllegalArgumentException(
          s"$BatchIdConf applies to INSERT INTO and MERGE INTO only — " +
            "INSERT OVERWRITE is not a replayable micro-batch shape")
      prepare()
      (shape, batchId) match {
        case (WriteShape.Append, Some(id)) =>
          ManifestTable.appendBatch(spark, root, id, aligned)
        case (WriteShape.Append, None) =>
          ManifestTable.append(spark, root, aligned)
        case (WriteShape.Overwrite, _) =>
          ManifestTable.overwrite(spark, root, aligned)
        case (WriteShape.ReplaceWhere(p), _) =>
          ManifestTable.overwriteWhere(spark, root, p, aligned)
      }
    }
    spark.catalog.refreshByPath(root)
  }

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` on a temp-view
    * registration (its `InsertableRelation`): [[sqlWrite]] on its
    * root, then THIS registration's pin moves to the new head. */
  private[graft] def sqlInsert(spark: SparkSession, idx: ManifestFileIndex,
                               data: DataFrame, overwrite: Boolean,
                               columnNames: Seq[String]): Unit = {
    requireHead(idx, "INSERT into")
    sqlWrite(spark, idx.root, data,
      if (overwrite) WriteShape.Overwrite else WriteShape.Append,
      columnNames)
    idx.refresh()
  }

  /** Session conf carrying the ledger batch id for an idempotent SQL
    * write (the Delta `txnVersion` idea, public pattern): when set,
    * the next `MERGE INTO` or appending write (`INSERT INTO`, a
    * `df.write` append) on a manifest table commits under
    * `#batch:<id>` — a replay with the same id finds the marker and
    * no-ops. AUTO-RESET after each write (applied, no-oped or
    * refused), so a stale id can never silently swallow an unrelated
    * later write. Every other whole-table write (`INSERT OVERWRITE`,
    * `REPLACE WHERE`, CTAS/RTAS, `TRUNCATE`, a `df.write` overwrite)
    * refuses it: an overwrite is not a replayable micro-batch shape. */
  val BatchIdConf = "spark.graft.sql.batchId"

  /** Read-and-consume the [[BatchIdConf]] around one SQL write: the
    * conf resets whether the write applies or no-ops, and a
    * non-numeric value fails before any data moves. */
  private def withBatchId[A](spark: SparkSession)
                            (f: Option[Long] => A): A = {
    val batchId = spark.conf.getOption(BatchIdConf).map { raw =>
      scala.util.Try(raw.trim.toLong).getOrElse(throw
        new IllegalArgumentException(
          s"$BatchIdConf must be a long, got '$raw'"))
    }
    try f(batchId)
    finally batchId.foreach(_ => spark.conf.unset(BatchIdConf))
  }

  private def requireHead(idx: ManifestFileIndex, verb: String): Unit =
    require(idx.versionAsOf.isEmpty,
      s"cannot $verb a versionAsOf registration of ${idx.root} — " +
        "time travel is read-only; register the head to write")

  /** Shared post-write bookkeeping for the row-level SQL writes: move
    * THIS registration's pin to the new head (the writing session's
    * next read sees its write) and invalidate cached plans over the
    * table root — same contract as [[sqlWrite]] + [[sqlInsert]]. */
  private def afterSqlWrite(spark: SparkSession,
                            idx: ManifestFileIndex): Unit = {
    idx.refresh()
    spark.catalog.refreshByPath(idx.root)
  }

  /** Drop every cached plan that reads the HEAD of the manifest at
    * `root` — the ledger runs it before publishing a schema change
    * (an added, renamed, dropped or widened column, a schema-merging
    * write). A cached head-pinned index holds the old physical schema
    * and cannot refresh across the change: the next write's
    * `refreshByPath` would reach its drift guard and fail the
    * statement after its commit. Version pins never drift, so cached
    * time travel and Scala frames stay cached. */
  private[graft] def uncacheRoot(spark: SparkSession, root: String): Unit = {
    def qualified(p: String) = {
      val path = new HPath(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(path)
    }
    val target = qualified(root)
    org.apache.spark.sql.graftbridge.uncacheWhere(spark,
      _.exists(indexOf(_).exists(idx =>
        idx.versionAsOf.isEmpty && qualified(idx.root) == target)))
  }

  /** The manifest index a plan node scans, if it is a manifest
    * relation — matched on the FILE INDEX, not the relation class (a
    * copied HadoopFsRelation keeps the index). */
  private[graft] def indexOf(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[ManifestFileIndex] = p match {
    case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      l.relation match {
        case h: HadoopFsRelation => h.location match {
          case m: ManifestFileIndex => Some(m)
          case _ => None
        }
        case _ => None
      }
    case _ => None
  }

  /** The ONE owner of SQL `DELETE FROM` semantics, root-addressed
    * like [[sqlWrite]] so every door shares it (the V1 rule path
    * through [[sqlDelete]], the DSv2 `SupportsDelete` door
    * [[graft.catalog.GraftTable]]): victims are the rows where
    * `predicate` and every membership term hold (each term a `c IN
    * (SELECT …)` or equality-correlated `[NOT] EXISTS` conjunct,
    * arriving as an unbounded values frame). The table's `#dvmode:`
    * declaration ([[ManifestTable.setMorDeletes]]) picks the
    * deletion-vector [[ManifestTable.deleteWhereMoR]], which rewrites
    * NO data file, over the copy-on-write
    * [[ManifestTable.deleteWhere]] (victim scan pruned by the
    * predicate and the terms through bounds + Blooms). Cached plans
    * over the root are invalidated afterwards. */
  private[graft] def sqlDeleteAt(spark: SparkSession, root: String,
                                 predicate: org.apache.spark.sql.Column,
                                 terms: Seq[ManifestTable.MembershipTerm] = Nil)
      : Unit = {
    if (ManifestTable.latest(root).exists(ManifestTable.morDeletes))
      ManifestTable.deleteWhereMoR(spark, root, predicate, terms)
    else ManifestTable.deleteWhere(spark, root, predicate, terms)
    spark.catalog.refreshByPath(root)
  }

  /** SQL `DELETE FROM` on a registration: [[sqlDeleteAt]] on its
    * root, then the registration's pin move. */
  private[graft] def sqlDelete(spark: SparkSession, idx: ManifestFileIndex,
                               predicate: org.apache.spark.sql.Column,
                               terms: Seq[ManifestTable.MembershipTerm])
      : Unit = {
    requireHead(idx, "DELETE FROM")
    sqlDeleteAt(spark, idx.root, predicate, terms)
    idx.refresh()
  }

  /** The ONE owner of SQL `UPDATE` semantics:
    * [[ManifestTable.updateWhere]] (predicate AND membership terms,
    * as for [[sqlDeleteAt]]) under the same guards. */
  private[graft] def sqlUpdate(spark: SparkSession, idx: ManifestFileIndex,
                               predicate: org.apache.spark.sql.Column,
                               terms: Seq[ManifestTable.MembershipTerm],
                               assignments: Seq[(String,
                                 org.apache.spark.sql.Column)]): Unit = {
    requireHead(idx, "UPDATE")
    ManifestTable.updateWhere(spark, idx.root, predicate,
      assignments.toMap, terms)
    afterSqlWrite(spark, idx)
  }

  /** The ONE owner of SQL `MERGE INTO` semantics, every clause
    * shape — star `UPDATE SET *` / `INSERT *`, a lone `WHEN MATCHED
    * THEN DELETE`, conditional/partial `WHEN MATCHED THEN
    * UPDATE/DELETE`, conditional `WHEN NOT MATCHED THEN INSERT`, and
    * `WHEN NOT MATCHED BY SOURCE` clauses — through the copy-on-write
    * [[ManifestTable.mergeInto]]. [[BatchIdConf]] makes it ledgered
    * (a replay under the same id no-ops); the conf auto-resets
    * afterward in BOTH outcomes. */
  private[graft] def sqlMergeInto(spark: SparkSession,
                                  idx: ManifestFileIndex,
                                  idCols: Seq[String],
                                  source: DataFrame,
                                  sourceKeys: Seq[org.apache.spark.sql.Column],
                                  matched: Seq[ManifestTable.WhenMatched],
                                  notMatched: Seq[ManifestTable.WhenNotMatched],
                                  notMatchedBySource:
                                    Seq[ManifestTable.WhenMatched],
                                  refreshPin: Boolean = true): Unit = {
    requireHead(idx, "MERGE INTO")
    withBatchId(spark) { id =>
      ManifestTable.mergeInto(spark, idx.root, idCols, source, sourceKeys,
        matched, notMatched, notMatchedBySource, batchId = id)
    }
    // a SCHEMA-EVOLVING merge widened the table: this plan's pinned
    // index belongs to the pre-evolution schema (its refresh would
    // rightly trip the drift guard) — only the cached-plan
    // invalidation remains to do
    if (refreshPin) afterSqlWrite(spark, idx)
    else spark.catalog.refreshByPath(idx.root)
  }

  /** The bare relation at the head (or the `versionAsOf` version):
    * physical schema, no rename projection, no DV overlay — what
    * [[ManifestSource]]'s V1 arms hand Spark (a foreign-catalog
    * session's read of an entry it checked is rename- and DV-free,
    * and the write arm's result). */
  private[sources] def baseRelation(spark: SparkSession, root: String,
                                    versionAsOf: Option[Int])
      : ManifestWritableRelation = {
    val snap = resolveSnapshot(root, versionAsOf)
    relationAt(spark, root, versionAsOf, snap, shapeOf(spark, root, snap)._1,
      overlays = false)
  }

  private def relationAt(spark: SparkSession, root: String,
                         versionAsOf: Option[Int],
                         snap: ManifestTable.Snapshot,
                         physical: StructType,
                         overlays: Boolean): ManifestWritableRelation =
    new ManifestWritableRelation(spark, root, versionAsOf,
      new ManifestFileIndex(spark, root, snap, versionAsOf, physical,
        overlays), physical)

  // ---- the one snapshot scan ----

  /** Marks the root of every plan [[scan]] builds: the whole pinned
    * read, as the doors serve it — what row-level DML may target
    * ([[graft.plans.ManifestSqlDml]]), as opposed to a user's own
    * filtered or computed view over it. */
  private[graft] val TableReadTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[String](
      "graft.manifest.table")

  /** THE snapshot → scan builder. Every read of a manifest snapshot
    * plans here: the Scala reads (`read`, `readVersion`, `readWhere`'s
    * candidate subset), the writers' victim scans and MERGE probes, the
    * layout rewrite, the change feed, and every SQL door ([[relation]]:
    * temp views, catalog names, path reads, the TVF). `snap` may be a
    * file subset of a published version. The scan is a
    * [[ManifestWritableRelation]] over a [[ManifestFileIndex]] pinned
    * to `snap`: file statuses come from the recorded byte sizes (no
    * per-file `getFileStatus`), and pushed filters prune the planned
    * files by the manifest stats. On top: the rename projection, the
    * deletion-vector overlay (one anti-join on the parquet row position
    * against the DVs of the index's CURRENT pin, [[DvIndex]]) and the
    * optional provenance columns — `fileCol` (each row's file path) and
    * `posCol` (its parquet row index), both from `_metadata`, so filters
    * above still reach the scan. The overlay is planned when the pin
    * carries a deletion vector, or when a head pin's table declares
    * merge-on-read deletes (its own SQL DELETE adds them as the pin
    * moves). `versionAsOf = None` pins the head (refreshable, writable:
    * the SQL head doors); `Some(v)` pins `snap` for good (time travel,
    * and every Scala read, which passes its own version). The plan's
    * root carries [[TableReadTag]]. */
  private[graft] def scan(spark: SparkSession, root: String,
                          snap: ManifestTable.Snapshot,
                          versionAsOf: Option[Int],
                          fileCol: Option[String] = None,
                          posCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val (physical, projection) = shapeOf(spark, root, snap)
    val dvMap = ManifestTable.dvRefsOf(snap, snap.files)
    val overlays = dvMap.nonEmpty ||
      (versionAsOf.isEmpty && ManifestTable.morDeletes(snap))
    val rel = relationAt(spark, root, versionAsOf, snap, physical, overlays)
    val base = spark.baseRelationToDataFrame(rel)
    val data = projection.getOrElse(base.columns.toSeq.map(col))
    val df =
      if (!overlays && posCol.isEmpty) {
        // provenance by the file-path metadata column, NOT
        // input_file_name() — a nondeterministic projection stops every
        // filter above it from reaching the parquet scan
        val file = fileCol.map(col("_metadata.file_path").as(_))
        if (projection.isEmpty && file.isEmpty) base
        else base.select(data ++ file: _*)
      } else {
        val (abs, pos) = ("__graft_abs", "__graft_pos")
        val wide = base.select(data ++ Seq(col("_metadata.file_path").as(abs),
          col("_metadata.row_index").as(pos)): _*)
        val kept =
          if (!overlays) wide
          else ManifestTable.overlayDv(spark.baseRelationToDataFrame(
            new HadoopFsRelation(new DvIndex(spark, rel.idx), StructType(Nil),
              ManifestTable.DvSchema, None, new ParquetFileFormat,
              Map.empty)(spark)),
            dvMap.values.map(_._2).sum, wide, abs, pos)
        kept.select(kept.columns.toSeq.flatMap {
          case `abs` => fileCol.map(col(abs).as(_))
          case `pos` => posCol.map(col(pos).as(_))
          case c => Some(col(c))
        }: _*)
      }
    df.queryExecution.analyzed.setTagValue(TableReadTag, root)
    df
  }

  /** The deletion-vector sidecars of `table`'s CURRENT pin, as the DV
    * side of the overlay reads them: the overlay follows the pin, so a
    * head pin that `REFRESH TABLE`, a recache or its own DML moves
    * drops the rows of the deletion vectors it moved onto. Listed once
    * per pin, through the session's file-status cache (sidecar
    * directories never change once written). */
  private final class DvIndex(spark: SparkSession,
                              val table: ManifestFileIndex) extends FileIndex {
    @volatile private var listed: (ManifestTable.Snapshot, FileIndex) = _

    private def sidecars: FileIndex = {
      val (snap, cur) = (table.pinnedSnapshot, listed)
      if (cur != null && (cur._1 eq snap)) cur._2
      else {
        val dirs = ManifestTable.dvRefsOf(snap, snap.files).values
          .map(_._1).toSeq.distinct.sorted
        val idx = new InMemoryFileIndex(spark,
          dirs.map(new HPath(table.root, _)), Map.empty, None,
          FileStatusCache.getOrCreate(spark))
        listed = (snap, idx)
        idx
      }
    }

    override def rootPaths: Seq[HPath] = sidecars.rootPaths
    override def partitionSchema: StructType = StructType(Nil)
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression])
        : Seq[PartitionDirectory] =
      sidecars.listFiles(partitionFilters, dataFilters)
    override def inputFiles: Array[String] = sidecars.inputFiles
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = sidecars.sizeInBytes
    override def equals(other: Any): Boolean = other match {
      case o: DvIndex => o.table == table
      case _ => false
    }
    override def hashCode: Int = table.hashCode
  }

  /** The manifest table as a DataFrame whose SCAN prunes on pushed
    * filters — [[scan]] over the head (or the `versionAsOf` version),
    * the composable SQL form: [[register]] wraps it in a temp view, the
    * catalog door swaps it in for `db.t`, the `graft_manifest` TVF
    * returns it. Correct even in a session without the graft
    * extensions (the overlay is part of the scan). */
  def relation(spark: SparkSession, root: String,
               versionAsOf: Option[Int] = None): DataFrame =
    scan(spark, root, resolveSnapshot(root, versionAsOf), versionAsOf)

  /** Register the manifest table as temp view `name` for `spark.sql`
    * access — the SQL twin of [[ManifestTable.read]], with
    * planning-time file pruning under pure SQL. The view PINS the
    * snapshot: re-register (or `REFRESH TABLE`) to move it. On an
    * un-renamed table without deletion vectors or `#dvmode` the view is
    * the bare insertable relation, so `INSERT INTO name ...` / `INSERT
    * OVERWRITE ...` write through the ledgered commit; otherwise it
    * registers the coalesce projection or the DV overlay, which SQL
    * cannot insert through (DELETE/UPDATE/MERGE still can). */
  def register(spark: SparkSession, name: String, root: String,
               versionAsOf: Option[Int] = None): Unit =
    relation(spark, root, versionAsOf).createOrReplaceTempView(name)

  /** Backtick-quote an identifier for splicing into SQL text: each
    * dot-separated part is escaped, so reserved words, hyphens, and
    * case-odd names resolve to exactly the named object instead of
    * failing the parse or resolving elsewhere. A literal dot INSIDE a
    * part is out of contract (dots are the multipart separator —
    * Spark's own `spark.table(name)` parses them the same way). */
  private def quotedId(name: String): String =
    name.split('.').map(p => "`" + p.replace("`", "``") + "`")
      .mkString(".")

  /** PERSISTENT registration: a real catalog entry (HMS-backed under
    * `Graft.enableSql(persistent = true)`'s session wiring) that
    * survives the JVM — `USING graft-manifest` with the table root as
    * its path. Through [[graft.catalog.GraftCatalog]] every statement
    * resolves the entry to the then-current head, renamed columns
    * included, so one registration serves every later commit (a
    * schema change needs no re-register). Time travel is statement
    * business (`VERSION AS OF`), not an identity — `versionAsOf` is
    * intentionally absent here.
    *
    * Re-registration publishes under a TEMP name first, then
    * drop-old + rename-new: the expensive step (createTable reads the
    * head's schema for the entry) happens OUTSIDE the unavailability
    * window, which shrinks to two catalog round-trips. Session-catalog DDL has no transactional swap
    * (Spark's own CREATE OR REPLACE paths share the residual window),
    * so a reader racing those two statements can still see the name
    * absent for a moment — documented on registerManifest. An older
    * registration shape under the name — a `<name>_store` table plus
    * a coalesce VIEW `<name>` — is dropped, so re-registering it once
    * migrates it. */
  def registerPersistent(spark: SparkSession, name: String,
                         root: String): Unit = {
    resolveSnapshot(root, None)
    // a same-named temp view would shadow the catalog entry
    spark.catalog.dropTempView(name)
    val cat = spark.sessionState.catalog
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(
      quotedId(name))
    val tmp = s"${name}_reg_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    spark.catalog.createTable(tmp, ManifestProvider, Map("path" -> root))
    try {
      if (cat.tableExists(ident)) {
        val isView = cat.getTableMetadata(ident).tableType ==
          org.apache.spark.sql.catalyst.catalog.CatalogTableType.VIEW
        if (isView) {
          spark.sql(s"DROP VIEW IF EXISTS ${quotedId(name)}")
          val store = ident.copy(table = ident.table + "_store")
          if (manifestEntryOf(spark, store).isDefined)
            cat.dropTable(store, ignoreIfNotExists = true, purge = false)
        } else spark.sql(s"DROP TABLE IF EXISTS ${quotedId(name)}")
      }
      spark.sql(s"ALTER TABLE ${quotedId(tmp)} RENAME TO ${quotedId(name)}")
      ()
    } catch {
      case t: Throwable =>
        scala.util.Try(spark.sql(s"DROP TABLE IF EXISTS ${quotedId(tmp)}"))
        throw t
    }
  }
}
