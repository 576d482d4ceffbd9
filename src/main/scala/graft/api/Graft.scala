package graft.api

import graft.operators.{Joins, Read, Validate, Writes}
import graft.schema.Catalog
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}

/** Fluent record-style façade mirroring the reference's public API
  * (`Hive::factory('user', ...)->read()` and friends,
  * `/root/reference/README.md:64-153`) over the table-at-a-time
  * engine. A reference user's call shapes translate one-to-one:
  *
  * {{{
  * val g = Graft(spark, "/root/testdata/sf0.001")
  * g.model("customer").where("c_custkey", 42L).readOne()   // factory+read
  * g.model("orders").where("o_custkey", 7L).read()         // multi-read
  * g.model("orders").where("o_custkey", 7L).total()        // total()
  * g.model("customer").related("orders")                   // $user->orders
  * g.model("orders").delete(pred)                          // bulk delete
  * }}}
  *
  * Unlike the reference (one SQL round-trip per record), every method
  * returns a lazy DataFrame plan — Catalyst fuses whatever the caller
  * chains next.
  */
final case class Graft(spark: SparkSession, sfDir: String) {
  def model(name: String): ModelQuery = ModelQuery(spark, sfDir, name)

  /** Register every declared model for `spark.sql` access (declared
    * fields, physical-column mapping and read expressions applied)
    * plus graft's native SQL functions (`dot_product`,
    * `rolling_hash`).
    *
    * Two modes — this is the Spark-side equivalent of the reference's
    * process-wide `Hive::$meta` registry (`model.php:69-79`):
    *  - `persistent = false` (default): session temp views. Nothing
    *    written to the warehouse; right for notebooks and tests.
    *  - `persistent = true`: the metastore path. Each model's storage
    *    is registered ONCE as an external parquet table
    *    (`<storage>_store` — no data copied, schema from the footers)
    *    and the declared projection becomes a catalog VIEW named
    *    after the model (read expressions rendered to SQL via
    *    `Expression.sql`). With a shared metastore these survive the
    *    session, are visible to every engine on the warehouse, and
    *    carry table-level metadata (the bucketing registered by
    *    [[Tables.writeBucketed]] lands in the same catalog). */
  def enableSql(persistent: Boolean = false): Unit = {
    graft.plans.GraftFunctions.register(spark)
    // events.ts is parquet TIMESTAMP(NANOS): catalog-table reads skip
    // Tables.scan, so the legacy flag must be on the session conf
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // register every catalog model that has a backing parquet file;
    // models without one (programmatic TableDefs registered for
    // in-memory frames) are skipped rather than failing the whole
    // SQL surface. On failure any SAME-NAMED view from a previous
    // enableSql (different sfDir) is dropped too — a stale view
    // silently serving the old directory's data is worse than
    // TABLE_OR_VIEW_NOT_FOUND
    Catalog.tables.foreach { t =>
      val register = scala.util.Try {
        if (persistent) registerPersistent(t)
        else Tables.scan(spark, sfDir, t).createOrReplaceTempView(t)
      }
      register.failed.foreach { e =>
        spark.catalog.dropTempView(t)
        graft.util.Log.warn(s"enableSql: skipping '$t' (${e.getMessage})")
      }
    }
  }

  /** Register a [[graft.operators.ManifestTable]] for `spark.sql`
    * access alongside the model views [[enableSql]] registers: the
    * view serves a SNAPSHOT-PINNED, stats-pruned parquet relation
    * ([[graft.sources.ManifestSql]]) — pushed predicates shrink the
    * planned file list through the manifest's per-file bounds and
    * Bloom side index, so the round-13+ table machinery (snapshot
    * isolation, time travel via `versionAsOf`, pruning) is reachable
    * from pure SQL, and `INSERT INTO` / `INSERT OVERWRITE` write
    * through the ledgered commit protocol. Re-register (or `REFRESH
    * TABLE`) to move the pin to the table's head.
    *
    * `persistent = true` is the metastore mode ([[enableSql]]'s
    * twin): a real catalog entry (`USING graft-manifest`) that
    * survives the JVM — through [[graft.catalog.GraftCatalog]] every
    * statement reads the then-current head, schema changes included
    * (no re-register). Persistent mode registers heads only — time
    * travel is a statement-level pin (`VERSION AS OF`, or
    * `versionAsOf` with the default temp-view mode). A persistent
    * RE-registration publishes under a temp name and swaps via
    * drop+rename, so the name's unavailability window is two catalog
    * statements — not zero: session-catalog DDL has no transactional
    * swap, and a concurrent reader can transiently miss the name.
    * Schedule re-registers off the query path. */
  def registerManifest(name: String, root: String,
                       versionAsOf: Option[Int] = None,
                       persistent: Boolean = false): Unit =
    if (persistent) {
      require(versionAsOf.isEmpty,
        "persistent manifest registration pins the HEAD — time travel " +
          "is a session-level pin (use the default temp-view mode)")
      graft.sources.ManifestSql.registerPersistent(spark, name, root)
      // catalog names resolve through graft's catalog (`db.name` and
      // the `graft.db.name` alias) — idempotent, never over a user's
      // own binding
      graft.catalog.GraftCatalog.install(spark)
    } else graft.sources.ManifestSql.register(spark, name, root, versionAsOf)

  private def registerPersistent(t: String): Unit = {
    val td = Catalog(t)
    val store = s"${td.storageName}_store"
    // events.ts needs the nanos flag before any raw parquet read here
    // (same rationale as Tables.scan; idempotent)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a temp view with the model's name would shadow the catalog view
    // (dropped BEFORE any tableExists check: tableExists answers true
    // for a same-named temp view, which would mask a dropped catalog
    // view and let the repeat fast path below skip a needed re-create)
    spark.catalog.dropTempView(t)
    val expectedLoc = Tables.path(sfDir, td.storageName)
    val absLoc = new java.io.File(expectedLoc).getAbsolutePath
    // repeat fast path: once THIS JVM has fully registered (view,
    // location) — store created/validated AND view text issued — a
    // later enableSql call only needs to confirm the objects still
    // exist (suites drop them in cleanup) and refresh the cached file
    // listing. Under the HMS-backed catalog this matters for latency:
    // the first-registration path below costs a DESCRIBE query per
    // table (plus, the first time this JVM sees a file, one footer
    // inference job — `Tables.parquet` reuses the schema after that),
    // which against a metastore turns every enableSql call into
    // ~0.5 s of catalog round-trips — paid once per JVM now, not once
    // per SQL query.
    // keyed view -> CURRENT location (not a set of seen pairs): with
    // alternating sfDirs in one JVM, a set would still contain the
    // OLD (view, loc) pair after re-registration re-pointed the store
    // elsewhere, and the fast path would silently serve the other
    // directory's data — put() on every registration invalidates it
    if (Graft.fullyRegistered.get(t) == absLoc &&
        spark.catalog.tableExists(store) && spark.catalog.tableExists(t)) {
      // NO per-call refreshTable here: the stores are single immutable
      // parquet files (a same-path rewrite is out of contract — see
      // the footer-check comment below), and refreshing per enableSql
      // call costs an HMS round-trip per table AND drops the cached
      // relation, re-listing and re-planning the scan for EVERY SQL
      // query in a batch run. Callers that rewrite a store in place
      // drop the store table (forcing the slow path) per the
      // documented contract.
      return
    }
    // fast path: the store already exists AND serves this sfDir's
    // files — registration is idempotent, skip the drop/recreate
    // round-trip (repeated enableSql calls — one per SQL query in a
    // batch run — would otherwise pay catalog DDL per query). The
    // location alone is not enough: with a PERSISTENT metastore a
    // catalog entry can outlive the process that created it, and the
    // files at its path may have been rewritten with a different
    // schema since — the catalog would keep serving the stale one.
    // So the first time this JVM sees a (store, location) pair it
    // also requires the catalog schema to equal the current footer
    // schema (a footer read, inferred at most once per file identity
    // by Tables.parquet); subsequent calls in the same JVM trust it —
    // re-reading footers per enableSql call would tax every SQL
    // query with listing+footer I/O for no new information.
    // Mid-JVM rewrites at the same path are out of contract (drop
    // the store table to force re-registration).
    val current =
      if (!spark.catalog.tableExists(store)) None
      else scala.util.Try(
        spark.sql(s"DESCRIBE TABLE EXTENDED $store")
          .filter(F.col("col_name") === "Location")
          .select("data_type").collect().headOption.map(_.getString(0))
      ).toOption.flatten
    val footerKey = (store, absLoc)
    // the footer schema, inferred once per file identity JVM-wide
    lazy val fileSchema = Tables.parquet(spark, expectedLoc).schema
    val upToDate = current.exists(_.stripPrefix("file:") == absLoc) &&
      (Graft.footerChecked.contains(footerKey) ||
        scala.util.Try(spark.table(store).schema == fileSchema)
          .getOrElse(false))
    if (upToDate && spark.catalog.tableExists(t) &&
        Graft.viewEnsured.contains(t)) {
      Graft.footerChecked.add(footerKey)
      Graft.fullyRegistered.put(t, absLoc)
      // same location, same on-disk schema, view text already ensured
      // by THIS build — NO refresh, same contract as the fully-
      // registered fast path above: the store locations are single
      // immutable parquet FILES, so appends at the same path are
      // impossible and a same-path rewrite is out of contract (the
      // rewriter must DROP the store table, forcing the slow path —
      // MetastoreSpec pins both halves of this contract)
      return
    }
    // external table over the storage files, shared by every model on
    // the same storage (customer_profile reuses customer's). Recreate
    // if it exists: it may point at another sfDir's files.
    if (!upToDate) {
      spark.sql(s"DROP TABLE IF EXISTS $store")
      // skipHiveMetadata: these locations are single parquet FILES, and
      // the HMS catalog's Hive-compatible persistence attempt requires
      // a directory — it would throw, log an 8-frame stack at WARN,
      // and fall back to Spark-native format anyway (burying real
      // failures in CI logs). The option skips the doomed attempt and
      // persists Spark-native directly; nothing here needs Hive-engine
      // readability, and Spark reads its own format either way.
      spark.catalog.createTable(store, "parquet", fileSchema,
        Map("path" -> expectedLoc, "skipHiveMetadata" -> "true"))
      // schema just read from these footers — checked by creation
      Graft.footerChecked.add(footerKey)
    } else {
      spark.catalog.refreshTable(store)
    }
    // render the declared projection to SQL text by ANALYZING it
    // against the store table first — resolved NamedExpression.sql is
    // the supported SQL rendering (Column-node toString is not)
    val stored = spark.table(store)
    val projected = stored.select(td.fields.map { f =>
      val base = F.col(f.physical)
      val phys = stored.schema(f.physical).dataType
      // pass the catalog table's loaded type so storage→logical
      // transforms adapt to the fixture's physical encoding (the
      // rendered view SQL then bakes in the right branch); declared
      // timestamps loaded as raw longs self-heal like Tables.scan
      val read = f.readExpr.map(fn => fn(base, phys)).getOrElse(
        f.ftype match {
          case _: graft.schema.FTimestamp
              if phys == org.apache.spark.sql.types.LongType =>
            graft.functions.Dates.adaptiveTsToNtz(base, phys)
          case _ => base
        })
      read.alias(f.name)
    }: _*)
    val proj = projected.queryExecution.analyzed match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.map(_.sql).mkString(", ")
      case other => throw new IllegalStateException(
        s"expected a Project over $store, analyzed to ${other.nodeName}")
    }
    // ALWAYS re-issued at least once per JVM: with a persistent
    // metastore, a view created by an OLDER build (different declared
    // projection/readExpr) would otherwise keep serving its stale
    // text — the footer check above validates only the store table's
    // schema, never the view definition. A stale view can only come
    // from another JVM (this build's DDL is deterministic), so one
    // CREATE OR REPLACE per view per JVM restores correctness without
    // re-paying catalog DDL on every enableSql call.
    spark.sql(s"CREATE OR REPLACE VIEW $t AS SELECT $proj FROM $store")
    Graft.viewEnsured.add(t)
    Graft.fullyRegistered.put(t, absLoc)
  }
}

object Graft {
  // (store table, absolute location) pairs whose catalog schema this
  // JVM has verified against the on-disk parquet footers (or created
  // from them) — see registerPersistent's fast path
  private val footerChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  // view names whose CREATE OR REPLACE VIEW this JVM has issued —
  // guards against stale view text left by an older build in a
  // persistent metastore (see registerPersistent)
  private val viewEnsured =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // view -> absolute location this JVM has registered end-to-end —
  // the repeat fast path that skips DESCRIBE/footer work entirely
  // (see registerPersistent). A MAP, not a set of pairs: re-pointing
  // a view at a different sfDir must invalidate the old location or
  // the fast path would serve stale data on the next alternation
  private val fullyRegistered =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
}

final case class ModelQuery(
    spark: SparkSession, sfDir: String, table: String,
    example: Map[String, Any] = Map.empty,
    extra: Option[Column] = None) {

  private def t = Catalog(table)

  /** QBE condition on a declared field (`__set` + prepared read). */
  def where(field: String, value: Any): ModelQuery = {
    t.field(field) // undeclared-field check, model.php:219-225
    copy(example = example + (field -> value))
  }

  /** Arbitrary predicate passthrough (P4). */
  def filter(pred: Column): ModelQuery =
    copy(extra = Some(extra.fold(pred)(_ && pred)))

  /** Multi-row read with declared sort (S3). */
  def read(limit: Option[Int] = None): DataFrame =
    Read.read(spark, sfDir, table, example, extra, limit)

  /** Point lookup (S2): first row under the declared sort, if any. */
  def readOne(): Option[Row] =
    Read.read(spark, sfDir, table, example, extra, limit = Some(1))
      .collect().headOption

  /** COUNT over the current conditions (A1). */
  def total(): Long =
    Read.total(spark, sfDir, table, example, extra).collect()(0).getLong(0)

  /** Relation traversal (J1-J3): related rows of the selected set. */
  def related(relName: String): DataFrame =
    Joins.related(spark, sfDir, table, relName, example)

  /** Distinct key→value dictionary (P2/O4/O5). */
  def selectList(key: String, value: String): DataFrame =
    Read.selectList(spark, sfDir, table, key, value)

  // ---- write path: pure merge results (caller persists) ----

  /** INSERT with auto-id assignment (S5). */
  def create(rows: DataFrame): DataFrame = {
    val base = Tables.scan(spark, sfDir, table)
    val autoCol = t.fields.find(_.isAuto).map(_.name)
      .getOrElse(t.primaryKeys.head.name)
    val order = t.primaryKeys.map(f => F.col(f.name))
    Writes.insert(base, rows, autoCol, order)
  }

  /** Delta UPDATE of the QBE-selected rows (S6): `sets` are the
    * changed columns only. `limit` is the reference's LIMIT-n DML
    * clause (`model.php:775`, default `$limit = 1` there) — pass
    * `Some(1)` for reference-default single-row semantics; graft's
    * default is the set-oriented unlimited update (documented
    * divergence, SURVEY §7). */
  def update(sets: Map[String, Column], limit: Option[Int] = None): DataFrame = {
    val base = Tables.scan(spark, sfDir, table)
    val pk = t.primaryKeys.map(_.name)
    var selected = base.filter(Read.qbe(t, example))
    extra.foreach(p => selected = selected.filter(p))
    val delta = selected.select(
      (pk.map(F.col) ++ sets.map { case (c, e) => e.as(c) }).toSeq: _*)
    Writes.update(base, delta, pk, limit)
  }

  /** DELETE of the QBE/predicate-selected rows (S7); `limit` as in
    * [[update]] (`model.php:831`). */
  def delete(limit: Option[Int] = None): DataFrame = {
    val base = Tables.scan(spark, sfDir, table)
    val pk = t.primaryKeys.map(_.name)
    var victims = base.filter(Read.qbe(t, example))
    extra.foreach(p => victims = victims.filter(p))
    Writes.delete(base, victims, pk, limit)
  }

  /** UPSERT (S8, `save()`). */
  def save(rows: DataFrame): DataFrame =
    Writes.upsert(Tables.scan(spark, sfDir, table), rows,
      t.primaryKeys.map(_.name))

  /** Validation report over the selected rows (F10/F11). */
  def validate(): DataFrame = {
    var df = Tables.scan(spark, sfDir, table).filter(Read.qbe(t, example))
    extra.foreach(p => df = df.filter(p))
    Validate.report(df, t)
  }

  /** JSON export (S10): one JSON document per selected row. */
  def asJson(): DataFrame =
    read().select(F.to_json(F.struct(F.col("*"))).as("json"))
}
