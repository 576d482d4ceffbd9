package graft

import graft.schema.Catalog
import graft.sources.Tables
import org.apache.spark.sql.{functions => F}

/** Pins the HMS-backed persistent catalog (round 8): the suite session
  * is built through [[graft.api.Metastore.configure]], so these tests
  * run against a REAL Hive metastore (embedded Derby), exactly like
  * Verify/Bench. */
class MetastoreSpec extends SparkSpec {

  // SPARK_GRAFT_HMS=0 is a supported opt-out (in-memory catalog) —
  // these contracts are HMS-only, so cancel rather than fail there
  private def requireHms(): Unit = assume(graft.api.Metastore.enabled,
    "SPARK_GRAFT_HMS=0: in-memory catalog session, HMS contracts n/a")

  test("suite session's catalog is a real Hive metastore") {
    requireHms()
    assert(spark.conf.get("spark.sql.catalogImplementation") == "hive")
    assert(spark.sharedState.externalCatalog.unwrapped.getClass.getName
      .contains("HiveExternalCatalog"),
      spark.sharedState.externalCatalog.unwrapped.getClass.getName)
  }

  test("persistent registration is idempotent under HMS and spans sessions") {
    requireHms()
    val g = graft.api.Graft(spark, sf)
    g.enableSql(persistent = true)
    try {
      val n1 = spark.sql("SELECT count(*) AS n FROM customer")
        .collect()(0).getLong(0)
      // second call takes the fast path (no DDL) and must not change
      // what the catalog serves
      g.enableSql(persistent = true)
      val n2 = spark.sql("SELECT count(*) AS n FROM customer")
        .collect()(0).getLong(0)
      assert(n1 == n2 && n1 > 0)
      // the nanos→ntz read expression survives the round-trip through
      // HMS-stored view text
      assert(spark.table("events").schema("ts").dataType.typeName
        == "timestamp_ntz")
      // metastore objects are catalog-scoped, not session-scoped: a
      // sibling session (no temp views) resolves the model view and
      // reads identical data — the property temp-view mode cannot have
      val s2 = spark.newSession()
      assert(s2.catalog.tableExists("customer"))
      assert(s2.sql("SELECT count(*) AS n FROM customer")
        .collect()(0).getLong(0) == n1)
    } finally {
      // leave no catalog views shadowing other suites' temp views
      Catalog.tables.foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${Catalog(t).storageName}_store")
      }
    }
  }

  test("alternating sfDirs re-point the catalog instead of serving stale data") {
    requireHms()
    val dirA = sf // sf0.001
    val dirB = "/root/testdata/sf0.01"
    try {
      graft.api.Graft(spark, dirA).enableSql(persistent = true)
      val nA = spark.sql("SELECT count(*) AS n FROM orders")
        .collect()(0).getLong(0)
      graft.api.Graft(spark, dirB).enableSql(persistent = true)
      val nB = spark.sql("SELECT count(*) AS n FROM orders")
        .collect()(0).getLong(0)
      assert(nA != nB, "fixture SFs should differ in row count")
      // back to A: the repeat fast path must observe the re-pointed
      // location and re-register, not serve B's files from the memo
      graft.api.Graft(spark, dirA).enableSql(persistent = true)
      val nA2 = spark.sql("SELECT count(*) AS n FROM orders")
        .collect()(0).getLong(0)
      assert(nA2 == nA, s"stale catalog after alternation: $nA2 != $nA")
    } finally {
      Catalog.tables.foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${Catalog(t).storageName}_store")
      }
    }
  }

  test("in-place store rewrite contract: dropping the store table forces the slow path and fresh data") {
    // The enableSql repeat fast path deliberately skips refreshTable
    // (stores are single immutable parquet files); a caller that
    // rewrites a store file AT THE SAME PATH must drop the store
    // table first. This pins the contract's actionable half: after
    // the drop, re-registration goes through the slow path and serves
    // the rewritten bytes — if a future edit lets the fast path
    // survive a dropped table (or the slow path skip the footer
    // re-check), this fails.
    requireHms()
    val tmpDir = java.nio.file.Files.createTempDirectory("graft_rw")
    val src = java.nio.file.Paths.get(sf)
    java.nio.file.Files.list(src).forEach { p =>
      java.nio.file.Files.copy(p, tmpDir.resolve(p.getFileName.toString))
      ()
    }
    try {
      graft.api.Graft(spark, tmpDir.toString).enableSql(persistent = true)
      val n0 = spark.sql("SELECT count(*) AS n FROM orders")
        .collect()(0).getLong(0)
      // in-place rewrite: a different SF's orders file at the SAME path
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.01/orders.parquet"),
        tmpDir.resolve("orders.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the documented invalidation: drop the store table, re-enable
      val store = s"${Catalog("orders").storageName}_store"
      spark.sql(s"DROP TABLE IF EXISTS $store")
      graft.api.Graft(spark, tmpDir.toString).enableSql(persistent = true)
      val n1 = spark.sql("SELECT count(*) AS n FROM orders")
        .collect()(0).getLong(0)
      assert(n1 != n0,
        s"dropped store table still served the pre-rewrite data ($n1)")
    } finally {
      Catalog.tables.foreach { t =>
        spark.sql(s"DROP VIEW IF EXISTS $t")
        spark.sql(s"DROP TABLE IF EXISTS ${Catalog(t).storageName}_store")
      }
    }
  }

  test("persistent manifest registration survives sessions, keeps pruning, and accepts SQL writes") {
    requireHms()
    import graft.operators.ManifestTable
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pm").toString
    ManifestTable.init(root, Seq("id"))
    for (i <- 0 until 4)
      ManifestTable.append(spark, root,
        (i * 100L until i * 100L + 100L).toDF("id")
          .withColumn("payload", F.concat(F.lit("row"), F.col("id")))
          .coalesce(1))
    try {
      graft.api.Graft(spark, sf)
        .registerManifest("pm_corpus", root, persistent = true)
      // a SIBLING session (no temp views) resolves the catalog entry:
      // the provider rebuilds the pruned relation against the
      // then-current head — the restart-survival shape
      val s2 = spark.newSession()
      assert(s2.catalog.tableExists("pm_corpus"))
      val point = s2.sql("SELECT id FROM pm_corpus WHERE id = 150")
      point.collect()
      // the pushed predicate pruned the planned file list in s2
      val scanned = point.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.metrics("numFiles").value
        }
      assert(point.as[Long].collect().toSeq == Seq(150L))
      assert(scanned.contains(1L),
        s"catalog-resolved read planned ${scanned} files, expected 1")
      // SQL INSERT through the catalog entry lands a ledgered commit
      val vBefore = ManifestTable.latest(root).get.version
      s2.sql("INSERT INTO pm_corpus VALUES (1000, 'late')")
      assert(ManifestTable.latest(root).get.version == vBefore + 1,
        "INSERT INTO must publish one manifest commit")
      assert(s2.sql("SELECT count(*) FROM pm_corpus").as[Long].head == 401L)
      // a schema-changing Scala commit is served at once: the catalog
      // name resolves the head at each statement, no re-register
      ManifestTable.append(spark, root,
        (2000L until 2001L).toDF("id")
          .withColumn("payload", F.lit("x"))
          .withColumn("extra", F.lit(1L)))
      assert(spark.newSession().sql(
        "SELECT count(extra) FROM pm_corpus").as[Long].head == 1L)
      assert(s2.sql("SELECT count(extra) FROM pm_corpus").as[Long].head
        == 1L, "a session that read the old schema sees the new one")
      // CACHE TABLE must not serve stale rows across a SQL INSERT
      // (the catalog-path insert invalidates by path, like Spark's
      // own insert commands)
      val s4 = spark.newSession()
      s4.sql("CACHE TABLE pm_corpus")
      val nCached = s4.sql("SELECT count(*) FROM pm_corpus").as[Long].head
      s4.sql("INSERT INTO pm_corpus VALUES (3000, 'c', 5)")
      assert(s4.sql("SELECT count(*) FROM pm_corpus").as[Long].head
        == nCached + 1, "cached plan served stale rows after INSERT")
      s4.sql("UNCACHE TABLE pm_corpus")
      // a RENAME keeps one writable table under the name: the new
      // name serves the old files through the chain, no re-register
      ManifestTable.renameColumn(spark, root, "payload", "body")
      val s5 = spark.newSession()
      assert(s5.catalog.getTable("pm_corpus").tableType != "VIEW")
      assert(s5.sql("SELECT count(body) FROM pm_corpus").as[Long].head
        == nCached + 1, "the renamed column must serve its data")
      s5.sql("INSERT INTO pm_corpus VALUES (4000, 'r', 6)")
      assert(s5.sql("SELECT body FROM pm_corpus WHERE id = 4000")
        .as[String].head == "r")
    } finally scala.util.Try(spark.sql("DROP TABLE IF EXISTS pm_corpus"))
  }

  test("ALTER TABLE ADD COLUMNS evolves the schema ledger and refreshes the catalog in place") {
    requireHms()
    import graft.operators.ManifestTable
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pma").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root,
      (0L until 100L).toDF("id")
        .withColumn("payload", F.concat(F.lit("row"), F.col("id")))
        .coalesce(1))
    try {
      graft.api.Graft(spark, sf)
        .registerManifest("pma_corpus", root, persistent = true)
      val v0 = ManifestTable.latest(root).get
      spark.sql("ALTER TABLE pma_corpus ADD COLUMNS (score BIGINT, tag STRING)")
      // ONE metadata-only ledger commit: same files, evolved schema
      val v1 = ManifestTable.latest(root).get
      assert(v1.version == v0.version + 1 && v1.files == v0.files,
        "ALTER must be a metadata-only ledger commit")
      // session A keeps reading (NULL-filled) without re-registering
      assert(spark.sql("SELECT count(score) FROM pma_corpus")
        .as[Long].head() == 0L)
      assert(spark.sql("SELECT count(*) FROM pma_corpus")
        .as[Long].head() == 100L)
      // session B resolves the catalog entry against the widened
      // schema — the r17 contract would have failed loudly here until
      // a manual re-register
      val s2 = spark.newSession()
      assert(s2.table("pma_corpus").columns.toSeq ==
        Seq("id", "payload", "score", "tag"))
      // ...and can populate the new columns through plain SQL at once
      s2.sql("INSERT INTO pma_corpus VALUES (1000, 'late', 7, 't')")
      assert(s2.sql("SELECT sum(score) FROM pma_corpus")
        .as[Long].head() == 7L)
      // session A's pin is at the ALTER-time head (the standing
      // snapshot contract); a REFRESH moves it — and must NOT trip
      // the drift guard, since A's post-ALTER relation already
      // carries the evolved schema
      spark.catalog.refreshTable("pma_corpus")
      assert(spark.sql("SELECT count(*) FROM pma_corpus")
        .as[Long].head() == 101L,
        "session A must see the post-ALTER insert after REFRESH")
      // refusals: a clash with a live column, and a reserved name
      val clash = intercept[Exception](
        spark.sql("ALTER TABLE pma_corpus ADD COLUMNS (payload STRING)"))
      assert(clash.getMessage.contains("already exist"))
      ManifestTable.renameColumn(spark, root, "tag", "label")
      val reserved = intercept[Exception](
        spark.sql("ALTER TABLE pma_corpus ADD COLUMNS (tag STRING)"))
      assert(reserved.getMessage.contains("reserved"),
        s"expected the reserved-name refusal, got: ${reserved.getMessage}")
    } finally {
      Seq("DROP VIEW IF EXISTS pma_corpus",
        "DROP TABLE IF EXISTS pma_corpus",
        "DROP TABLE IF EXISTS pma_corpus_store")
        .foreach(s => scala.util.Try(spark.sql(s)))
    }
  }

  test("ALTER TABLE RENAME/DROP COLUMN route through the schema ledger and rebuild the registration in place") {
    requireHms()
    import graft.operators.ManifestTable
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_prd").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root,
      (0L until 50L).toDF("id")
        .withColumn("payload", F.concat(F.lit("row"), F.col("id")))
        .withColumn("junk", F.lit("x"))
        .coalesce(1))
    try {
      graft.api.Graft(spark, sf)
        .registerManifest("prd_corpus", root, persistent = true)
      val v0 = ManifestTable.latest(root).get
      // DROP: metadata-only tombstone, bare table stays SQL-writable
      spark.sql("ALTER TABLE prd_corpus DROP COLUMN junk")
      val v1 = ManifestTable.latest(root).get
      assert(v1.version == v0.version + 1 && v1.files == v0.files,
        "DROP COLUMN must be a metadata-only ledger commit")
      assert(spark.table("prd_corpus").columns.toSeq ==
        Seq("id", "payload"))
      spark.sql("INSERT INTO prd_corpus VALUES (500, 'late')")
      // IF EXISTS on a missing column is a no-op, not an error
      spark.sql("ALTER TABLE prd_corpus DROP COLUMN IF EXISTS ghost")
      // RENAME: the chain serves OLD files through the NEW name; the
      // name stays one writable table
      spark.sql("ALTER TABLE prd_corpus RENAME COLUMN payload TO body")
      assert(spark.table("prd_corpus").columns.toSeq == Seq("id", "body"))
      assert(spark.sql("SELECT body FROM prd_corpus WHERE id = 7")
        .as[String].head() == "row7",
        "pre-rename files must read through the coalesce chain")
      assert(spark.sql("SELECT count(*) FROM prd_corpus")
        .as[Long].head() == 51L)
      assert(spark.catalog.getTable("prd_corpus").tableType != "VIEW")
      spark.sql("INSERT INTO prd_corpus VALUES (501, 'after')")
      // a sibling session resolves the same table directly
      val s2 = spark.newSession()
      assert(s2.table("prd_corpus").columns.toSeq == Seq("id", "body"))
      assert(s2.sql("SELECT body FROM prd_corpus WHERE id = 500")
        .as[String].head() == "late")
      assert(s2.sql("SELECT body FROM prd_corpus WHERE id = 501")
        .as[String].head() == "after")
      // refusals: nested path and unknown column fail loudly
      val missing = intercept[Exception](
        spark.sql("ALTER TABLE prd_corpus DROP COLUMN ghost"))
      assert(missing.getMessage != null)
    } finally {
      Seq("DROP VIEW IF EXISTS prd_corpus",
        "DROP TABLE IF EXISTS prd_corpus",
        "DROP TABLE IF EXISTS prd_corpus_store")
        .foreach(s => scala.util.Try(spark.sql(s)))
    }
  }

  test("SQL time-travel syntax: VERSION AS OF / TIMESTAMP AS OF on manifest catalog tables") {
    requireHms()
    import graft.operators.ManifestTable
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_ptt").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, (0L until 10L).toDF("id"))   // v1
    ManifestTable.append(spark, root, (10L until 30L).toDF("id"))  // v2
    Thread.sleep(1100) // a clean commit-mtime boundary
    val betweenTs = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(1100)
    ManifestTable.append(spark, root, (30L until 60L).toDF("id"))  // v3
    try {
      graft.api.Graft(spark, sf)
        .registerManifest("ptt_corpus", root, persistent = true)
      def n(sql: String): Long = spark.sql(sql).as[Long].head()
      assert(n("SELECT count(*) FROM ptt_corpus VERSION AS OF 1") == 10L)
      assert(n("SELECT count(*) FROM ptt_corpus VERSION AS OF 2") == 30L)
      assert(n("SELECT count(*) FROM ptt_corpus") == 60L)
      // TIMESTAMP AS OF resolves by commit time to the version then
      assert(n("SELECT count(*) FROM ptt_corpus " +
        s"TIMESTAMP AS OF '$betweenTs'") == 30L)
      assert(n("SELECT count(*) FROM ptt_corpus " +
        "TIMESTAMP AS OF '2099-01-01'") == 60L)
      // the travelled relation composes inside a bigger query
      assert(n("SELECT count(*) FROM ptt_corpus t JOIN " +
        "(SELECT id FROM ptt_corpus VERSION AS OF 1) o ON t.id = o.id")
        == 10L)
      // ...and qualified references resolve through the rewrite
      assert(n("SELECT count(ptt_corpus.id) FROM ptt_corpus " +
        "VERSION AS OF 1") == 10L)
      // a persistent VIEW over the syntax keeps working at READ time:
      // SessionCatalog re-parses the stored body through parseQuery,
      // which must apply the same re-route
      spark.sql("CREATE OR REPLACE VIEW ptt_v1 AS " +
        "SELECT id FROM ptt_corpus VERSION AS OF 1")
      assert(n("SELECT count(*) FROM ptt_v1") == 10L)
      val s3 = spark.newSession()
      assert(s3.sql("SELECT count(*) FROM ptt_v1")
        .as[Long](org.apache.spark.sql.Encoders.scalaLong).head() == 10L,
        "a sibling session must resolve the time-travel view body")
      // the literal is interpreted in the SESSION timezone: the same
      // instant written as Tokyo wall-clock under a Tokyo session
      // must pick the same version the UTC text picked above (a JVM-
      // default-zone parse would be off by the zone gap)
      val tokyoText = betweenTs.toInstant
        .atZone(java.time.ZoneId.of("Asia/Tokyo")).toLocalDateTime
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss"))
      val utcZone = spark.conf.get("spark.sql.session.timeZone")
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      try assert(n("SELECT count(*) FROM ptt_corpus " +
        s"TIMESTAMP AS OF '$tokyoText'") == 30L,
        "TIMESTAMP AS OF must parse in the session timezone")
      finally spark.conf.set("spark.sql.session.timeZone", utcZone)
      val early = intercept[Exception](spark.sql(
        "SELECT count(*) FROM ptt_corpus TIMESTAMP AS OF '1970-01-02'")
        .collect())
      assert(early.getMessage.contains("predates"))
      val badTs = intercept[Exception](spark.sql(
        "SELECT count(*) FROM ptt_corpus TIMESTAMP AS OF 'not a time'")
        .collect())
      assert(badTs.getMessage.contains("INVALID_TIME_TRAVEL_TIMESTAMP_EXPR"),
        badTs.getMessage)
      // a non-manifest table keeps the stock (unsupported) behavior
      (0L until 3L).toDF("id").write.mode("overwrite")
        .saveAsTable("ptt_plain")
      intercept[Exception](
        spark.sql("SELECT * FROM ptt_plain VERSION AS OF 1").collect())
    } finally {
      Seq("DROP VIEW IF EXISTS ptt_v1",
        "DROP TABLE IF EXISTS ptt_corpus",
        "DROP TABLE IF EXISTS ptt_plain")
        .foreach(s => scala.util.Try(spark.sql(s)))
    }
  }

  test("TRUNCATE TABLE on a manifest catalog entry is a ledgered empty-overwrite, never a file deletion") {
    requireHms()
    import graft.operators.ManifestTable
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pmt").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root,
      (0L until 50L).toDF("id").withColumn("payload", F.lit("p")))
    try {
      graft.api.Graft(spark, sf)
        .registerManifest("pmt_corpus", root, persistent = true)
      val v0 = ManifestTable.latest(root).get
      spark.sql("TRUNCATE TABLE pmt_corpus")
      val v1 = ManifestTable.latest(root).get
      assert(v1.version == v0.version + 1,
        "TRUNCATE must be one ledgered commit")
      assert(spark.sql("SELECT count(*) FROM pmt_corpus")
        .as[Long].head() == 0L)
      // the pre-truncate files are STILL ON DISK (vacuum orphans, not
      // victims of Spark's location-deleting V1 truncate) and history
      // still time-travels
      assert(v0.files.forall(f => new java.io.File(root, f).exists()),
        "TRUNCATE must never delete files under the table root")
      assert(ManifestTable.readVersion(spark, root, v0.version)
        .count() == 50L, "pre-truncate history must stay readable")
      // the table keeps living: schema carried, inserts land
      spark.sql("INSERT INTO pmt_corpus VALUES (7, 'post')")
      assert(spark.sql("SELECT count(*) FROM pmt_corpus")
        .as[Long].head() == 1L)
      // a renamed table truncates too: the empty overwrite carries the
      // recorded schema, never the renamed-away physical name
      spark.sql("ALTER TABLE pmt_corpus RENAME COLUMN payload TO body")
      val v2 = ManifestTable.latest(root).get.version
      spark.sql("TRUNCATE TABLE pmt_corpus")
      assert(ManifestTable.latest(root).get.version == v2 + 1)
      assert(spark.sql("SELECT count(*) FROM pmt_corpus")
        .as[Long].head() == 0L)
      assert(spark.table("pmt_corpus").columns.toSeq == Seq("id", "body"))
    } finally scala.util.Try(spark.sql("DROP TABLE IF EXISTS pmt_corpus"))
  }

  test("bucketed-table metadata round-trips through the metastore") {
    requireHms()
    val buckets = 4
    Tables.writeBucketed(
      Tables.scan(spark, sf, "nation").select(F.col("n_nationkey"),
        F.col("n_name")), "ms_nation_b", "n_nationkey", buckets)
    try {
      val cat = spark.sessionState.catalog
        .getTableMetadata(spark.sessionState.sqlParser
          .parseTableIdentifier("ms_nation_b"))
      assert(cat.bucketSpec.exists(b =>
        b.numBuckets == buckets && b.bucketColumnNames == Seq("n_nationkey")))
      // and a fresh session still sees the bucket spec (it lives in
      // HMS table properties, not in this session's memory)
      val s2 = spark.newSession()
      assert(s2.sessionState.catalog
        .getTableMetadata(s2.sessionState.sqlParser
          .parseTableIdentifier("ms_nation_b"))
        .bucketSpec.exists(_.numBuckets == buckets))
    } finally {
      spark.sql("DROP TABLE IF EXISTS ms_nation_b")
    }
  }

  test("ALTER COLUMN TYPE widens through the ledger and spans sessions; non-widening changes refuse loudly") {
    requireHms()
    import graft.operators.ManifestTable
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_pmw").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root,
      (0L until 60L).toDF("id")
        .withColumn("n", F.col("id").cast("int")).coalesce(1))
    try {
      graft.api.Graft(spark, sf)
        .registerManifest("pmw_corpus", root, persistent = true)
      val v0 = ManifestTable.latest(root).get
      spark.sql("ALTER TABLE pmw_corpus ALTER COLUMN n TYPE BIGINT")
      // ONE metadata-only ledger commit: same files, widened schema
      val v1 = ManifestTable.latest(root).get
      assert(v1.files == v0.files,
        "widening must be a metadata-only ledger commit")
      // session A keeps reading — int files upcast at read
      assert(spark.table("pmw_corpus").schema("n").dataType ==
        org.apache.spark.sql.types.LongType)
      assert(spark.sql("SELECT sum(n) FROM pmw_corpus").as[Long].head()
        == (0L until 60L).sum)
      // a FRESH session resolves the catalog entry against the
      // widened schema and can insert a genuinely long value at once
      val s2 = spark.newSession()
      assert(s2.table("pmw_corpus").schema("n").dataType ==
        org.apache.spark.sql.types.LongType)
      s2.sql("INSERT INTO pmw_corpus VALUES (1000, 5000000000)")
      assert(s2.sql("SELECT max(n) FROM pmw_corpus").as[Long].head()
        == 5000000000L)
      // non-widening changes refuse loudly (Spark's own analyzer
      // catches narrowing; the ledger refuses cross-family)
      val e1 = intercept[Exception](spark.sql(
        "ALTER TABLE pmw_corpus ALTER COLUMN n TYPE INT"))
      assert(e1.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
        e1.getMessage.contains("NARROW"), e1.getMessage)
      val e2 = intercept[Exception](spark.sql(
        "ALTER TABLE pmw_corpus ALTER COLUMN n TYPE DOUBLE"))
      assert(e2.getMessage.contains("widening"), e2.getMessage)
    } finally {
      Seq("DROP TABLE IF EXISTS pmw_corpus",
        "DROP TABLE IF EXISTS pmw_corpus_store")
        .foreach(s => scala.util.Try(spark.sql(s)))
    }
  }
}
