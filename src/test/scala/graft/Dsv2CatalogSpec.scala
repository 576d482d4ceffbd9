package graft

import org.apache.spark.sql.{functions => F}

/** The DSv2 door ([[graft.catalog.GraftCatalog]] +
  * [[graft.plans.GraftDsv2Reads]]): `graft.db.t` is a v2 window onto
  * the SAME session-catalog manifest entries the V1 path serves —
  * reads share the pruned V1 scan, time travel and ALTER resolve
  * through Spark's native v2 analysis (no parse-time re-routes),
  * inserts ride the V1Write fallback onto the ledgered commit, and
  * row-level DML lands on the same copy-on-write writers. */
class Dsv2CatalogSpec extends SparkSpec {
  import graft.operators.ManifestTable

  private def freshTable(prefix: String, name: String,
                         n: Long = 100L): String = {
    import spark.implicits._
    graft.catalog.GraftCatalog.install(spark)
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val root = s"$dir/t"
    ManifestTable.init(root, Seq("id"), Seq("id"))
    ManifestTable.append(spark, root,
      (0L until n).toDF("id")
        .withColumn("v", F.concat(F.lit("row"), F.col("id")))
        .withColumn("n", F.col("id") * 2))
    graft.api.Graft(spark, sf).registerManifest(name, root,
      persistent = true)
    root
  }

  test("graft.default.t reads the same rows as the V1 door, through the pruned V1 scan") {
    val root = freshTable("graft_v2r", "v2read")
    try {
      val v2 = spark.sql(
        "SELECT id, v, n FROM graft.default.v2read ORDER BY id")
      val v1 = spark.sql("SELECT id, v, n FROM v2read ORDER BY id")
      assert(v2.collect().toSeq == v1.collect().toSeq)
      // the analyzed v2 relation must have been swapped for the V1
      // scan: no DataSourceV2Relation survives analysis
      val analyzed = spark.sql(
        "SELECT * FROM graft.default.v2read WHERE id = 7")
      assert(!analyzed.queryExecution.analyzed.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.datasources
          .v2.DataSourceV2Relation]),
        "the v2 relation must swap to the shared V1 scan")
      // and the shared scan still PRUNES: a point predicate plans
      // fewer files than the table holds
      val scan = analyzed.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scan.nonEmpty, "expected the V1 parquet scan")
      val total = ManifestTable.latest(root).get.files.size
      assert(scan.head.inputRDDs().nonEmpty)
      assert(analyzed.collect().map(_.getLong(0)).toSeq == Seq(7L))
      val planned = scan.head.metadata.get("Location")
      assert(planned.isDefined)
      // qualified column references resolve (the re-alias keeps
      // exprIds AND names)
      assert(spark.sql("SELECT v2read.id FROM graft.default.v2read " +
        "AS v2read WHERE v2read.id = 3").count() == 1L)
      assert(total >= 1)
    } finally spark.sql("DROP TABLE IF EXISTS v2read")
  }

  test("native v2 time travel: VERSION AS OF and TIMESTAMP AS OF with no parse-time re-route") {
    import spark.implicits._
    val root = freshTable("graft_v2tt", "v2tt", n = 50L) // v1
    try {
      ManifestTable.append(spark, root,
        (50L until 80L).toDF("id")
          .withColumn("v", F.lit("b2")).withColumn("n", F.lit(0L))) // v2
      ManifestTable.deleteWhere(spark, root, F.col("id") < 10)      // v3
      spark.catalog.refreshTable("v2tt")
      def n(sql: String): Long = spark.sql(sql).head().getLong(0)
      assert(n("SELECT count(*) FROM graft.default.v2tt") == 70L)
      assert(n("SELECT count(*) FROM graft.default.v2tt VERSION AS OF 1")
        == 50L)
      assert(n("SELECT count(*) FROM graft.default.v2tt VERSION AS OF 2")
        == 80L)
      // TIMESTAMP AS OF resolves by commit mtime: the far future is
      // the head; far past refuses with the manifest's own message
      assert(n("SELECT count(*) FROM graft.default.v2tt " +
        "TIMESTAMP AS OF '2999-01-01 00:00:00'") == 70L)
      val e = intercept[Exception](spark.sql(
        "SELECT count(*) FROM graft.default.v2tt " +
          "TIMESTAMP AS OF '1990-01-01 00:00:00'").collect())
      assert(e.getMessage.contains("predates"), s"got: ${e.getMessage}")
      // hash-equal to the V1 TVF pin of the same version
      val tvf = spark.sql(
        s"SELECT id FROM graft_manifest('$root', 2) ORDER BY id")
      val v2 = spark.sql(
        "SELECT id FROM graft.default.v2tt VERSION AS OF 2 ORDER BY id")
      assert(v2.collect().toSeq == tvf.collect().toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS v2tt")
  }

  test("INSERT INTO / INSERT OVERWRITE through the V1Write fallback are ledgered commits") {
    val root = freshTable("graft_v2w", "v2write", n = 10L)
    try {
      val v0 = ManifestTable.latest(root).get.version
      spark.sql("INSERT INTO graft.default.v2write " +
        "SELECT id + 100 AS id, 'ins' AS v, 0 AS n FROM range(5)")
      assert(ManifestTable.latest(root).get.version == v0 + 1,
        "INSERT INTO must be ONE ledgered commit")
      assert(spark.sql("SELECT count(*) FROM graft.default.v2write")
        .head().getLong(0) == 15L)
      // a batch-id insert is ledgered and its replay no-ops
      spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "77")
      spark.sql("INSERT INTO graft.default.v2write " +
        "SELECT 500 AS id, 'x' AS v, 0 AS n")
      assert(ManifestTable.isBatchCommitted(root, 77L))
      spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "77")
      spark.sql("INSERT INTO graft.default.v2write " +
        "SELECT 501 AS id, 'poison' AS v, 0 AS n")
      assert(spark.sql("SELECT count(*) FROM graft.default.v2write " +
        "WHERE id >= 500").head().getLong(0) == 1L,
        "the replayed batch-id insert must no-op")
      // INSERT OVERWRITE = atomic snapshot replace, history readable
      val vPre = ManifestTable.latest(root).get.version
      spark.sql("INSERT OVERWRITE graft.default.v2write " +
        "SELECT 1 AS id, 'only' AS v, 9 AS n")
      assert(spark.sql("SELECT count(*) FROM graft.default.v2write")
        .head().getLong(0) == 1L)
      assert(spark.sql("SELECT count(*) FROM graft.default.v2write " +
        s"VERSION AS OF $vPre").head().getLong(0) == 16L,
        "pre-overwrite history must stay time-travel readable")
      // time-travel pins refuse writes
      val e = intercept[Exception](spark.sql(
        "INSERT INTO graft.default.v2write VERSION AS OF 1 " +
          "SELECT 9 AS id, 'x' AS v, 0 AS n"))
      assert(e != null)
    } finally spark.sql("DROP TABLE IF EXISTS v2write")
  }

  test("ALTER ADD/RENAME/DROP COLUMN resolve natively through catalog.alterTable") {
    val root = freshTable("graft_v2a", "v2alter", n = 5L)
    try {
      spark.sql("ALTER TABLE graft.default.v2alter " +
        "ADD COLUMNS (extra STRING)")
      assert(spark.table("v2alter").columns.contains("extra"),
        "the V1 door must see the v2-added column (one metadata store)")
      // DROP on the still-bare table keeps it a bare table
      spark.sql("ALTER TABLE graft.default.v2alter DROP COLUMN extra")
      assert(!spark.sql("SELECT * FROM graft.default.v2alter")
        .columns.contains("extra"))
      // the recorded schema moved through the LEDGER each time
      val recorded = ManifestTable.recordedSchemaOf(spark, root,
        ManifestTable.latest(root).get).fieldNames.toSeq
      assert(recorded == Seq("id", "v", "n"), s"got $recorded")
      // RENAME keeps ONE catalog table: reads serve the old files
      // through the chain under the new name, through both names
      spark.sql("ALTER TABLE graft.default.v2alter " +
        "RENAME COLUMN v TO vv")
      assert(spark.sql("SELECT vv FROM graft.default.v2alter")
        .count() == 5L,
        "a renamed table must stay readable under the new name")
      assert(spark.table("v2alter").columns.toSeq == Seq("id", "vv", "n"))
      assert(spark.sql(
        "SELECT count(*) FROM graft.default.v2alter VERSION AS OF 1")
        .head().getLong(0) == 5L,
        "time travel must keep working after the rename")
      // …and it stays writable and alterable: no store/view split
      spark.sql("ALTER TABLE graft.default.v2alter ADD COLUMNS (x STRING)")
      spark.sql("INSERT INTO graft.default.v2alter " +
        "SELECT 9 AS id, 'x' AS vv, 0 AS n, 'y' AS x")
      assert(spark.sql("SELECT vv, x FROM v2alter WHERE id = 9")
        .head().toSeq == Seq("x", "y"))
      assert(ManifestTable.read(spark, root).count() == 6L)
      assert(spark.catalog.getTable("v2alter").tableType != "VIEW")
    } finally spark.sql("DROP TABLE IF EXISTS v2alter")
  }

  test("row-level DML on the v2 address lands on the ledgered copy-on-write writers") {
    val root = freshTable("graft_v2d", "v2dml")
    try {
      spark.sql("DELETE FROM graft.default.v2dml WHERE id >= 90")
      spark.sql("UPDATE graft.default.v2dml SET v = 'u' WHERE id < 5")
      import spark.implicits._
      Seq((3L, "m"), (200L, "m")).toDF("id", "nv")
        .createOrReplaceTempView("v2dml_src")
      spark.sql("MERGE INTO graft.default.v2dml t USING v2dml_src s " +
        "ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv " +
        "WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.nv, -1)")
      val got = ManifestTable.read(spark, root)
      assert(got.count() == 91L)
      assert(got.filter(F.col("id") === 3L).head().getString(1) == "m")
      assert(got.filter(F.col("id") === 200L).count() == 1L)
      assert(got.filter(F.col("v") === "u").count() == 4L,
        "ids 0,1,2,4 keep the UPDATE stamp; 3 was re-merged")
      // the membership-subquery shape works on the v2 address too,
      // including a graft.… relation INSIDE the subquery
      spark.sql("DELETE FROM graft.default.v2dml WHERE id IN " +
        "(SELECT id FROM graft.default.v2dml WHERE n > 100)")
      assert(ManifestTable.read(spark, root)
        .filter(F.col("n") > 100).count() == 0L)
    } finally spark.sql("DROP TABLE IF EXISTS v2dml")
  }

  test("CTAS and REPLACE TABLE through the v2 catalog; cross-door read-your-writes") {
    graft.catalog.GraftCatalog.install(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_v2ct").toString
    val root = s"$dir/t"
    try {
      spark.sql("CREATE TABLE graft.default.v2ctas " +
        s"LOCATION '$root' AS SELECT id, 'x' AS v FROM range(5)")
      assert(spark.sql("SELECT count(*) FROM v2ctas").head().getLong(0)
        == 5L, "the V1 door must serve the v2 CTAS immediately")
      // REPLACE at the SAME location = truncate-mode write: the old
      // rows are gone, and the SESSION'S OWN primed V1-name read sees
      // the replacement (read-your-writes across doors)
      spark.sql("REPLACE TABLE graft.default.v2ctas " +
        s"LOCATION '$root' AS SELECT id, 'y' AS v FROM range(3)")
      assert(spark.sql("SELECT count(*), min(v) FROM v2ctas").head()
        .getLong(0) == 3L,
        "a primed V1-name read must see the v2 REPLACE, not its pin")
      assert(spark.sql("SELECT DISTINCT v FROM graft.default.v2ctas")
        .head().getString(0) == "y")
      assert(ManifestTable.read(spark, root).count() == 3L)
      // pre-replace history stays time-travel readable (the replace
      // is a ledgered overwrite, never a file deletion)
      val head = ManifestTable.latest(root).get.version
      assert(spark.sql("SELECT count(*) FROM graft.default.v2ctas " +
        s"VERSION AS OF ${head - 1}").head().getLong(0) == 5L)
      // plain v2 INSERT also satisfies same-session V1-name reads
      spark.sql("INSERT INTO graft.default.v2ctas " +
        "SELECT 99 AS id, 'z' AS v")
      assert(spark.sql("SELECT count(*) FROM v2ctas").head().getLong(0)
        == 4L)
      // REPLACE to a NEW location repoints the entry in one
      // alterTable (never a drop — no absent-name window); the old
      // root stays intact on disk as history
      val root2 = s"$dir/t2"
      spark.sql("REPLACE TABLE graft.default.v2ctas " +
        s"LOCATION '$root2' AS SELECT id, 'w' AS v FROM range(7)")
      assert(spark.sql("SELECT count(*) FROM graft.default.v2ctas")
        .head().getLong(0) == 7L)
      assert(spark.sql("SELECT count(*) FROM v2ctas").head().getLong(0)
        == 7L, "the repointed V1 name must serve the new root")
      assert(ManifestTable.read(spark, root).count() == 4L,
        "the abandoned root keeps its data")
      // plain REPLACE TABLE (no AS SELECT) = an empty table of the
      // declared schema, as a ledgered overwrite
      spark.sql("REPLACE TABLE graft.default.v2ctas " +
        s"(id BIGINT, v STRING) LOCATION '$root2'")
      assert(spark.sql("SELECT count(*) FROM graft.default.v2ctas")
        .head().getLong(0) == 0L)
      val head2 = ManifestTable.latest(root2).get.version
      assert(spark.sql("SELECT count(*) FROM graft.default.v2ctas " +
        s"VERSION AS OF ${head2 - 1}").head().getLong(0) == 7L,
        "the plain REPLACE is a versioned overwrite, not a wipe")
    } finally spark.sql("DROP TABLE IF EXISTS v2ctas")
  }

  test("table-addressed streaming: readStream.table -> writeStream.toTable through the V1 fallback") {
    import spark.implicits._
    graft.catalog.GraftCatalog.install(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_v2s").toString
    val feedRoot = s"$dir/feed"; val sinkRoot = s"$dir/sink"
    val ckpt = s"$dir/ckpt"
    ManifestTable.init(feedRoot, Seq("id"), Seq("id"))
    ManifestTable.append(spark, feedRoot,
      (0L until 20L).toDF("id").withColumn("v", F.lit("a")))
    ManifestTable.init(sinkRoot, Seq("id"), Seq("id"))
    // seed the sink's schema with a zero-row overwrite (a schemaless
    // empty table has no relation to register)
    ManifestTable.overwrite(spark, sinkRoot,
      (0L until 0L).toDF("id").withColumn("v", F.lit("")))
    val g = graft.api.Graft(spark, sf)
    g.registerManifest("v2sfeed", feedRoot, persistent = true)
    g.registerManifest("v2ssink", sinkRoot, persistent = true)
    try {
      def run(): Unit = {
        val q = spark.readStream.table("graft.default.v2sfeed")
          .writeStream.format("graft-manifest")
          .option("checkpointLocation", ckpt)
          .toTable("graft.default.v2ssink")
        try q.processAllAvailable() finally q.stop()
      }
      run()
      def sinkIds(): Seq[Long] = ManifestTable.read(spark, sinkRoot)
        .select("id").as[Long].collect().toSeq.sorted
      assert(sinkIds() == (0L until 20L),
        "the insert-row feed must deliver the seeded batch")
      // incremental: only the new append arrives on the next run
      ManifestTable.append(spark, feedRoot,
        (20L until 30L).toDF("id").withColumn("v", F.lit("b")))
      run()
      assert(sinkIds() == (0L until 30L))
      // restart with nothing new: no re-delivery (offsets + ledger)
      run()
      assert(sinkIds() == (0L until 30L), "restart re-delivered rows")
      // a row-level delete feeds nothing to the insert-row feed,
      // while the change-feed option serves the delete rows
      ManifestTable.deleteWhere(spark, feedRoot, F.col("id") < 5)
      run()
      assert(sinkIds() == (0L until 30L),
        "a delete commit must feed no insert rows")
      val changes = spark.readStream
        .option("readChangeFeed", "true")
        .table("graft.default.v2sfeed")
      assert(changes.columns.contains("_change_type"))
      val mem = changes.writeStream.format("memory")
        .queryName("v2s_changes")
        .option("checkpointLocation", s"$dir/ckpt_cdf").start()
      try mem.processAllAvailable() finally mem.stop()
      val byType = spark.table("v2s_changes").groupBy("_change_type")
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType.getOrElse("delete", 0L) == 5L, s"got $byType")
    } finally {
      spark.sql("DROP TABLE IF EXISTS v2sfeed")
      spark.sql("DROP TABLE IF EXISTS v2ssink")
    }
  }

  test("catalog surface: tableExists/listTables/CREATE/DROP; non-manifest names stay invisible") {
    import spark.implicits._
    graft.catalog.GraftCatalog.install(spark)
    val root = freshTable("graft_v2c", "v2cat", n = 3L)
    try {
      // a plain (non-manifest) catalog table is NOT served by this door
      Seq(1L).toDF("id").write.mode("overwrite")
        .saveAsTable("v2cat_plain")
      val e = intercept[Exception](
        spark.table("graft.default.v2cat_plain").collect())
      assert(e.getMessage.toLowerCase.contains("table"),
        s"got: ${e.getMessage}")
      val listed = spark.sql("SHOW TABLES IN graft.default")
        .select("tableName").collect().map(_.getString(0)).toSet
      assert(listed.contains("v2cat") && !listed.contains("v2cat_plain"),
        s"got $listed")
      // CREATE TABLE through the v2 catalog: init + register, both
      // doors see it, inserts work immediately
      val dir = java.nio.file.Files
        .createTempDirectory("graft_v2ct").toString
      spark.sql("CREATE TABLE graft.default.v2created " +
        s"(id BIGINT, v STRING) LOCATION '$dir/ct'")
      spark.sql("INSERT INTO graft.default.v2created " +
        "SELECT 1 AS id, 'a' AS v")
      assert(spark.sql("SELECT v FROM v2created").head().getString(0)
        == "a", "the V1 door must serve the v2-created table")
      spark.sql("DROP TABLE graft.default.v2created")
      assert(!spark.catalog.tableExists("v2created"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS v2cat")
      spark.sql("DROP TABLE IF EXISTS v2cat_plain")
    }
  }

  test("ALTER COLUMN TYPE widens through BOTH doors; REPLACE WHERE is one ledgered predicate overwrite") {
    import spark.implicits._
    val root = freshTable("graft_v2w", "v2widen", n = 50L)
    try {
      // freshTable's n column is already BIGINT; add an INT column to
      // widen through the doors
      spark.sql("ALTER TABLE graft.default.v2widen ADD COLUMNS (m INT)")
      // v2 door
      spark.sql(
        "ALTER TABLE graft.default.v2widen ALTER COLUMN m TYPE BIGINT")
      assert(spark.table("v2widen").schema("m").dataType ==
        org.apache.spark.sql.types.LongType)
      // narrowing refuses through the v2 door — Spark's own analyzer
      // (canUpCast) catches it before the catalog; the ledger's own
      // NARROW refusal stands behind it for direct callers
      val e = intercept[Exception](spark.sql(
        "ALTER TABLE graft.default.v2widen ALTER COLUMN m TYPE INT"))
      assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
        e.getMessage.contains("NARROW"), e.getMessage)
      // cross-family (int→double IS a Spark upcast, but changes
      // value semantics in the files) refuses from the LEDGER
      val e1b = intercept[Exception](spark.sql(
        "ALTER TABLE graft.default.v2widen ALTER COLUMN m TYPE DOUBLE"))
      assert(e1b.getMessage.contains("widening"), e1b.getMessage)
      // the session-catalog name: widen another added column
      spark.sql("ALTER TABLE v2widen ADD COLUMNS (k SMALLINT)")
      spark.sql("ALTER TABLE v2widen ALTER COLUMN k TYPE INT")
      assert(spark.table("v2widen").schema("k").dataType ==
        org.apache.spark.sql.types.IntegerType)
      // data files were never rewritten by any of it
      assert(ManifestTable.latest(root).get.files.nonEmpty)

      // REPLACE WHERE through the v2 door: one ledgered commit
      val vPre = ManifestTable.latest(root).get.version
      spark.sql("INSERT INTO graft.default.v2widen " +
        "REPLACE WHERE id >= 10 AND id < 20 " +
        "SELECT id, 'rw' AS v, id * 2 AS n, NULL AS m, NULL AS k " +
        "FROM range(10, 15)")
      assert(ManifestTable.latest(root).get.version == vPre + 1,
        "REPLACE WHERE must be ONE ledgered commit")
      val got = spark.sql(
        "SELECT id, v FROM v2widen WHERE id >= 10 AND id < 20 ORDER BY id")
        .as[(Long, String)].collect().toSeq
      assert(got == (10L until 15L).map(i => (i, "rw")),
        s"got $got")
      // leaked-row constraint: a new row outside the region refuses
      val e2 = intercept[Exception](spark.sql(
        "INSERT INTO graft.default.v2widen " +
          "REPLACE WHERE id < 5 " +
          "SELECT 40 AS id, 'bad' AS v, 0 AS n, NULL AS m, NULL AS k"))
      assert(e2.getMessage.contains("do not satisfy"), e2.getMessage)
    } finally spark.sql("DROP TABLE IF EXISTS v2widen")
  }

  test("native SupportsDelete: v2 DELETE works through Spark's own API door, no injected rule involved") {
    import spark.implicits._
    val root = freshTable("graft_v2sd", "v2supdel", n = 40L)
    try {
      graft.catalog.GraftCatalog.install(spark)
      val cat = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      val t = cat.loadTable(org.apache.spark.sql.connector.catalog
        .Identifier.of(Array("default"), "v2supdel"))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]
      // the exact call Spark's OptimizeMetadataOnlyDeleteFromTable
      // plans for a filter-translatable DELETE — the structural
      // backstop against injected-rule reordering
      assert(t.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.LessThan("id", 5L))))
      t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.LessThan("id", 5L)))
      assert(spark.table("v2supdel").select("id").as[Long]
        .collect().toSet == (5L until 40L).toSet)
      // honors the table's #dvmode declaration: MoR = no file rewrite
      ManifestTable.setMorDeletes(root, on = true)
      val before = ManifestTable.latest(root).get.files
      t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThanOrEqual("id", 35L)))
      assert(ManifestTable.latest(root).get.files == before,
        "SupportsDelete under #dvmode must record a DV, not rewrite")
      assert(spark.table("v2supdel").select("id").as[Long]
        .collect().toSet == (5L until 35L).toSet)
      // a time-travel pin refuses through the same door
      val pinned = cat.asInstanceOf[graft.catalog.GraftCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog
          .Identifier.of(Array("default"), "v2supdel"), "1")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]
      assert(!pinned.canDeleteWhere(
        Array.empty[org.apache.spark.sql.sources.Filter]))
    } finally spark.sql("DROP TABLE IF EXISTS v2supdel")
  }

  test("self-join on one v2 name: branches get distinct exprIds and correct rows") {
    freshTable("graft_v2sj", "v2selfjoin", n = 10L)
    try {
      // the analyzer serves ONE GraftTable instance to both branches;
      // the swap rule must hand the second branch a FRESH V1 relation
      // (shared exprIds under distinct aliases is the shape
      // DeduplicateRelations would normally eliminate, but it has
      // already run by post-hoc time)
      val j = spark.sql(
        """SELECT a.id, b.id AS bid
          |FROM graft.default.v2selfjoin a
          |JOIN graft.default.v2selfjoin b ON a.id = b.n
          |ORDER BY a.id""".stripMargin)
      val leaves = j.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.datasources
          .LogicalRelation => lr.output.map(_.exprId).toSet
      }
      assert(leaves.size == 2, s"expected two V1 leaves, got $leaves")
      assert(leaves.head.intersect(leaves(1)).isEmpty,
        "self-join branches share V1 exprIds — the fresh-relation " +
          "swap regressed")
      // id = n/2 pairs: (0,0), (2,1)... wait n = id*2, so a.id = b.n
      // means a.id = 2*b.id -> b.id in 0..4
      assert(j.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        (0L until 5L).map(b => (b * 2, b)))
    } finally spark.sql("DROP TABLE IF EXISTS v2selfjoin")
  }

  test("staged CTAS: abort cannot destroy a pre-existing non-manifest directory") {
    graft.catalog.GraftCatalog.install(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_v2ab").toString
    // a plain parquet dataset lives where the CTAS points
    val loc = s"$dir/pre"
    spark.range(5).write.parquet(loc)
    val before = new java.io.File(loc).listFiles().map(_.getName).toSet
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE graft.default.v2abort " +
        s"LOCATION '$loc' AS SELECT 1 AS id"))
    assert(e.getMessage.contains("not empty"),
      s"expected the non-empty-location refusal, got: ${e.getMessage}")
    assert(new java.io.File(loc).listFiles().map(_.getName).toSet
      == before,
      "a refused staged CTAS must leave the pre-existing directory " +
        "untouched")
    assert(!spark.catalog.tableExists("v2abort"))
  }
}
