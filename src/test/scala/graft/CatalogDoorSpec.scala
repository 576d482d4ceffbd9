package graft

import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.connector.catalog.DelegatingCatalogExtension

/** A session catalog that is not graft's: Spark's built-in catalog
  * behind a plain extension (what a user's own `spark_catalog`
  * binding looks like to graft). */
class ForeignSessionCatalog extends DelegatingCatalogExtension

/** A minimal v2 provider (a `TableProvider`, so its CREATE/CTAS stay
  * v2 under any session catalog): every table takes batch writes,
  * which land in [[CatalogDoorSink.rows]]. */
class CatalogDoorSink extends org.apache.spark.sql.connector.catalog.TableProvider {
  import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table,
    TableCapability}
  import org.apache.spark.sql.connector.write.{LogicalWriteInfo,
    SupportsTruncate, V1Write, WriteBuilder}
  import org.apache.spark.sql.types.StructType

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : StructType = new StructType()

  override def getTable(declared: StructType,
                        partitioning: Array[org.apache.spark.sql.connector
                          .expressions.Transform],
                        properties: java.util.Map[String, String]): Table =
    new Table with SupportsWrite {
      override def name(): String = "cdoor_sink"
      override def schema(): StructType = declared
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
          TableCapability.TRUNCATE)
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder with SupportsTruncate {
          override def truncate(): WriteBuilder = this
          override def build(): V1Write = new V1Write {
            override def toInsertableRelation =
              new org.apache.spark.sql.sources.InsertableRelation {
                override def insert(data: DataFrame,
                                    overwrite: Boolean): Unit = {
                  CatalogDoorSink.rows ++= data.collect(); ()
                }
              }
          }
        }
    }
}

object CatalogDoorSink {
  val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
}

/** The one SQL catalog door ([[graft.catalog.GraftCatalog]] bound as
  * `spark_catalog`): `db.t` and `graft.db.t` serve every verb on
  * renamed and DV-carrying tables alike, CREATE TABLE initializes
  * through either name, and a session bound to someone else's catalog
  * gives the door's rows or refuses with the fix named. */
class CatalogDoorSpec extends SparkSpec {
  import graft.operators.ManifestTable
  import ManifestTable.{MergeUpdate, WhenMatched, WhenNotMatched, sourceCol}

  private def freshTable(prefix: String, n: Long = 60L): String = {
    import spark.implicits._
    val root =
      java.nio.file.Files.createTempDirectory(prefix).toString + "/t"
    ManifestTable.init(root, Seq("id"), Seq("id"))
    ManifestTable.append(spark, root,
      (0L until n).toDF("id")
        .withColumn("v", F.concat(F.lit("row"), F.col("id")))
        .withColumn("n", F.col("id") * 2))
    root
  }

  private def rows(df: DataFrame, c: String): Seq[Row] =
    df.select("id", c, "n").orderBy("id").collect().toSeq

  private def rowsOf(root: String, c: String): Seq[Row] =
    rows(ManifestTable.read(spark, root), c)

  /** A table shape: its preparation (returning the logical name of
    * the string column) and the Scala delete a SQL DELETE on it is. */
  private case class Shape(label: String, prepare: String => String,
                           delete: (String, org.apache.spark.sql.Column) => Unit)

  private val shapes = Seq(
    Shape("DV-carrying", { root =>
      ManifestTable.setMorDeletes(root, on = true)
      ManifestTable.deleteWhereMoR(spark, root, F.col("id") % 11 === 0)
      "v"
    }, (root, p) => { ManifestTable.deleteWhereMoR(spark, root, p); () }),
    Shape("renamed", { root =>
      ManifestTable.renameColumn(spark, root, "v", "w")
      "w"
    }, (root, p) => { ManifestTable.deleteWhere(spark, root, p); () }))

  /** The SQL names a table root can be registered under. */
  private val doors = Seq[(String, String => String)](
    "temp view" -> { root =>
      graft.sources.ManifestSql.register(spark, "cdoor_tmp", root)
      "cdoor_tmp"
    },
    "default.t" -> { root =>
      graft.api.Graft(spark, sf)
        .registerManifest("cdoor_cat", root, persistent = true)
      "default.cdoor_cat"
    },
    "graft.default.t" -> { root =>
      graft.api.Graft(spark, sf)
        .registerManifest("cdoor_cat", root, persistent = true)
      "graft.default.cdoor_cat"
    },
    "path read" -> { root =>
      spark.read.format("graft-manifest").load(root)
        .createOrReplaceTempView("cdoor_path")
      "cdoor_path"
    })

  test("DML on DV-carrying and renamed tables: DELETE twice, UPDATE and MERGE through every door equal the ManifestTable twin") {
    import spark.implicits._
    try {
      for (shape <- shapes; (door, register) <- doors) {
        val twin = freshTable("graft_cdoor_twin")
        val c = shape.prepare(twin)
        val src = Seq((3L, "m3", -3L), (40L, "m40", -40L), (500L, "m500", 0L))
          .toDF("id", c, "n")
        shape.delete(twin, F.col("id") % 5 === 0)
        shape.delete(twin, F.col("id") % 7 === 0)
        ManifestTable.updateWhere(spark, twin, F.col("id") < 20,
          Map(c -> F.concat(F.col(c), F.lit("!"))))
        val whole = Seq("id", c, "n").map(x => x -> sourceCol(x)).toMap
        ManifestTable.mergeInto(spark, twin, Seq("id"), src,
          Seq(F.col("id")), Seq(WhenMatched(None, MergeUpdate(whole))),
          Seq(WhenNotMatched(None, whole)))

        val root = freshTable("graft_cdoor")
        shape.prepare(root)
        val t = register(root)
        src.createOrReplaceTempView("cdoor_src")
        val label = s"${shape.label} table through the $door"
        for (stmt <- Seq(
            s"DELETE FROM $t WHERE id % 5 = 0",
            s"DELETE FROM $t WHERE id % 7 = 0",
            s"UPDATE $t SET $c = concat($c, '!') WHERE id < 20",
            s"MERGE INTO $t t USING cdoor_src s ON t.id = s.id " +
              "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")) {
          val v0 = ManifestTable.latest(root).get.version
          spark.sql(stmt)
          assert(ManifestTable.latest(root).get.version == v0 + 1,
            s"$label: '$stmt' must be one ledgered commit")
        }
        assert(rowsOf(root, c) == rowsOf(twin, c),
          s"$label differs from the ManifestTable twin")
        assert(rows(spark.table(t), c) == rowsOf(twin, c),
          s"$label must read its own writes")
      }
    } finally spark.sql("DROP TABLE IF EXISTS cdoor_cat")
  }

  /** Does `stmt` analyze to one of Spark's V1 `CREATE TABLE … USING`
    * commands? (Analysis only: nothing runs.) */
  private def plansV1Create(stmt: String): Boolean =
    spark.sessionState.executePlan(spark.sessionState.sqlParser
      .parsePlan(stmt)).analyzed.exists {
      case _: org.apache.spark.sql.execution.command
          .CreateDataSourceTableCommand => true
      case _: org.apache.spark.sql.execution.command
          .CreateDataSourceTableAsSelectCommand => true
      case _ => false
    }

  test("a temp view over a DV-free table refuses deletion vectors that arrive after it was built; a write through it still commits once, and re-registering reads them") {
    val root = freshTable("graft_cdoor_lateDv")
    graft.sources.ManifestSql.register(spark, "cdoor_late", root)
    try {
      spark.sql("CACHE TABLE cdoor_late")
      ManifestTable.deleteWhereMoR(spark, root, F.col("id") < 10)
      val v0 = ManifestTable.latest(root).get.version
      spark.sql("INSERT INTO cdoor_late VALUES (100, 'x', 0)")
      assert(ManifestTable.latest(root).get.version == v0 + 1)
      val e = intercept[Exception](spark.table("cdoor_late").collect())
      assert(e.getMessage.contains("re-register"), e.getMessage)
      graft.sources.ManifestSql.register(spark, "cdoor_late", root)
      assert(spark.table("cdoor_late").count() == 51L)
    } finally spark.catalog.dropTempView("cdoor_late")
  }

  test("CREATE TABLE (cols) USING graft-manifest on an absent root initializes the table through both catalog names") {
    try {
      for (name <- Seq("cdoor_created", "graft.default.cdoor_created")) {
        val root = java.nio.file.Files.createTempDirectory("graft_cdoor_ct")
          .toString + "/absent"
        val create = s"CREATE TABLE $name (a INT, b STRING) USING " +
          s"`graft-manifest` OPTIONS (statCols 'a') LOCATION '$root' " +
          "COMMENT 'made' TBLPROPERTIES ('team' = 'search')"
        assert(!plansV1Create(create), s"$create plans a V1 command")
        spark.sql(create)
        // the entry records the statement's properties and comment, not
        // its options or the clauses Spark folds into properties
        val entry = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier("cdoor_created",
            Some("default")))
        assert(entry.properties.get("team").contains("search") &&
          !entry.properties.keys.exists(k => k.startsWith("option.") ||
            Set("statCols", "provider", "location", "comment")(k)),
          entry.properties)
        assert(entry.comment.contains("made"), name)
        assert(entry.provider.contains("graft-manifest"), name)
        val head = ManifestTable.latest(root)
        assert(head.isDefined, s"CREATE TABLE $name must init the manifest")
        assert(head.get.meta.contains("#statcols:a"),
          s"the declarations must ride the init: ${head.get.meta}")
        assert(ManifestTable.recordedSchemaOf(spark, root, head.get)
          .map(f => f.name -> f.dataType.simpleString) ==
          Seq("a" -> "int", "b" -> "string"))
        spark.sql(s"INSERT INTO $name VALUES (1, 'x')")
        for (reader <- Seq("cdoor_created", "graft.default.cdoor_created"))
          assert(spark.table(reader).collect().toSeq == Seq(Row(1, "x")))
        spark.sql("DROP TABLE cdoor_created")
        assert(ManifestTable.latest(root).isDefined,
          "DROP TABLE keeps the manifest root")
      }
    } finally spark.sql("DROP TABLE IF EXISTS cdoor_created")
  }

  test("one CREATE door: a CTAS whose SELECT fails at run time leaves no catalog entry and no manifest through default.t and graft.default.t") {
    for (name <- Seq("default.cdoor_ctas", "graft.default.cdoor_ctas")) {
      val root = java.nio.file.Files.createTempDirectory("graft_cdoor_ctas")
        .toString + "/absent"
      val ctas = s"CREATE TABLE $name USING `graft-manifest` LOCATION " +
        s"'$root' AS SELECT id, CAST(raise_error('boom') AS STRING) AS v " +
        "FROM range(3)"
      assert(!plansV1Create(ctas), s"$ctas plans a V1 command")
      intercept[Exception](spark.sql(ctas))
      assert(!spark.catalog.tableExists("default.cdoor_ctas"),
        s"a failed CTAS through $name must leave no catalog entry")
      assert(!new java.io.File(root, "manifest").exists(),
        s"a failed CTAS through $name must leave no manifest")
    }
  }

  test("door x verb matrix: ALTER, time travel, TRUNCATE and readStream.table through default.t and graft.default.t; temp views refuse ALTER and time travel") {
    def cols(t: String): Seq[String] = spark.table(t).columns.toSeq
    def count(sql: String): Long = spark.sql(sql).head().getLong(0)
    // (verb, statement over the target name, check over (target, root,
    // files before)); every row is one ledgered commit unless noted
    case class Verb(label: String, stmt: String => String,
                    check: (String, String, Seq[String]) => Unit,
                    commits: Int = 1)
    val verbs = Seq(
      Verb("ADD COLUMNS", t => s"ALTER TABLE $t ADD COLUMNS (extra INT)",
        (t, root, before) => {
          assert(cols(t) == Seq("id", "v", "n", "extra"))
          assert(ManifestTable.latest(root).get.files == before,
            "ALTER is metadata-only")
        }),
      Verb("ALTER COLUMN TYPE",
        t => s"ALTER TABLE $t ALTER COLUMN extra TYPE BIGINT",
        (t, _, _) => assert(spark.table(t).schema("extra").dataType ==
          org.apache.spark.sql.types.LongType)),
      Verb("RENAME COLUMN", t => s"ALTER TABLE $t RENAME COLUMN v TO w",
        (t, _, _) => {
          assert(cols(t) == Seq("id", "w", "n", "extra"))
          assert(spark.sql(s"SELECT w FROM $t WHERE id = 7").head()
            .getString(0) == "row7", "old files read through the chain")
        }),
      Verb("DROP COLUMN", t => s"ALTER TABLE $t DROP COLUMN extra",
        (t, _, _) => assert(cols(t) == Seq("id", "w", "n"))),
      Verb("VERSION AS OF", t => s"SELECT count(*) FROM $t VERSION AS OF 1",
        (t, _, _) => {
          assert(count(s"SELECT count(*) FROM $t VERSION AS OF 1") == 60L)
          assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 1").columns
            .toSeq == Seq("id", "v", "n"), "v1 reads v1's schema")
        }, commits = 0),
      Verb("TIMESTAMP AS OF",
        t => s"SELECT count(*) FROM $t TIMESTAMP AS OF '2999-01-01'",
        (t, _, _) => assert(count(
          s"SELECT count(*) FROM $t TIMESTAMP AS OF '2999-01-01'") == 60L),
        commits = 0),
      Verb("readStream.table", _ => "SELECT 1", (t, root, _) => {
        val dir = java.nio.file.Files.createTempDirectory("graft_cdoor_s")
        val q = spark.readStream.table(t).writeStream.format("memory")
          .queryName("cdoor_stream")
          .option("checkpointLocation", s"$dir/ckpt").start()
        try q.processAllAvailable() finally q.stop()
        assert(spark.table("cdoor_stream").count() == 60L,
          "the insert-row feed delivers every appended row")
      }, commits = 0),
      Verb("TRUNCATE", t => s"TRUNCATE TABLE $t", (t, root, before) => {
        assert(count(s"SELECT count(*) FROM $t") == 0L)
        assert(cols(t) == Seq("id", "w", "n"), "the schema is carried")
        assert(before.forall(f => new java.io.File(root, f).exists()),
          "TRUNCATE deletes no file under the root")
      }))
    try {
      for (name <- Seq("cdoor_mx", "graft.default.cdoor_mx")) {
        val root = freshTable("graft_cdoor_mx")
        graft.api.Graft(spark, sf)
          .registerManifest("cdoor_mx", root, persistent = true)
        for (verb <- verbs) {
          val head = ManifestTable.latest(root).get
          spark.sql(verb.stmt(name)).collect()
          assert(ManifestTable.latest(root).get.version ==
            head.version + verb.commits,
            s"${verb.label} through $name commits ${verb.commits} time(s)")
          verb.check(name, root, head.files)
        }
      }
      // a temp view is a pinned frame, not a table: both refuse loudly
      val root = freshTable("graft_cdoor_tmpv")
      graft.sources.ManifestSql.register(spark, "cdoor_tmpv", root)
      for (stmt <- Seq("ALTER TABLE cdoor_tmpv ADD COLUMNS (x INT)",
          "SELECT * FROM cdoor_tmpv VERSION AS OF 1"))
        intercept[Exception](spark.sql(stmt).collect())
      assert(ManifestTable.latest(root).get.version == 1)
    } finally spark.sql("DROP TABLE IF EXISTS cdoor_mx")
  }

  test("re-registering migrates a <name>_store + coalesce VIEW registration to one writable table") {
    val root = freshTable("graft_cdoor_mig")
    ManifestTable.renameColumn(spark, root, "v", "w")
    // the shape a rename used to leave under a name
    spark.catalog.createTable("cdoor_mig_store", "graft-manifest",
      Map("path" -> root))
    spark.sql("CREATE VIEW cdoor_mig AS SELECT id, w, n FROM cdoor_mig_store")
    try {
      graft.api.Graft(spark, sf)
        .registerManifest("cdoor_mig", root, persistent = true)
      assert(spark.catalog.getTable("cdoor_mig").tableType != "VIEW")
      assert(!spark.catalog.tableExists("cdoor_mig_store"))
      spark.sql("INSERT INTO cdoor_mig VALUES (100, 'new', 0)")
      assert(rows(spark.table("cdoor_mig"), "w") ==
        rowsOf(root, "w") && rowsOf(root, "w").size == 61)
    } finally {
      scala.util.Try(spark.sql("DROP VIEW IF EXISTS cdoor_mig"))
      spark.sql("DROP TABLE IF EXISTS cdoor_mig")
      spark.sql("DROP TABLE IF EXISTS cdoor_mig_store")
    }
  }

  test("non-manifest tables keep their V1 behaviour: parquet CTAS, INSERT and ALTER") {
    try {
      spark.sql("CREATE TABLE cdoor_pq USING parquet AS SELECT id FROM range(3)")
      spark.sql("INSERT INTO cdoor_pq VALUES (10)")
      spark.sql("ALTER TABLE cdoor_pq ADD COLUMNS (extra STRING)")
      assert(spark.table("cdoor_pq").columns.toSeq == Seq("id", "extra"))
      assert(spark.table("cdoor_pq").count() == 4L)
      val loaded = spark.sessionState.catalogManager.catalog("spark_catalog")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
        .loadTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("default"), "cdoor_pq"))
      assert(!loaded.isInstanceOf[graft.catalog.GraftTable] &&
        org.apache.spark.sql.graftbridge.v1EntryOf(loaded).isDefined,
        "a parquet table loads as the built-in V1Table")
    } finally spark.sql("DROP TABLE IF EXISTS cdoor_pq")
  }

  test("a session whose spark_catalog is not graft's gives the graft door's rows or refuses with the fix named") {
    val foreign = spark.newSession()
    foreign.conf.set(graft.catalog.GraftCatalog.SessionCatalogKey,
      classOf[ForeignSessionCatalog].getName)
    val fix = graft.catalog.GraftCatalog.SessionCatalogKey
    val g = graft.api.Graft(spark, sf)
    def refuses(stmt: String): Unit = {
      val e = intercept[Exception](foreign.sql(stmt).collect())
      assert(e.getMessage.contains(fix), s"'$stmt' must name the fix: $e")
    }
    try {
      // a plain table: the V1 path serves the graft door's rows, and
      // row-level DML commits through the ledger
      val plain = freshTable("graft_cdoor_fplain")
      g.registerManifest("cdoor_fplain", plain, persistent = true)
      def both(sql: String): (Seq[Row], Seq[Row]) =
        (foreign.sql(sql).collect().toSeq, spark.sql(sql).collect().toSeq)
      val (f0, g0) = both("SELECT * FROM cdoor_fplain ORDER BY id")
      assert(f0 == g0 && f0.size == 60)
      val v0 = ManifestTable.latest(plain).get.version
      foreign.sql("DELETE FROM cdoor_fplain WHERE id < 10")
      foreign.sql("UPDATE cdoor_fplain SET v = 'u' WHERE id = 20")
      foreign.createDataFrame(Seq((30L, "m", 0L))).toDF("id", "v", "n")
        .createOrReplaceTempView("cdoor_fsrc")
      foreign.sql("MERGE INTO cdoor_fplain t USING cdoor_fsrc s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET *")
      assert(ManifestTable.latest(plain).get.version == v0 + 3,
        "foreign DML commits through the ledger")
      val (f1, g1) = both("SELECT * FROM cdoor_fplain ORDER BY id")
      assert(f1 == g1 && f1.size == 50)
      // writes the V1 path would make as raw files refuse
      refuses("INSERT INTO cdoor_fplain VALUES (900, 'x', 0)")
      // TRUNCATE, every ALTER of a column and time travel: the V1 path
      // has no manifest twin for them — each refuses with the fix
      // named and changes nothing
      val v1 = ManifestTable.latest(plain).get
      for (stmt <- Seq("TRUNCATE TABLE cdoor_fplain",
          "ALTER TABLE cdoor_fplain ADD COLUMNS (x INT)",
          "ALTER TABLE cdoor_fplain RENAME COLUMN v TO w",
          "ALTER TABLE cdoor_fplain DROP COLUMN n",
          "ALTER TABLE cdoor_fplain ALTER COLUMN n COMMENT 'doubled'",
          s"SELECT * FROM cdoor_fplain VERSION AS OF $v0"))
        refuses(stmt)
      assert(ManifestTable.latest(plain).get == v1 &&
        v1.files.forall(f => new java.io.File(plain, f).exists()),
        "a refused statement changes nothing")
      assert(spark.sql(s"SELECT count(*) FROM cdoor_fplain VERSION AS OF $v0")
        .head().getLong(0) == 60L, "the graft session still travels")

      // renamed and DV-carrying tables: the V1 path would read
      // physical names / deleted rows — every statement refuses
      for ((label, prep) <- Seq[(String, String => Unit)](
          "renamed" -> { r =>
            ManifestTable.renameColumn(spark, r, "v", "w"); () },
          "DV-carrying" -> { r =>
            ManifestTable.deleteWhereMoR(spark, r, F.col("id") < 5); () })) {
        val root = freshTable("graft_cdoor_f")
        g.registerManifest("cdoor_fx", root, persistent = true)
        prep(root)
        val head = ManifestTable.latest(root).get.version
        for (stmt <- Seq("SELECT * FROM cdoor_fx",
            "DELETE FROM cdoor_fx WHERE id = 7",
            "UPDATE cdoor_fx SET n = 0 WHERE id = 7",
            "INSERT INTO cdoor_fx SELECT * FROM cdoor_fx"))
          refuses(stmt)
        assert(ManifestTable.latest(root).get.version == head,
          s"nothing may commit on the $label table")
        assert(spark.table("cdoor_fx").count() ==
          ManifestTable.read(spark, root).count(),
          "the graft session still reads it")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS cdoor_fplain")
      spark.sql("DROP TABLE IF EXISTS cdoor_fx")
    }
  }

  test("a schema change drops every cached plan over the root: CACHE TABLE, then ALTER ADD COLUMNS or an evolving MERGE, then INSERT commits once through default.t and graft.default.t") {
    import spark.implicits._
    Seq((3L, "up", 6L, 7L)).toDF("id", "v", "n", "extra")
      .createOrReplaceTempView("cdoor_evo")
    val changes = Seq[(String, String => String)](
      "ALTER ADD COLUMNS" -> (t => s"ALTER TABLE $t ADD COLUMNS (extra BIGINT)"),
      "MERGE WITH SCHEMA EVOLUTION" -> (t =>
        s"MERGE WITH SCHEMA EVOLUTION INTO $t t USING cdoor_evo s " +
          "ON t.id = s.id WHEN MATCHED THEN UPDATE SET * " +
          "WHEN NOT MATCHED THEN INSERT *"))
    try {
      for (name <- Seq("default.cdoor_cache", "graft.default.cdoor_cache");
           (label, change) <- changes) {
        val root = freshTable("graft_cdoor_cache")
        graft.api.Graft(spark, sf)
          .registerManifest("cdoor_cache", root, persistent = true)
        graft.sources.ManifestSql.register(spark, "cdoor_cache_tmp", root)
        spark.sql(s"CACHE TABLE $name")
        spark.sql("CACHE TABLE cdoor_cache_tmp")
        // a Scala-side commit leaves both cached plans pinned behind
        // the head
        ManifestTable.append(spark, root,
          Seq((60L, "row60", 120L)).toDF("id", "v", "n"))
        spark.sql(change(name))
        val v0 = ManifestTable.latest(root).get.version
        spark.sql(s"INSERT INTO $name VALUES (70, 'x', 140, 1)")
        assert(ManifestTable.latest(root).get.version == v0 + 1,
          s"$label then INSERT through $name must commit the INSERT once")
        assert(spark.table(name).columns.toSeq == Seq("id", "v", "n", "extra"))
        assert(spark.sql(s"SELECT count(*), count(extra) FROM $name").head() ==
          Row(62L, if (label.startsWith("MERGE")) 2L else 1L))
        spark.catalog.dropTempView("cdoor_cache_tmp")
        spark.sql("DROP TABLE cdoor_cache")
      }
    } finally {
      spark.catalog.dropTempView("cdoor_cache_tmp")
      spark.sql("DROP TABLE IF EXISTS cdoor_cache")
    }
  }

  test("a Scala schema commit drops the cached head plans over the root: CACHE TABLE, then addColumns and renameColumn, then INSERT commits once") {
    try {
      for (name <- Seq("default.cdoor_scache", "graft.default.cdoor_scache")) {
        val root = freshTable("graft_cdoor_scache")
        graft.api.Graft(spark, sf)
          .registerManifest("cdoor_scache", root, persistent = true)
        spark.sql(s"CACHE TABLE $name")
        assert(spark.table(name).count() == 60L)
        ManifestTable.addColumns(spark, root,
          org.apache.spark.sql.types.StructType.fromDDL("extra BIGINT"))
        ManifestTable.renameColumn(spark, root, "v", "w")
        val v0 = ManifestTable.latest(root).get.version
        spark.sql(s"INSERT INTO $name VALUES (70, 'x', 140, 1)")
        assert(ManifestTable.latest(root).get.version == v0 + 1,
          s"the INSERT through $name must commit exactly once")
        assert(spark.table(name).columns.toSeq == Seq("id", "w", "n", "extra"))
        assert(spark.sql(s"SELECT count(*), count(extra), count(w) FROM $name")
          .head() == Row(61L, 1L, 61L))
        spark.sql("DROP TABLE cdoor_scache")
      }
    } finally spark.sql("DROP TABLE IF EXISTS cdoor_scache")
  }

  test("a path read with a supplied schema writes nothing: an absent root and a different schema refuse") {
    val declared = org.apache.spark.sql.types.StructType
      .fromDDL("a INT, b STRING")
    def read(root: String, schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).format("graft-manifest").load(root)
    val absent = java.nio.file.Files.createTempDirectory("graft_cdoor_rd")
      .toString + "/absent"
    intercept[Exception](read(absent, declared).collect())
    assert(!new java.io.File(absent).exists(),
      "a read must not create the table")
    val root = freshTable("graft_cdoor_rd")
    val head = ManifestTable.latest(root).get
    val e = intercept[Exception](read(root, declared).collect())
    assert(e.getMessage.contains("not the given"), e.getMessage)
    assert(ManifestTable.latest(root).get == head)
    val own = ManifestTable.read(spark, root).schema
    assert(read(root, own).count() == 60L, "the table's own schema reads")
    // a temp view over a path read takes INSERT INTO as one commit
    spark.read.format("graft-manifest").load(root)
      .createOrReplaceTempView("cdoor_rd")
    try {
      spark.sql("INSERT INTO cdoor_rd VALUES (100, 'x', 0)")
      assert(ManifestTable.latest(root).get.version == head.version + 1)
      assert(spark.table("cdoor_rd").count() == 61L)
    } finally spark.catalog.dropTempView("cdoor_rd")
  }

  test("another v2 provider's CTAS and REPLACE TABLE AS SELECT run as under the built-in session catalog") {
    val provider = classOf[CatalogDoorSink].getName
    for (binding <- Seq(classOf[graft.catalog.GraftCatalog].getName,
        "builtin")) {
      val s = spark.newSession()
      s.conf.set(graft.catalog.GraftCatalog.SessionCatalogKey, binding)
      CatalogDoorSink.rows.clear()
      try {
        s.sql(s"CREATE TABLE cdoor_v2 USING $provider AS SELECT 1 AS a")
        s.sql(s"REPLACE TABLE cdoor_v2 USING $provider AS SELECT 2 AS a")
        assert(CatalogDoorSink.rows.toSeq == Seq(Row(1), Row(2)), binding)
        assert(s.catalog.tableExists("cdoor_v2"), binding)
      } finally s.sql("DROP TABLE IF EXISTS cdoor_v2")
    }
  }

  test("SET/UNSET TBLPROPERTIES and COMMENT ON TABLE edit a manifest entry, SET LOCATION repoints it, through default.t and graft.default.t") {
    val ident = org.apache.spark.sql.catalyst.TableIdentifier("cdoor_props",
      Some("default"))
    def entry = spark.sessionState.catalog.getTableMetadata(ident)
    try {
      for (name <- Seq("default.cdoor_props", "graft.default.cdoor_props")) {
        val root = freshTable("graft_cdoor_props")
        val other = freshTable("graft_cdoor_props2", n = 5L)
        graft.api.Graft(spark, sf)
          .registerManifest("cdoor_props", root, persistent = true)
        val head = ManifestTable.latest(root).get
        spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES ('team' = 'search')")
        assert(entry.properties.get("team").contains("search"), name)
        spark.sql(s"ALTER TABLE $name UNSET TBLPROPERTIES ('team')")
        assert(!entry.properties.contains("team"), name)
        spark.sql(s"COMMENT ON TABLE $name IS 'corpus'")
        assert(entry.comment.contains("corpus"), name)
        assert(ManifestTable.latest(root).get == head,
          "an entry edit commits nothing")
        spark.sql(s"ALTER TABLE $name SET LOCATION '$other'")
        assert(spark.table(name).count() == 5L, s"$name reads the new root")
        spark.sql(s"INSERT INTO $name VALUES (90, 'x', 0)")
        assert(ManifestTable.read(spark, other).count() == 6L)
        assert(ManifestTable.latest(root).get == head)
        val missing = java.nio.file.Files.createTempDirectory("graft_cdoor_np")
          .toString + "/absent"
        intercept[Exception](
          spark.sql(s"ALTER TABLE $name SET LOCATION '$missing'"))
        assert(spark.table(name).count() == 6L)
        spark.sql("DROP TABLE cdoor_props")
      }
    } finally spark.sql("DROP TABLE IF EXISTS cdoor_props")
  }
}
