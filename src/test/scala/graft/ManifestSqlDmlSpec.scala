package graft

import org.apache.spark.sql.{functions => F}

/** SQL row-level DML on manifest tables ([[graft.plans.ManifestSqlDml]]):
  * DELETE FROM / UPDATE / MERGE INTO rewritten to the ledgered
  * copy-on-write writers, with the refusal surface pinned. */
class ManifestSqlDmlSpec extends SparkSpec {
  import graft.operators.ManifestTable

  private def freshTable(prefix: String, n: Long = 100L): (String, String) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val root = s"$dir/t"
    ManifestTable.init(root, Seq("id"), Seq("id"))
    ManifestTable.append(spark, root,
      (0L until n).toDF("id")
        .withColumn("v", F.concat(F.lit("row"), F.col("id")))
        .withColumn("n", F.col("id") * 2))
    (dir, root)
  }

  test("DELETE FROM routes through the ledgered deleteWhere and moves the registration pin") {
    val (_, root) = freshTable("graft_sqldel")
    graft.sources.ManifestSql.register(spark, "sqldml_del", root)
    val v0 = ManifestTable.latest(root).get.version
    spark.sql("DELETE FROM sqldml_del WHERE id >= 40 AND id < 60")
    // a ledgered commit, not a raw rewrite
    assert(ManifestTable.latest(root).get.version == v0 + 1)
    // the writing session's view sees the delete without re-register
    assert(spark.sql("SELECT count(*) AS n FROM sqldml_del").head().getLong(0) == 80L)
    assert(ManifestTable.read(spark, root)
      .filter(F.col("id") >= 40 && F.col("id") < 60).count() == 0L)
    // NULL-predicate rows survive (DELETE: NULL is not TRUE)
    spark.sql("DELETE FROM sqldml_del WHERE n / nullif(id - 99, 0) > 1000000")
    assert(spark.sql("SELECT count(*) FROM sqldml_del").head().getLong(0) > 0L)
  }

  test("UPDATE applies expressions against row values; unmatched rows untouched") {
    val (_, root) = freshTable("graft_sqlupd")
    graft.sources.ManifestSql.register(spark, "sqldml_upd", root)
    spark.sql("UPDATE sqldml_upd SET v = concat(v, '!'), n = n + 1 WHERE id < 5")
    val got = spark.sql("SELECT id, v, n FROM sqldml_upd WHERE id < 7 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.take(5).forall { case (id, v, n) =>
      v == s"row$id!" && n == id * 2 + 1 })
    assert(got.drop(5).forall { case (id, v, n) =>
      v == s"row$id" && n == id * 2 })
    // implicit store-assignment cast: integer literal into a BIGINT col
    spark.sql("UPDATE sqldml_upd SET n = 7 WHERE id = 10")
    assert(spark.sql("SELECT n FROM sqldml_upd WHERE id = 10")
      .head().getLong(0) == 7L)
  }

  test("MERGE upsert = whole-row replace-or-insert; a replayed batch-id MERGE no-ops; the conf auto-resets") {
    import spark.implicits._
    val (_, root) = freshTable("graft_sqlmrg", n = 50L)
    graft.sources.ManifestSql.register(spark, "sqldml_mrg", root)
    (40L until 70L).toDF("id")
      .withColumn("v", F.lit("merged")).withColumn("n", F.lit(-1L))
      .createOrReplaceTempView("sqldml_mrg_src")
    spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "7")
    spark.sql("MERGE INTO sqldml_mrg t USING sqldml_mrg_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.conf.getOption(graft.sources.ManifestSql.BatchIdConf).isEmpty,
      "batch-id conf must auto-reset after the merge")
    val after = spark.sql("SELECT count(*) AS n, " +
      "sum(CASE WHEN v = 'merged' THEN 1 ELSE 0 END) AS m FROM sqldml_mrg").head()
    assert(after.getLong(0) == 70L && after.getLong(1) == 30L)
    // replay with the SAME batch id and poisoned data: the ledger no-ops
    (40L until 70L).toDF("id")
      .withColumn("v", F.lit("MUST_NOT_APPLY")).withColumn("n", F.lit(-9L))
      .createOrReplaceTempView("sqldml_mrg_src")
    spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "7")
    spark.sql("MERGE INTO sqldml_mrg t USING sqldml_mrg_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.conf.getOption(graft.sources.ManifestSql.BatchIdConf).isEmpty,
      "conf must reset on the no-op path too")
    assert(spark.sql("SELECT count(*) FROM sqldml_mrg WHERE v = 'MUST_NOT_APPLY'")
      .head().getLong(0) == 0L, "replayed MERGE applied twice")
    // hash-match the Scala twin on a fresh table
    val (_, root2) = freshTable("graft_sqlmrg2", n = 50L)
    ManifestTable.upsert(spark, root2, "id",
      (40L until 70L).toDF("id")
        .withColumn("v", F.lit("merged")).withColumn("n", F.lit(-1L)))
    val sqlRows = ManifestTable.read(spark, root)
      .orderBy("id").collect().toSeq
    val scalaRows = ManifestTable.read(spark, root2)
      .orderBy("id").collect().toSeq
    assert(sqlRows == scalaRows, "SQL MERGE must equal the Scala upsert twin")
  }

  test("a batch-id INSERT INTO is ledgered: the replay no-ops; INSERT OVERWRITE refuses the conf") {
    val (_, root) = freshTable("graft_sqlinsb", n = 20L)
    graft.sources.ManifestSql.register(spark, "sqldml_insb", root)
    spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "5")
    spark.sql("INSERT INTO sqldml_insb VALUES (100, 'ins', 0)")
    assert(spark.conf.getOption(graft.sources.ManifestSql.BatchIdConf).isEmpty,
      "conf must auto-reset after the insert")
    assert(spark.sql("SELECT count(*) FROM sqldml_insb").head().getLong(0) == 21L)
    // same batch id, poisoned data: the ledger no-ops the replay
    spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "5")
    spark.sql("INSERT INTO sqldml_insb VALUES (999, 'MUST_NOT_APPLY', 0)")
    assert(spark.sql("SELECT count(*) FROM sqldml_insb").head().getLong(0) == 21L,
      "replayed batch-id INSERT applied twice")
    // an overwrite is not a replayable micro-batch shape
    spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "6")
    val e = intercept[Exception](
      spark.sql("INSERT OVERWRITE sqldml_insb VALUES (1, 'x', 0)"))
    assert(e.getMessage.contains("not a replayable"))
    assert(spark.conf.getOption(graft.sources.ManifestSql.BatchIdConf).isEmpty,
      "a refused write must still consume the stale id")
  }

  test("MERGE WHEN MATCHED THEN DELETE alone = key-list takedown; a batch id makes it ledgered and never leaks") {
    import spark.implicits._
    val (_, root) = freshTable("graft_sqlmrgdel")
    graft.sources.ManifestSql.register(spark, "sqldml_mdel", root)
    Seq(3L, 5L, 8L, 500L).toDF("id").createOrReplaceTempView("sqldml_mdel_src")
    spark.sql("MERGE INTO sqldml_mdel t USING sqldml_mdel_src s " +
      "ON t.id = s.id WHEN MATCHED THEN DELETE")
    val left = ManifestTable.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(left == (0L until 100L).toSet -- Set(3L, 5L, 8L))
    // the delete-shaped MERGE must CONSUME a batch id like every
    // other write — a leaked stale id could silently no-op an
    // unrelated later INSERT — and the ledgered delete replays no-op
    Seq(10L, 11L).toDF("id").createOrReplaceTempView("sqldml_mdel_src2")
    spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "31")
    spark.sql("MERGE INTO sqldml_mdel t USING sqldml_mdel_src2 s " +
      "ON t.id = s.id WHEN MATCHED THEN DELETE")
    assert(spark.conf.getOption(graft.sources.ManifestSql.BatchIdConf).isEmpty,
      "batch-id conf must be consumed by the delete-shaped MERGE")
    assert(ManifestTable.isBatchCommitted(root, 31L))
    val v = ManifestTable.latest(root).get.version
    spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "31")
    spark.sql("MERGE INTO sqldml_mdel t USING sqldml_mdel_src s " +
      "ON t.id = s.id WHEN MATCHED THEN DELETE") // poisoned key list
    assert(ManifestTable.latest(root).get.version == v,
      "replayed batch-id MERGE-DELETE must no-op")
    assert(ManifestTable.read(spark, root).count() == 95L)
  }

  test("DML works on the PERSISTENT catalog registration too") {
    val (_, root) = freshTable("graft_sqldmlcat")
    graft.api.Graft(spark, sf)
      .registerManifest("sqldml_cat", root, persistent = true)
    try {
      spark.sql("DELETE FROM sqldml_cat WHERE id % 10 = 0")
      spark.sql("UPDATE sqldml_cat SET v = 'x' WHERE id = 11")
      assert(spark.sql("SELECT count(*) FROM sqldml_cat").head().getLong(0) == 90L)
      assert(spark.sql("SELECT v FROM sqldml_cat WHERE id = 11")
        .head().getString(0) == "x")
      assert(ManifestTable.read(spark, root)
        .filter(F.col("id") % 10 === 0).count() == 0L,
        "the catalog DML must hit the manifest, not a raw path")
    } finally spark.sql("DROP TABLE IF EXISTS sqldml_cat")
  }

  /** One statement of the door × verb matrix: `prepare` and `run`
    * take the SQL target name, `twin` applies the same write through
    * the Scala API to a fresh table root, and `commits` is how many
    * versions `run` must publish. */
  private case class DoorInput(label: String, run: String => Unit,
                               twin: String => Unit, commits: Int = 1,
                               prepare: String => Unit = _ => ())

  /** Every input through every SQL door (temp view, persistent entry,
    * `graft.default`), each on a fresh table: the door publishes
    * exactly `commits` versions, its rows equal the Scala twin's, and
    * it reads its own write. */
  private def doorParity(inputs: Seq[DoorInput]): Unit = {
    def rowsOf(root: String) =
      ManifestTable.read(spark, root).orderBy("id").collect().toSeq
    val g = graft.api.Graft(spark, sf)
    // door name -> (register the table at root, the SQL target name)
    val doors = Seq[(String, String => String)](
      "temp view" -> { root =>
        graft.sources.ManifestSql.register(spark, "mdoor_tmp", root)
        "mdoor_tmp"
      },
      "persistent entry" -> { root =>
        g.registerManifest("mdoor_cat", root, persistent = true)
        "mdoor_cat"
      },
      "graft.default" -> { root =>
        g.registerManifest("mdoor_v2", root, persistent = true)
        "graft.default.mdoor_v2"
      })
    try {
      for (in <- inputs) {
        val (_, twin) = freshTable("graft_mdoor_twin")
        in.twin(twin)
        val want = rowsOf(twin)
        for ((door, register) <- doors) {
          val (_, root) = freshTable("graft_mdoor")
          val target = register(root)
          in.prepare(target)
          val v0 = ManifestTable.latest(root).get.version
          in.run(target)
          assert(ManifestTable.latest(root).get.version == v0 + in.commits,
            s"${in.label} through the $door must commit exactly " +
              s"${in.commits} time(s)")
          assert(rowsOf(root) == want,
            s"${in.label} through the $door differs from the Scala twin")
          assert(spark.sql(s"SELECT count(*) FROM $target").head().getLong(0)
            == want.size.toLong, s"the $door must read its own write")
        }
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS mdoor_cat")
      spark.sql("DROP TABLE IF EXISTS mdoor_v2")
    }
  }

  test("MERGE door parity: every shape through temp view, persistent entry and graft.default commits once and equals the Scala mergeInto twin") {
    import spark.implicits._
    import ManifestTable.{MergeDelete, MergeUpdate, WhenMatched,
      WhenNotMatched, sourceCol}
    val whole = Seq("id", "v", "n").map(c => c -> sourceCol(c)).toMap
    val star = (90L until 110L).toDF("id")
      .withColumn("v", F.lit("m")).withColumn("n", F.lit(-1L))
    val del = Seq(3L, 5L, 8L, 500L).toDF("id")
    val part = (40L until 60L).toDF("id")
      .withColumn("v", F.concat(F.lit("p"), F.col("id")))
    // (SQL clauses, source, the Scala mergeInto twin's clauses)
    val shapes = Seq(
      ("WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        star, Seq(WhenMatched(None, MergeUpdate(whole))),
        Seq(WhenNotMatched(None, whole))),
      ("WHEN MATCHED THEN DELETE", del,
        Seq(WhenMatched(None, MergeDelete)), Nil),
      ("WHEN MATCHED AND t.id % 2 = 0 THEN UPDATE SET v = s.v", part,
        Seq(WhenMatched(Some(F.col("id") % 2 === 0),
          MergeUpdate(Map("v" -> sourceCol("v"))))), Nil))
    doorParity(shapes.zipWithIndex.map {
      case ((clauses, source, matched, notMatched), i) =>
        DoorInput(s"shape $i",
          run = target => {
            source.createOrReplaceTempView("mdoor_src")
            spark.sql(s"MERGE INTO $target t USING mdoor_src s " +
              s"ON t.id = s.id $clauses")
            ()
          },
          twin = root => {
            ManifestTable.mergeInto(spark, root, Seq("id"), source,
              Seq(F.col("id")), matched, notMatched)
            ()
          })
    })
  }

  test("INSERT door parity: INSERT INTO, INSERT OVERWRITE and a batch-id INSERT replay through temp view, persistent entry and graft.default equal their Scala twins") {
    import spark.implicits._
    val conf = graft.sources.ManifestSql.BatchIdConf
    val rows = (200L until 210L).toDF("id")
      .withColumn("v", F.lit("i")).withColumn("n", F.lit(-2L))
    rows.createOrReplaceTempView("idoor_src")
    rows.withColumn("v", F.lit("MUST_NOT_APPLY"))
      .createOrReplaceTempView("idoor_poison")
    def sql(text: String): Unit = { spark.sql(text); () }
    doorParity(Seq(
      DoorInput("INSERT INTO",
        run = t => sql(s"INSERT INTO $t SELECT * FROM idoor_src"),
        twin = root => { ManifestTable.append(spark, root, rows); () }),
      DoorInput("INSERT OVERWRITE",
        run = t => sql(s"INSERT OVERWRITE $t SELECT * FROM idoor_src"),
        twin = root => { ManifestTable.overwrite(spark, root, rows); () }),
      // the first batch-41 INSERT commits in `prepare`; the replay
      // under the same id (poisoned rows) must publish nothing
      DoorInput("batch-id INSERT replay",
        prepare = t => {
          spark.conf.set(conf, "41")
          sql(s"INSERT INTO $t SELECT * FROM idoor_src")
        },
        run = t => {
          spark.conf.set(conf, "41")
          sql(s"INSERT INTO $t SELECT * FROM idoor_poison")
          assert(spark.conf.getOption(conf).isEmpty)
        },
        twin = root => {
          ManifestTable.appendBatch(spark, root, 41L, rows); ()
        },
        commits = 0)))
    // renamed: the table itself takes the INSERT through both catalog
    // names and aligns it by position to the LOGICAL (renamed) columns
    def rowsOf(root: String) =
      ManifestTable.read(spark, root).orderBy("id").collect().toSeq
    val (_, chained) = freshTable("graft_idoor_chain")
    val (_, chainTwin) = freshTable("graft_idoor_chain_twin")
    Seq(chained, chainTwin).foreach(
      ManifestTable.renameColumn(spark, _, "v", "w"))
    ManifestTable.append(spark, chainTwin, rows.toDF("id", "w", "n"))
    graft.api.Graft(spark, sf)
      .registerManifest("idoor_chain", chained, persistent = true)
    try {
      for (target <- Seq("graft.default.idoor_chain", "idoor_chain")) {
        val v0 = ManifestTable.latest(chained).get.version
        sql(s"INSERT INTO $target SELECT * FROM idoor_src")
        assert(ManifestTable.latest(chained).get.version == v0 + 1)
      }
      ManifestTable.append(spark, chainTwin, rows.toDF("id", "w", "n"))
      assert(ManifestTable.read(spark, chained).columns.toSeq ==
        Seq("id", "w", "n"))
      assert(rowsOf(chained) == rowsOf(chainTwin),
        "a renamed table's INSERT must align to the logical names")
    } finally spark.sql("DROP TABLE IF EXISTS idoor_chain")
  }

  test("a batch id never outlives a whole-table write: REPLACE WHERE, v2 CTAS, TRUNCATE, V1 CTAS and df.write overwrite refuse it, consume it and publish nothing") {
    import spark.implicits._
    val conf = graft.sources.ManifestSql.BatchIdConf
    val (dir, root) = freshTable("graft_bidleak", n = 20L)
    graft.api.Graft(spark, sf)
      .registerManifest("bidleak", root, persistent = true)
    graft.catalog.GraftCatalog.install(spark)
    (0L until 5L).toDF("id").withColumn("v", F.lit("s"))
      .withColumn("n", F.lit(0L)).createOrReplaceTempView("bidleak_src")
    def sql(text: String): Unit = { spark.sql(text); () }
    // (shape, the root it writes, the statement)
    val shapes = Seq[(String, String, () => Unit)](
      ("v2 INSERT INTO … REPLACE WHERE", root, () =>
        sql("INSERT INTO graft.default.bidleak REPLACE WHERE id < 5 " +
          "SELECT * FROM bidleak_src")),
      ("v2 CTAS", s"$dir/v2ctas", () =>
        sql("CREATE TABLE graft.default.bidleak_v2ctas " +
          s"LOCATION '$dir/v2ctas' AS SELECT * FROM bidleak_src")),
      ("V1 TRUNCATE TABLE", root, () => sql("TRUNCATE TABLE bidleak")),
      ("V1 CTAS", s"$dir/v1ctas", () =>
        sql("CREATE TABLE bidleak_v1ctas USING `graft-manifest` " +
          s"OPTIONS (path '$dir/v1ctas') AS SELECT * FROM bidleak_src")),
      ("df.write overwrite", root, () =>
        spark.table("bidleak_src").write.format("graft-manifest")
          .mode("overwrite").option("path", root).save()))
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
    try {
      for (((shape, target, write), i) <- shapes.zipWithIndex) {
        val before = ManifestTable.latest(target).map(_.version)
        spark.conf.set(conf, (70 + i).toString)
        val e = intercept[Exception](write())
        assert(messages(e).exists(_.contains(
          "INSERT OVERWRITE is not a replayable micro-batch shape")),
          s"$shape must refuse the batch id: ${messages(e)}")
        assert(spark.conf.getOption(conf).isEmpty,
          s"$shape must consume the batch id")
        assert(ManifestTable.latest(target).map(_.version) == before,
          s"$shape must publish nothing")
        // the next plain INSERT INTO commits, unledgered
        val v = ManifestTable.latest(root).get.version
        sql(s"INSERT INTO bidleak VALUES (${1000 + i}, 'plain', 0)")
        val head = ManifestTable.latest(root).get
        assert(head.version == v + 1,
          s"the INSERT after $shape must commit")
        assert(!head.meta.exists(_.startsWith("#batch:")),
          s"the INSERT after $shape committed under a leaked batch id")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS bidleak")
      spark.sql("DROP TABLE IF EXISTS bidleak_v1ctas")
      scala.util.Try(spark.sql("DROP TABLE IF EXISTS graft.default.bidleak_v2ctas"))
    }
  }

  test("the refusal surface: time travel, non-equality ON, NOT IN / correlated subqueries, duplicate source keys") {
    import spark.implicits._
    val (_, root) = freshTable("graft_sqldmlref")
    graft.sources.ManifestSql.register(spark, "sqldml_ref", root)
    graft.sources.ManifestSql.register(spark, "sqldml_ref_v1", root,
      versionAsOf = Some(1))
    (0L until 5L).toDF("id").withColumn("v", F.lit("s"))
      .withColumn("n", F.lit(0L)).createOrReplaceTempView("sqldml_ref_src")
    def refuse(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage != null && e.getMessage.contains(needle),
        s"expected '$needle' in: ${e.getMessage}")
    }
    refuse("DELETE FROM sqldml_ref_v1 WHERE id = 1", "time travel is read-only")
    // non-equality / disjunctive ON conditions have no key to join by
    refuse("MERGE INTO sqldml_ref t USING sqldml_ref_src s " +
      "ON t.id > s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      "not an equality")
    refuse("MERGE INTO sqldml_ref t USING sqldml_ref_src s " +
      "ON t.id = s.id OR t.v = s.v " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      "not an equality")
    // a column keyed twice is ambiguous
    refuse("MERGE INTO sqldml_ref t USING sqldml_ref_src s " +
      "ON t.id = s.id AND t.id = s.n " +
      "WHEN MATCHED THEN UPDATE SET v = s.v", "at most once")
    // NOT IN and correlated subqueries have no sound V1 rewrite
    refuse("DELETE FROM sqldml_ref WHERE id NOT IN " +
      "(SELECT id FROM sqldml_ref_src)", "NOT IN")
    refuse("DELETE FROM sqldml_ref WHERE id IN " +
      "(SELECT id FROM sqldml_ref_src s WHERE s.v = sqldml_ref.v)",
      "UNCORRELATED")
    // the general merge path refuses subqueries in clause conditions
    refuse("MERGE INTO sqldml_ref t USING sqldml_ref_src s ON t.id = s.id " +
      "WHEN MATCHED AND t.n > (SELECT max(n) FROM sqldml_ref_src) " +
      "THEN UPDATE SET v = 'x'", "subqueries")
    // the ANSI cardinality violation: duplicate source keys that
    // MATCH a target row refuse (which copy wins is nondeterministic)
    (Seq(1L, 1L)).toDF("id").withColumn("v", F.lit("dup"))
      .withColumn("n", F.lit(0L))
      .createOrReplaceTempView("sqldml_ref_dup")
    for (clauses <- Seq("WHEN MATCHED THEN UPDATE SET v = s.v",
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
      refuse("MERGE INTO sqldml_ref t USING sqldml_ref_dup s " +
        s"ON t.id = s.id $clauses", "cardinality violation")
    // a non-manifest target is untouched by the rule (stock error)
    (0L until 3L).toDF("id").createOrReplaceTempView("sqldml_plain")
    intercept[Exception](spark.sql("DELETE FROM sqldml_plain WHERE id = 1"))
  }

  test("general MERGE: conditional matched clauses first-true-wins, partial updates, conditional inserts, NOT MATCHED BY SOURCE") {
    import spark.implicits._
    val (_, root) = freshTable("graft_sqlgm")
    graft.sources.ManifestSql.register(spark, "sqldml_gm", root)
    (50L until 120L).toDF("id")
      .withColumn("sv", F.concat(F.lit("s"), F.col("id")))
      .withColumn("cat", F.col("id") % 2)
      .createOrReplaceTempView("sqldml_gm_src")
    spark.sql("""
      MERGE INTO sqldml_gm t USING sqldml_gm_src s ON t.id = s.id
      WHEN MATCHED AND t.id % 10 = 0 THEN DELETE
      WHEN MATCHED AND s.cat = 1 THEN UPDATE SET v = concat(t.v, '+', s.sv)
      WHEN NOT MATCHED AND s.id < 110 THEN INSERT (id, v) VALUES (s.id, s.sv)
      WHEN NOT MATCHED BY SOURCE AND t.id < 5 THEN UPDATE SET n = -1
      WHEN NOT MATCHED BY SOURCE AND t.id >= 45 AND t.id < 50 THEN DELETE
    """)
    val rows = ManifestTable.read(spark, root).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else Long.box(r.getLong(2)))).toSeq
    val expected = (
      // unmatched target rows: first NMBS clause stamps n=-1 under 5,
      // second drops 45..49, everyone else untouched
      (0L until 45L).map(id => (id, s"row$id",
        Long.box(if (id < 5) -1L else id * 2))) ++
      // matched rows: %10=0 deleted first (clause order beats the
      // update), odd ids partially updated (n untouched), evens stay
      (50L until 100L).filter(_ % 10 != 0).map(id => (id,
        if (id % 2 == 1) s"row$id+s$id" else s"row$id", Long.box(id * 2))) ++
      // conditional inserts: unassigned n inserts NULL
      (100L until 110L).map(id => (id, s"s$id", null: java.lang.Long))
    ).sortBy(_._1)
    assert(rows == expected)
  }

  test("DELETE and UPDATE accept one uncorrelated IN (SELECT ...) conjunct") {
    import spark.implicits._
    val (_, root) = freshTable("graft_sqlin")
    graft.sources.ManifestSql.register(spark, "sqldml_in", root)
    (0L until 200L).map(i => (i, i % 7)).toDF("k", "tag")
      .createOrReplaceTempView("sqldml_in_aux")
    // bare IN
    spark.sql("DELETE FROM sqldml_in WHERE id IN " +
      "(SELECT k FROM sqldml_in_aux WHERE tag = 0)")
    // IN AND a residue — only the residue-passing members delete
    spark.sql("DELETE FROM sqldml_in WHERE id >= 50 AND id IN " +
      "(SELECT k FROM sqldml_in_aux WHERE tag = 1)")
    val left = ManifestTable.read(spark, root)
      .select("id").as[Long].collect().toSet
    val expect = (0L until 100L)
      .filterNot(_ % 7 == 0)
      .filterNot(i => i >= 50 && i % 7 == 1).toSet
    assert(left == expect)
    // UPDATE with residue + IN, expression referencing the row
    spark.sql("UPDATE sqldml_in SET v = concat(v, '*') " +
      "WHERE id < 20 AND id IN " +
      "(SELECT k FROM sqldml_in_aux WHERE tag = 2)")
    val starred = ManifestTable.read(spark, root)
      .filter(F.col("v").endsWith("*"))
      .select("id").as[Long].collect().toSet
    assert(starred == (0L until 20L).filter(_ % 7 == 2).toSet)
    // NULL members never fire (IN: NULL is not TRUE)
    spark.sql("DELETE FROM sqldml_in WHERE id IN " +
      "(SELECT CASE WHEN tag = 3 THEN k ELSE NULL END " +
      "FROM sqldml_in_aux)")
    val afterNull = ManifestTable.read(spark, root)
      .select("id").as[Long].collect().toSet
    assert(afterNull == expect.filterNot(_ % 7 == 3))
  }

  test("multi-IN, EXISTS, and NOT EXISTS membership conjuncts") {
    import spark.implicits._
    val (_, root) = freshTable("graft_sqlex")
    graft.sources.ManifestSql.register(spark, "sqldml_ex", root)
    (0L until 200L).map(i => (i, i % 7)).toDF("k", "tag")
      .createOrReplaceTempView("sqldml_ex_aux")
    // TWO IN conjuncts: the intersection fires
    spark.sql("DELETE FROM sqldml_ex WHERE id IN " +
      "(SELECT k FROM sqldml_ex_aux WHERE tag = 0) AND id IN " +
      "(SELECT k FROM sqldml_ex_aux WHERE k < 50)")
    def ids(): Set[Long] = ManifestTable.read(spark, root)
      .select("id").as[Long].collect().toSet
    val afterTwoIn = (0L until 100L)
      .filterNot(i => i % 7 == 0 && i < 50).toSet
    assert(ids() == afterTwoIn)
    // equality-correlated EXISTS with an inner-only conjunct
    spark.sql("DELETE FROM sqldml_ex WHERE id >= 90 AND EXISTS " +
      "(SELECT 1 FROM sqldml_ex_aux a " +
      "WHERE a.k = sqldml_ex.id AND a.tag = 2)")
    val afterExists = afterTwoIn.filterNot(i => i >= 90 && i % 7 == 2)
    assert(ids() == afterExists)
    // NOT EXISTS: rows matching NO values row fire (anti semantics)
    spark.sql("UPDATE sqldml_ex SET v = 'orphan' WHERE NOT EXISTS " +
      "(SELECT 1 FROM sqldml_ex_aux a " +
      "WHERE a.k = sqldml_ex.id AND a.k < 95)")
    val orphaned = ManifestTable.read(spark, root)
      .filter(F.col("v") === "orphan")
      .select("id").as[Long].collect().toSet
    assert(orphaned == afterExists.filter(_ >= 95),
      s"got $orphaned")
    // a MIXED predicate: residue + IN + NOT EXISTS in one statement
    spark.sql("DELETE FROM sqldml_ex WHERE id >= 10 AND id IN " +
      "(SELECT k FROM sqldml_ex_aux WHERE tag = 1) AND NOT EXISTS " +
      "(SELECT 1 FROM sqldml_ex_aux a " +
      "WHERE a.k = sqldml_ex.id AND a.k < 60)")
    assert(ids() == afterExists
      .filterNot(i => i >= 10 && i % 7 == 1 && i >= 60))
    // refusals: uncorrelated EXISTS (a constant), multi-equality
    // correlation, and correlation on a non-target column
    def refuse(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage != null && e.getMessage.contains(needle),
        s"expected '$needle' in: ${e.getMessage}")
    }
    refuse("DELETE FROM sqldml_ex WHERE EXISTS " +
      "(SELECT 1 FROM sqldml_ex_aux WHERE tag = 4)",
      "UNCORRELATED EXISTS")
    refuse("DELETE FROM sqldml_ex WHERE EXISTS " +
      "(SELECT 1 FROM sqldml_ex_aux a WHERE a.k = sqldml_ex.id " +
      "AND a.tag = sqldml_ex.n)",
      "exactly ONE equality")
  }

  test("composite ON keys: a conjunction of equalities merges by the full key tuple") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlck").toString
    val root = s"$dir/t"
    ManifestTable.init(root, Seq("grp", "id"), Seq("id"))
    // two rows share id=1 in different groups — a single-key merge
    // could not tell them apart
    ManifestTable.append(spark, root,
      Seq(("a", 1L, "a1"), ("a", 2L, "a2"), ("b", 1L, "b1"),
        ("b", 3L, "b3")).toDF("grp", "id", "v"))
    graft.sources.ManifestSql.register(spark, "sqldml_ck", root)
    Seq(("a", 1L, "A1"), ("b", 1L, "B1"), ("c", 9L, "C9"))
      .toDF("grp", "id", "nv").createOrReplaceTempView("sqldml_ck_src")
    spark.sql("MERGE INTO sqldml_ck t USING sqldml_ck_src s " +
      "ON t.grp = s.grp AND t.id = s.id " +
      "WHEN MATCHED AND t.grp = 'a' THEN UPDATE SET v = s.nv " +
      "WHEN MATCHED THEN DELETE " +
      "WHEN NOT MATCHED THEN INSERT (grp, id, v) VALUES (s.grp, s.id, s.nv)")
    val got = ManifestTable.read(spark, root)
      .select("grp", "id", "v").as[(String, Long, String)]
      .collect().toSet
    // (a,1) updated, (b,1) deleted, (c,9) inserted, others untouched
    assert(got == Set(("a", 1L, "A1"), ("a", 2L, "a2"), ("b", 3L, "b3"),
      ("c", 9L, "C9")))
    // the Scala-API twin on the same shape must agree
    val root2 = s"$dir/t2"
    ManifestTable.init(root2, Seq("grp", "id"), Seq("id"))
    ManifestTable.append(spark, root2,
      Seq(("a", 1L, "a1"), ("a", 2L, "a2"), ("b", 1L, "b1"),
        ("b", 3L, "b3")).toDF("grp", "id", "v"))
    val m = ManifestTable.mergeInto(spark, root2, Seq("grp", "id"),
      Seq(("a", 1L, "A1"), ("b", 1L, "B1"), ("c", 9L, "C9"))
        .toDF("grp", "id", "nv"),
      Seq(F.col("grp"), F.col("id")),
      matched = Seq(
        ManifestTable.WhenMatched(Some(F.col("grp") === "a"),
          ManifestTable.MergeUpdate(Map(
            "v" -> ManifestTable.sourceCol("nv")))),
        ManifestTable.WhenMatched(None, ManifestTable.MergeDelete)),
      notMatched = Seq(ManifestTable.WhenNotMatched(None, Map(
        "grp" -> ManifestTable.sourceCol("grp"),
        "id" -> ManifestTable.sourceCol("id"),
        "v" -> ManifestTable.sourceCol("nv")))))
    assert(m.matchedRows == 2L && m.insertedRows == 1L)
    val got2 = ManifestTable.read(spark, root2)
      .select("grp", "id", "v").as[(String, Long, String)]
      .collect().toSet
    assert(got2 == got)
    // duplicate key TUPLES matching a target row refuse; same
    // components in different tuples are fine (("a",1) and ("b",1)
    // share id=1 above) — ("a",1) survives merge m, so the duplicated
    // ("a",1) tuple is an actual multi-match
    val e = intercept[Exception](ManifestTable.mergeInto(spark, root2,
      Seq("grp", "id"),
      Seq(("a", 1L, "x"), ("a", 1L, "y")).toDF("grp", "id", "nv"),
      Seq(F.col("grp"), F.col("id")),
      matched = Seq(ManifestTable.WhenMatched(None,
        ManifestTable.MergeDelete))))
    assert(e.getMessage.contains("cardinality violation"))
  }

  test("a general (conditional) MERGE is ledgered under a batch id; the no-op shape still commits the marker") {
    import spark.implicits._
    val (_, root) = freshTable("graft_sqlgmb", n = 30L)
    graft.sources.ManifestSql.register(spark, "sqldml_gmb", root)
    (20L until 40L).toDF("id").withColumn("sv", F.lit("g"))
      .createOrReplaceTempView("sqldml_gmb_src")
    val merge = "MERGE INTO sqldml_gmb t USING sqldml_gmb_src s " +
      "ON t.id = s.id " +
      "WHEN MATCHED AND t.id %% 2 = 0 THEN UPDATE SET v = '%s' " +
      "WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, '%s', 0)"
    spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "21")
    spark.sql(merge.format("upd", "ins"))
    assert(spark.conf.getOption(graft.sources.ManifestSql.BatchIdConf).isEmpty)
    // poisoned replay under the same id: the ledger no-ops
    spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "21")
    spark.sql(merge.format("POISON", "POISON"))
    val counts = spark.sql("SELECT sum(CASE WHEN v = 'upd' THEN 1 ELSE 0 " +
      "END) AS u, sum(CASE WHEN v = 'ins' THEN 1 ELSE 0 END) AS i, " +
      "sum(CASE WHEN v LIKE 'POISON%' THEN 1 ELSE 0 END) AS p, " +
      "count(*) AS n FROM sqldml_gmb").head()
    assert((counts.getLong(0), counts.getLong(1), counts.getLong(2),
      counts.getLong(3)) == ((5L, 10L, 0L, 40L)))
    // a merge that fires NOTHING still publishes its batch marker in
    // one commit, so ITS replay no-ops too
    (500L until 505L).toDF("id").withColumn("sv", F.lit("z"))
      .createOrReplaceTempView("sqldml_gmb_src2")
    val v0 = ManifestTable.latest(root).get.version
    spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "22")
    spark.sql("MERGE INTO sqldml_gmb t USING sqldml_gmb_src2 s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = 'never'")
    assert(ManifestTable.latest(root).get.version == v0 + 1,
      "the marker-only commit must land")
    assert(ManifestTable.isBatchCommitted(root, 22L))
    spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "22")
    spark.sql("MERGE INTO sqldml_gmb t USING sqldml_gmb_src2 s " +
      "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = 'never'")
    assert(ManifestTable.latest(root).get.version == v0 + 1,
      "the replayed no-op merge must not commit again")
  }

  test("MERGE WITH SCHEMA EVOLUTION: star actions add source-only columns through the ledger; catalog entry refreshes in place") {
    import spark.implicits._
    val (_, root) = freshTable("graft_sqlevo", n = 10L)
    graft.api.Graft(spark, sf)
      .registerManifest("sqldml_evo", root, persistent = true)
    try {
      Seq((3L, "up", 30L, 7L), (100L, "new", 0L, 9L))
        .toDF("id", "v", "n", "extra")
        .createOrReplaceTempView("sqldml_evo_src")
      spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "55")
      spark.sql("MERGE WITH SCHEMA EVOLUTION INTO sqldml_evo t " +
        "USING sqldml_evo_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      // the catalog name serves the widened schema at the next
      // statement — no re-register
      val got = spark.sql(
        "SELECT id, v, n, extra FROM sqldml_evo ORDER BY id").collect()
      assert(got.length == 11)
      val byId = got.map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) null else Long.box(r.getLong(3)))).toMap
      assert(byId(3L) == (("up", 30L, Long.box(7L))))
      assert(byId(100L) == (("new", 0L, Long.box(9L))))
      assert(byId(4L) == (("row4", 8L, null)),
        "untouched rows read NULL in the evolved column")
      // the ledger recorded the column (data-path truth, not catalog)
      val recorded = ManifestTable.recordedSchemaOf(spark, root,
        ManifestTable.latest(root).get).fieldNames.toSeq
      assert(recorded == Seq("id", "v", "n", "extra"))
      // the evolving merge was LEDGERED; its replay (poisoned source,
      // same id) must no-op — including the ALTER re-check
      assert(ManifestTable.isBatchCommitted(root, 55L))
      Seq((3L, "poison", -1L, -1L)).toDF("id", "v", "n", "extra")
        .createOrReplaceTempView("sqldml_evo_src2")
      spark.conf.set(graft.sources.ManifestSql.BatchIdConf, "55")
      spark.sql("MERGE WITH SCHEMA EVOLUTION INTO sqldml_evo t " +
        "USING sqldml_evo_src2 s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      assert(spark.sql("SELECT v FROM sqldml_evo WHERE id = 3")
        .head().getString(0) == "up", "replayed evolving merge applied")
      // evolution with an EXPLICIT partial update: the star insert
      // carries the new column, the explicit update never widens
      // (the source must still cover every CURRENT target column —
      // INSERT * semantics, evolution or not)
      Seq((4L, "x2", 0L, 0L, 42L), (200L, "n2", 1L, 0L, 43L))
        .toDF("id", "v", "n", "extra", "extra2")
        .createOrReplaceTempView("sqldml_evo_src3")
      spark.sql("MERGE WITH SCHEMA EVOLUTION INTO sqldml_evo t " +
        "USING sqldml_evo_src3 s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT *")
      val r4 = spark.sql(
        "SELECT v, extra2 FROM sqldml_evo WHERE id = 4").head()
      assert(r4.getString(0) == "x2" && r4.isNullAt(1),
        "an explicit UPDATE must not be widened by evolution")
      val r200 = spark.sql(
        "SELECT extra2 FROM sqldml_evo WHERE id = 200").head()
      assert(r200.getLong(0) == 43L,
        "the star INSERT must carry the evolved column")
    } finally spark.sql("DROP TABLE IF EXISTS sqldml_evo")
  }

  test("ANSI duplicate-source semantics: unmatched duplicates each insert; only an actual multi-match refuses; 'present' source column is no collision") {
    import spark.implicits._
    // duplicate keys (200, 200) match NO target row: legal even with a
    // MATCHED clause present (cardinality is about actual multi-match),
    // and each duplicate fires the INSERT clause, per ANSI MERGE — for
    // explicit clauses and the star shape alike
    Seq(200L, 200L, 3L).toDF("id").withColumn("v", F.lit("ins"))
      .withColumn("n", F.lit(-1L))
      .createOrReplaceTempView("sqldml_dup_src")
    val root = Seq(
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.v, s.n)",
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ).map { clauses =>
      val (_, r) = freshTable("graft_sqldup", n = 10L)
      graft.sources.ManifestSql.register(spark, "sqldml_dup", r)
      spark.sql("MERGE INTO sqldml_dup t USING sqldml_dup_src s " +
        s"ON t.id = s.id $clauses")
      val out = ManifestTable.read(spark, r)
      assert(out.filter(F.col("id") === 200L).count() == 2L,
        s"duplicate unmatched source rows must each insert: $clauses")
      assert(out.filter(F.col("id") === 3L && F.col("v") === "ins")
        .count() == 1L, s"the matched row must update: $clauses")
      assert(out.count() == 12L)
      r
    }.last
    // insert-only merge with duplicates: no matched clause, no refusal
    Seq(300L, 300L).toDF("id").withColumn("v", F.lit("dup2"))
      .withColumn("n", F.lit(0L))
      .createOrReplaceTempView("sqldml_dup_src2")
    spark.sql("MERGE INTO sqldml_dup t USING sqldml_dup_src2 s " +
      "ON t.id = s.id WHEN NOT MATCHED THEN INSERT *")
    assert(ManifestTable.read(spark, root)
      .filter(F.col("id") === 300L).count() == 2L)
    // NMBS-only merge with duplicate source keys: a carried row that
    // MATCHES the duplicated key must not fan out into two copies
    Seq(1L, 1L).toDF("id").createOrReplaceTempView("sqldml_dup_src3")
    val before = ManifestTable.read(spark, root).count()
    spark.sql("MERGE INTO sqldml_dup t USING sqldml_dup_src3 s " +
      "ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET n = -5")
    val after = ManifestTable.read(spark, root)
    assert(after.count() == before,
      "an NMBS-only merge must never change the row count")
    assert(after.filter(F.col("id") === 1L).count() == 1L,
      "the carried matched row must not duplicate under the join")
    assert(after.filter(F.col("id") === 1L).head().getLong(2) == 2L,
      "the matched row is untouched by NOT MATCHED BY SOURCE")
    assert(after.filter(F.col("id") =!= 1L && F.col("n") =!= -5L)
      .count() == 0L)
    // a lone MATCHED DELETE is no exception: a duplicated key that
    // matches a row is the same cardinality violation, refused before
    // anything commits
    Seq(4L, 4L, 6L).toDF("id").createOrReplaceTempView("sqldml_dup_src5")
    val vDel = ManifestTable.latest(root).get.version
    val eDel = intercept[Exception](spark.sql(
      "MERGE INTO sqldml_dup t USING sqldml_dup_src5 s " +
        "ON t.id = s.id WHEN MATCHED THEN DELETE"))
    assert(eDel.getMessage.contains("cardinality violation"))
    assert(ManifestTable.latest(root).get.version == vDel)
    // a source column literally named 'present' must not collide with
    // the merge frame's internal match marker
    Seq((5L, true)).toDF("id", "present")
      .createOrReplaceTempView("sqldml_dup_src4")
    spark.sql("MERGE INTO sqldml_dup t USING sqldml_dup_src4 s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET v = cast(s.present AS string)")
    assert(ManifestTable.read(spark, root).filter(F.col("id") === 5L)
      .head().getString(1) == "true")
  }

  test("merge-on-read SQL: DELETE under #dvmode rewrites no file; every door's read overlays") {
    import spark.implicits._
    val (_, root) = freshTable("graft_sqlmor")
    graft.api.Graft(spark, sf).registerManifest("sqldml_mor", root,
      persistent = true)
    graft.catalog.GraftCatalog.install(spark)
    ManifestTable.setMorDeletes(root, on = true)
    val before = ManifestTable.latest(root).get.files
    spark.sql("DELETE FROM sqldml_mor WHERE id % 5 = 0")
    assert(ManifestTable.latest(root).get.files == before,
      "#dvmode DELETE must not rewrite any data file")
    val want = (0L until 100L).filterNot(_ % 5 == 0).toSet
    // the session-catalog name (the catalog door's relation overlays)
    assert(spark.sql("SELECT id FROM sqldml_mor")
      .as[Long].collect().toSet == want)
    // spark.table over the catalog entry — DataFrame form
    assert(spark.table("sqldml_mor").select("id")
      .as[Long].collect().toSet == want)
    // the graft alias (the same relation())
    assert(spark.sql("SELECT id FROM graft.default.sqldml_mor")
      .as[Long].collect().toSet == want)
    // Scala door
    assert(ManifestTable.read(spark, root).select("id")
      .as[Long].collect().toSet == want)
    // the IN-subquery arm routes MoR too
    spark.range(0, 4).select(F.col("id") * 7 as "vid")
      .createOrReplaceTempView("sqldml_mor_vic")
    val files1 = ManifestTable.latest(root).get.files
    spark.sql("DELETE FROM sqldml_mor WHERE id IN " +
      "(SELECT vid FROM sqldml_mor_vic)")
    assert(ManifestTable.latest(root).get.files == files1)
    val want2 = want -- Seq(7L, 14L, 21L) // 0 was already deleted
    assert(spark.sql("SELECT id FROM sqldml_mor")
      .as[Long].collect().toSet == want2)
    // a pushed filter still prunes/pushes through the overlay's
    // anti-join: predicate reaches the parquet scan
    val plan = spark.sql(
      "SELECT id FROM sqldml_mor WHERE id = 11").queryExecution
      .executedPlan.toString
    assert(plan.contains("EqualTo(id,11)") &&
      plan.contains("PushedFilters"),
      s"filter must push through the DV overlay, got:\n$plan")
    // and the overlay join is a broadcast anti-join (map-side probe,
    // no shuffle on the scan side)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected a broadcast anti-join overlay, got:\n$plan")
    // switching the mode off restores copy-on-write
    ManifestTable.setMorDeletes(root, on = false)
    val files2 = ManifestTable.latest(root).get.files
    spark.sql("DELETE FROM sqldml_mor WHERE id = 1")
    assert(ManifestTable.latest(root).get.files != files2,
      "with #dvmode off the delete must be copy-on-write again")
    spark.sql("DROP TABLE IF EXISTS sqldml_mor")
  }
}
