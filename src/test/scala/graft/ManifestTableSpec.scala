package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.ManifestTable

/** Manifest-pointer table: every published version is a complete
  * snapshot, compaction never loses a concurrent append, and old
  * snapshots survive until vacuum. */
class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def ids(root: String): Set[Long] =
    ManifestTable.read(spark, root).select("id").as[Long].collect().toSet

  private def idsOf(root: String, files: Seq[String]): Seq[Long] =
    spark.read.parquet(files.map(f => s"$root/$f"): _*)
      .select("id").as[Long].collect().toSeq

  private def batch(lo: Long, hi: Long) =
    (lo until hi).toDF("id").withColumn("payload",
      F.concat(F.lit("row"), F.col("id")))

  test("every published version is a complete, consistent snapshot") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest1").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 100))
    ManifestTable.append(spark, root, batch(100, 250))
    ManifestTable.append(spark, root, batch(250, 300))
    assert(ids(root) == (0L until 300L).toSet)
    // replay EVERY version: each must be exactly a prefix of the
    // append history — complete batches, no dupes, no partials
    val prefixes = Seq(Set.empty[Long], (0L until 100L).toSet,
      (0L until 250L).toSet, (0L until 300L).toSet)
    for (v <- 1 to 3) {
      val snap = io.readManifest(root, v)
      assert(idsOf(root, snap).toSet == prefixes(v), s"v$v")
      assert(idsOf(root, snap).size == prefixes(v).size, s"v$v has dupes")
    }
  }

  private object io {
    def readManifest(root: String, v: Int): Seq[String] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(root, "manifest", s"v$v"))
        .asScala.toSeq.filter(_.nonEmpty)
        .filterNot(_.startsWith("#")) // metadata lines (schema, batch ledger)
    }
  }

  test("compaction merges a concurrent append instead of losing it") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest2").toString
    ManifestTable.init(root)
    for (i <- 0 until 6)
      ManifestTable.append(spark, root, batch(i * 50L, i * 50L + 50L))
    val preFiles = ManifestTable.latest(root).get.files.size
    // inject an append BETWEEN the compaction's rewrite and its
    // commit — the exact race an overwrite-in-place compactor loses
    val snap = ManifestTable.compact(spark, root, targetFileBytes = 1L << 20,
      beforeCommit = () =>
        { ManifestTable.append(spark, root, batch(300, 333)); () })
    assert(ids(root) == (0L until 333L).toSet,
      "concurrent append lost by compaction")
    assert(snap.files.size < preFiles,
      s"compaction did not reduce files: ${snap.files.size} vs $preFiles")
    // the concurrent append's files were carried forward verbatim
    assert(ManifestTable.latest(root).get.version == snap.version)
  }

  test("racing compactions: the loser aborts instead of committing the base rows twice") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest4").toString
    ManifestTable.init(root)
    for (i <- 0 until 4)
      ManifestTable.append(spark, root, batch(i * 25L, i * 25L + 25L))
    // compaction B commits first (injected between A's rewrite and
    // commit); A must detect that its base files are gone and return
    // B's snapshot rather than merging two rewrites of the same rows
    val snap = ManifestTable.compact(spark, root, targetFileBytes = 1L << 20,
      beforeCommit = () =>
        { ManifestTable.compact(spark, root, targetFileBytes = 1L << 20); () })
    val rows = ManifestTable.read(spark, root).select("id").as[Long].collect()
    assert(rows.length == 100, s"row count ${rows.length}: base rows duplicated")
    assert(rows.toSet == (0L until 100L).toSet)
    assert(ManifestTable.latest(root).get.version == snap.version)
  }

  test("a reader pinned to an old snapshot survives compaction until vacuum; vacuum keeps only live files") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest3").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 120))
    ManifestTable.append(spark, root, batch(120, 200))
    val pinned = ManifestTable.latest(root).get // a live reader's view
    ManifestTable.compact(spark, root, targetFileBytes = 1L << 20)
    // data files are immutable and still referenced-on-disk: the
    // pinned snapshot reads completely even though the pointer moved
    assert(idsOf(root, pinned.files).toSet == (0L until 200L).toSet)
    // default orphan grace spares everything this young — unreferenced
    // files could belong to an in-flight writer
    assert(ManifestTable.vacuum(root).isEmpty,
      "orphan grace did not spare fresh unreferenced files")
    val deleted = ManifestTable.vacuum(root, orphanGraceMillis = 0)
    assert(deleted.nonEmpty, "vacuum found nothing to delete")
    // the latest snapshot is untouched...
    assert(ids(root) == (0L until 200L).toSet)
    // ...and exactly the non-live files went away
    val live = ManifestTable.latest(root).get.files.toSet
    assert(deleted.forall(d => !live(d)))
    assert(pinned.files.exists(f =>
      !java.nio.file.Files.exists(java.nio.file.Paths.get(root, f))),
      "vacuum left the superseded snapshot fully intact")
  }

  test("deleteWhere rewrites only affected files; a racing append loses nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest5").toString
    ManifestTable.init(root)
    // two disjoint batches → disjoint file sets; victims live only
    // in the first batch's files
    ManifestTable.append(spark, root, batch(0, 100))
    ManifestTable.append(spark, root, batch(1000, 1100))
    val before = ManifestTable.latest(root).get.files
    val untouched = before.filter { f =>
      idsOf(root, Seq(f)).forall(_ >= 1000L)
    }
    // delete ids 0..49, racing an append between rewrite and commit
    val del = ManifestTable.deleteWhere(spark, root, F.col("id") < 50,
      beforeCommit = () =>
        { ManifestTable.append(spark, root, batch(2000, 2050)); () })
    assert(ids(root) ==
      ((50L until 100L) ++ (1000L until 1100L) ++ (2000L until 2050L)).toSet,
      "deleteWhere lost the racing append or deleted the wrong rows")
    // the removed-row report comes from the delete's own victim scan
    assert(del.removedRows == 50L, s"removedRows ${del.removedRows}")
    // copy-on-write: files with no victims are carried by REFERENCE
    val after = ManifestTable.latest(root).get.files.toSet
    assert(untouched.nonEmpty && untouched.forall(after),
      "deleteWhere rewrote files that held no victim rows")
    assert(ManifestTable.latest(root).get.version == del.snapshot.version)
  }

  test("deleteWhere null predicate rows survive; no-victim delete is a no-op snapshot") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest6").toString
    ManifestTable.init(root)
    val withNulls = batch(0, 10).withColumn("payload",
      F.when(F.col("id") < 5, F.col("payload")))
    ManifestTable.append(spark, root, withNulls)
    // payload = 'row7' is NULL for ids >= 5 → those rows must SURVIVE
    val del = ManifestTable.deleteWhere(spark, root, F.col("payload") === "row3")
    assert(ids(root) == ((0L until 10L).toSet - 3L))
    assert(del.removedRows == 1L)
    val v = ManifestTable.latest(root).get.version
    val noop = ManifestTable.deleteWhere(spark, root, F.col("id") === 999L)
    assert(noop.snapshot.version == v,
      "no-victim delete committed a new version")
    assert(noop.removedRows == 0L)
  }

  test("updateWhere rewrites only affected files; null predicate rows and racing appends are untouched") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest11").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 100))
    ManifestTable.append(spark, root, batch(1000, 1100))
    val before = ManifestTable.latest(root).get.files
    val untouched = before.filter(f => idsOf(root, Seq(f)).forall(_ >= 1000L))
    // rows with a NULL payload must stay unchanged (NULL is not TRUE)
    ManifestTable.append(spark, root, batch(5000, 5002)
      .withColumn("payload", F.lit(null).cast("string")))
    val upd = ManifestTable.updateWhere(spark, root,
      F.col("payload").startsWith("row") && F.col("id") < 50,
      Map("payload" -> F.concat(F.lit("upd"), F.col("id"))),
      beforeCommit = () =>
        { ManifestTable.append(spark, root, batch(2000, 2010)); () })
    assert(upd.removedRows == 50L, s"matched ${upd.removedRows}")
    val rows = ManifestTable.read(spark, root)
      .select("id", "payload").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert((0L until 50L).forall(i => rows(i).contains(s"upd$i")),
      "matched rows not updated")
    assert((50L until 100L).forall(i => rows(i).contains(s"row$i")))
    assert((1000L until 1100L).forall(i => rows(i).contains(s"row$i")))
    assert((2000L until 2010L).forall(i => rows(i).contains(s"row$i")),
      "racing append lost or mangled")
    assert((5000L until 5002L).forall(rows(_).isEmpty),
      "NULL-predicate rows were touched")
    // copy-on-write: victim-free files carried by reference
    val after = ManifestTable.latest(root).get.files.toSet
    assert(untouched.nonEmpty && untouched.forall(after))
    // assigning to a column the table does not have is refused loudly
    intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, root, F.col("id") === 1L,
        Map("no_such_col" -> F.lit("x")))
    }
  }

  test("upsert replaces matched rows, appends new ones, and merges an added column in one commit") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest12").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 100))
    ManifestTable.append(spark, root, batch(1000, 1100))
    val before = ManifestTable.latest(root).get.files
    val untouched = before.filter(f => idsOf(root, Seq(f)).forall(_ >= 1000L))
    // updates: 20 collide (0..19), 30 are new (3000..3029) — and the
    // update rows carry a column the table never had
    val updates = (0L until 20L) ++ (3000L until 3030L)
    val updDf = updates.toDF("id")
      .withColumn("payload", F.concat(F.lit("merged"), F.col("id")))
      .withColumn("rev", F.lit(2L))
    val m = ManifestTable.upsert(spark, root, "id", updDf,
      beforeCommit = () =>
        { ManifestTable.append(spark, root, batch(4000, 4010)); () })
    assert(m.matchedRows == 20L && m.insertedRows == 30L,
      s"matched ${m.matchedRows} inserted ${m.insertedRows}")
    val rows = ManifestTable.read(spark, root)
      .select("id", "payload", "rev").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toList
    val byId = rows.groupBy(_._1)
    assert(rows.size == byId.size, "upsert left duplicate ids")
    assert(updates.forall(i =>
      byId(i).head == ((i, s"merged$i", Some(2L)))),
      "an update row missing or not replacing")
    assert((20L until 100L).forall(i =>
      byId(i).head == ((i, s"row$i", None))),
      "a non-matched row was altered (rev must be NULL-filled)")
    assert((4000L until 4010L).forall(i => byId(i).head._2 == s"row$i"),
      "racing append lost")
    val after = ManifestTable.latest(root).get.files.toSet
    assert(untouched.nonEmpty && untouched.forall(after),
      "upsert rewrote files that held no matched rows")
    // merging into an id-distinct violation is refused
    intercept[IllegalArgumentException] {
      ManifestTable.upsert(spark, root, "id",
        Seq(1L, 1L).toDF("id").withColumn("payload", F.lit("x")))
    }
    // a second, disjoint upsert is a pure append path
    val m2 = ManifestTable.upsert(spark, root, "id",
      Seq(9000L).toDF("id").withColumn("payload", F.lit("p"))
        .withColumn("rev", F.lit(3L)))
    assert(m2.matchedRows == 0L && m2.insertedRows == 1L)
    assert(ManifestTable.read(spark, root).count() ==
      (100 + 100 + 30 + 10 + 1).toLong)
  }

  test("pre-ledger upgrade: the first append to a schema-less manifest seeds the merge from the existing files") {
    val root = java.nio.file.Files.createTempDirectory("graft_preledger").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 10)) // id, payload
    // simulate a round-13 table: strip the recorded-schema line
    val v1 = java.nio.file.Paths.get(root, "manifest", "v1")
    import scala.jdk.CollectionConverters._
    val stripped = java.nio.file.Files.readAllLines(v1).asScala
      .filterNot(_.startsWith("#schema:"))
    java.nio.file.Files.write(v1, stripped.mkString("\n").getBytes)
    assert(ManifestTable.latest(root).get.schemaJson.isEmpty)
    // the next batch LACKS payload — without the seed, the recorded
    // schema would be id-only and every read would hide payload
    ManifestTable.append(spark, root, (100L until 105L).toDF("id"))
    val df = ManifestTable.read(spark, root)
    assert(df.columns.toSeq == Seq("id", "payload"), df.columns.mkString(","))
    val rows = df.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert((0L until 10L).forall(i => rows(i).contains(s"row$i")),
      "pre-upgrade column hidden or emptied")
    assert((100L until 105L).forall(rows(_).isEmpty))
    assert(ManifestTable.latest(root).get.schemaJson.exists(_.contains("payload")),
      "merge did not seed from the existing files' schema")
  }

  test("many-file delete touches only the victim files (suffix-set matching)") {
    val root = java.nio.file.Files.createTempDirectory("graft_manyfiles").toString
    ManifestTable.init(root)
    // 30 single-file batches with disjoint id ranges
    for (i <- 0 until 30)
      ManifestTable.append(spark, root,
        batch(i * 10L, i * 10L + 10L).coalesce(1))
    val before = ManifestTable.latest(root).get.files
    assert(before.size == 30)
    // victims live in exactly two files (ids 42, 171)
    val del = ManifestTable.deleteWhere(spark, root,
      F.col("id").isin(42L, 171L))
    assert(del.removedRows == 2L)
    val after = ManifestTable.latest(root).get.files
    val carried = before.toSet.intersect(after.toSet)
    assert(carried.size == 28,
      s"expected 28 files carried by reference, got ${carried.size}")
    assert(ids(root) == (0L until 300L).toSet -- Set(42L, 171L))
  }

  test("upsert matched counts DISTINCT ids even when racing appends left duplicate rows") {
    val root = java.nio.file.Files.createTempDirectory("graft_dupids").toString
    ManifestTable.init(root)
    // two un-arbitrated appends both carrying id 7 (the racing-append
    // shape the docs call out) — in separate files
    ManifestTable.append(spark, root, batch(0, 10))
    ManifestTable.append(spark, root, batch(7, 8))
    val m = ManifestTable.upsert(spark, root, "id",
      Seq(7L, 9000L).toDF("id")
        .withColumn("payload", F.concat(F.lit("m"), F.col("id"))))
    assert(m.matchedRows == 1L && m.insertedRows == 1L,
      s"matched ${m.matchedRows} inserted ${m.insertedRows}")
    val sevens = ManifestTable.read(spark, root)
      .filter(F.col("id") === 7L).collect()
    assert(sevens.length == 1 && sevens.head.getString(1) == "m7",
      "duplicate-id rows not all replaced by the single update row")
  }

  test("merge scan contract: scattered driver-sized batches prune per key (bloom); larger batches prune by id range") {
    import graft.operators.ManifestStats
    // files opened is measured the deterministic way: every file the
    // contract says the merge must NOT open is corrupted on disk, so
    // any wider scan fails loudly
    // -- scattered half: 8 interleaved files, ids ≡ i (mod 8) --
    val root = java.nio.file.Files.createTempDirectory("graft_mc1").toString
    ManifestTable.init(root, Seq("id"), Seq("id"))
    for (i <- 0 until 8)
      ManifestTable.append(spark, root,
        (0L until 400L).filter(_ % 8 == i).toDF("id")
          .withColumn("payload", F.concat(F.lit("row"), F.col("id")))
          .coalesce(1))
    val snap = ManifestTable.latest(root).get
    val need = ManifestTable.candidateFiles(spark, root, snap,
      F.col("id").isin(5L, 13L))
    assert(need.size <= 2, s"bloom admitted ${need.size} files")
    def corrupt(r: String, rel: String): Unit = {
      val p = java.nio.file.Paths.get(r, rel)
      java.nio.file.Files.deleteIfExists(
        p.getParent.resolve("." + p.getFileName.toString + ".crc"))
      java.nio.file.Files.write(p, "not parquet".getBytes)
    }
    snap.files.filterNot(need.toSet).foreach(corrupt(root, _))
    val m = ManifestTable.upsert(spark, root, "id",
      Seq(5L, 13L).toDF("id").withColumn("payload", F.lit("m")))
    assert(m.matchedRows == 2L && m.insertedRows == 0L)
    // -- large-batch half: > IdInPruneMax ids prune by RANGE, the
    // clustered-table contract (disjoint 100-wide files) --
    val root2 = java.nio.file.Files.createTempDirectory("graft_mc2").toString
    ManifestTable.init(root2, Seq("id"))
    for (i <- 0 until 4)
      ManifestTable.append(spark, root2,
        batch(i * 100L, i * 100L + 100L).coalesce(1))
    val snap2 = ManifestTable.latest(root2).get
    val out = snap2.files.filter(f =>
      ManifestStats.decode(snap2.stats(f)).cols("id").bounds.get._2.toLong
        < 100L)
    assert(out.size == 1, "exactly the [0,100) file is out of range")
    out.foreach(corrupt(root2, _))
    val big = (100L until 1300L).toDF("id")
      .withColumn("payload", F.lit("big"))
    val m2 = ManifestTable.upsert(spark, root2, "id", big)
    assert(m2.matchedRows == 300L && m2.insertedRows == 900L)
  }

  test("vacuum mid-write spares the in-flight writer's files (intent guard)") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest7").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 50))
    // vacuum with ZERO grace between the writer's data write and its
    // commit: without the intent guard the freshly written files are
    // unreferenced + past the (zero) grace and get deleted, and the
    // writer then publishes a manifest of dead paths
    var vacuumed: Seq[String] = null
    ManifestTable.append(spark, root, batch(50, 100),
      beforeCommit = () =>
        { vacuumed = ManifestTable.vacuum(root, orphanGraceMillis = 0) })
    // committed appends' _SUCCESS/.crc sidecars are fair game (never
    // manifest-referenced); what the intent guard must protect is
    // every DATA file of the in-flight write
    assert(vacuumed.forall(p =>
        p.endsWith(".crc") || p.endsWith("_SUCCESS")),
      s"vacuum deleted an in-flight writer's data files: $vacuumed")
    assert(ids(root) == (0L until 100L).toSet,
      "writer lost rows to a concurrent vacuum")
    // with the write committed (intent cleared), a zero-grace vacuum
    // still deletes true orphans — the guard is scoped, not a disable
    val orphan = java.nio.file.Paths.get(root, "data", "orphan-tok")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("part-dead.parquet"),
      Array[Byte](1, 2, 3))
    assert(ManifestTable.vacuum(root, orphanGraceMillis = 0)
      .contains("data/orphan-tok/part-dead.parquet"))
  }

  test("appendBatch is exactly-once: a replayed batch commits nothing; markers survive compaction") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest10").toString
    ManifestTable.init(root)
    ManifestTable.appendBatch(spark, root, 0L, batch(0, 50))
    ManifestTable.appendBatch(spark, root, 1L, batch(50, 100))
    val v = ManifestTable.latest(root).get.version
    // replay batch 1 with the same id — no new version, no new rows,
    // no new data files
    val filesBefore = ManifestTable.latest(root).get.files
    val snap = ManifestTable.appendBatch(spark, root, 1L, batch(50, 100))
    assert(snap.version == v, "replayed batch committed a new version")
    assert(ManifestTable.latest(root).get.files == filesBefore)
    assert(ids(root) == (0L until 100L).toSet)
    // markers ride through compaction, so replay detection survives a
    // rewrite between the failure and the retry
    ManifestTable.compact(spark, root, targetFileBytes = 1L << 20)
    val snap2 = ManifestTable.appendBatch(spark, root, 0L, batch(0, 50))
    assert(snap2.version == ManifestTable.latest(root).get.version)
    assert(ids(root) == (0L until 100L).toSet,
      "post-compaction replay double-counted a batch")
    // a genuinely new batch still lands
    ManifestTable.appendBatch(spark, root, 2L, batch(100, 120))
    assert(ids(root) == (0L until 120L).toSet)
    assert(ManifestTable.latest(root).get.meta.toSet ==
      Set("#batch:0", "#batch:1", "#batch:2"))
  }

  test("upsertBatch is exactly-once: replays commit nothing even with different data; ledger shared with appendBatch") {
    val root = java.nio.file.Files.createTempDirectory("graft_upsbatch").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 100))
    val upd = (0L until 10L).toDF("id")
      .withColumn("payload", F.concat(F.lit("m"), F.col("id")))
    val m1 = ManifestTable.upsertBatch(spark, root, 0L, "id", upd)
    assert(m1.matchedRows == 10L && m1.insertedRows == 0L)
    val v = ManifestTable.latest(root).get.version
    assert(ManifestTable.latest(root).get.meta.contains("#batch:0"))
    // replay with DIFFERENT data — the ledger, not the payload, decides
    val m2 = ManifestTable.upsertBatch(spark, root, 0L, "id",
      (0L until 10L).toDF("id").withColumn("payload", F.lit("MUST_NOT_APPLY")))
    assert(m2.snapshot.version == v, "replayed merge committed a new version")
    assert(m2.matchedRows == 0L && m2.insertedRows == 0L)
    val rows = ManifestTable.read(spark, root)
      .select("id", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((0L until 10L).forall(i => rows(i) == s"m$i"),
      "replay overwrote the first application")
    // insert-shaped batch under a new id; fold covers later replays
    val m3 = ManifestTable.upsertBatch(spark, root, 1L, "id",
      (500L until 505L).toDF("id").withColumn("payload", F.lit("new")))
    assert(m3.matchedRows == 0L && m3.insertedRows == 5L)
    ManifestTable.foldBatches(root)
    val v2 = ManifestTable.latest(root).get.version
    assert(ManifestTable.upsertBatch(spark, root, 1L, "id", upd)
      .snapshot.version == v2, "pre-watermark merge replay committed")
    // the ledger is SHARED with appendBatch: one feed per table
    ManifestTable.appendBatch(spark, root, 7L, batch(900, 905))
    assert(ManifestTable.upsertBatch(spark, root, 7L, "id",
      (900L until 905L).toDF("id").withColumn("payload", F.lit("X")))
      .matchedRows == 0L)
    assert(ManifestTable.read(spark, root).filter(F.col("payload") === "X")
      .count() == 0L)
    assert(ManifestTable.read(spark, root).count() == 110L)
  }

  test("time travel reads any surviving version; expireManifests drops old versions but never the latest") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest9").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 50))
    ManifestTable.append(spark, root, batch(50, 100))
    ManifestTable.append(spark, root, batch(100, 150))
    // v2 = first two appends, exactly
    assert(ManifestTable.readVersion(spark, root, 2)
      .select("id").as[Long].collect().toSet == (0L until 100L).toSet)
    // deletes are versioned like any commit: time travel ACROSS a
    // delete sees the pre-delete rows
    ManifestTable.deleteWhere(spark, root, F.col("id") < 25)
    assert(ManifestTable.readVersion(spark, root, 3)
      .select("id").as[Long].collect().toSet == (0L until 150L).toSet)
    assert(ids(root) == (25L until 150L).toSet)
    // expire all but the newest two manifests
    val expired = ManifestTable.expireManifests(root, keepLast = 2)
    assert(expired == Seq(0, 1, 2), expired)
    assert(ManifestTable.snapshot(root, 2).isEmpty)
    intercept[IllegalStateException] {
      ManifestTable.readVersion(spark, root, 2)
    }
    // the latest chain still reads, and new commits continue past it
    assert(ids(root) == (25L until 150L).toSet)
    ManifestTable.append(spark, root, batch(150, 160))
    assert(ManifestTable.latest(root).get.version == 5)
  }

  test("maintain composes fold + conditional compact + expire + vacuum; a tight table is left untouched") {
    val root = java.nio.file.Files.createTempDirectory("graft_maintain").toString
    ManifestTable.init(root, Seq("id"))
    // a streaming table's typical mess: many tiny batch files + ledger
    for (b <- 0 until 20)
      ManifestTable.appendBatch(spark, root, b.toLong,
        batch(b * 10L, b * 10L + 10L).coalesce(1))
    ManifestTable.deleteWhere(spark, root, F.col("id") === 5L)
    val m = ManifestTable.maintain(spark, root,
      targetFileBytes = 1L << 20, maxLiveFiles = 8,
      clusterBy = Seq("id"), keepRecentBatches = 3,
      keepManifests = 2, orphanGraceMillis = 0L)
    assert(m.compacted, "20 files over an 8-file cap must compact")
    assert(m.snapshot.files.size <= 8)
    assert(m.snapshot.meta.count(_.startsWith("#batch:")) == 3,
      "ledger not folded to the audit tail")
    assert(m.expired.nonEmpty, "old manifests not expired")
    assert(m.vacuumed.exists(_.endsWith(".parquet")),
      "superseded data files not vacuumed")
    assert(ManifestTable.read(spark, root).select("id").as[Long]
      .collect().toSet == (0L until 200L).toSet - 5L)
    // pruning still works after the clustered maintenance rewrite
    assert(ManifestTable.candidateFiles(spark,
      ManifestTable.latest(root).get, F.col("id") === 150L).size == 1)
    // a replayed batch still commits nothing (watermark survives)
    val v = ManifestTable.latest(root).get.version
    assert(ManifestTable.appendBatch(spark, root, 2L,
      batch(20, 30)).version == v)
    // second maintain on the now-tight table: no compaction, no churn
    val m2 = ManifestTable.maintain(spark, root,
      targetFileBytes = 1L << 20, maxLiveFiles = 8,
      keepManifests = 2, orphanGraceMillis = 0L)
    assert(!m2.compacted)
    assert(m2.snapshot.files == m.snapshot.files)
  }

  test("atomic-publish primitives: at most one winner, complete-or-absent") {
    import org.apache.hadoop.fs.{Path => HPath}
    import graft.operators.AtomicPublish
    val root = java.nio.file.Files.createTempDirectory("graft_publish").toString
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    for ((prim, name) <- Seq(
      (AtomicPublish.LocalLink, "LocalLink"),
      (AtomicPublish.RenameIfAbsent, "RenameIfAbsent"))) {
      def writeTmp(body: String): HPath = {
        val p = new HPath(root, s".tmp-${java.util.UUID.randomUUID()}")
        val out = fs.create(p, true)
        try out.write(body.getBytes("UTF-8")) finally out.close()
        p
      }
      val dest = new HPath(root, s"commit-$name")
      val a = writeTmp("winner")
      val b = writeTmp("loser")
      assert(prim.publish(fs, a, dest), s"$name: first publish lost")
      assert(!prim.publish(fs, b, dest), s"$name: second publish won too")
      val in = fs.open(dest)
      val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                 finally in.close()
      assert(body == "winner", s"$name: loser's bytes leaked into dest")
    }
    // the local default routes around local rename's silent overwrite
    assert(AtomicPublish.forFs(fs) eq AtomicPublish.LocalLink)
  }

  test("head hint: stale, corrupt, or missing _last_checkpoint never changes the resolved head") {
    val root = java.nio.file.Files.createTempDirectory("graft_hint").toString
    ManifestTable.init(root)
    for (i <- 0 until 4)
      ManifestTable.append(spark, root, batch(i * 10L, i * 10L + 10L))
    val head = ManifestTable.latest(root).get.version
    val hint = java.nio.file.Paths.get(root, "manifest", "_last_checkpoint")
    // stale hint → forward probe along the dense chain finds the head
    java.nio.file.Files.write(hint, "1".getBytes)
    assert(ManifestTable.latest(root).get.version == head, "stale hint")
    // corrupt hint → fall back to listing
    java.nio.file.Files.write(hint, "not-a-number".getBytes)
    assert(ManifestTable.latest(root).get.version == head, "corrupt hint")
    // missing hint → fall back to listing
    java.nio.file.Files.delete(hint)
    assert(ManifestTable.latest(root).get.version == head, "missing hint")
    // a commit refreshes it
    ManifestTable.append(spark, root, batch(100, 110))
    assert(new String(java.nio.file.Files.readAllBytes(hint)).trim ==
      (head + 1).toString)
    // hint pointing at an expired version → fall back to listing
    ManifestTable.expireManifests(root, keepLast = 2)
    java.nio.file.Files.write(hint, "0".getBytes)
    assert(ManifestTable.latest(root).get.version == head + 1, "expired hint")
  }

  test("foldBatches keeps the manifest O(files + recent) over 120 micro-batches; pre-watermark replays still commit nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft_fold").toString
    ManifestTable.init(root)
    val n = 120
    for (b <- 0 until n)
      ManifestTable.appendBatch(spark, root, b.toLong,
        batch(b * 2L, b * 2L + 2L).coalesce(1))
    val preFold = ManifestTable.latest(root).get
    assert(preFold.meta.count(_.startsWith("#batch:")) == n)
    val folded = ManifestTable.foldBatches(root, keepRecent = 5)
    // one watermark line + the 5-newest audit tail
    assert(folded.meta.count(_.startsWith("#batch:")) == 5,
      folded.meta.filter(_.startsWith("#batch")).mkString(","))
    assert(folded.meta.contains(s"#batches_through:${n - 6}"))
    assert(folded.files == preFold.files, "fold touched the file list")
    // a replayed pre-watermark batch finds the watermark, not its
    // (now folded) marker — and still commits nothing
    val v = ManifestTable.latest(root).get.version
    val snap = ManifestTable.appendBatch(spark, root, 3L, batch(6, 8))
    assert(snap.version == v, "pre-watermark replay committed")
    assert(ids(root) == (0L until n * 2L).toSet)
    // folding again is a no-op commit-wise
    assert(ManifestTable.foldBatches(root, keepRecent = 5).version == v)
    // a fresh batch lands and a full fold absorbs the tail
    ManifestTable.appendBatch(spark, root, n.toLong, batch(500, 502).coalesce(1))
    val full = ManifestTable.foldBatches(root)
    assert(full.meta == Seq(s"#batches_through:$n"), full.meta.mkString(","))
    // gaps never fold: a manual far-future id stays a marker
    ManifestTable.appendBatch(spark, root, 1000L, batch(600, 602).coalesce(1))
    val gap = ManifestTable.foldBatches(root)
    assert(gap.meta.toSet ==
      Set(s"#batches_through:$n", "#batch:1000"), gap.meta.mkString(","))
  }

  test("schema evolution: a column-adding append NULL-fills older files via the recorded schema, with zero footer merging") {
    val root = java.nio.file.Files.createTempDirectory("graft_evolve").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 5))
    // new column arrives in a later batch
    ManifestTable.append(spark, root,
      batch(5, 10).withColumn("lang", F.lit("en")))
    val df = ManifestTable.read(spark, root)
    assert(df.columns.toSeq == Seq("id", "payload", "lang"),
      df.columns.mkString(","))
    val langs = df.select("id", "lang").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert((0L until 5L).forall(langs(_).isEmpty), "old files not NULL-filled")
    assert((5L until 10L).forall(langs(_).contains("en")))
    // the schema rides the manifest, not a footer scan
    assert(ManifestTable.latest(root).get.schemaJson.exists(_.contains("lang")))
    // deletes and compaction preserve the evolved schema
    ManifestTable.deleteWhere(spark, root, F.col("id") === 0L)
    ManifestTable.compact(spark, root, targetFileBytes = 1L << 20)
    val post = ManifestTable.read(spark, root)
    assert(post.columns.toSeq == Seq("id", "payload", "lang"))
    assert(post.count() == 9)
    // type changes are refused loudly, not silently coerced
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root,
        batch(10, 12).withColumn("lang", F.lit(7)))
    }
  }

  test("change data feed: file-diff CDF reports row-level inserts/deletes; compaction reports nothing") {
    import graft.operators.ManifestTable.changes
    val root = java.nio.file.Files.createTempDirectory("graft_cdf").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 100))    // v1
    ManifestTable.append(spark, root, batch(100, 150))  // v2
    ManifestTable.deleteWhere(spark, root, F.col("id") < 10)      // v3
    ManifestTable.updateWhere(spark, root, F.col("id") === 120L,
      Map("payload" -> F.lit("upd")))                              // v4
    ManifestTable.compact(spark, root, targetFileBytes = 1L << 20) // v5
    def feed(a: Int, b: Int): Map[String, Set[(Long, String)]] =
      changes(spark, root, a, b).collect()
        .groupBy(_.getString(2))
        .map { case (t, rs) =>
          t -> rs.map(r => (r.getLong(0), r.getString(1))).toSet }
    // append: pure inserts
    val f12 = feed(1, 2)
    assert(!f12.contains("delete"))
    assert(f12("insert") == (100L until 150L).map(i => (i, s"row$i")).toSet)
    // delete: pure deletes, only the victims (unchanged rows of the
    // rewritten file cancel)
    val f23 = feed(2, 3)
    assert(!f23.contains("insert"))
    assert(f23("delete") == (0L until 10L).map(i => (i, s"row$i")).toSet)
    // update: exactly the delete+insert pair of the changed row
    val f34 = feed(3, 4)
    assert(f34("delete") == Set((120L, "row120")))
    assert(f34("insert") == Set((120L, "upd")))
    // compaction: layout only — ZERO changes
    assert(changes(spark, root, 4, 5).isEmpty)
    // spanning feed composes the steps (v2 -> v5)
    val f25 = feed(2, 5)
    assert(f25("delete") == ((0L until 10L).map(i => (i, s"row$i")).toSet
      + ((120L, "row120"))))
    assert(f25("insert") == Set((120L, "upd")))
    // same-version feed is empty; expired versions fail loudly
    assert(changes(spark, root, 3, 3).isEmpty)
    // vacuum bounds the lookback like readVersion: a feed whose
    // changed files are gone raises a retention-specific error at
    // PLAN time, not a mid-job read failure
    ManifestTable.vacuum(root, orphanGraceMillis = 0L)
    val gone = intercept[IllegalStateException] { changes(spark, root, 1, 2) }
    assert(gone.getMessage.contains("vacuum"),
      s"expected the retention contract named: ${gone.getMessage}")
    ManifestTable.expireManifests(root, keepLast = 2)
    intercept[IllegalStateException] { changes(spark, root, 1, 5) }
  }

  test("change feed subscription: per-version batches equal the batch feed; watermark resumes; wiped watermark re-delivers") {
    import graft.streaming.ManifestChangeFeed
    val root = java.nio.file.Files.createTempDirectory("graft_sub").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sub_ck").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 100))             // v1
    ManifestTable.append(spark, root, batch(100, 150))           // v2
    ManifestTable.deleteWhere(spark, root, F.col("id") < 10)     // v3
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, String)]]
    def drained(): Seq[Long] =
      ManifestChangeFeed.drain(spark, root, ckpt) { (df, id) =>
        got(id) = df.collect()
          .map(r => (r.getLong(0), r.getString(2))).toSet
      }
    assert(drained() == Seq(1L, 2L, 3L))
    // each delivered batch IS that version step's batch feed
    for (v <- 1 to 3)
      assert(got(v.toLong) == ManifestTable.changes(spark, root, v - 1, v)
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet,
        s"batch $v diverged from changes(${v - 1}, $v)")
    assert(got(1L).forall(_._2 == "insert") && got(1L).size == 100)
    assert(got(3L) == (0L until 10L).map((_, "delete")).toSet)
    // nothing new → nothing delivered; a new commit delivers ONLY it
    assert(drained().isEmpty)
    ManifestTable.append(spark, root, batch(150, 160))           // v4
    assert(drained() == Seq(4L) && got(4L).size == 10)
    assert(ManifestChangeFeed.watermark(ckpt).contains(4))
    // crash-replay: a wiped watermark re-delivers the full feed with
    // the SAME ids (the at-least-once half of the contract — the
    // graded x_stream_changes pins that a ledgered sink no-ops them)
    ExtShared.deleteRec(new java.io.File(ckpt))
    assert(drained() == Seq(1L, 2L, 3L, 4L))
  }

  test("change data feed across a rename: metadata-only commits feed nothing; rows surface under the NEW names") {
    import graft.operators.ManifestTable.changes
    val root = java.nio.file.Files.createTempDirectory("graft_cdf2").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 5))                 // v1
    ManifestTable.renameColumn(spark, root, "payload", "body")     // v2
    // a rename moves no files — the feed across it is EMPTY
    assert(changes(spark, root, 1, 2).isEmpty,
      "metadata-only rename produced feed rows")
    ManifestTable.append(spark, root, (10L until 12L).toDF("id")
      .withColumn("body", F.lit("new")))                           // v3
    val f = changes(spark, root, 1, 3)
    assert(f.columns.toSeq == Seq("id", "body", "_change_type"),
      s"feed must use the TO version's names: ${f.columns.mkString(",")}")
    val rows = f.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((10L, "new", "insert"), (11L, "new", "insert")))
    // a delete touching a PRE-rename file reports its rows under the
    // new name (the colmap coalesce applies to the feed too)
    ManifestTable.deleteWhere(spark, root, F.col("id") === 2L)     // v4
    val d = changes(spark, root, 3, 4).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(d == Set((2L, "row2", "delete")))
  }

  test("change data feed on a PRE-LEDGER table aligns both sides on one merged schema") {
    import graft.operators.ManifestTable.changes
    val root = java.nio.file.Files.createTempDirectory("graft_cdf3").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 10))                  // v1
    ManifestTable.append(spark, root,
      batch(10, 15).withColumn("lang", F.lit("en")))                 // v2
    // simulate a round-13 manifest: strip the recorded-schema lines
    import scala.jdk.CollectionConverters._
    for (v <- 1 to 2) {
      val p = java.nio.file.Paths.get(root, "manifest", s"v$v")
      val stripped = java.nio.file.Files.readAllLines(p).asScala
        .filterNot(_.startsWith("#schema:"))
      java.nio.file.Files.write(p, stripped.mkString("\n").getBytes)
    }
    assert(ManifestTable.latest(root).get.schemaJson.isEmpty)
    // removed side has (id,payload), added side (id,payload,lang):
    // without the unified merge the exceptAll sides would mismatch
    val f = changes(spark, root, 1, 2).collect()
    assert(f.forall(_.getString(3) == "insert"))
    assert(f.map(_.getLong(0)).toSet == (10L until 15L).toSet)
    // a NARROW batch (no lang) appends: the append seeds the recorded
    // schema from the existing files (the pre-ledger upgrade path),
    // so the feed NULL-fills lang for the new rows and stays aligned
    ManifestTable.append(spark, root, batch(20, 25))               // v3
    val df2 = changes(spark, root, 2, 3)
    val ct = df2.columns.indexOf("_change_type")
    val f2 = df2.collect()
    assert(f2.length == 5 && f2.forall(_.getString(ct) == "insert"),
      "pre-ledger narrow-batch feed misaligned")
    assert(f2.map(_.getLong(0)).toSet == (20L until 25L).toSet)
    assert(df2.columns.contains("lang") &&
      f2.forall(r => r.isNullAt(df2.columns.indexOf("lang"))),
      "narrow rows must NULL-fill the seeded wider schema")
  }

  test("column rename: old files read through the new name; old names are reserved; stats and rewrites follow the chain") {
    val root = java.nio.file.Files.createTempDirectory("graft_rename").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, batch(0, 50).coalesce(1))
    // both ENDS of a rename must be word-shaped: the `#colmap:` chain
    // uses '=' and ',' as delimiters, so a delimiter-bearing name on
    // either side would corrupt the chain parse
    intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(spark, root, "bad,name", "ok")
    }
    intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(spark, root, "payload", "bad=name")
    }
    // metadata-only rename: payload -> body, id -> key
    ManifestTable.renameColumn(spark, root, "payload", "body")
    ManifestTable.renameColumn(spark, root, "id", "key")
    val df = ManifestTable.read(spark, root)
    assert(df.columns.toSeq == Seq("key", "body"))
    val rows = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((0L until 50L).forall(i => rows(i) == s"row$i"),
      "pre-rename files do not serve the renamed columns")
    // appends arrive under the NEW names and coexist with old files
    ManifestTable.append(spark, root, (100L until 110L).toDF("key")
      .withColumn("body", F.lit("new")).coalesce(1))
    assert(ManifestTable.read(spark, root).count() == 60)
    // a batch re-introducing a historical name is refused loudly
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root,
        (200L until 201L).toDF("key").withColumn("payload", F.lit("x")))
    }
    // so is renaming onto a reserved or existing name, or a bad name
    intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(spark, root, "body", "payload")
    }
    intercept[IllegalArgumentException] {
      ManifestTable.renameColumn(spark, root, "body", "key")
    }
    // type changes through the renamed column are still rejected
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root,
        (300L until 301L).toDF("key").withColumn("body", F.lit(7)))
    }
    // stats pruning on the RENAMED stat column resolves the chain:
    // the pre-rename file's bounds were recorded under 'id'
    val snap = ManifestTable.latest(root).get
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("key") === 5L).size == 1,
      "pruning lost the pre-rename file's stats across the rename")
    assert(ManifestTable.countWhere(spark, root,
      Some(F.col("key") < 50L)) == 50L)
    // rewrites read through the mapping and write CURRENT names
    val del = ManifestTable.deleteWhere(spark, root, F.col("key") === 7L)
    assert(del.removedRows == 1L)
    val m = ManifestTable.upsert(spark, root, "key",
      Seq(3L).toDF("key").withColumn("body", F.lit("merged")))
    assert(m.matchedRows == 1L)
    ManifestTable.compact(spark, root, targetFileBytes = 1L << 20)
    val post = ManifestTable.read(spark, root)
    assert(post.columns.toSeq == Seq("key", "body"))
    assert(post.count() == 59)
    assert(post.filter(F.col("key") === 3L).head().getString(1) == "merged")
    // chained rename keeps the whole history readable
    ManifestTable.renameColumn(spark, root, "key", "doc_key")
    assert(ManifestTable.read(spark, root).columns.head == "doc_key")
    assert(ManifestTable.countWhere(spark, root,
      Some(F.col("doc_key") === 3L)) == 1L)
  }

  test("an append racing a rename fails loudly instead of resurrecting the old name") {
    val root = java.nio.file.Files.createTempDirectory("graft_renrace").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 10))
    // the rename commits BETWEEN this append's data write and its
    // commit loop: the batch still carries 'payload', which is now a
    // reserved historical name — merging it would resurrect old bytes
    // under a live name, so the append must throw, not commit
    val e = intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root, batch(10, 20),
        beforeCommit = () => {
          ManifestTable.renameColumn(spark, root, "payload", "body"); ()
        })
    }
    assert(e.getMessage.contains("reserved"))
    // the failed append left nothing: same rows, and its files are
    // ordinary vacuumable orphans (intent cleared on the way out)
    assert(ManifestTable.read(spark, root).count() == 10)
    assert(ManifestTable.vacuum(root, orphanGraceMillis = 0)
      .exists(_.endsWith(".parquet")),
      "aborted append's files must be vacuumable, not intent-pinned")
    // re-issued under the current name, it lands
    ManifestTable.append(spark, root, (10L until 20L).toDF("id")
      .withColumn("body", F.concat(F.lit("row"), F.col("id"))))
    assert(ManifestTable.read(spark, root).count() == 20)
  }

  private val tagCol = StructType(Seq(StructField("tag", StringType)))

  test("overwriteWhere racing addColumns keeps the added column (replace and no-victim paths)") {
    val root = java.nio.file.Files.createTempDirectory("graft_owadd").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, batch(0, 100))
    // the column lands BETWEEN the replace's scan and its commit: the
    // schema must merge against the head it publishes on, not the
    // scan-time base
    val d = ManifestTable.overwriteWhere(spark, root, F.col("id") < 10,
      (0L until 5L).toDF("id").withColumn("payload", F.lit("re")),
      beforeCommit = () => {
        ManifestTable.addColumns(spark, root, tagCol); ()
      })
    assert(d.removedRows == 10L)
    assert(ManifestTable.read(spark, root).columns.toSeq ==
      Seq("id", "payload", "tag"), "the racing addColumns was lost")
    assert(ids(root) == ((0L until 5L) ++ (10L until 100L)).toSet)
    // a no-victim replace (a plain ledgered append) merges the same way
    ManifestTable.overwriteWhere(spark, root, F.col("id") >= 1000,
      Seq(1000L).toDF("id").withColumn("payload", F.lit("n")),
      beforeCommit = () => {
        ManifestTable.addColumns(spark, root,
          StructType(Seq(StructField("tag2", LongType)))); ()
      })
    assert(ManifestTable.read(spark, root).columns.toSeq ==
      Seq("id", "payload", "tag", "tag2"))
    assert(ids(root).contains(1000L))
  }

  test("overwriteWhere racing a rename refuses and commits nothing, as append does") {
    val root = java.nio.file.Files.createTempDirectory("graft_owren").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, batch(0, 100))
    // the reload still carries 'payload', which the racing rename
    // reserved: publishing it would record `id,payload` beside a
    // `body=payload` chain
    val e = intercept[IllegalArgumentException] {
      ManifestTable.overwriteWhere(spark, root, F.col("id") < 10,
        (0L until 5L).toDF("id").withColumn("payload", F.lit("re")),
        beforeCommit = () => {
          ManifestTable.renameColumn(spark, root, "payload", "body"); ()
        })
    }
    assert(e.getMessage.contains("reserved"))
    val head = ManifestTable.latest(root).get
    assert(head.version == 2, s"the refused replace committed: v${head.version}")
    assert(ManifestTable.read(spark, root).columns.toSeq == Seq("id", "body"))
    assert(ids(root) == (0L until 100L).toSet)
    assert(ManifestTable.vacuum(root, orphanGraceMillis = 0)
      .exists(_.endsWith(".parquet")),
      "the refused replace's files must be vacuumable, not intent-pinned")
    assert(ids(root) == (0L until 100L).toSet)
  }

  test("column drop: reads and rewrites exclude the column; the name (and its chain) is tombstoned") {
    val root = java.nio.file.Files.createTempDirectory("graft_drop").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root,
      batch(0, 20).withColumn("secret", F.concat(F.lit("s"), F.col("id"))))
    ManifestTable.renameColumn(spark, root, "secret", "hidden")
    ManifestTable.dropColumn(spark, root, "hidden")
    val df = ManifestTable.read(spark, root)
    assert(df.columns.toSeq == Seq("id", "payload"),
      s"dropped column still projected: ${df.columns.mkString(",")}")
    // neither the dropped name nor its historical name may return
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root,
        (100L until 101L).toDF("id").withColumn("hidden", F.lit("x")))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root,
        (100L until 101L).toDF("id").withColumn("secret", F.lit("x")))
    }
    // a rewrite does not resurrect the bytes
    ManifestTable.compact(spark, root, targetFileBytes = 1L << 20)
    val post = ManifestTable.read(spark, root)
    assert(post.columns.toSeq == Seq("id", "payload"))
    assert(post.count() == 20)
    // a legitimate drop down to one column still works...
    ManifestTable.dropColumn(spark, root, "id")
    assert(ManifestTable.read(spark, root).columns.toSeq == Seq("payload"))
    // ...but the LAST column cannot be dropped
    intercept[IllegalArgumentException] {
      ManifestTable.dropColumn(spark, root, "payload")
    }
  }

  test("schema evolution widens numeric types in place: old files upcast at read, stats keep pruning") {
    val root = java.nio.file.Files.createTempDirectory("graft_widen").toString
    ManifestTable.init(root, Seq("v"))
    def b(lo: Long, hi: Long, cast: String) =
      (lo until hi).toDF("id").withColumn("v", F.col("id").cast(cast))
    ManifestTable.append(spark, root, b(0, 100, "int").coalesce(1))
    // a LONG batch widens the recorded type — metadata change only,
    // the int file is carried by reference and upcast at read
    val before = ManifestTable.latest(root).get.files
    ManifestTable.append(spark, root, b(1000, 1100, "long").coalesce(1))
    val snap = ManifestTable.latest(root).get
    assert(before.forall(snap.files.contains), "widening rewrote a file")
    val df = ManifestTable.read(spark, root)
    assert(df.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(df.select("v").as[Long].collect().toSet ==
      ((0L until 100L) ++ (1000L until 1100L)).toSet)
    // a narrower later batch folds in WITHOUT narrowing the record
    ManifestTable.append(spark, root, b(5000, 5010, "short").coalesce(1))
    assert(ManifestTable.read(spark, root).schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    // pruning on the widened column still sees the int file's stats
    val s2 = ManifestTable.latest(root).get
    assert(ManifestTable.candidateFiles(spark, s2,
      F.col("v") === 50L).size == 1)
    assert(ManifestTable.countWhere(spark, root,
      Some(F.col("v") < 100L)) == 100L)
    assert(ManifestTable.statBounds(spark, root, "v")
      .contains((0L, 5009L)))
    // non-widening changes stay rejected: cross-family and non-numeric
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root, b(0, 1, "double"))
    }
    intercept[IllegalArgumentException] {
      ManifestTable.append(spark, root, b(0, 1, "string"))
    }
    // rewrites and upserts run against the widened read schema
    assert(ManifestTable.deleteWhere(spark, root,
      F.col("v") === 42L).removedRows == 1L)
    assert(ManifestTable.read(spark, root).count() == 209)
  }

  test("float stats stay prune-sound across a float->double widening (canonical double expansion)") {
    val root = java.nio.file.Files.createTempDirectory("graft_fwiden").toString
    ManifestTable.init(root, Seq("score"))
    // 0.1f is NOT representable: its double expansion is
    // 0.10000000149011612 — the value reads surface after widening
    ManifestTable.append(spark, root,
      Seq(0.1f, 0.2f).toDF("score").coalesce(1))
    ManifestTable.append(spark, root,
      Seq(5.5d).toDF("score").coalesce(1)) // widens to double
    val df = ManifestTable.read(spark, root)
    assert(df.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val widened = 0.1f.toDouble
    // the pruned read and the metadata count MUST still see the row
    assert(ManifestTable.readWhere(spark, root,
      F.col("score") === widened).count() == 1L,
      "float-era stats pruned the widened row")
    assert(ManifestTable.countWhere(spark, root,
      Some(F.col("score") > 0.1d)) ==
      ManifestTable.read(spark, root).filter(F.col("score") > 0.1d).count())
    assert(ManifestTable.statBounds(spark, root, "score")
      .contains((widened, 5.5d)))
    // declaring the reserved encoding key is refused at init
    intercept[IllegalArgumentException] {
      ManifestTable.init(
        java.nio.file.Files.createTempDirectory("graft_rows").toString,
        Seq("rows"))
    }
  }

  test("timestamp_ntz stats outside the 4-digit-year form drop conservatively, never lie") {
    val root = java.nio.file.Files.createTempDirectory("graft_ntzfar").toString
    ManifestTable.init(root, Seq("ts"))
    ManifestTable.append(spark, root,
      Seq(java.time.LocalDateTime.of(12024, 1, 1, 0, 0)) // year 12024
        .toDF("ts").coalesce(1))
    ManifestTable.append(spark, root,
      Seq(java.time.LocalDateTime.of(2024, 6, 1, 0, 0))
        .toDF("ts").coalesce(1))
    // the far-future file records NO ts bounds (stays a candidate);
    // a range read must still find its row
    val p = F.col("ts") > F.lit(java.time.LocalDateTime.of(9000, 1, 1, 0, 0))
    assert(ManifestTable.readWhere(spark, root, p).count() == 1L,
      "far-future NTZ row lost to a broken lexicographic bound")
    assert(ManifestTable.countWhere(spark, root, Some(p)) == 1L)
    assert(ManifestTable.statBounds(spark, root, "ts").isEmpty,
      "bounds over an un-statted file must refuse")
  }

  test("multi-writer stress: concurrent appenders + a compactor lose nothing, versions dense") {
    multiWriterStress(
      java.nio.file.Files.createTempDirectory("graft_manifest8").toString)
  }

  /** Conditional-PUT test double for the object-store commit seam:
    * COPIES bytes (never moves `src` — the caller's cleanup contract),
    * and arbitrates at-most-one-winner by an exists check under a
    * mutex (the `If-None-Match: *` shape; false strictly means
    * another PUT won — the AtomicPublish contract). The local FS has
    * no atomic whole-object PUT, so the double stages the copied
    * bytes and flips them visible under the winner lock. */
  private object PutDouble extends graft.operators.AtomicPublish {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val published = new java.util.concurrent.atomic.AtomicInteger
    val lostRaces = new java.util.concurrent.atomic.AtomicInteger
    private val lock = new Object
    def publish(fs: FileSystem, src: HPath, dest: HPath): Boolean =
      lock.synchronized {
        if (fs.exists(dest)) { lostRaces.incrementAndGet(); false }
        else {
          val tmp = new HPath(dest.getParent,
            s".put-${java.util.UUID.randomUUID()}")
          val in = fs.open(src)
          val out = fs.create(tmp, false)
          try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, true)
          finally { in.close(); out.close() }
          require(fs.rename(tmp, dest), s"PUT double flip failed at $dest")
          published.incrementAndGet()
          true
        }
      }
  }

  test("the object-store seam end to end: multi-writer stress under a conditional-PUT publisher") {
    // deterministic arbitration check through the double first:
    // winner's bytes land, loser returns false, src is NOT consumed
    val pre = java.nio.file.Files.createTempDirectory("graft_put0")
    val fs = new org.apache.hadoop.fs.Path(pre.toString).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def tmpFile(body: String) = {
      val p = new org.apache.hadoop.fs.Path(pre.toString, s"src-$body")
      val o = fs.create(p, true); o.write(body.getBytes("UTF-8")); o.close(); p
    }
    val dest = new org.apache.hadoop.fs.Path(pre.toString, "committed")
    val (a, b) = (tmpFile("winner"), tmpFile("loser"))
    assert(PutDouble.publish(fs, a, dest))
    assert(!PutDouble.publish(fs, b, dest))
    assert(fs.exists(a) && fs.exists(b),
      "a PUT-style publisher must never consume src")
    val in = fs.open(dest)
    val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    assert(got == "winner")
    // then the full multi-writer protocol through the seam override
    PutDouble.published.set(0)
    ManifestTable.usePublisher(Some(PutDouble))
    try multiWriterStress(
      java.nio.file.Files.createTempDirectory("graft_put").toString)
    finally ManifestTable.usePublisher(None)
    assert(PutDouble.published.get() > 0, "the PUT double never ran")
  }

  test("forFs refuses schemes whose rename is not atomic, pointing at usePublisher") {
    import graft.operators.AtomicPublish
    // a local FS masquerading as s3a — forFs consults only the scheme
    class FakeS3 extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = "s3a"
    }
    val e = intercept[IllegalArgumentException] {
      AtomicPublish.forFs(new FakeS3)
    }
    assert(e.getMessage.contains("usePublisher"),
      s"error must point at the seam: ${e.getMessage}")
    // HDFS-style schemes still get the rename primitive
    class FakeHdfs extends org.apache.hadoop.fs.RawLocalFileSystem {
      override def getScheme: String = "hdfs"
    }
    assert(AtomicPublish.forFs(new FakeHdfs) eq AtomicPublish.RenameIfAbsent)
  }

  private def multiWriterStress(root: String): Unit = {
    ManifestTable.init(root)
    val nWriters = 4
    val perWriter = 3
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(nWriters + 1)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def submit(bodyFn: () => Unit): Unit = {
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try bodyFn() catch { case t: Throwable => failures.add(t) }
        }
      }); ()
    }
    for (w <- 0 until nWriters) submit { () =>
      for (b <- 0 until perWriter) {
        val lo = (w * perWriter + b) * 100L
        ManifestTable.append(spark, root, batch(lo, lo + 100))
      }
    }
    submit { () =>
      for (_ <- 0 until 3)
        ManifestTable.compact(spark, root, targetFileBytes = 1L << 20)
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "stress timed out")
    assert(failures.isEmpty, s"writer threw: ${failures.peek()}")
    // every appended row exactly once
    val rows = ManifestTable.read(spark, root).select("id").as[Long].collect()
    val expect = (0L until nWriters * perWriter * 100L).toSet
    assert(rows.length == expect.size,
      s"${rows.length} rows vs ${expect.size}: lost or duplicated under contention")
    assert(rows.toSet == expect)
    // versions dense: v0..vMax all published, none skipped
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "manifest"))
    val versions =
      try s.iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") => n.stripPrefix("v").toInt }
        .toSet
      finally s.close()
    assert(versions == (0 to versions.max).toSet,
      s"version chain has gaps: ${versions.toSeq.sorted}")
  }

  test("overwrite atomically replaces the snapshot; identity metadata and the batch ledger carry") {
    val root = java.nio.file.Files.createTempDirectory("graft_manifest_ow").toString
    ManifestTable.init(root, Seq("id"), Seq("id"))
    ManifestTable.appendBatch(spark, root, 7L, batch(0, 100))
    ManifestTable.append(spark, root, batch(100, 200))
    val before = ManifestTable.latest(root).get
    ManifestTable.overwrite(spark, root, batch(500, 520))
    val after = ManifestTable.latest(root).get
    // contents fully replaced, one version step, old files orphaned
    assert(ids(root) == (500L until 520L).toSet)
    assert(after.version == before.version + 1)
    assert(after.files.toSet.intersect(before.files.toSet).isEmpty)
    // identity metadata carries: declared stat/bloom columns still
    // drive pruning on the REPLACED data...
    assert(ManifestTable.candidateFiles(spark, root, after,
      F.col("id") === 999L).isEmpty)
    // ...and the streaming ledger survives — a replay of batch 7
    // commits nothing even though its rows were overwritten away
    val replayed = ManifestTable.appendBatch(spark, root, 7L, batch(0, 100))
    assert(replayed.version == after.version, "replay must be a no-op")
    assert(ids(root) == (500L until 520L).toSet)
    // superseded files sweep as ordinary orphans once readers drain
    val swept = ManifestTable.vacuum(root, orphanGraceMillis = 0L)
    assert(before.files.forall(swept.contains))
  }

  test("DataFrame writer: format graft-manifest creates with declared stats, maps SaveModes onto the ledger, and CTAS registers") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dfw").toString
    val root = s"$dir/t"
    // CREATE: default mode on a fresh root — init (with the declared
    // stat/bloom shape) + first ledgered append
    batch(0, 100).write.format("graft-manifest")
      .option("path", root)
      .option("statCols", "id").option("bloomCols", "id")
      .save()
    val v1 = ManifestTable.latest(root).get
    assert(ids(root) == (0L until 100L).toSet)
    assert(v1.files.forall(_.matches("data/[0-9a-f-]+/part-.*\\.parquet")),
      "the writer must land manifest-referenced files, not raw parquet")
    // the declared stat shape drives pruning from the very first write
    assert(ManifestTable.candidateFiles(spark, root, v1,
      F.col("id") === 99999L).isEmpty)
    // ErrorIfExists refuses an existing manifest
    val err = intercept[Exception](
      batch(0, 10).write.format("graft-manifest").save(root))
    assert(err.getMessage.contains("already exists"))
    // Ignore no-ops one
    batch(0, 10).write.format("graft-manifest").mode("ignore").save(root)
    assert(ManifestTable.latest(root).get.version == v1.version)
    // stat declarations on an existing table refuse loudly
    val decl = intercept[Exception](
      batch(100, 110).write.format("graft-manifest")
        .option("statCols", "id").mode("append").save(root))
    assert(decl.getMessage.contains("creation-time"))
    // Append = one ledgered commit
    batch(100, 150).write.format("graft-manifest").mode("append").save(root)
    assert(ManifestTable.latest(root).get.version == v1.version + 1)
    assert(ids(root) == (0L until 150L).toSet)
    // Overwrite = atomic snapshot replace, identity metadata carried
    batch(500, 520).write.format("graft-manifest").mode("overwrite").save(root)
    assert(ids(root) == (500L until 520L).toSet)
    assert(ManifestTable.candidateFiles(spark, root,
      ManifestTable.latest(root).get, F.col("id") === 1L).isEmpty,
      "pruning must survive the writer-path overwrite")
    // CTAS: one SQL statement creates table + catalog entry + data
    val root2 = s"$dir/ct"
    spark.sql("DROP TABLE IF EXISTS dfw_ctas")
    try {
      batch(0, 30).createOrReplaceTempView("dfw_src")
      spark.sql("CREATE TABLE dfw_ctas USING `graft-manifest` " +
        s"OPTIONS (path '$root2', statCols 'id') " +
        "AS SELECT * FROM dfw_src")
      assert(ManifestTable.latest(root2).isDefined,
        "CTAS must create a real manifest table")
      assert(spark.sql("SELECT count(*) FROM dfw_ctas")
        .as[Long].head() == 30L)
      // and the catalog entry takes row-level SQL DML like any other
      spark.sql("DELETE FROM dfw_ctas WHERE id < 10")
      assert(spark.sql("SELECT count(*) FROM dfw_ctas")
        .as[Long].head() == 20L)
      assert(ManifestTable.read(spark, root2).count() == 20L)
    } finally {
      scala.util.Try(spark.sql("DROP TABLE IF EXISTS dfw_ctas"))
    }
  }

  test("mergeInto rewrites ONLY files a clause fires on; matched-but-unfired rows carry by reference") {
    val root = java.nio.file.Files.createTempDirectory("graft_gmerge").toString
    ManifestTable.init(root, Seq("id"), Seq("id"))
    ManifestTable.append(spark, root, batch(0, 50))    // file(s) A
    val fileA = ManifestTable.latest(root).get.files
    ManifestTable.append(spark, root, batch(50, 100))  // file(s) B
    // source keys live ONLY in B's range; conditions fire on some
    val src = (60L until 80L).toDF("sid")
      .withColumn("stag", F.concat(F.lit("m"), F.col("sid")))
    val m = ManifestTable.mergeInto(spark, root, Seq("id"), src, Seq(F.col("sid")),
      matched = Seq(ManifestTable.WhenMatched(
        Some(F.col("id") % 2 === 0),
        ManifestTable.MergeUpdate(Map(
          "payload" -> ManifestTable.sourceCol("stag"))))))
    val after = ManifestTable.latest(root).get.files
    assert(fileA.forall(after.contains),
      "files without a fired row must carry by reference")
    assert(m.matchedRows == 10L && m.insertedRows == 0L)
    val got = ManifestTable.read(spark, root)
      .filter(F.col("id").between(60, 79))
      .select("id", "payload").as[(Long, String)].collect().toMap
    (60L until 80L).foreach { id =>
      assert(got(id) == (if (id % 2 == 0) s"m$id" else s"row$id"))
    }
    // a merge whose clauses fire on NOTHING is a version-preserving
    // no-op (no batch id, no rewrite, no commit)
    val v = ManifestTable.latest(root).get.version
    val m2 = ManifestTable.mergeInto(spark, root, Seq("id"), src, Seq(F.col("sid")),
      matched = Seq(ManifestTable.WhenMatched(
        Some(F.lit(false)), ManifestTable.MergeDelete)))
    assert(m2.snapshot.version == v && m2.matchedRows == 0L)
    assert(ManifestTable.latest(root).get.version == v)
  }

  test("mergeInto insert-only against an empty schemaless table defines the shape from its assignments") {
    val root = java.nio.file.Files.createTempDirectory("graft_gmerge0").toString
    ManifestTable.init(root)
    val src = (0L until 5L).toDF("sid")
      .withColumn("sval", F.concat(F.lit("v"), F.col("sid")))
    val m = ManifestTable.mergeInto(spark, root, Seq("id"), src, Seq(F.col("sid")),
      notMatched = Seq(ManifestTable.WhenNotMatched(None, Map(
        "id" -> ManifestTable.sourceCol("sid"),
        "payload" -> ManifestTable.sourceCol("sval")))))
    assert(m.insertedRows == 5L)
    assert(ids(root) == (0L until 5L).toSet)
    assert(ManifestTable.read(spark, root).columns.toSeq ==
      Seq("id", "payload"))
    // and a second merge against the now-populated table matches
    val m2 = ManifestTable.mergeInto(spark, root, Seq("id"), src, Seq(F.col("sid")),
      matched = Seq(ManifestTable.WhenMatched(None, ManifestTable.MergeDelete)),
      notMatched = Seq(ManifestTable.WhenNotMatched(None, Map(
        "id" -> ManifestTable.sourceCol("sid")))))
    assert(m2.matchedRows == 5L && m2.insertedRows == 0L)
    assert(ManifestTable.read(spark, root).count() == 0L)
  }

  test("overwriteWhere replaces exactly the matching band in one commit; constraint and racing append pinned") {
    val root = java.nio.file.Files.createTempDirectory("graft_ow1").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, batch(0, 100))
    ManifestTable.append(spark, root, batch(100, 200))
    ManifestTable.append(spark, root, batch(200, 300))
    val vPre = ManifestTable.latest(root).get.version
    // the reload: fewer rows than the band held, new payloads; a
    // RACING append of in-band rows lands between scan and commit —
    // snapshot isolation says it survives whole
    val reload = (100L until 150L).toDF("id")
      .withColumn("payload", F.lit("reloaded"))
    val d = ManifestTable.overwriteWhere(spark, root,
      F.col("id") >= 100 && F.col("id") < 200, reload,
      beforeCommit = () => {
        ManifestTable.append(spark, root, batch(150, 160)); ()
      })
    assert(d.removedRows == 100L)
    assert(ids(root) ==
      ((0L until 100L) ++ (100L until 160L) ++ (200L until 300L)).toSet)
    assert(ManifestTable.read(spark, root)
      .filter(F.col("payload") === "reloaded").count() == 50L)
    // racer rows kept their ORIGINAL payloads (post-scan rows are
    // never replaced, even in-band)
    assert(ManifestTable.read(spark, root)
      .filter(F.col("id") >= 150 && F.col("id") < 160 &&
        F.col("payload").startsWith("row")).count() == 10L)
    // exactly two commits: the racer's append + the ONE replace
    assert(ManifestTable.latest(root).get.version == vPre + 2)
    // the replaceWhere constraint: a new row outside the region refuses
    val e = intercept[IllegalArgumentException](
      ManifestTable.overwriteWhere(spark, root, F.col("id") < 10,
        Seq(50L).toDF("id").withColumn("payload", F.lit("x"))))
    assert(e.getMessage.contains("do not satisfy"))
    // a no-victim predicate degrades to a plain ledgered append
    val d2 = ManifestTable.overwriteWhere(spark, root,
      F.col("id") >= 1000,
      (1000L until 1005L).toDF("id").withColumn("payload", F.lit("n")))
    assert(d2.removedRows == 0L)
    assert(ids(root).count(_ >= 1000L) == 5)
  }

  test("widenColumn: explicit in-family widening is metadata-only; narrowing and cross-family refuse") {
    val root = java.nio.file.Files.createTempDirectory("graft_wd1").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, (0L until 50L).toDF("id")
      .withColumn("n", F.col("id").cast("int")))
    val before = ManifestTable.latest(root).get
    val snap = ManifestTable.widenColumn(spark, root, "n",
      org.apache.spark.sql.types.LongType)
    assert(snap.files == before.files, "widening must not touch data")
    val read = ManifestTable.read(spark, root)
    assert(read.schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(read.agg(F.sum("n")).head().getLong(0) == (0L until 50L).sum)
    // stats stay prune-sound across the widening
    assert(ManifestTable.readWhere(spark, root, F.col("n") === 7L)
      .count() == 1L)
    // idempotent: same type commits nothing
    assert(ManifestTable.widenColumn(spark, root, "n",
      org.apache.spark.sql.types.LongType).version == snap.version)
    // narrowing and cross-family refuse
    assert(intercept[IllegalArgumentException](
      ManifestTable.widenColumn(spark, root, "n",
        org.apache.spark.sql.types.IntegerType))
      .getMessage.contains("NARROW"))
    assert(intercept[IllegalArgumentException](
      ManifestTable.widenColumn(spark, root, "n",
        org.apache.spark.sql.types.StringType))
      .getMessage.contains("widening"))
  }

  // ---- merge-on-read deletion vectors ----

  private def dvOf(root: String): Map[String, (String, Long)] = {
    val snap = ManifestTable.latest(root).get
    snap.files.flatMap { f =>
      snap.stats.get(f).flatMap { p =>
        val st = graft.operators.ManifestStats.decodeCached(p)
        st.dvRef.map(r => f -> (r, st.dvRows))
      }
    }.toMap
  }

  test("deleteWhereMoR rewrites NO data file; reads, counts, and time travel are exact") {
    val root = java.nio.file.Files.createTempDirectory("graft_mor1").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, batch(0, 100))
    ManifestTable.append(spark, root, batch(100, 200))
    ManifestTable.append(spark, root, batch(200, 300))
    val before = ManifestTable.latest(root).get
    val d = ManifestTable.deleteWhereMoR(spark, root,
      F.col("id") % 5 === 0)
    // THE contract: the file list is byte-identical — no rewrite
    assert(d.snapshot.files == before.files,
      "MoR delete must not touch the data file list")
    assert(d.removedRows == 60L)
    assert(ids(root) == (0L until 300L).filter(_ % 5 != 0).toSet)
    // per-file DV refs landed with exact counts
    val dv = dvOf(root)
    assert(dv.nonEmpty && dv.values.map(_._2).sum == 60L)
    // metadata-exact counting: no predicate, and a mustMatch band
    assert(ManifestTable.countWhere(spark, root) == 240L)
    assert(ManifestTable.countWhere(spark, root,
      Some(F.col("id") < 100)) == 80L)
    // pruned read through the overlay
    assert(ManifestTable.readWhere(spark, root, F.col("id") < 10)
      .select("id").as[Long].collect().toSet ==
      (0L until 10L).filterNot(_ % 5 == 0).toSet)
    // statBounds refuses exactness under a live DV
    assert(ManifestTable.statBounds(spark, root, "id").isEmpty)
    // time travel: the pre-delete version still serves every row
    assert(ManifestTable.readVersion(spark, root, before.version)
      .count() == 300L)
  }

  test("repeat MoR deletes union into one superseding sidecar; deleted rows never double-count") {
    val root = java.nio.file.Files.createTempDirectory("graft_mor2").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, batch(0, 100))
    val d1 = ManifestTable.deleteWhereMoR(spark, root, F.col("id") % 5 === 0)
    assert(d1.removedRows == 20L)
    // a subset of the already-deleted rows: zero victims, no commit churn
    val d2 = ManifestTable.deleteWhereMoR(spark, root, F.col("id") % 10 === 0)
    assert(d2.removedRows == 0L)
    // an overlapping set: only the NEW victims count
    val d3 = ManifestTable.deleteWhereMoR(spark, root, F.col("id") % 2 === 0)
    assert(d3.removedRows == 40L) // evens minus the 10 already-gone %10s
    assert(ids(root) == (1L until 100L by 2).filterNot(_ % 5 == 0).toSet)
    // ONE dv ref per file, counts exact
    val dv = dvOf(root)
    assert(dv.values.map(_._2).sum == 60L)
    assert(ManifestTable.countWhere(spark, root) == 40L)
  }

  test("compaction folds DVs away; vacuum spares live sidecars and collects superseded ones") {
    val root = java.nio.file.Files.createTempDirectory("graft_mor3").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, batch(0, 100))
    ManifestTable.append(spark, root, batch(100, 200))
    ManifestTable.deleteWhereMoR(spark, root, F.col("id") % 3 === 0)
    val live = ids(root)
    // vacuum with zero grace: the LIVE sidecar must survive
    ManifestTable.vacuum(root, orphanGraceMillis = 0L)
    assert(ids(root) == live, "vacuum deleted a live DV sidecar")
    // a second delete supersedes the first sidecar; vacuum collects it
    val firstDv = dvOf(root).values.map(_._1).toSet
    ManifestTable.deleteWhereMoR(spark, root, F.col("id") % 7 === 0)
    val secondDv = dvOf(root).values.map(_._1).toSet
    assert(firstDv.intersect(secondDv).isEmpty)
    val vacuumed = ManifestTable.vacuum(root, orphanGraceMillis = 0L)
    assert(firstDv.forall(d => vacuumed.exists(_.startsWith(d + "/"))),
      s"superseded sidecar not collected: $vacuumed")
    assert(ids(root) == live.filterNot(_ % 7 == 0))
    // compaction reads THROUGH the overlay and folds the DVs
    val snap = ManifestTable.compact(spark, root, targetFileBytes = 1L << 20)
    assert(dvOf(root).isEmpty, "compaction must fold DVs into the rewrite")
    assert(ids(root) == live.filterNot(_ % 7 == 0))
    // exact stats are restored
    assert(ManifestTable.statBounds(spark, root, "id").isDefined)
    // the folded sidecar is now an orphan
    val vacuumed2 = ManifestTable.vacuum(root, orphanGraceMillis = 0L)
    assert(secondDv.forall(d => vacuumed2.exists(_.startsWith(d + "/"))))
    assert(ids(root) == live.filterNot(_ % 7 == 0))
    assert(snap.files == ManifestTable.latest(root).get.files)
  }

  test("the change feed reports a DV-only commit as row-level deletes") {
    val root = java.nio.file.Files.createTempDirectory("graft_mor4").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, batch(0, 100))
    val v1 = ManifestTable.latest(root).get.version
    val d = ManifestTable.deleteWhereMoR(spark, root, F.col("id") % 4 === 0)
    val feed = ManifestTable.changes(spark, root, v1, d.snapshot.version)
      .select(F.col("id"), F.col("_change_type"))
      .as[(Long, String)].collect().toSeq
    assert(feed.forall(_._2 == "delete"), s"got $feed")
    assert(feed.map(_._1).toSet == (0L until 100L by 4).toSet)
    // and a CoW rewrite of the DV'd file afterwards is NOT a change
    // (the overlay rows cancel against the rewritten file)
    val c = ManifestTable.compact(spark, root, targetFileBytes = 1L << 20)
    assert(ManifestTable.changes(spark, root, d.snapshot.version,
      c.version).count() == 0L,
      "compaction folding a DV must not surface as row changes")
  }

  test("MoR delete racing a MoR delete restarts and applies both; copy-on-write folds the DV it touches") {
    val root = java.nio.file.Files.createTempDirectory("graft_mor5").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, batch(0, 100))
    // inject a second MoR delete between the first's scan and commit
    var injected = false
    val d = ManifestTable.deleteWhereMoR(spark, root, F.col("id") < 10,
      beforeCommit = () => {
        if (!injected) {
          injected = true
          ManifestTable.deleteWhereMoR(spark, root, F.col("id") >= 90)
          ()
        }
      })
    assert(d.removedRows == 10L)
    assert(ids(root) == (10L until 90L).toSet,
      "a lost MoR-MoR race clobbered the winner's sidecar")
    // copy-on-write UPDATE touching EVERY file (unprunable predicate
    // over all live rows): deleted rows must not resurrect in the
    // rewrites, and every touched file's DV folds away with its
    // replaced payload
    ManifestTable.updateWhere(spark, root, F.col("id") >= 0L,
      Map("payload" -> F.lit("updated")))
    assert(ids(root) == (10L until 90L).toSet,
      "a CoW rewrite resurrected MoR-deleted rows")
    assert(dvOf(root).isEmpty,
      "the CoW rewrite must fold the touched files' DVs")
    assert(ManifestTable.read(spark, root)
      .filter(F.col("payload") === "updated").count() == 80L)
  }

  test("the unknown-qid sink claim sentinel never matches across locations") {
    // two different queries that BOTH hit the unreadable-metadata
    // fallback id must not adopt each other's batch ledger: for the
    // sentinel, only the location hash may decide
    val root = java.nio.file.Files.createTempDirectory("graft_qidsent").toString
    ManifestTable.init(root)
    ManifestTable.claimSinkCheckpoint(root, ManifestTable.UnknownQid, "aaaa")
    // a same-location restart under the sentinel is accepted
    ManifestTable.claimSinkCheckpoint(root, ManifestTable.UnknownQid, "aaaa")
    // a DIFFERENT location under the sentinel is a different query
    intercept[IllegalArgumentException] {
      ManifestTable.claimSinkCheckpoint(root, ManifestTable.UnknownQid, "bbbb")
    }
    // a real qid at the claimed location is the wiped-checkpoint
    // shape: warn-and-adopt (the documented recovery path)
    ManifestTable.claimSinkCheckpoint(root, "qid-real", "aaaa")
    // ...after which the sentinel at a new location still refuses
    intercept[IllegalArgumentException] {
      ManifestTable.claimSinkCheckpoint(root, ManifestTable.UnknownQid, "cccc")
    }
  }

  test("rewrite commits racing a MoR delete must not resurrect its victims") {
    // the reverse direction of the MoR-MoR race above: a rewrite-style
    // commit (compact / upsert / overwriteWhere) whose survivor scan
    // ran BEFORE a concurrent MoR delete committed used the old DV
    // overlay — publishing it unchecked would resurrect the delete's
    // victims and drop the DV pointer. Each loop must detect the
    // DV-state drift and restart (upsert/overwrite) or abort (compact).
    // compact: abort is safe (layout-only) — the MoR delete must win
    locally {
      val root = java.nio.file.Files.createTempDirectory("graft_mor_rw1").toString
      ManifestTable.init(root, Seq("id"))
      ManifestTable.append(spark, root, batch(0, 100))
      ManifestTable.append(spark, root, batch(100, 200))
      var injected = false
      ManifestTable.compact(spark, root, targetFileBytes = 1L << 20,
        beforeCommit = () => {
          if (!injected) {
            injected = true
            ManifestTable.deleteWhereMoR(spark, root, F.col("id") < 20)
            ()
          }
        })
      assert(ids(root) == (20L until 200L).toSet,
        "compact racing a MoR delete resurrected its victims")
    }
    // upsert: the merge must still apply, so it restarts against the
    // post-delete snapshot (and the restart's scan sees the DV)
    locally {
      val root = java.nio.file.Files.createTempDirectory("graft_mor_rw2").toString
      ManifestTable.init(root, Seq("id"))
      // ONE data file: the injected delete's DV lands on the exact
      // file the upsert is rewriting, so the drift check must fire
      ManifestTable.append(spark, root, batch(0, 100).coalesce(1))
      var injected = false
      val updDf = Seq(50L, 51L).toDF("id")
        .withColumn("payload", F.lit("merged"))
      val m = ManifestTable.upsert(spark, root, "id", updDf,
        beforeCommit = () => {
          if (!injected) {
            injected = true
            ManifestTable.deleteWhereMoR(spark, root, F.col("id") < 10)
            ()
          }
        })
      assert(m.matchedRows == 2L, s"matched ${m.matchedRows}")
      assert(ids(root) == (10L until 100L).toSet,
        "upsert racing a MoR delete resurrected its victims")
      assert(ManifestTable.read(spark, root)
        .filter(F.col("payload") === "merged").count() == 2L)
    }
    // overwriteWhere: same restart contract as upsert
    locally {
      val root = java.nio.file.Files.createTempDirectory("graft_mor_rw3").toString
      ManifestTable.init(root, Seq("id"))
      ManifestTable.append(spark, root, batch(0, 100).coalesce(1))
      var injected = false
      val reload = Seq(60L, 61L).toDF("id")
        .withColumn("payload", F.lit("reloaded"))
      val d = ManifestTable.overwriteWhere(spark, root,
        F.col("id") >= 60 && F.col("id") < 70, reload,
        beforeCommit = () => {
          if (!injected) {
            injected = true
            ManifestTable.deleteWhereMoR(spark, root, F.col("id") < 10)
            ()
          }
        })
      assert(d.removedRows == 10L, s"replaced ${d.removedRows}")
      assert(ids(root) ==
        ((10L until 60L) ++ Seq(60L, 61L) ++ (70L until 100L)).toSet,
        "overwriteWhere racing a MoR delete resurrected its victims")
    }
  }

  test("upsert on a DV'd table: survivors come from the overlay, never the raw file") {
    val root = java.nio.file.Files.createTempDirectory("graft_mor6").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.append(spark, root, batch(0, 100))
    ManifestTable.deleteWhereMoR(spark, root, F.col("id") % 2 === 0)
    val updates = Seq(1L, 3L, 200L).toDF("id")
      .withColumn("payload", F.lit("up"))
    val m = ManifestTable.upsert(spark, root, "id", updates)
    assert(m.matchedRows == 2L && m.insertedRows == 1L)
    val got = ManifestTable.read(spark, root)
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert(got.size == 51L) // 50 odd survivors + the insert
    assert(got(1L) == "up" && got(3L) == "up" && got(200L) == "up")
    assert(!got.contains(2L), "a deleted row resurrected through upsert")
  }

  // ---- the conflict matrix: every writer exposing beforeCommit x an
  // injected concurrent operation. One data file, so every writer's
  // read set is that file and every injected rewrite or DV lands on
  // it. Outcomes (the class doc's conflict rules):
  //  merge   — the writer publishes on the injected head, one attempt;
  //  restart — the writer reruns its scan once, then publishes;
  //  abort   — the writer publishes nothing and returns the head;
  //  refuse  — the writer throws (a reserved column name) and
  //            publishes nothing.
  private type Rows = Map[Long, String]

  /** A writer row: its call (beforeCommit injected) and its effect on
    * the id -> payload model. */
  private case class Writer(name: String, run: (String, () => Unit) => Unit,
                            effect: Rows => Rows)

  private def mergeSrc(ids: Seq[Long], payload: String) =
    ids.toDF("id").withColumn("payload", F.lit(payload))

  private val writers: Seq[Writer] = Seq(
    Writer("append", (root, bc) => {
      ManifestTable.append(spark, root, batch(200, 205), beforeCommit = bc); ()
    }, _ ++ (200L until 205L).map(i => i -> s"row$i")),
    Writer("upsert", (root, bc) => {
      ManifestTable.upsert(spark, root, "id", mergeSrc(Seq(10L, 11L, 300L), "up"),
        beforeCommit = bc); ()
    }, _ ++ Seq(10L, 11L, 300L).map(_ -> "up")),
    Writer("upsertBatch", (root, bc) => {
      ManifestTable.upsertBatch(spark, root, 7L, "id",
        mergeSrc(Seq(10L, 11L, 300L), "up"), beforeCommit = bc); ()
    }, _ ++ Seq(10L, 11L, 300L).map(_ -> "up")),
    Writer("mergeInto", (root, bc) => {
      ManifestTable.mergeInto(spark, root, Seq("id"),
        mergeSrc(Seq(10L, 11L, 300L), "mg"), Seq(F.col("id")),
        matched = Seq(ManifestTable.WhenMatched(None, ManifestTable.MergeUpdate(
          Map("payload" -> ManifestTable.sourceCol("payload"))))),
        notMatched = Seq(ManifestTable.WhenNotMatched(None, Map(
          "id" -> ManifestTable.sourceCol("id"),
          "payload" -> ManifestTable.sourceCol("payload")))),
        beforeCommit = bc); ()
    }, _ ++ Seq(10L, 11L, 300L).map(_ -> "mg")),
    Writer("deleteWhere", (root, bc) => {
      ManifestTable.deleteWhere(spark, root, F.col("id") < 5, beforeCommit = bc); ()
    }, _.filter(_._1 >= 5)),
    Writer("updateWhere", (root, bc) => {
      ManifestTable.updateWhere(spark, root, F.col("id") < 5,
        Map("payload" -> F.lit("upd")), beforeCommit = bc); ()
    }, r => r ++ r.keys.filter(_ < 5).map(_ -> "upd")),
    Writer("deleteWhereMoR", (root, bc) => {
      ManifestTable.deleteWhereMoR(spark, root, F.col("id") < 5,
        beforeCommit = bc); ()
    }, _.filter(_._1 >= 5)),
    Writer("overwriteWhere", (root, bc) => {
      ManifestTable.overwriteWhere(spark, root,
        F.col("id") >= 50 && F.col("id") < 60, mergeSrc(Seq(50L, 51L), "re"),
        beforeCommit = bc); ()
    }, r => r.filterNot(kv => kv._1 >= 50 && kv._1 < 60) ++
      Seq(50L, 51L).map(_ -> "re")),
    Writer("compact", (root, bc) => {
      ManifestTable.compact(spark, root, 1L << 20, beforeCommit = bc); ()
    }, identity))

  /** An injected concurrent operation and its effect on the model. */
  private case class Injection(name: String, run: String => Unit,
                               effect: Rows => Rows)

  private val injections: Seq[Injection] = Seq(
    Injection("append", root => {
      ManifestTable.append(spark, root, batch(1000, 1003)); ()
    }, _ ++ (1000L until 1003L).map(i => i -> s"row$i")),
    Injection("compact", root => {
      ManifestTable.compact(spark, root, 1L << 20); ()
    }, identity),
    Injection("deleteWhereMoR", root => {
      ManifestTable.deleteWhereMoR(spark, root, F.col("id") === 99L); ()
    }, _ - 99L),
    Injection("addColumns", root => {
      ManifestTable.addColumns(spark, root, tagCol); ()
    }, identity),
    Injection("renameColumn", root => {
      ManifestTable.renameColumn(spark, root, "payload", "body"); ()
    }, identity))

  //                   append    compact    deleteWhereMoR addColumns renameColumn
  private val conflictMatrix: Map[String, Seq[String]] = Map(
    "append"         -> Seq("merge", "merge",   "merge",   "merge", "refuse"),
    "upsert"         -> Seq("merge", "restart", "restart", "merge", "refuse"),
    "upsertBatch"    -> Seq("merge", "restart", "restart", "merge", "refuse"),
    "mergeInto"      -> Seq("merge", "restart", "restart", "merge", "refuse"),
    "deleteWhere"    -> Seq("merge", "restart", "restart", "merge", "merge"),
    "updateWhere"    -> Seq("merge", "restart", "restart", "merge", "merge"),
    "deleteWhereMoR" -> Seq("merge", "restart", "restart", "merge", "merge"),
    "overwriteWhere" -> Seq("merge", "restart", "restart", "merge", "refuse"),
    "compact"        -> Seq("merge", "abort",   "abort",   "merge", "merge"))

  private def rowsOf(root: String): Rows =
    ManifestTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("conflict matrix: each writer x each injected concurrent op merges, restarts, aborts or refuses as declared") {
    val base: Rows = (0L until 100L).map(i => i -> s"row$i").toMap
    for (w <- writers; (inj, expected) <- injections.zip(conflictMatrix(w.name))) {
      val cell = s"${w.name} x ${inj.name}"
      val root = java.nio.file.Files.createTempDirectory("graft_matrix").toString
      ManifestTable.init(root, Seq("id"))
      ManifestTable.append(spark, root, batch(0, 100).coalesce(1))
      var calls = 0
      var injected = -1
      val run = scala.util.Try(w.run(root, () => {
        calls += 1
        if (injected < 0) {
          inj.run(root)
          injected = ManifestTable.latest(root).get.version
        }
      }))
      val head = ManifestTable.latest(root).get
      val outcome = run match {
        case scala.util.Failure(e: IllegalArgumentException)
            if e.getMessage.contains("reserved") => "refuse"
        case scala.util.Failure(e) => throw new AssertionError(s"$cell threw", e)
        case scala.util.Success(_) if head.version == injected => "abort"
        case scala.util.Success(_) if calls == 1 => "merge"
        case scala.util.Success(_) if calls == 2 => "restart"
        case _ => s"$calls attempts"
      }
      assert(outcome == expected, s"$cell: expected $expected, got $outcome")
      assert(head.version == (if (outcome == "merge" || outcome == "restart")
        injected + 1 else injected), s"$cell published v${head.version}")
      val want = if (outcome == "refuse") inj.effect(base)
        else w.effect(inj.effect(base))
      assert(rowsOf(root) == want, s"$cell: wrong final rows")
      if (inj.name == "addColumns")
        assert(ManifestTable.read(spark, root).columns.contains("tag"),
          s"$cell lost the racing column")
      assert(Option(new java.io.File(root, "manifest/intents").list())
        .forall(_.isEmpty),
        s"$cell left a write intent behind")
    }
  }

  test("restart bound: a MoR delete conflicting on every attempt stops each restart-rule writer with one message; its files vacuum") {
    val restartWriters = writers.filter(w =>
      conflictMatrix(w.name)(2) == "restart")
    assert(restartWriters.map(_.name) == Seq("upsert", "upsertBatch",
      "mergeInto", "deleteWhere", "updateWhere", "deleteWhereMoR",
      "overwriteWhere"))
    for (w <- restartWriters) {
      val root = java.nio.file.Files.createTempDirectory("graft_bound").toString
      ManifestTable.init(root, Seq("id"))
      ManifestTable.append(spark, root, batch(0, 100).coalesce(1))
      // every attempt loses: a fresh MoR delete moves the one file's
      // DV state between each scan and its commit
      var calls = 0
      val e = intercept[IllegalStateException] {
        w.run(root, () => {
          ManifestTable.deleteWhereMoR(spark, root, F.col("id") === 99L - calls)
          calls += 1
        })
      }
      val op = if (w.name == "upsertBatch") "upsert" else w.name
      assert(e.getMessage.startsWith(s"$op at $root lost 8 consecutive " +
        "conflicts on the files it read"), s"${w.name}: ${e.getMessage}")
      assert(calls == 8, s"${w.name} made $calls attempts")
      // the writer published nothing; only the injected deletes landed
      assert(rowsOf(root) == (0L until 92L).map(i => i -> s"row$i").toMap,
        s"${w.name} published under a conflict")
      assert(Option(new java.io.File(root, "manifest/intents").list())
        .forall(_.isEmpty),
        s"${w.name} left a write intent behind")
      val live = ManifestTable.latest(root).get.files.toSet
      val vacuumed = ManifestTable.vacuum(root, orphanGraceMillis = 0)
      assert(vacuumed.exists(_.endsWith(".parquet")),
        s"${w.name}'s lost rounds left no vacuumable files")
      assert(vacuumed.toSet.intersect(live).isEmpty)
      assert(rowsOf(root).size == 92, s"vacuum after ${w.name} broke the table")
    }
  }
}
