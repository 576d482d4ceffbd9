package graft

import org.apache.spark.sql.{functions => F}

import graft.operators.{ManifestStats, ManifestTable}

/** Per-file stats + planning-time pruning: the manifest lists only
  * range-intersecting candidate files, the victim scan of a rewrite
  * op never opens a pruned file, and the metadata count path answers
  * without touching data at all. The skipped-file proofs are
  * DETERMINISTIC: a non-candidate file is corrupted on disk, so any
  * plan that still lists it fails loudly. */
class ManifestStatsSpec extends SparkSpec {
  import spark.implicits._

  private def batch(lo: Long, hi: Long) =
    (lo until hi).toDF("id").withColumn("payload",
      F.concat(F.lit("row"), F.col("id")))

  /** 4 single-file batches over disjoint id ranges [0,100)..[300,400). */
  private def clustered(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_stats").toString
    ManifestTable.init(root, Seq("id"))
    for (i <- 0 until 4)
      ManifestTable.append(spark, root,
        batch(i * 100L, i * 100L + 100L).coalesce(1))
    root
  }

  private def corrupt(root: String, rel: String): Unit = {
    val p = java.nio.file.Paths.get(root, rel)
    // drop the companion .crc first or LocalFS screams checksum, not parse
    val crc = p.getParent.resolve("." + p.getFileName.toString + ".crc")
    java.nio.file.Files.deleteIfExists(crc)
    java.nio.file.Files.write(p, "not parquet".getBytes)
  }

  private def fileOfRange(root: String, lo: Long): String = {
    val snap = ManifestTable.latest(root).get
    ManifestTable.candidateFiles(spark, snap, F.col("id") === lo).head
  }

  test("stats are recorded per file; candidateFiles lists only range-intersecting files") {
    val root = clustered()
    val snap = ManifestTable.latest(root).get
    assert(snap.files.size == 4)
    assert(snap.stats.keySet == snap.files.toSet,
      "every data file carries a stat line")
    val decoded = snap.files.map(f => ManifestStats.decode(snap.stats(f)))
    assert(decoded.forall(_.rows == 100L))
    assert(decoded.flatMap(_.cols.get("id")).count(_.bounds.isDefined) == 4)
    // point lookup → exactly one candidate
    assert(ManifestTable.candidateFiles(spark, snap, F.col("id") === 150L).size == 1)
    // range spanning two files → exactly two
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("id") >= 120L && F.col("id") <= 280L).size == 2)
    // reversed operand order and isin prune too
    assert(ManifestTable.candidateFiles(spark, snap, F.lit(150L) <= F.col("id")).size == 3)
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("id").isin(5L, 305L)).size == 2)
    // out-of-range → zero candidates
    assert(ManifestTable.candidateFiles(spark, snap, F.col("id") < 0L).isEmpty)
    // null predicates answer from the recorded null counts: no file
    // has a null id, so IS NULL prunes everything and IS NOT NULL
    // keeps everything
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("id").isNull).isEmpty)
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("id").isNotNull).size == 4)
    assert(ManifestTable.countWhere(spark, root,
      Some(F.col("id").isNotNull)) == 400L)
    // un-evaluable shapes and un-statted columns never prune
    assert(ManifestTable.candidateFiles(spark, snap, F.col("id") % 2 === 0).size == 4)
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("payload") === "row7").size == 4)
    // OR widens, AND narrows
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("id") === 50L || F.col("id") === 350L).size == 2)
    // NOT prunes by duality: files whose EVERY row satisfies the
    // negated predicate drop; the metadata count path proves the
    // mustMatch(NOT …) side (null-free columns required)
    assert(ManifestTable.candidateFiles(spark, snap,
      !(F.col("id") >= 100L)).size == 1)
    assert(ManifestTable.candidateFiles(spark, snap,
      !F.col("id").between(0L, 399L)).isEmpty)
    assert(ManifestTable.countWhere(spark, root,
      Some(!(F.col("id") >= 100L))) == 100L)
  }

  test("readWhere plans only candidate files and is result-identical to read+filter") {
    val root = clustered()
    val pred = F.col("id") >= 210L && F.col("id") < 230L
    val pruned = ManifestTable.readWhere(spark, root, pred)
    assert(pruned.inputFiles.length == 1,
      s"pruned read lists ${pruned.inputFiles.length} files")
    val expect = ManifestTable.read(spark, root).filter(pred)
      .select("id").as[Long].collect().toSet
    assert(pruned.select("id").as[Long].collect().toSet == expect)
    assert(expect == (210L until 230L).toSet)
    // empty candidate set → empty result, not an error
    assert(ManifestTable.readWhere(spark, root, F.col("id") === -5L)
      .isEmpty)
  }

  test("deleteWhere/updateWhere/upsert victim scans never open a pruned file (corruption proof)") {
    val root = clustered()
    // corrupt the [300,400) file: any scan that lists it now fails
    corrupt(root, fileOfRange(root, 300L))
    val del = ManifestTable.deleteWhere(spark, root, F.col("id") === 42L)
    assert(del.removedRows == 1L)
    val upd = ManifestTable.updateWhere(spark, root,
      F.col("id") === 120L, Map("payload" -> F.lit("upd")))
    assert(upd.removedRows == 1L)
    val m = ManifestTable.upsert(spark, root, "id",
      Seq(250L).toDF("id").withColumn("payload", F.lit("m")))
    assert(m.matchedRows == 1L && m.insertedRows == 0L)
    // deleteIds prunes through the victim frame's min/max range
    val d2 = ManifestTable.deleteIds(spark, root, "id",
      Seq(130L, 135L).toDF("victim"))
    assert(d2.removedRows == 2L)
    // the corrupted file was carried by reference through all four
    // commits — still listed, never read
    assert(ManifestTable.latest(root).get.files.contains(
      fileOfRange(root, 300L)))
  }

  test("rewritten files get fresh stats; pruning stays exact after delete + compact") {
    val root = clustered()
    ManifestTable.deleteWhere(spark, root,
      F.col("id") >= 150L && F.col("id") < 160L)
    val snap = ManifestTable.latest(root).get
    assert(snap.stats.keySet == snap.files.toSet,
      "a rewritten file lost its stat line")
    // the rewritten [100,200) file's bounds shrank with the delete
    val f = ManifestTable.candidateFiles(spark, snap, F.col("id") === 140L)
    assert(f.size == 1)
    assert(ManifestTable.readWhere(spark, root,
      F.col("id") >= 150L && F.col("id") < 160L).isEmpty)
    ManifestTable.compact(spark, root, targetFileBytes = 1L << 20)
    val post = ManifestTable.latest(root).get
    assert(post.stats.keySet == post.files.toSet,
      "compaction dropped or leaked stat lines")
    assert(ManifestTable.read(spark, root).count() == 390)
  }

  test("countWhere answers from metadata: exact with no data I/O on aligned ranges") {
    val root = clustered()
    // misaligned range needs the boundary files — scan path, exact
    assert(ManifestTable.countWhere(spark, root,
      Some(F.col("id") >= 150L && F.col("id") < 250L)) == 100L)
    // nulls in the stat column break mustMatch, never correctness
    ManifestTable.append(spark, root,
      Seq[Option[Long]](Some(500L), None).toDF("id")
        .withColumn("payload", F.lit("x")).coalesce(1))
    assert(ManifestTable.countWhere(spark, root,
      Some(F.col("id") >= 400L)) == 1L)
    // now corrupt EVERY data file: whole-table and file-aligned
    // counts must still answer — pure metadata, zero data reads
    val snap = ManifestTable.latest(root).get
    snap.files.foreach(corrupt(root, _))
    assert(ManifestTable.countWhere(spark, root) == 402L)
    assert(ManifestTable.countWhere(spark, root,
      Some(F.col("id") >= 100L && F.col("id") < 300L)) == 200L)
    assert(ManifestTable.countWhere(spark, root,
      Some(F.col("id") < 0L)) == 0L)
  }

  test("string and timestamp_ntz bounds prune with Spark's own ordering") {
    val root = java.nio.file.Files.createTempDirectory("graft_stats2").toString
    ManifestTable.init(root, Seq("name", "ts"))
    def b(names: Seq[String], day: Int) =
      names.toDF("name").withColumn("ts",
        F.to_timestamp_ntz(F.lit(f"2024-01-$day%02d 12:00:00")))
    ManifestTable.append(spark, root, b(Seq("apple", "banana"), 1).coalesce(1))
    ManifestTable.append(spark, root, b(Seq("mango", "peach"), 15).coalesce(1))
    val snap = ManifestTable.latest(root).get
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("name") === "avocado").size == 1)
    assert(ManifestTable.candidateFiles(spark, snap, F.col("name") > "zzz").isEmpty)
    // prefix pruning: the interval [p, succ(p)) against exact bounds
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("name").startsWith("pe")).size == 1) // peach file only
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("name").startsWith("x")).isEmpty)
    assert(ManifestTable.countWhere(spark, root,
      Some(F.col("name").startsWith("ap"))) == 1L)
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("ts") > F.to_timestamp_ntz(F.lit("2024-01-10 00:00:00"))).size == 1)
    // oversized strings drop the stat (stay candidates), never lie
    val before = ManifestTable.latest(root).get.files.toSet
    ManifestTable.append(spark, root,
      Seq("z" * 200).toDF("name").withColumn("ts",
        F.to_timestamp_ntz(F.lit("2024-02-01 00:00:00"))).coalesce(1))
    val s2 = ManifestTable.latest(root).get
    val zebra = ManifestTable.candidateFiles(spark, s2,
      F.col("name") === "zebra")
    // "zebra" is outside both statted files' bounds; only the
    // oversized-bound (stat-dropped) file must survive as a candidate
    assert(zebra.size == 1 && !before(zebra.head),
      "file with oversized string bound must stay a candidate")
  }

  test("statBounds answers min/max from metadata alone, and refuses when any file lacks the stat") {
    val root = clustered()
    assert(ManifestTable.statBounds(spark, root, "id")
      .contains((0L, 399L)))
    // exact in the presence of nulls (nulls never join min/max)
    ManifestTable.append(spark, root,
      Seq[Option[Long]](Some(700L), None).toDF("id")
        .withColumn("payload", F.lit("x")).coalesce(1))
    assert(ManifestTable.statBounds(spark, root, "id")
      .contains((0L, 700L)))
    // rewrites keep it live: a delete of the current max moves it
    ManifestTable.deleteWhere(spark, root, F.col("id") === 700L)
    assert(ManifestTable.statBounds(spark, root, "id")
      .contains((0L, 399L)))
    // metadata-only proof: corrupt every data file, bounds still answer
    val snap = ManifestTable.latest(root).get
    snap.files.foreach(corrupt(root, _))
    assert(ManifestTable.statBounds(spark, root, "id")
      .contains((0L, 399L)))
    // un-statted columns refuse rather than guess
    assert(ManifestTable.statBounds(spark, root, "payload").isEmpty)
    // a file without the stat (un-statted table) refuses too
    val root2 = java.nio.file.Files.createTempDirectory("graft_sb2").toString
    ManifestTable.init(root2)
    ManifestTable.append(spark, root2, batch(0, 10))
    assert(ManifestTable.statBounds(spark, root2, "id").isEmpty)
  }

  test("clustered compaction turns every-file-spans-everything into one-candidate point lookups") {
    val root = java.nio.file.Files.createTempDirectory("graft_cluster").toString
    ManifestTable.init(root, Seq("id"))
    // interleaved appends: every file spans the WHOLE id range
    for (i <- 0 until 4)
      ManifestTable.append(spark, root,
        batch(0, 400).filter(F.col("id") % 4 === i).coalesce(1))
    val before = ManifestTable.latest(root).get
    assert(ManifestTable.candidateFiles(spark, before,
      F.col("id") === 200L).size == 4,
      "fixture: interleaved appends must defeat pruning")
    // range-cluster on the stat column during compaction
    ManifestTable.compact(spark, root, targetFileBytes = 4L * 1024,
      clusterBy = Seq("id"))
    val after = ManifestTable.latest(root).get
    assert(after.files.size > 1, "fixture needs multiple clustered files")
    assert(ManifestTable.candidateFiles(spark, after,
      F.col("id") === 200L).size == 1,
      "clustered files must carry disjoint id bands")
    // rows survive the clustered rewrite exactly
    assert(ManifestTable.read(spark, root).select("id").as[Long]
      .collect().toSet == (0L until 400L).toSet)
    assert(ManifestTable.readWhere(spark, root,
      F.col("id").between(100L, 110L)).count() == 11)
    // unknown cluster column refused loudly
    intercept[IllegalArgumentException] {
      ManifestTable.compact(spark, root, 4096L, clusterBy = Seq("nope"))
    }
  }

  test("pruning soundness law: on an adversarial table, pruned reads and metadata counts equal the unpruned truth for random predicates") {
    import org.apache.spark.sql.Column
    val rnd = new scala.util.Random(20240815L)
    val root = java.nio.file.Files.createTempDirectory("graft_law").toString
    // id and name also carry per-file BLOOMS, so the law covers the
    // bloom-combined equality/IN path and the readWhere bloom load
    ManifestTable.init(root, Seq("id", "name", "score"), Seq("id", "name"))
    // 6 overlapping files: random long ranges, random strings (empty,
    // unicode, long), doubles with NaN/Inf, nulls in every column
    val words = Seq("", "a", "Zebra", "zebra", "müller", "ñu", "中文",
      "apple", "zz", "z" * 80, "0", " lead", null)
    for (_ <- 0 until 6) {
      val lo = rnd.nextInt(1000) - 500
      val rows = Seq.fill(30)((
        if (rnd.nextInt(10) == 0) None else Some((lo + rnd.nextInt(200)).toLong),
        words(rnd.nextInt(words.size)),
        rnd.nextInt(8) match {
          case 0 => Double.NaN
          case 1 => Double.PositiveInfinity
          case _ => rnd.nextDouble() * 100 - 50
        }))
      ManifestTable.append(spark, root,
        rows.toDF("id", "name", "score").coalesce(1))
    }
    val idVals = Seq(-600L, -1L, 0L, 3L, 77L, 250L, 501L, 9999L)
    val strVals = Seq("", "a", "z", "müller", "中文", "Zebra", "zz")
    val dblVals = Seq(-51.0, 0.0, 49.9, 101.0, Double.NaN)
    def atom(): Column = rnd.nextInt(13) match {
      case 10 =>
        val c = Seq("id", "name", "score")(rnd.nextInt(3)); F.col(c).isNull
      case 11 =>
        val c = Seq("id", "name", "score")(rnd.nextInt(3)); F.col(c).isNotNull
      case 12 => F.col("name").startsWith(
        Seq("", "a", "z", "mü", "中", "Z", "zz", "q")(rnd.nextInt(8)))
      case 0 => F.col("id") === idVals(rnd.nextInt(idVals.size))
      case 1 => F.col("id") < idVals(rnd.nextInt(idVals.size))
      case 2 => F.lit(idVals(rnd.nextInt(idVals.size))) <= F.col("id")
      case 3 => F.col("id").isin(
        Seq.fill(1 + rnd.nextInt(3))(idVals(rnd.nextInt(idVals.size))): _*)
      case 4 => F.col("name") === strVals(rnd.nextInt(strVals.size))
      case 5 => F.col("name") > strVals(rnd.nextInt(strVals.size))
      case 6 => F.col("score") <= F.lit(dblVals(rnd.nextInt(dblVals.size)))
      case 7 => F.col("score") > F.lit(dblVals(rnd.nextInt(dblVals.size)))
      case 8 => F.col("id") % 7 === rnd.nextInt(7) // never prunable
      case _ => F.col("id").between(
        idVals(rnd.nextInt(idVals.size)), idVals(rnd.nextInt(idVals.size)))
    }
    def pred(depth: Int): Column =
      if (depth == 0) atom()
      else rnd.nextInt(4) match {
        case 0 => pred(depth - 1) && pred(depth - 1)
        case 1 => pred(depth - 1) || pred(depth - 1)
        case 2 => !pred(depth - 1) // NOT push-through (may/must duality)
        case _ => atom()
      }
    val truthDf = ManifestTable.read(spark, root).localCheckpoint(true)
    for (i <- 0 until 50) {
      val p = pred(1 + rnd.nextInt(2))
      val truth = truthDf.filter(p).count()
      val pruned = ManifestTable.readWhere(spark, root, p).count()
      assert(pruned == truth,
        s"predicate #$i pruned a matching row: $pruned vs $truth ($p)")
      val meta = ManifestTable.countWhere(spark, root, Some(p))
      assert(meta == truth,
        s"predicate #$i metadata count diverged: $meta vs $truth ($p)")
    }
  }

  test("history reports per-version metadata (rows from stats, file deltas, ledger) with zero data I/O") {
    val root = java.nio.file.Files.createTempDirectory("graft_hist").toString
    ManifestTable.init(root, Seq("id"))
    ManifestTable.appendBatch(spark, root, 0L, batch(0, 100).coalesce(1))
    ManifestTable.appendBatch(spark, root, 1L, batch(100, 150).coalesce(1))
    ManifestTable.deleteWhere(spark, root, F.col("id") === 5L)
    ManifestTable.foldBatches(root)
    // metadata-only proof: corrupt the data, history still answers
    ManifestTable.latest(root).get.files.foreach(corrupt(root, _))
    val h = ManifestTable.history(spark, root).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(h.keySet == Set(0, 1, 2, 3, 4))
    assert(h(1).getInt(1) == 1 && h(1).getLong(2) == 100L)
    assert(h(2).getLong(2) == 150L)
    assert(h(3).getLong(2) == 149L, "post-delete rows from stats")
    assert(h(3).getInt(3) == 1 && h(3).getInt(4) == 1,
      "delete rewrites one file for one")
    assert(h(2).getLong(5) == -1L && h(2).getInt(6) == 2,
      "pre-fold ledger: two markers, no watermark")
    assert(h(4).getLong(5) == 1L && h(4).getInt(6) == 0,
      "post-fold ledger: watermark 1, no markers")
    assert(h(0).isNullAt(7), "pre-schema version must report NULL columns")
    assert((1 to 4).forall(v => h(v).getInt(7) == 2), "id+payload recorded")
    // expire bounds the lookback; deltas re-baseline at the horizon
    ManifestTable.expireManifests(root, keepLast = 2)
    val h2 = ManifestTable.history(spark, root).collect()
    assert(h2.map(_.getInt(0)).toSet == Set(3, 4))
  }

  test("a 20k-file manifest prunes in driver milliseconds, not seconds") {
    // planning cost must stay metadata-scale: decode + bound
    // arithmetic per file, one compiled predicate per op
    val files = (0 until 20000).map(i => f"data/tok$i%05d/part-$i%05d.parquet")
    val stats = files.zipWithIndex.map { case (f, i) =>
      f -> ManifestStats.encode(ManifestStats.FileStats(100L,
        Map("id" -> ManifestStats.ColStat(
          Some((String.valueOf(i * 100L), String.valueOf(i * 100L + 99L))), 0L))))
    }.toMap
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val snap = ManifestTable.Snapshot(7, files, Seq.empty,
      Some(schema.json), stats)
    // warm the analysis path AND the content-addressed decode cache
    // once, then time the pruning pass: repeated DML on the same
    // snapshot must pay hash-lookup + bound arithmetic per file, not
    // a re-parse of O(files) payloads per op
    ManifestTable.candidateFiles(spark, snap, F.col("id") === 0L)
    val t0 = System.nanoTime()
    val cand = ManifestTable.candidateFiles(spark, snap,
      F.col("id") === 1234567L)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(cand.size == 1, s"${cand.size} candidates")
    assert(ms < 600, f"pruning a cached 20k-file manifest took $ms%.0f ms")
    // REPEATED-op cost (the r17 LRU contract): a table bigger than
    // any clear-all valve must keep serving warm decodes — 20 more
    // pruning passes may cost at most ~per-pass bound arithmetic,
    // never a periodic re-decode of the world (the old cache dumped
    // all ~1M entries at its cap and re-parsed O(files) payloads on
    // the next op)
    val t1 = System.nanoTime()
    for (i <- 0 until 20)
      ManifestTable.candidateFiles(spark, snap,
        F.col("id") === (i * 97L + 11L))
    val msAll = (System.nanoTime() - t1) / 1e6
    assert(msAll < 20 * 600,
      f"20 warm pruning passes took $msAll%.0f ms — decode cache churn")
  }

  /** 8 interleaved single-file batches: every file spans the whole id
    * range (ids ≡ i mod 8), so min/max prunes NOTHING — only the
    * per-file bloom can skip. */
  private def scattered(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_bloom").toString
    ManifestTable.init(root, Seq("id"), Seq("id", "payload"))
    for (i <- 0 until 8)
      ManifestTable.append(spark, root,
        (0L until 400L).filter(_ % 8 == i).toDF("id")
          .withColumn("payload", F.concat(F.lit("row"), F.col("id")))
          .coalesce(1))
    root
  }

  test("bloom stats prune scattered-key equality/IN where min/max cannot (corruption proof)") {
    val root = scattered()
    val snap = ManifestTable.latest(root).get
    assert(snap.files.size == 8)
    assert(snap.files.forall(f =>
      ManifestStats.decode(snap.stats(f)).bloomRef.isDefined),
      "every file records a bloom side reference")
    // min/max is useless here: the range path admits all 8 files
    assert(ManifestTable.candidateFiles(spark, snap,
      F.col("id") === 13L).size == 8)
    // the bloom path (root-aware) lists ~1 file (fpp slack: allow 2)
    val c1 = ManifestTable.candidateFiles(spark, root, snap,
      F.col("id") === 13L)
    assert(c1.nonEmpty && c1.size <= 2, s"${c1.size} candidates")
    // string keys bloom too
    assert(ManifestTable.candidateFiles(spark, root, snap,
      F.col("payload") === "row13").size <= 2)
    // IN = union of per-key hits (3 keys, 2 distinct residue files)
    assert(ManifestTable.candidateFiles(spark, root, snap,
      F.col("id").isin(3L, 11L, 20L)).size <= 3)
    // a key no file holds prunes everything (bounds say in-range)
    assert(ManifestTable.candidateFiles(spark, root, snap,
      F.col("id") === 401L).isEmpty)
    // corruption proof: every non-candidate file rots on disk, yet
    // the pruned read, the point delete, and the merge all succeed
    snap.files.filterNot(c1.toSet).foreach(corrupt(root, _))
    assert(ManifestTable.readWhere(spark, root, F.col("id") === 13L)
      .select("id").as[Long].collect().toSeq == Seq(13L))
    val del = ManifestTable.deleteIds(spark, root, "id",
      Seq(13L).toDF("victim"))
    assert(del.removedRows == 1L)
    // 21 ≡ 13 (mod 8): same residue file, freshly rewritten above —
    // the scattered-id MERGE must open only that file
    val m = ManifestTable.upsert(spark, root, "id",
      Seq(21L).toDF("id").withColumn("payload", F.lit("merged")))
    assert(m.matchedRows == 1L && m.insertedRows == 0L)
    assert(ManifestTable.readWhere(spark, root, F.col("id") === 21L)
      .select("payload").as[String].head() == "merged")
  }

  test("bloom filters build inside the write job (no aggregate job); maxRecordsPerFile falls back to the aggregate") {
    // the write-fused tap (BloomWriteTap): a bloom-table append must
    // launch exactly ONE Spark job — the data write — with the
    // sidecar built from the write job's own accumulator
    val root = java.nio.file.Files.createTempDirectory("graft_tap").toString
    ManifestTable.init(root, Seq("id"), Seq("id", "payload"))
    val (_, jobs) = jobsDuring(
      ManifestTable.append(spark, root, batch(0L, 100L).coalesce(2)))
    assert(jobs.size == 1,
      s"bloom-table append launched ${jobs.size} jobs; the filter must " +
        "build inside the single write job: " + jobs.mkString(" // "))
    // ... and the tap-built sidecar prunes exactly like the aggregate's
    val snap = ManifestTable.latest(root).get
    assert(snap.files.size == 2)
    assert(snap.files.forall(f =>
      ManifestStats.decode(snap.stats(f)).bloomRef.isDefined))
    assert(ManifestTable.candidateFiles(spark, root, snap,
      F.col("id") === 1000L).isEmpty, "absent key must bloom-prune")
    assert(ManifestTable.candidateFiles(spark, root, snap,
      F.col("payload") === "row7").nonEmpty, "present key must stay")
    // fallback: with maxRecordsPerFile set the one-file-per-task
    // mapping breaks, so the tap must refuse and the aggregate path
    // must produce the same pruning behavior
    val root2 = java.nio.file.Files.createTempDirectory("graft_tap2").toString
    ManifestTable.init(root2, Seq("id"), Seq("id", "payload"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "40")
    try ManifestTable.append(spark, root2, batch(0L, 100L).coalesce(1))
    finally spark.conf.set("spark.sql.files.maxRecordsPerFile", "0")
    val snap2 = ManifestTable.latest(root2).get
    assert(snap2.files.size == 3, s"expected 3 split files, ${snap2.files}")
    assert(snap2.files.forall(f =>
      ManifestStats.decode(snap2.stats(f)).bloomRef.isDefined),
      "aggregate fallback must still record blooms on split files")
    assert(ManifestTable.candidateFiles(spark, root2, snap2,
      F.col("id") === 1000L).isEmpty)
    assert(ManifestTable.candidateFiles(spark, root2, snap2,
      F.col("id") === 7L).size <= 2)
  }

  test("a LOCAL frame's bloom filters build inside its one write job too (append and appendBatch of an uncoalesced toDF)") {
    // Seq(...).toDF optimizes to a LocalRelation, which folds a
    // projection into driver-side rows: the tap must still run in the
    // write tasks, never fall back to the read-back aggregate
    val root = java.nio.file.Files.createTempDirectory("graft_taplocal").toString
    ManifestTable.init(root, Seq("id"), Seq("id", "payload"))
    def local(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"row$i")).toDF("id", "payload")
    for ((what, lo, write) <- Seq[(String, Long, () => Unit)](
      ("append", 0L, () => { ManifestTable.append(spark, root, local(0L, 300L)); () }),
      ("appendBatch", 300L, () => {
        ManifestTable.appendBatch(spark, root, 7L, local(300L, 600L)); ()
      }))) {
      val before = ManifestTable.latest(root).get.files.toSet
      val (_, jobs) = jobsDuring(write())
      assert(jobs.size == 1,
        s"bloom-table $what of a local frame launched ${jobs.size} jobs; " +
          "the filter must build inside the single write job: " +
          jobs.mkString(" // "))
      val snap = ManifestTable.latest(root).get
      val added = snap.files.filterNot(before)
      assert(added.nonEmpty && added.forall(f =>
        ManifestStats.decode(snap.stats(f)).bloomRef.isDefined),
        s"$what: every new file must carry a bloom")
      assert(ManifestTable.candidateFiles(spark, root, snap.copy(files = added),
        F.col("id") === 5000L).isEmpty, s"$what: absent key must bloom-prune")
      assert(ManifestTable.candidateFiles(spark, root, snap.copy(files = added),
        F.col("payload") === s"row$lo").nonEmpty, s"$what: present key must stay")
    }
  }

  test("bloom lifecycle: overfull files drop the filter; renames resolve; vacuum spares live sidecars and sweeps orphans") {
    val root = java.nio.file.Files.createTempDirectory("graft_bloom2").toString
    ManifestTable.init(root, Seq.empty, Seq("id"))
    // a file past BloomKeyCapacity distinct keys DROPS its bloom —
    // conservative (stays a candidate), never saturated-and-lying
    ManifestTable.append(spark, root,
      (0L until (ManifestStats.BloomKeyCapacity + 100L)).toDF("id")
        .coalesce(1))
    val over = ManifestTable.latest(root).get
    assert(over.files.forall(f =>
      ManifestStats.decode(over.stats(f)).bloomRef.isEmpty),
      "an overfull bloom must drop, not saturate")
    assert(ManifestTable.candidateFiles(spark, root, over,
      F.col("id") === 7L) == over.files)
    // fresh scattered table for the lifecycle half
    val root2 = scattered()
    // RENAME: blooms recorded under 'id' keep answering for 'key'
    // through the colmap chain
    ManifestTable.renameColumn(spark, root2, "id", "key")
    val renamed = ManifestTable.latest(root2).get
    assert(ManifestTable.candidateFiles(spark, root2, renamed,
      F.col("key") === 13L).size <= 2)
    // vacuum spares the LIVE bloom sidecars (they live in the data
    // token dirs of carried files)
    ManifestTable.vacuum(root2, orphanGraceMillis = 0L)
    val liveRefs = renamed.files.flatMap(f =>
      ManifestStats.decode(renamed.stats(f)).bloomRef).distinct
    assert(liveRefs.nonEmpty && liveRefs.forall(r =>
      new java.io.File(root2, r).exists), "vacuum ate a live bloom sidecar")
    // a clustering rewrite re-blooms everything; the old sidecars are
    // orphans and vacuum sweeps them
    ManifestTable.compact(spark, root2, targetFileBytes = 1L << 20,
      clusterBy = Seq("key"))
    ManifestTable.vacuum(root2, orphanGraceMillis = 0L)
    assert(liveRefs.forall(r => !new java.io.File(root2, r).exists),
      "orphaned bloom sidecars survived vacuum")
    val after = ManifestTable.latest(root2).get
    val newRefs = after.files.flatMap(f =>
      ManifestStats.decode(after.stats(f)).bloomRef).distinct
    assert(newRefs.forall(r => new java.io.File(root2, r).exists))
    assert(ManifestTable.readWhere(spark, root2, F.col("key") === 13L)
      .select("key").as[Long].collect().toSeq == Seq(13L))
  }

  test("tables without declared stat columns record only rows+bytes and never prune") {
    val root = java.nio.file.Files.createTempDirectory("graft_stats3").toString
    ManifestTable.init(root)
    ManifestTable.append(spark, root, batch(0, 50).coalesce(1))
    val snap = ManifestTable.latest(root).get
    // rows + on-disk bytes ride every filestat line even with no
    // declared columns (r17): footer + the writer's own listing, zero
    // Spark jobs — SQL planning and whole-table counts then never
    // touch the FS or the data
    assert(snap.stats.keySet == snap.files.toSet)
    val decoded = snap.files.map(f => ManifestStats.decode(snap.stats(f)))
    assert(decoded.forall(d => d.cols.isEmpty && d.bloomRef.isEmpty),
      "no column bounds or blooms on an undeclared table")
    assert(decoded.forall(_.rows == 50L))
    snap.files.foreach { f =>
      val onDisk = new java.io.File(root, f).length
      assert(decoded.head.bytes == onDisk,
        s"recorded bytes must equal the on-disk size of $f")
    }
    // no declared columns → nothing to prune on, ever
    assert(ManifestTable.candidateFiles(spark, snap, F.col("id") === 999L) ==
      snap.files)
    // the no-predicate count is METADATA-ONLY now — corrupt the data
    // file: the answer must still come from the recorded row counts
    snap.files.foreach(corrupt(root, _))
    assert(ManifestTable.countWhere(spark, root) == 50L)
  }

  test("footer-sourced stats are byte-identical to the aggregate's (parity law)") {
    // every supported stat type plus the nasties: nulls, NaN/Inf,
    // unicode, >MaxStringStat strings, an all-null column, negatives.
    // The write path records stats from the parquet FOOTERS (zero
    // Spark jobs); this law pins that those payloads equal what the
    // Spark aggregate would have written, column for column.
    val root = java.nio.file.Files.createTempDirectory("graft_parity").toString
    val cols = Seq("l", "i", "d", "f", "s", "dt", "ntz", "dec", "nul")
    ManifestTable.init(root, cols)
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 7, CAST(0.1 AS DOUBLE), CAST(2.5 AS FLOAT), 'aaa',
        |   DATE'1999-12-31', TIMESTAMP_NTZ'2001-02-03 04:05:06.789',
        |   CAST(1.20 AS DECIMAL(20,2)), CAST(NULL AS INT)),
        |  (-9L, NULL, CAST('NaN' AS DOUBLE), CAST(-2.5 AS FLOAT), 'züz',
        |   DATE'2024-02-29', TIMESTAMP_NTZ'1969-07-20 20:17:00',
        |   CAST(-3.75 AS DECIMAL(20,2)), CAST(NULL AS INT)),
        |  (42L, -3, CAST(4.5 AS DOUBLE), NULL, NULL,
        |   NULL, NULL, NULL, CAST(NULL AS INT))
        |AS t(l, i, d, f, s, dt, ntz, dec, nul)""".stripMargin)
      .coalesce(1)
    ManifestTable.append(spark, root, df)
    // a second file whose string bounds are oversized (>64 chars) —
    // both sources must DROP the string stat, not truncate it
    ManifestTable.append(spark, root, spark.sql(
      s"""SELECT 100L AS l, 1 AS i, CAST(1 AS DOUBLE) AS d,
         |  CAST(1 AS FLOAT) AS f, repeat('x', 65) AS s,
         |  DATE'2020-01-01' AS dt,
         |  TIMESTAMP_NTZ'2020-01-01 00:00:00' AS ntz,
         |  CAST(0 AS DECIMAL(20,2)) AS dec, CAST(NULL AS INT) AS nul
         |""".stripMargin).coalesce(1))
    val snap = ManifestTable.latest(root).get
    assert(snap.files.size == 2)
    // parity: per file, the committed payload's cols/rows equal the
    // aggregate's answer for the same file
    snap.files.foreach { file =>
      val committed = ManifestStats.decode(snap.stats(file))
      val (agg, _) = ManifestStats.aggregateStats(spark, root, Seq(file),
        cols, Seq.empty)
      val (aggRows, aggCols) = agg(file)
      assert(committed.rows == aggRows, s"row-count parity for $file")
      assert(committed.cols == aggCols,
        s"footer/aggregate divergence for $file:\n" +
          s"  footer:    ${committed.cols.toSeq.sortBy(_._1)}\n" +
          s"  aggregate: ${aggCols.toSeq.sortBy(_._1)}")
      assert(committed.bytes == new java.io.File(root, file).length)
    }
    // and the footer actually ANSWERED (no silent wholesale fallback)
    // for every self-written column shape here — EXCEPT 'd' in the
    // NaN file: parquet writers omit min/max when NaN is present
    // (PARQUET-1222 family), so the aggregate legitimately answers it
    val conf = spark.sparkContext.hadoopConfiguration
    snap.files.zipWithIndex.foreach { case (file, idx) =>
      val ff = ManifestStats.footerFile(conf, root, file, cols)
      cols.filterNot(c => c == "d" && idx == 0).foreach(c => assert(
        ff.cols(c) != ManifestStats.FooterUnknown,
        s"footer could not answer '$c' in $file — fallback fired"))
    }
    // spot-check the nasty semantics on file 1
    val st1 = ManifestStats.decode(snap.stats(snap.files.head))
    assert(!st1.cols.contains("d"), "NaN bounds must DROP the stat")
    assert(st1.cols("nul") == ManifestStats.ColStat(None, 3L),
      "all-null column records the null-only marker")
    assert(st1.cols("s").bounds.contains(("aaa", "züz")),
      "string bounds in unsigned UTF-8 byte order")
    assert(st1.cols("l").bounds.contains(("-9", "42")))
    assert(st1.cols("dec").bounds.contains(("-3.75", "1.20")),
      "decimal bounds keep their declared scale rendering")
    val st2 = ManifestStats.decode(snap.stats(snap.files(1)))
    assert(!st2.cols.contains("s"), "oversized string bounds must drop")
  }

  test("footer stats merge MULTI-ROW-GROUP files exactly (randomized parity, all physical shapes)") {
    import spark.implicits._
    // tiny parquet block size forces many row groups per file — the
    // footer path must merge per-block statistics with the exact
    // orderings the aggregate uses (raw-value merge, normalize once).
    // Randomized values (seeded) over every physical shape the writer
    // produces: INT32/INT64/FLBA decimals, INT64 long, double with
    // nulls, strings (unicode, shuffled so block mins/maxes differ),
    // date, and the session-default timestamp type.
    val rnd = new scala.util.Random(421742)
    val root = java.nio.file.Files.createTempDirectory("graft_rg").toString
    val rows = (0 until 60000).map { i =>
      val l = rnd.nextLong() % 1000000L
      (l,
        if (rnd.nextInt(10) == 0) null
        else java.lang.Double.valueOf(rnd.nextDouble() * 2e6 - 1e6),
        s"s${rnd.nextInt(100000)}züß",
        new java.math.BigDecimal(rnd.nextInt(1000000))
          .movePointLeft(2), // decimal(8,2)  -> INT32
        new java.math.BigDecimal(rnd.nextLong() % 100000000000L)
          .movePointLeft(4), // decimal(18,4) -> INT64
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          rnd.nextInt(30000).toLong)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          rnd.nextInt(2000000000).toLong, rnd.nextInt(1000000) * 1000L)))
    }
    val df = rows.toDF("l", "d", "s", "dec8", "dec18", "dt", "ts")
      .select(F.col("l"), F.col("d"), F.col("s"),
        F.col("dec8").cast("decimal(8,2)").as("dec8"),
        F.col("dec18").cast("decimal(18,4)").as("dec18"),
        F.col("dt"), F.col("ts"))
    df.coalesce(1).write
      .option("parquet.block.size", (64 * 1024).toString)
      .parquet(s"$root/data/tok1")
    val rel = new java.io.File(s"$root/data/tok1").listFiles()
      .map(_.getName).filter(n => n.startsWith("part-") &&
        n.endsWith(".parquet"))
      .map(n => s"data/tok1/$n").toSeq
    assert(rel.size == 1)
    // precondition: the file really has several row groups
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$root/${rel.head}"), conf))
    val nBlocks = try reader.getFooter.getBlocks.size finally reader.close()
    assert(nBlocks > 1, s"fixture must span row groups, got $nBlocks")
    val cols = Seq("l", "d", "s", "dec8", "dec18", "dt", "ts")
    // parity: whatever compute commits equals the aggregate's answer
    val payload = ManifestStats.compute(spark, root, rel, cols)
    val (agg, _) = ManifestStats.aggregateStats(spark, root, rel, cols,
      Seq.empty)
    val committed = ManifestStats.decode(payload(rel.head))
    val (aggRows, aggCols) = agg(rel.head)
    assert(committed.rows == aggRows)
    assert(committed.cols == aggCols,
      s"multi-row-group footer/aggregate divergence:\n" +
        s"  footer:    ${committed.cols.toSeq.sortBy(_._1)}\n" +
        s"  aggregate: ${aggCols.toSeq.sortBy(_._1)}")
    // and the block-merge path genuinely answered (not the fallback)
    // for the always-footerable shapes; ts depends on the session's
    // parquet timestamp encoding (INT96 falls back by design)
    val ff = ManifestStats.footerFile(conf, root, rel.head, cols)
    Seq("l", "d", "s", "dec8", "dec18", "dt").foreach(c => assert(
      ff.cols(c) != ManifestStats.FooterUnknown,
      s"footer could not answer '$c' across row groups"))
  }

  test("per-table bloom capacity: a small declared capacity drops blooms the default keeps") {
    import spark.implicits._
    // 100 distinct keys in one file: capacity 64 saturates → dropped;
    // the engine default (16384) records the filter
    val small = java.nio.file.Files.createTempDirectory("graft_cap1").toString
    ManifestTable.init(small, Seq("id"), Seq("id"), bloomKeyCapacity = 64L)
    ManifestTable.append(spark, small, (0L until 100L).toDF("id").coalesce(1))
    val sSnap = ManifestTable.latest(small).get
    assert(sSnap.files.forall(f =>
      ManifestStats.decode(sSnap.stats(f)).bloomRef.isEmpty),
      "an over-capacity file must drop its bloom, never saturate it")
    val dflt = java.nio.file.Files.createTempDirectory("graft_cap2").toString
    ManifestTable.init(dflt, Seq("id"), Seq("id"))
    ManifestTable.append(spark, dflt, (0L until 100L).toDF("id").coalesce(1))
    val dSnap = ManifestTable.latest(dflt).get
    assert(dSnap.files.forall(f =>
      ManifestStats.decode(dSnap.stats(f)).bloomRef.isDefined))
    // a RAISED capacity records where the default would drop
    val big = java.nio.file.Files.createTempDirectory("graft_cap3").toString
    val n = ManifestStats.BloomKeyCapacity + 100L
    ManifestTable.init(big, Seq("id"), Seq("id"),
      bloomKeyCapacity = 4L * ManifestStats.BloomKeyCapacity)
    ManifestTable.append(spark, big, (0L until n).toDF("id").coalesce(1))
    val bSnap = ManifestTable.latest(big).get
    assert(bSnap.files.forall(f =>
      ManifestStats.decode(bSnap.stats(f)).bloomRef.isDefined),
      "the raised capacity must keep the bloom past the default cap")
    // sanity: the raised-capacity table still reads and prunes
    assert(ManifestTable.readWhere(spark, big, F.col("id") === 7L)
      .count() == 1L)
  }
}
