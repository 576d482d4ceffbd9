package graft

import org.apache.spark.sql.{functions => F}

import graft.functions.Text
import graft.operators.{IvfIndex, IvfStore, ManifestTable, Retraction,
  SignatureStore}
import graft.sources.Tables

/** Retraction/takedown: a purge must (a) leave NO victim id in any
  * store file on disk, (b) leave every store row-identical to a store
  * rebuilt from scratch on the purged corpus, and (c) make purged
  * content re-admittable. */
class RetractionSpec extends SparkSpec {
  import spark.implicits._

  private val K = 16
  private val BANDS = 8
  private val TAU = 0.5
  private def sh3(c: org.apache.spark.sql.Column) = Text.distinctShingles(c, 3)

  /** Every id present in any parquet file under `root`, read from the
    * FILES directly (no manifest/glob indirection — this is the
    * is-it-really-gone-from-disk check). */
  private def diskIds(root: String, idCol: String): Set[Long] = {
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    val files =
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet") &&
          !p.getFileName.toString.startsWith("."))
        .map(_.toString).toSeq
      finally s.close()
    if (files.isEmpty) Set.empty
    else spark.read.option("mergeSchema", "true").parquet(files: _*)
      // a deletion-vector sidecar carries (file, pos), not the id —
      // its rows read NULL for the id column and are not "bytes of
      // a victim row" (they hold positions, not content)
      .select(F.col(idCol).cast("long")).na.drop().distinct()
      .as[Long].collect().toSet
  }

  test("tri-store purge: victims gone from disk, stores identical to a from-scratch rebuild on the purged corpus") {
    val docs = Tables.scan(spark, sf, "documents")
    val corpus = docs.filter(F.col("doc_id") % 3 =!= 0)
      .select("doc_id", "text", "lang", "source")
    val batch = docs.filter(F.col("doc_id") % 3 === 0)
      .select("doc_id", "text", "lang", "source")

    val corpusRoot = Workspace.dir("retract_corpus")
    val sigRoot = Workspace.dir("retract_sigs")
    Seq(corpusRoot, sigRoot).foreach(r =>
      ExtShared.deleteRec(new java.io.File(r)))

    // standing pipeline: manifest corpus + signature store, batch
    // ingested through the store, survivors appended to the corpus
    ManifestTable.init(corpusRoot)
    ManifestTable.append(spark, corpusRoot, corpus)
    SignatureStore.init(corpus, "doc_id", "text", sigRoot, K, BANDS, sh3)
    val kept = SignatureStore
      .ingest(spark, sigRoot, batch, "doc_id", "text", K, BANDS, TAU, sh3)
    ManifestTable.append(spark, corpusRoot, kept)

    val storedIds = SignatureStore.signatures(spark, sigRoot)
      .select("doc_id").distinct().as[Long].collect().toSet
    val victims = storedIds.filter(_ % 5 == 0).toSeq.sorted
    assert(victims.nonEmpty, "fixture produced no victims")

    val report = Retraction.purge(spark, victims, "doc_id",
      corpusRoot = Some(corpusRoot), signatureRoot = Some(sigRoot))
    assert(report.corpusRows == victims.size,
      s"corpus removed ${report.corpusRows} rows for ${victims.size} victims")
    assert(report.signatureRows == victims.size.toLong * BANDS,
      "signature store did not remove exactly bands rows per victim")

    // (a) NOTHING survives on disk — including superseded manifest
    // snapshot files (vacuumed by the purge) and rewritten gen dirs
    assert(diskIds(corpusRoot, "doc_id").intersect(victims.toSet).isEmpty,
      "victim rows still readable in corpus data files")
    assert(diskIds(sigRoot, "doc_id").intersect(victims.toSet).isEmpty,
      "victim signatures still readable in store files")

    // (b) row-identical to a from-scratch rebuild on the purged corpus
    val purgedCorpus = ManifestTable.read(spark, corpusRoot)
    assert(purgedCorpus.select("doc_id").as[Long].collect().toSet ==
      storedIds -- victims)
    val rebuiltRoot = Workspace.dir("retract_rebuilt")
    ExtShared.deleteRec(new java.io.File(rebuiltRoot))
    SignatureStore.init(purgedCorpus, "doc_id", "text", rebuiltRoot,
      K, BANDS, sh3)
    val sigCols = Seq("doc_id", "band_idx", "band_hash") ++
      (0 until K).map(i => s"mh$i")
    def rows(root: String) = SignatureStore.signatures(spark, root)
      .select(sigCols.map(F.col): _*).collect().map(_.toSeq).toSet
    assert(rows(sigRoot) == rows(rebuiltRoot),
      "purged store differs from a rebuild on the purged corpus")
  }

  test("vector-store purge: assignments gone from disk, search identical to re-assigning the purged vectors") {
    val emb = Tables.scan(spark, sf, "embeddings")
    val ivfRoot = Workspace.dir("retract_ivf")
    ExtShared.deleteRec(new java.io.File(ivfRoot))
    IvfStore.init(emb, "vec_id", "embedding", k = 4, iters = 3, ivfRoot)
    val victims = emb.filter(F.col("vec_id") % 7 === 0)
      .select("vec_id").as[Long].collect().toSeq.sorted
    assert(victims.nonEmpty)

    val report = Retraction.purge(spark, victims, "vec_id",
      ivfRoot = Some(ivfRoot))
    assert(report.vectorRows == victims.size.toLong)
    assert(report.corpusRows == -1L && report.signatureRows == -1L)
    assert(diskIds(s"$ivfRoot/assigned", "id")
      .intersect(victims.toSet).isEmpty,
      "victim vectors still readable in assignment files")

    // rebuild = re-assign the purged vectors against the SAME stored
    // centroids (assignment is deterministic given centroids);
    // append-on-an-emptied-index is exactly that assignment path
    val idx = IvfStore.load(spark, ivfRoot, "vec_id", "embedding")
    val rebuilt = IvfIndex.append(
      idx.copy(assigned = idx.assigned.limit(0)),
      emb.filter(!F.col("vec_id").isin(victims: _*))).assigned
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cell").collect()
        .map(r => (r.getLong(0), r.getAs[Number]("cell").longValue())).toSet
    assert(cells(idx.assigned) == cells(rebuilt),
      "purged assignments differ from re-assigning the purged corpus")
    // and search over the purged store never returns a victim
    val queries = emb.filter(F.col("vec_id") < 5)
    val hits = IvfIndex.topK(idx, queries, k = 10, nprobe = 2)
      .select("match_id").as[Long].collect().toSet
    assert(hits.intersect(victims.toSet).isEmpty,
      "a purged vector surfaced in post-purge search results")
  }

  test("predicate purge (purgeWhere) equals the id-list form and sweeps victims from disk") {
    import org.apache.spark.sql.{functions => FF}
    val docs = Tables.scan(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source")
    val corpusRoot = Workspace.dir("retractw_corpus")
    val sigRoot = Workspace.dir("retractw_sigs")
    val twinRoot = Workspace.dir("retractw_twin")
    Seq(corpusRoot, sigRoot, twinRoot).foreach(r =>
      ExtShared.deleteRec(new java.io.File(r)))
    ManifestTable.init(corpusRoot)
    ManifestTable.append(spark, corpusRoot, docs)
    SignatureStore.init(docs, "doc_id", "text", sigRoot, K, BANDS, sh3)
    SignatureStore.init(docs, "doc_id", "text", twinRoot, K, BANDS, sh3)

    import spark.implicits._
    val victimIds = docs.filter(FF.col("source") === "src3")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(victimIds.nonEmpty)
    val report = graft.operators.Retraction.purgeWhere(spark,
      FF.col("source") === "src3", "doc_id", corpusRoot,
      signatureRoot = Some(sigRoot))
    assert(report.corpusRows == victimIds.size.toLong)
    assert(report.signatureRows == victimIds.size.toLong * BANDS)
    // frame purge == list purge, row for row (incl. gen provenance)
    SignatureStore.purge(spark, twinRoot, "doc_id", victimIds)
    def rows(r: String) = SignatureStore.signaturesWithGen(spark, r)
      .collect().map(_.toSeq).toSet
    assert(rows(sigRoot) == rows(twinRoot),
      "purgeIds diverged from the isin purge")
    // disk sweep on both stores
    assert(diskIds(corpusRoot, "doc_id")
      .intersect(victimIds.toSet).isEmpty)
    assert(diskIds(sigRoot, "doc_id").intersect(victimIds.toSet).isEmpty)
  }

  test("lifecycle interleave: batch ingests, purge, compaction, and replay guards compose") {
    import spark.implicits._
    val root = Workspace.dir("retract_lifecycle")
    ExtShared.deleteRec(new java.io.File(root))
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textB = "totally different words lambda mu nu xi omicron pi rho"
    val textC = "yet another corpus entry sigma tau upsilon phi chi psi"
    def ingest(gen: Long, rows: (Long, String)*): Boolean =
      SignatureStore.ingestBatch(spark, root, gen,
        rows.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", K, BANDS, TAU, sh3)
    assert(ingest(0, 1L -> textA, 2L -> textB))
    assert(ingest(1, 10L -> textC, 11L -> textA)) // 11 dup of 1 → dropped
    def members(): Set[Long] = SignatureStore.signatures(spark, root)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(members() == Set(1L, 2L, 10L))

    // forget doc 1, then a copy re-admits through the BATCH protocol
    SignatureStore.purge(spark, root, "doc_id", Seq(1L))
    assert(ingest(2, 20L -> textA))
    assert(members() == Set(2L, 10L, 20L))

    // fold everything; folded generations refuse replay, new ones land
    SignatureStore.compactGenerations(spark, root, upTo = 2)
    assert(!ingest(1, 10L -> textC, 11L -> textA),
      "folded generation re-committed under replay")
    assert(ingest(3, 30L -> "completely fresh final batch words here ok"))
    assert(members() == Set(2L, 10L, 20L, 30L))
    // and a post-compaction purge still reaches the base
    SignatureStore.purge(spark, root, "doc_id", Seq(10L))
    assert(members() == Set(2L, 20L, 30L))
  }

  test("purge rewrites only victim-holding files; unaffected generations stay byte-identical on disk") {
    import spark.implicits._
    val root = Workspace.dir("retract_fold")
    ExtShared.deleteRec(new java.io.File(root))
    val texts = Map(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "unrelated words about lambda mu nu xi omicron pi rho sigma",
      10L -> "yet another corpus entry tau upsilon phi chi psi omega one",
      20L -> "completely fresh final batch words here again ok fine")
    def df(ids: Long*) = ids.map(i => i -> texts(i)).toDF("doc_id", "text")
    SignatureStore.init(df(1L, 2L), "doc_id", "text", root, K, BANDS, sh3)
    assert(SignatureStore.ingestBatch(spark, root, 1, df(10L),
      "doc_id", "text", K, BANDS, TAU, sh3))
    assert(SignatureStore.ingestBatch(spark, root, 2, df(20L),
      "doc_id", "text", K, BANDS, TAU, sh3))
    def fileState(dir: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      finally s.close()
    }
    // the files that do NOT hold the victim must be carried through
    // the purge byte-identical (copy-on-write rewrites only the
    // affected files; unaffected generations' files never move)
    import graft.operators.ManifestTable
    val preSnap = ManifestTable.latest(root).get
    val untouched = preSnap.files.filterNot(
      ManifestTable.candidateFiles(spark, root, preSnap,
        F.col("doc_id") === 1L).toSet)
    assert(untouched.nonEmpty, "fixture: no unaffected files to pin")
    val beforeState = untouched.map(f => fileState(s"$root/$f"))
    SignatureStore.purge(spark, root, "doc_id", Seq(1L))
    val postFiles = ManifestTable.latest(root).get.files.toSet
    assert(untouched.forall(postFiles), "purge dropped an unaffected file")
    assert(untouched.map(f => fileState(s"$root/$f")) == beforeState,
      "purge touched files that hold no victim")
    def members() = SignatureStore.signatures(spark, root)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(members() == Set(2L, 10L, 20L))
    // provenance survives the fold
    assert(SignatureStore.signaturesAsOf(spark, root, 0)
      .select("doc_id").distinct().as[Long].collect().toSet == Set(2L))
  }

  test("ledger admission guard: ingest after a crashed purge fails loudly until resume; tmp sweep is age-gated") {
    import graft.operators.TakedownLedger
    val docs = Tables.scan(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source")
    val roots = Seq("rg_corpus", "rg_sigs", "rg_ledger").map(Workspace.dir)
    roots.foreach(r => ExtShared.deleteRec(new java.io.File(r)))
    val Seq(corpusRoot, sigRoot, ledger) = roots
    ManifestTable.init(corpusRoot)
    ManifestTable.append(spark, corpusRoot, docs)
    SignatureStore.init(docs, "doc_id", "text", sigRoot, K, BANDS, sh3)
    val victims = docs.filter(F.col("doc_id") % 5 === 0)
      .select("doc_id").as[Long].collect().toSeq
    intercept[RuntimeException] {
      Retraction.purge(spark, victims, "doc_id",
        corpusRoot = Some(corpusRoot), signatureRoot = Some(sigRoot),
        ledgerRoot = Some(ledger),
        afterStep = name => if (name == "corpus")
          throw new RuntimeException("injected crash"))
    }
    // guarded ingests REFUSE while the takedown is pending — on both
    // the corpus and the signature store the entry targets
    val more = docs.filter(F.col("doc_id") % 7 === 1).limit(5)
    val g1 = intercept[IllegalStateException] {
      ManifestTable.append(spark, corpusRoot, more,
        guardLedger = Some(ledger))
    }
    assert(g1.getMessage.contains("Retraction.resume"))
    intercept[IllegalStateException] {
      SignatureStore.ingest(spark, sigRoot, more, "doc_id", "text",
        K, BANDS, TAU, sh3, guardLedger = Some(ledger))
    }
    // the guard names only the targeted stores
    TakedownLedger.requireClear(ledger, Workspace.dir("rg_other"))
    // tmp sweep is age-gated: a live record()'s fresh temp dir
    // survives pending(); a stale orphan is swept
    val live = java.nio.file.Paths.get(ledger, ".tmp-live")
    val stale = java.nio.file.Paths.get(ledger, ".tmp-stale")
    java.nio.file.Files.createDirectories(live)
    java.nio.file.Files.createDirectories(stale)
    java.nio.file.Files.setLastModifiedTime(stale,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000))
    assert(TakedownLedger.pending(ledger).size == 1)
    assert(java.nio.file.Files.exists(live),
      "sweep deleted a fresh (possibly live) record() temp dir")
    assert(!java.nio.file.Files.exists(stale),
      "sweep spared a stale orphan past the grace")
    java.nio.file.Files.delete(live)
    // resume is the fix: afterwards both guarded ingests admit
    Retraction.resume(spark, ledger)
    ManifestTable.append(spark, corpusRoot, more, guardLedger = Some(ledger))
    SignatureStore.ingest(spark, sigRoot, more, "doc_id", "text",
      K, BANDS, TAU, sh3, guardLedger = Some(ledger))
    // an ivf-targeting entry guards the ivf root specifically
    val e = TakedownLedger.record(spark, ledger, "doc_id",
      None, None, Some(Workspace.dir("rg_ivf")), 0L, Left(Seq(1L)))
    intercept[IllegalStateException] {
      TakedownLedger.requireClear(ledger, Workspace.dir("rg_ivf"))
    }
    // the guard matches the STORE, not the spelling: a trailing
    // slash or a file: URI naming the same root must still block
    intercept[IllegalStateException] {
      TakedownLedger.requireClear(ledger, Workspace.dir("rg_ivf") + "/")
    }
    intercept[IllegalStateException] {
      TakedownLedger.requireClear(ledger, "file:" + Workspace.dir("rg_ivf"))
    }
    TakedownLedger.clear(e)
  }

  test("ledgered purge killed between stores resumes to the uninterrupted end state") {
    import graft.operators.TakedownLedger
    val docs = Tables.scan(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source")
    val roots = Seq("rl_corpus", "rl_sigs", "rl_twin_corpus",
      "rl_twin_sigs", "rl_ledger").map(Workspace.dir)
    roots.foreach(r => ExtShared.deleteRec(new java.io.File(r)))
    val Seq(corpusRoot, sigRoot, twinCorpus, twinSigs, ledger) = roots
    for ((c, s) <- Seq((corpusRoot, sigRoot), (twinCorpus, twinSigs))) {
      ManifestTable.init(c)
      ManifestTable.append(spark, c, docs)
      SignatureStore.init(docs, "doc_id", "text", s, K, BANDS, sh3)
    }
    val victims = docs.filter(F.col("doc_id") % 5 === 0)
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(victims.nonEmpty)

    // uninterrupted twin = the oracle end state
    val want = Retraction.purge(spark, victims, "doc_id",
      corpusRoot = Some(twinCorpus), signatureRoot = Some(twinSigs))

    // kill the ledgered purge right after the corpus step confirms
    val boom = intercept[RuntimeException] {
      Retraction.purge(spark, victims, "doc_id",
        corpusRoot = Some(corpusRoot), signatureRoot = Some(sigRoot),
        ledgerRoot = Some(ledger),
        afterStep = name => if (name == "corpus")
          throw new RuntimeException("injected crash"))
    }
    assert(boom.getMessage == "injected crash")
    // the crash left victim SIGNATURES on disk, and a pending entry
    // that knows the corpus step already confirmed
    assert(diskIds(sigRoot, "doc_id").intersect(victims.toSet).nonEmpty,
      "fixture: crash did not leave unpurged signature bytes")
    val pending = TakedownLedger.pending(ledger)
    assert(pending.size == 1)
    assert(TakedownLedger.doneCount(pending.head, "corpus")
      .contains(want.corpusRows))
    assert(TakedownLedger.doneCount(pending.head, "signatures").isEmpty)

    // resume finishes exactly the missing steps; the report carries
    // the crashed run's confirmed corpus count from the ledger
    val resumed = Retraction.resume(spark, ledger)
    assert(resumed == Seq(want), s"$resumed vs $want")
    assert(TakedownLedger.pending(ledger).isEmpty,
      "resume left a confirmed entry in the ledger")
    assert(diskIds(corpusRoot, "doc_id").intersect(victims.toSet).isEmpty)
    assert(diskIds(sigRoot, "doc_id").intersect(victims.toSet).isEmpty)
    def rows(r: String) = SignatureStore.signaturesWithGen(spark, r)
      .collect().map(_.toSeq).toSet
    assert(rows(sigRoot) == rows(twinSigs),
      "resumed store differs from the uninterrupted purge")
    assert(ManifestTable.read(spark, corpusRoot).select("doc_id")
      .as[Long].collect().toSet ==
      ManifestTable.read(spark, twinCorpus).select("doc_id")
        .as[Long].collect().toSet)
    // resuming an empty ledger is a no-op
    assert(Retraction.resume(spark, ledger).isEmpty)
  }

  test("cross-store audit flags the drift a crashed purge leaves and goes quiet after resume") {
    val docs = Tables.scan(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source")
    val roots = Seq("ra_corpus", "ra_sigs", "ra_ledger").map(Workspace.dir)
    roots.foreach(r => ExtShared.deleteRec(new java.io.File(r)))
    val Seq(corpusRoot, sigRoot, ledger) = roots
    ManifestTable.init(corpusRoot)
    ManifestTable.append(spark, corpusRoot, docs)
    SignatureStore.init(docs, "doc_id", "text", sigRoot, K, BANDS, sh3)
    // consistent stores → silent audit
    assert(Retraction.auditStores(spark, "doc_id",
      corpusRoot = Some(corpusRoot), signatureRoot = Some(sigRoot))
      .isEmpty, "audit flagged drift on consistent stores")
    val victims = docs.filter(F.col("doc_id") % 5 === 0)
      .select("doc_id").as[Long].collect().toSeq.sorted
    intercept[RuntimeException] {
      Retraction.purge(spark, victims, "doc_id",
        corpusRoot = Some(corpusRoot), signatureRoot = Some(sigRoot),
        ledgerRoot = Some(ledger),
        afterStep = name => if (name == "corpus")
          throw new RuntimeException("injected crash"))
    }
    // the audit names exactly the victims: gone from the corpus,
    // still readable in the signature store
    val drift = Retraction.auditStores(spark, "doc_id",
      corpusRoot = Some(corpusRoot), signatureRoot = Some(sigRoot))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
    assert(drift.map(_._1).toSet == victims.toSet,
      s"audit drift ids ${drift.map(_._1).toSet} vs victims")
    assert(drift.forall { case (_, inCorpus, inSigs) => !inCorpus && inSigs })
    Retraction.resume(spark, ledger)
    assert(Retraction.auditStores(spark, "doc_id",
      corpusRoot = Some(corpusRoot), signatureRoot = Some(sigRoot))
      .isEmpty, "audit still flags drift after resume")
  }

  test("ledgered purgeWhere pins the victim frame in the entry; a crash after the first store still resumes") {
    import graft.operators.TakedownLedger
    val docs = Tables.scan(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source")
    val roots = Seq("rlw_corpus", "rlw_sigs", "rlw_ledger")
      .map(Workspace.dir)
    roots.foreach(r => ExtShared.deleteRec(new java.io.File(r)))
    val Seq(corpusRoot, sigRoot, ledger) = roots
    ManifestTable.init(corpusRoot)
    ManifestTable.append(spark, corpusRoot, docs)
    SignatureStore.init(docs, "doc_id", "text", sigRoot, K, BANDS, sh3)
    val victimIds = docs.filter(F.col("source") === "src3")
      .select("doc_id").as[Long].collect().toSet
    assert(victimIds.nonEmpty)

    // crash right after the FIRST store (corpus) confirms
    intercept[RuntimeException] {
      Retraction.purgeWhere(spark, F.col("source") === "src3", "doc_id",
        corpusRoot, signatureRoot = Some(sigRoot),
        ledgerRoot = Some(ledger),
        afterStep = _ => throw new RuntimeException("injected crash"))
    }
    // the pinned frame is durable in the entry, and only the corpus
    // step confirmed — signatures still hold victim bytes
    val e = TakedownLedger.pending(ledger).head
    assert(e.ids.isEmpty, "frame-shaped entry carried inline ids")
    assert(spark.read.parquet(TakedownLedger.victimsPath(e))
      .as[Long].collect().toSet == victimIds,
      "pinned victim frame does not match the predicate population")
    assert(TakedownLedger.doneCount(e, "corpus").nonEmpty)
    assert(diskIds(sigRoot, "doc_id").intersect(victimIds).nonEmpty)

    val resumed = Retraction.resume(spark, ledger)
    assert(resumed.size == 1)
    assert(resumed.head.corpusRows == victimIds.size.toLong)
    assert(resumed.head.signatureRows == victimIds.size.toLong * BANDS)
    assert(diskIds(corpusRoot, "doc_id").intersect(victimIds).isEmpty)
    assert(diskIds(sigRoot, "doc_id").intersect(victimIds).isEmpty)
    assert(TakedownLedger.pending(ledger).isEmpty)
  }

  test("purge membership is one grouped scan: job count does not grow with the generation count") {
    import spark.implicits._
    val root = Workspace.dir("retract_jobs")
    ExtShared.deleteRec(new java.io.File(root))
    val words = Seq("alpha beta gamma delta", "epsilon zeta eta theta",
      "iota kappa lambda mu", "nu xi omicron pi",
      "rho sigma tau upsilon", "phi chi psi omega",
      "one two three four", "five six seven eight")
    SignatureStore.init(Seq(0L -> words(0)).toDF("doc_id", "text"),
      "doc_id", "text", root, K, BANDS, sh3)
    for (g <- 1 until 8)
      assert(SignatureStore.ingestBatch(spark, root, g.toLong,
        Seq(g.toLong -> words(g)).toDF("doc_id", "text"),
        "doc_id", "text", K, BANDS, TAU, sh3))

    // AQE submits one stage-materialization job per union branch,
    // which would re-introduce O(generations) JOBS (though parallel
    // and single-action); turn it off so the metric is the actions
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (_, jobs) =
      try jobsDuring(SignatureStore.purge(spark, root, "doc_id", Seq(3L)))
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    // one grouped membership scan + the base-fold write — NOT one
    // count action per live generation (8 here); the old
    // per-generation loop alone cost 9 actions before any rewrite
    assert(jobs.size <= 4,
      s"purge over 8 generations launched ${jobs.size} jobs: " +
        jobs.mkString(" // "))
    assert(SignatureStore.signatures(spark, root)
      .select("doc_id").distinct().as[Long].collect().toSet ==
      (0L until 8L).toSet - 3L)
  }

  test("re-admission: a near-copy of a purged doc is admitted where it was dropped before") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "unrelated words about lambda mu nu xi omicron pi rho sigma"))
      .toDF("doc_id", "text")
    val root = Workspace.dir("retract_readmit")
    ExtShared.deleteRec(new java.io.File(root))
    SignatureStore.init(base, "doc_id", "text", root, K, BANDS, sh3)

    val copyOf1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dropped = SignatureStore.ingest(spark, root,
      Seq((10L, copyOf1)).toDF("doc_id", "text"),
      "doc_id", "text", K, BANDS, TAU, sh3)
    assert(dropped.count() == 0L, "exact copy was not dropped pre-purge")

    SignatureStore.purge(spark, root, "doc_id", Seq(1L))
    val admitted = SignatureStore.ingest(spark, root,
      Seq((11L, copyOf1)).toDF("doc_id", "text"),
      "doc_id", "text", K, BANDS, TAU, sh3)
    assert(admitted.select("doc_id").as[Long].collect().toSeq == Seq(11L),
      "near-copy of a purged doc was still suppressed after the purge")
  }

  test("merge-on-read purge: recall lands first, the fold erases the bytes, and resume-shaped CoW completes an abandoned DV") {
    val corpusRoot = Workspace.dir("retract_mor")
    ExtShared.deleteRec(new java.io.File(corpusRoot))
    val docs = (0L until 200L)
      .map(i => (i, s"document body number $i with some words"))
      .toDF("doc_id", "text")
    ManifestTable.init(corpusRoot, Seq("doc_id"))
    ManifestTable.append(spark, corpusRoot, docs)
    val victims = (0L until 200L by 10).toSeq

    val report = Retraction.purge(spark, victims, "doc_id",
      corpusRoot = Some(corpusRoot), morDeletes = true)
    assert(report.corpusRows == victims.size)
    // fully erased: rows unreadable, NO standing DV, and no victim
    // BYTES anywhere on disk (fold + zero-grace vacuum swept the
    // superseded files and the sidecar)
    assert(ManifestTable.read(spark, corpusRoot)
      .filter(F.col("doc_id").isin(victims: _*)).count() == 0L)
    val snap = ManifestTable.latest(corpusRoot).get
    assert(snap.files.forall(f => snap.stats.get(f).forall(p =>
      graft.operators.ManifestStats.decodeCached(p).dvRef.isEmpty)),
      "the purge left a standing deletion vector")
    assert(diskIds(corpusRoot, "doc_id")
      .intersect(victims.toSet).isEmpty,
      "victim bytes still readable on disk after a MoR purge")

    // an ABANDONED MoR delete (recall committed, erase never ran —
    // the crash-between shape): a later purge of OTHER ids through
    // the ordinary CoW path must still fold and erase it (the resume
    // path re-enters exactly this code with morDeletes=false)
    ManifestTable.deleteWhereMoR(spark, corpusRoot,
      F.col("doc_id") === 7L)
    assert(diskIds(corpusRoot, "doc_id").contains(7L),
      "fixture: the DV'd bytes should still be on disk pre-fold")
    Retraction.purge(spark, Seq(13L), "doc_id",
      corpusRoot = Some(corpusRoot))
    assert(!diskIds(corpusRoot, "doc_id").contains(7L),
      "the CoW purge must fold and erase the abandoned DV's bytes")
    assert(!diskIds(corpusRoot, "doc_id").contains(13L))
    assert(ManifestTable.read(spark, corpusRoot).count() ==
      200L - victims.size - 2L)
  }
}
