package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}

/** Materialized incremental LSH signature store — the standing-
  * pipeline seam [[Dedup.incrementalNearDedup]] documents: instead of
  * recomputing the ENTIRE corpus's MinHash signatures on every ingest
  * (a full-corpus tokenize+hash per batch — at 100 TB that nullifies
  * the incrementality), the banded signatures are written as parquet
  * ONCE, and each ingest appends only the kept batch's signatures.
  * From then on a batch is deduplicated by joining its (batch-sized)
  * banded signatures against the store scan — corpus text is never
  * read again (SignatureStoreSpec proves it by deleting the corpus
  * file between init and ingest).
  *
  * PERSISTENCE = a [[ManifestTable]] (one commit protocol for the
  * whole engine, replacing the former bespoke `gen=N`-directory +
  * versioned-base layout):
  *  - every ingest commits through the table's exactly-once batch
  *    ledger (`#batch:<gen>` marker and file list publish in ONE
  *    atomic commit), so generation numbering and streaming replay
  *    protection are the same mechanism — a replayed micro-batch
  *    finds its marker and computes, reads, and writes NOTHING;
  *  - `gen` rides every row as a DATA column (ingest provenance), so
  *    [[signaturesAsOf]] is a plain filter that works identically
  *    before and after compaction;
  *  - the id column is a declared stat+BLOOM column: a purge's victim
  *    scan prunes to the files that may hold victim ids
  *    ([[ManifestTable.deleteIds]]) instead of folding every
  *    generation up to the affected one;
  *  - [[compactGenerations]] is manifest compaction (concurrent-
  *    append-safe, snapshot-isolated) + the store's eager byte sweep;
  *  - [[purge]]/[[purgeIds]] are copy-on-write row deletes followed
  *    by an IMMEDIATE byte sweep (expire old manifests + zero-grace
  *    vacuum): a takedown must erase victim signatures from disk NOW,
  *    not at the next maintenance pass. Zero grace is safe under the
  *    store's single-writer contract.
  *
  * Store row shape = [[Dedup.bandedSignatures]]: (id, band_idx,
  * band_hash, mh0..mh{k-1}) plus `gen` — `bands` constant-width rows
  * per document regardless of document size, so the store is a small
  * multiple of an id column, not of the corpus.
  *
  * WRITE CONTRACT — single writer, as before: [[ingest]] numbers
  * itself `latestGeneration + 1`, so two concurrent ingests would
  * claim the same generation (and each would dedup against a store
  * missing the other's rows — a logical race no commit protocol
  * fixes). Serialize ingests (and the maintenance ops) per store; the
  * streaming path gets this for free because `foreachBatch` runs
  * micro-batches sequentially. Concurrent READERS are snapshot-safe
  * against everything EXCEPT the byte sweeps ([[purge]]'s zero-grace
  * vacuum — the reader-retention rule [[ManifestTable.vacuum]]
  * documents). */
object SignatureStore {

  /** The manifest's declared columns for a store keyed on `idCol`:
    * `gen` bounds prune as-of reads, the id's bounds + Bloom prune
    * purge victim scans. */
  private def initTable(root: String, idCol: String): Unit =
    ManifestTable.init(root, Seq("gen", idCol), Seq(idCol))

  /** Initialize the store from the starting corpus (generation 0).
    * The only moment corpus text is ever read. CLEARS any existing
    * store under `root` first — a re-init is a reset, never a merge
    * with stale generations. */
  def init(corpus: DataFrame, idCol: String, textCol: String,
           root: String, k: Int, bands: Int,
           terms: Column => Column): Unit = {
    val spark = corpus.sparkSession
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    initTable(root, idCol)
    ManifestTable.appendBatch(spark, root, 0L,
      Dedup.bandedSignatures(corpus, idCol, textCol, k, bands, terms)
        .withColumn("gen", F.lit(0L)))
    ()
  }

  /** The store's banded signatures WITH the `gen` provenance column. */
  def signaturesWithGen(spark: SparkSession, root: String): DataFrame =
    ManifestTable.read(spark, root)

  /** The store's banded signatures across all generations (the `gen`
    * provenance column dropped — [[Dedup.incrementalDrops]] expects
    * the bare [[Dedup.bandedSignatures]] shape). */
  def signatures(spark: SparkSession, root: String): DataFrame =
    signaturesWithGen(spark, root).drop("gen")

  /** The store AS OF generation `gen` — the provenance replay the
    * `gen` column exists for: exactly the signatures admitted by
    * ingests 0..gen, in the bare [[Dedup.bandedSignatures]] shape.
    * A plain data-column filter, so it reads identically before and
    * after compaction (parquet row-group stats prune within files). */
  def signaturesAsOf(spark: SparkSession, root: String,
                     gen: Long): DataFrame =
    signaturesWithGen(spark, root)
      .filter(F.col("gen") <= gen).drop("gen")

  /** Highest generation ever committed (−1 if none) — answered from
    * the manifest's batch ledger alone, zero data I/O. The ledger is
    * authoritative even for EMPTY generations (a batch whose rows all
    * deduplicated away still consumed its number) and survives
    * compaction, which carries metadata lines verbatim. Long like the
    * ledger id itself — a store fed by a long-lived streaming sink
    * must not wrap its generation numbering at Int.MaxValue. */
  def latestGeneration(spark: SparkSession, root: String): Long =
    ManifestTable.latest(root)
      .map(ManifestTable.ledgerHigh).getOrElse(-1L)

  /** Ingest one batch: near-dedup `incoming` against the store
    * (in-batch + cross drops, [[Dedup.incrementalDrops]] semantics),
    * append the SURVIVORS' banded signatures as the next generation,
    * and return the surviving rows.
    *
    * Scale shape: the batch's signatures are computed once and pinned
    * (localCheckpoint — batch-sized, the small side by construction);
    * the drop-id set (≤ batch ids) is pinned the same way so the
    * store-probe join executes exactly once, feeding both the
    * appended signatures and the returned rows. The corpus-side scan
    * reads constant-width signature rows from parquet — never text —
    * and AQE broadcasts the batch side against it. */
  def ingest(spark: SparkSession, root: String, incoming: DataFrame,
             idCol: String, textCol: String, k: Int, bands: Int,
             threshold: Double, terms: Column => Column,
             guardLedger: Option[String] = None): DataFrame = {
    // admission guard: never probe-and-append against a store a
    // crashed takedown still owes a purge (victim signatures would
    // veto near-copies of retracted content — the exact behavior a
    // retraction must erase). Run Retraction.resume first.
    guardLedger.foreach(TakedownLedger.requireClear(_, root))
    // ONE manifest read serves the store scan, the generation number,
    // and the append's replay check + first commit attempt (guide §6
    // round-trips; safe under the store's single-writer contract —
    // the three reads could never legitimately disagree)
    val head = ManifestTable.latest(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root"))
    val bandedB = Dedup
      .bandedSignatures(incoming, idCol, textCol, k, bands, terms)
      .localCheckpoint(eager = true)
    val drops = Dedup
      .incrementalDrops(ManifestTable.readSnapshot(spark, root, head).drop("gen"),
        bandedB, idCol, k, threshold)
      .localCheckpoint(eager = true)
    val nextGen = ManifestTable.ledgerHigh(head) + 1
    ManifestTable.appendBatchWith(spark, root, nextGen,
      bandedB.join(drops, Seq(idCol), "left_anti")
        .withColumn("gen", F.lit(nextGen)), Some(head))
    incoming.join(drops, Seq(idCol), "left_anti")
  }

  /** Idempotent generation commit — the streaming half of the store.
    * A micro-batch sink calls this with a DETERMINISTIC generation
    * number (`base + batchId`); Structured Streaming's replay
    * contract (a failed batch re-runs with the SAME id and data)
    * then makes the store exactly-once through the manifest's batch
    * ledger: a committed generation returns false WITHOUT reading,
    * computing, or writing anything (the store stays byte-identical
    * under replay — the marker check precedes the signature
    * computation). Correctness under replay needs determinism of the
    * probe set: `foreachBatch` runs batches sequentially, so at batch
    * b the store holds exactly generations < `gen` — the same state
    * every replay of b sees. Returns true iff this call committed. */
  def ingestBatch(spark: SparkSession, root: String, gen: Long,
                  incoming: DataFrame, idCol: String, textCol: String,
                  k: Int, bands: Int, threshold: Double,
                  terms: Column => Column): Boolean = {
    // ONE manifest read per micro-batch (guide §6): the head read
    // here answers the replay check, the fresh-store branch, the
    // store scan, and the append's first commit attempt
    var head = ManifestTable.latest(root)
    if (ManifestTable.isBatchCommittedIn(head, gen)) return false
    if (head.isEmpty) {
      initTable(root, idCol) // first batch of a fresh store self-inits
      head = ManifestTable.latest(root)
    }
    val bandedB = Dedup
      .bandedSignatures(incoming, idCol, textCol, k, bands, terms)
      .localCheckpoint(eager = true)
    // fresh store: the cross-store probe runs against an empty frame
    val stored =
      if (head.map(ManifestTable.ledgerHigh).getOrElse(-1L) < 0)
        bandedB.limit(0)
      else ManifestTable.readSnapshot(spark, root, head.get).drop("gen")
    val drops = Dedup
      .incrementalDrops(stored, bandedB, idCol, k, threshold)
      .localCheckpoint(eager = true)
    // gen is a LONG data column, same domain as the Long ledger id —
    // a streaming sink's baseGen+batchId past Int.MaxValue must not
    // silently wrap the provenance column away from the ledger
    ManifestTable.appendBatchWith(spark, root, gen,
      bandedB.join(drops, Seq(idCol), "left_anti")
        .withColumn("gen", F.lit(gen)), head)
    true
  }

  /** Eager byte sweep after a destructive op: drop superseded
    * manifests (their file lists point at victim-holding files) and
    * vacuum every unreferenced data file NOW — a takedown erases, it
    * does not defer to the next maintenance window. Zero grace is
    * safe under the store's single-writer contract.
    *
    * CONSEQUENCE — store roots are NOT subscribable: expireManifests
    * (keepLast=1) + zero-grace vacuum sever time travel and any
    * [[graft.streaming.ManifestChangeFeed]] subscription on the store
    * root — a subscriber more than one version behind fails its next
    * drain on the retention pre-check. Subscribe to the PIPELINE's
    * corpus table, never to a signature/IVF store. */
  private def eraseUnreferenced(root: String): Unit = {
    ManifestTable.expireManifests(root, keepLast = 1)
    ManifestTable.vacuum(root, orphanGraceMillis = 0L)
    ()
  }

  /** Purge victim ids from the store — the retraction/takedown path
    * (opt-out, DMCA, contaminated-source recall): a standing pipeline
    * must FORGET, not just ingest. The victim scan PLANS over the
    * manifest's candidate files (id bounds + per-file Bloom — a
    * driver-sized takedown list prunes key-by-key), only
    * victim-holding files rewrite (copy-on-write), and the byte sweep
    * runs immediately. Single-writer maintenance op. Returns the
    * number of signature rows removed. Purging makes the store behave
    * as if the victims were never admitted: a later ingest of a
    * near-copy of a purged doc is ADMITTED (re-admission semantics —
    * the graded `x_retract` query pins this). */
  def purge(spark: SparkSession, root: String, idCol: String,
            victims: Seq[Long]): Long = {
    require(victims.nonEmpty, "purge needs at least one victim id")
    if (ManifestTable.latest(root).isEmpty) return 0L
    val removed = ManifestTable.deleteWhere(spark, root,
      F.col(idCol).isin(victims: _*)).removedRows
    if (removed > 0) eraseUnreferenced(root)
    removed
  }

  /** [[purge]] for a victim set that is NOT driver-sized — a whole
    * contaminated source, a snapshot recall, any frame-shaped victim
    * population: membership resolves through semi/anti joins
    * ([[ManifestTable.deleteIds]] — AQE broadcasts the smaller side),
    * so the purge scales with the victim frame rather than a driver
    * list. Same single-writer contract, same eager byte sweep, same
    * re-admission semantics as the list form. */
  def purgeIds(spark: SparkSession, root: String, idCol: String,
               victims: DataFrame): Long = {
    if (ManifestTable.latest(root).isEmpty) return 0L
    val removed =
      ManifestTable.deleteIds(spark, root, idCol, victims).removedRows
    if (removed > 0) eraseUnreferenced(root)
    removed
  }

  /** Fold the store's live files into ~`targetFileBytes` files — the
    * file-listing-pressure valve for stores built by many small
    * ingests, now plain [[ManifestTable.compact]] clustered on the
    * id column (purge pruning stays tight) with the store's eager
    * byte sweep after. `gen` provenance is a data column, so it
    * survives any rewrite; the batch LEDGER survives too, so folded
    * generations still refuse replay. The manifest makes partial
    * folds pointless (writes were only ever disjoint from read globs
    * in the directory layout), so the whole live set folds and
    * `upTo` is accepted for source compatibility only. Returns the
    * number of live files folded. Like [[purge]], the trailing eager
    * sweep makes store roots unsubscribable (see
    * [[eraseUnreferenced]]'s retention note). */
  def compactGenerations(spark: SparkSession, root: String,
                         upTo: Int, targetFileBytes: Long = 128L << 20): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val head = ManifestTable.latest(root)
    val before = head.map(_.files.size).getOrElse(0)
    if (before == 0) return 0L
    // cluster on the table's DECLARED bloom column (the id column
    // initTable records authoritatively) so the rewrite leaves
    // disjoint id bands and purge pruning stays tight — never on
    // column position, which is an unchecked cross-module invariant
    val idCol = ManifestTable.bloomColsOf(head.get).headOption
    ManifestTable.compact(spark, root, targetFileBytes,
      clusterBy = idCol.toSeq)
    eraseUnreferenced(root)
    before.toLong
  }
}
