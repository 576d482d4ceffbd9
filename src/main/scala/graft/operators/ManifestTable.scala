package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, FloatType,
  IntegerType, LongType, NullType, ShortType, StructField, StructType}

/** Manifest-pointer parquet table — compaction (and any rewrite)
  * safe under concurrent appends and live readers, without a table
  * format dependency.
  *
  * The problem with [[Layout.compact]]'s overwrite-in-place: a reader
  * listing the directory mid-rewrite sees half-deleted input or
  * half-written output. Here readers NEVER list data directories;
  * they read a MANIFEST (one file-path per line) and only the
  * manifest pointer moves:
  *
  *  - data files are immutable once written, under `data/<uuid>/` —
  *    invisible until some manifest references them;
  *  - a commit publishes `manifest/v{N}` by atomically publishing a
  *    fully-written temp file through the [[AtomicPublish]] seam
  *    (fails if `v{N}` exists), so every published version is
  *    complete-or-absent — a reader picking the highest `v{N}`
  *    always sees a full, consistent snapshot;
  *  - writers OPTIMISTICALLY retry: re-read the latest version, merge
  *    their change, attempt `v{N+1}`. Appends merge trivially (add
  *    files). [[compact]] merges by carrying forward any file that
  *    appeared AFTER its base snapshot — an append landing mid-
  *    compaction is never lost (append-only tables make the merge
  *    conflict-free);
  *  - [[vacuum]] deletes data files unreferenced by the LATEST
  *    manifest — run it after readers of older versions have drained
  *    (retention is the caller's policy, as in any snapshot store).
  *
  * ALL storage I/O goes through the Hadoop `FileSystem` API — the
  * table deploys wherever Spark reads (local, HDFS, any
  * `FileSystem` implementation) with ONE storage-specific primitive:
  * the atomic publish-if-absent at the commit point, selected per
  * scheme by [[AtomicPublish.forFs]] (local hard link / HDFS
  * no-overwrite rename) and overridable for object stores via
  * [[usePublisher]] (conditional PUT).
  *
  * The manifest also carries the table's MERGED SCHEMA as a metadata
  * line: every append folds its batch's schema into the recorded one
  * (new columns append; existing columns must keep their type), and
  * readers plan with that explicit schema — schema evolution costs
  * zero footer reads at plan time, and files written before a column
  * existed read as NULL for it (the [[Tables]] `mergeSchema`
  * contract, without the O(files) footer scan).
  *
  * Every writer commits through ONE optimistic transaction core
  * ([[transact]]): snapshot (or the caller's head) → the writer's
  * scan and data write → `beforeCommit` → validate against the fresh
  * head → publish `v{N+1}`, re-reading and re-validating after a lost
  * publish. A writer declares a READ SET — the files whose presence
  * and deletion-vector state its scan depended on — and one of three
  * CONFLICT RULES for when a concurrent commit replaced one of those
  * files or moved its DV state:
  *  - NONE (appends, overwrites, schema and ledger ops): the change is
  *    a function of the head alone, so it merges onto whatever head
  *    wins — appended files add, metadata re-derives;
  *  - RESTART (copy-on-write and MoR delete/update, upsert,
  *    mergeInto, overwriteWhere, foldDeletes): the change must apply,
  *    so the whole scan reruns against the new head, up to a fixed
  *    bound of consecutive conflicts, past which the writer fails
  *    loudly (each lost round's files are vacuum orphans);
  *  - ABORT (compact): a layout-only rewrite is stale, so it gives up
  *    and returns the winner's snapshot.
  * Under every rule the `#batch:<id>` ledger is re-checked on each
  * head (a replay commits nothing), the written batch's schema merges
  * into the head's recorded schema (a column name the head reserves
  * refuses the commit), and write intents clear however the
  * transaction ends. A concurrent append never conflicts: its files
  * are outside every read set, so it survives any writer (snapshot
  * isolation — rows it adds post-date the writer's scan).
  *
  * Every ROW-LEVEL writer — [[deleteWhere]], [[deleteIds]],
  * [[updateWhere]], [[overwriteWhere]], [[upsert]]/[[upsertBatch]],
  * [[mergeInto]], [[deleteWhereMoR]] and [[deleteIdsMoR]] — is one
  * private body on that core ([[rowChange]], rule RESTART). A writer
  * brings only its own parts: the rows it adds, its per-file probe
  * (whose files are the affected set), and its row transform. The body
  * writes the added rows once across restarts and lands the change in
  * one of two shapes, chosen by the verb:
  *  - REWRITE (copy-on-write): the affected files, read through the DV
  *    overlay and the writer's transform, plus any rows of the attempt
  *    (MERGE's inserts), written as new files sized to their bytes;
  *  - DV SIDECAR (merge-on-read): the victims' (file, row position)
  *    plus the affected files' prior DV rows as one sidecar the files'
  *    stat payloads point at — no data file is rewritten.
  * [[compact]] and [[foldDeletes]] have no victim probe; they share
  * the layout rewrite ([[rewriteFiles]]) instead.
  */
object ManifestTable {

  /** One published manifest: the version's data-file list plus
    * metadata lines (`#`-prefixed in the file — `#batch:<id>` /
    * `#batches_through:<id>` markers recording which streaming
    * micro-batches are already folded in (the exactly-once ledger
    * [[appendBatch]] rides), and the merged table schema, parsed out
    * into `schemaJson`). Metadata commits ATOMICALLY with the file
    * list because it lives in the same atomically-published manifest
    * file. */
  final case class Snapshot(version: Int, files: Seq[String],
                            meta: Seq[String] = Seq.empty,
                            schemaJson: Option[String] = None,
                            stats: Map[String, String] = Map.empty)

  /** A committed row-level delete: the published snapshot and how
    * many rows the final (post-restart) victim scan removed. */
  final case class Delete(snapshot: Snapshot, removedRows: Long)

  private val SchemaPrefix = "#schema:"
  private val BatchPrefix = "#batch:"
  private val ThroughPrefix = "#batches_through:"
  private val StatColsPrefix = "#statcols:"
  private val BloomColsPrefix = "#bloomcols:"
  private val BloomCapPrefix = "#bloomcap:"
  private val FileStatPrefix = "#filestat:"
  private val ColMapPrefix = "#colmap:"
  private val DroppedPrefix = "#dropped:"
  private val SinkCkptPrefix = "#sinkckpt:"
  private val DvModePrefix = "#dvmode:"
  /** Sentinel the streaming sink records when `<ckpt>/metadata` is
    * unreadable — a FALLBACK identity, never a match witness (see
    * [[claimSinkCheckpoint]]). */
  private[graft] val UnknownQid = "qid-unknown"
  private val HintFile = "_last_checkpoint"

  // ---- storage plumbing (Hadoop FS only — no java.nio here) ----

  private def conf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fsOf(p: HPath): FileSystem = p.getFileSystem(conf)

  @volatile private var publisherOverride: Option[AtomicPublish] = None

  /** Swap the atomic-publish commit primitive — the ONE
    * storage-specific call in the table. `None` restores the
    * per-scheme default ([[AtomicPublish.forFs]]); an object-store
    * deployment installs its conditional-PUT implementation here. */
  def usePublisher(p: Option[AtomicPublish]): Unit = publisherOverride = p

  private def publisher(fs: FileSystem): AtomicPublish =
    publisherOverride.getOrElse(AtomicPublish.forFs(fs))

  private def manifestDir(root: String): HPath =
    new HPath(root, "manifest")

  private def childNames(fs: FileSystem, dir: HPath): Seq[String] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)

  private def readLines(fs: FileSystem, p: HPath): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  private def writeFile(fs: FileSystem, p: HPath, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** (files, meta-without-schema/stats, schemaJson, per-file stats)
    * of a manifest body. */
  private def parseLines(lines: Seq[String])
      : (Seq[String], Seq[String], Option[String], Map[String, String]) = {
    val (metaAll, files) = lines.filter(_.nonEmpty).partition(_.startsWith("#"))
    val (schema, rest) = metaAll.partition(_.startsWith(SchemaPrefix))
    val (statLines, meta) = rest.partition(_.startsWith(FileStatPrefix))
    val stats = statLines.flatMap { l =>
      val body = l.stripPrefix(FileStatPrefix)
      val i = body.indexOf('|')
      if (i < 0) None else Some(body.substring(0, i) -> body.substring(i + 1))
    }.toMap
    (files, meta, schema.headOption.map(_.stripPrefix(SchemaPrefix)), stats)
  }

  def init(root: String): Unit = init(root, Seq.empty)

  /** [[init]] with DECLARED STAT COLUMNS: every write records, per
    * data file, its row count plus min/max + null count for these
    * columns ([[ManifestStats]]), and every predicate-shaped op
    * ([[readWhere]], [[deleteWhere]], [[updateWhere]], [[deleteIds]],
    * [[upsert]], [[countWhere]]) prunes its file list at PLANNING
    * time to the files whose range intersects the predicate. Declare
    * the columns the table is clustered or keyed on — on a range-
    * clustered 100 TB corpus a point delete then rewrites (and even
    * SCANS) only the candidate files instead of opening every footer. */
  def init(root: String, statColumns: Seq[String]): Unit =
    init(root, statColumns, Seq.empty)

  /** [[init]] with declared BLOOM COLUMNS on top of the stat columns:
    * every write additionally records a per-file Bloom filter per
    * bloom column (a `blooms.idx` sidecar in the batch's own data dir,
    * referenced from the `#filestat:` payload), and equality/IN
    * predicates prune on key MEMBERSHIP — the file-skipping shape
    * min/max cannot give a SCATTERED key (a point delete on an
    * unclustered id, a CDC merge batch): each probe opens
    * ~(matching + fpp·files) files instead of every range-straddling
    * file. Declare the table's lookup keys (id columns); capacity and
    * fpp are [[ManifestStats.BloomKeyCapacity]]/[[ManifestStats
    * .BloomFpp]] — files holding more distinct keys than the capacity
    * drop their bloom (stay candidates) rather than saturate. */
  def init(root: String, statColumns: Seq[String],
           bloomColumns: Seq[String]): Unit =
    init(root, statColumns, bloomColumns, ManifestStats.BloomKeyCapacity)

  /** [[init]] with a PER-TABLE Bloom capacity (`#bloomcap:` meta
    * line): per-file filters size for this many distinct keys at
    * [[ManifestStats.BloomFpp]], and a file exceeding it drops its
    * bloom. The escape hatch for high-cardinality CDC tables, whose
    * files hold more distinct keys than the default
    * [[ManifestStats.BloomKeyCapacity]] exactly where key-membership
    * pruning pays most — budget ~1.2 bytes/key/file at 1% fpp. */
  def init(root: String, statColumns: Seq[String],
           bloomColumns: Seq[String], bloomKeyCapacity: Long): Unit = {
    val declared = statColumns ++ bloomColumns
    require(declared.forall(_.matches("[A-Za-z0-9_]+")),
      s"stat/bloom column names must be word-shaped: ${declared.mkString(",")}")
    require(!declared.contains("rows") && !declared.contains("bloomref") &&
      !declared.contains("bytes") && !declared.contains("dvref"),
      "'rows', 'bytes', 'bloomref' and 'dvref' are reserved by the " +
        "stat encoding")
    require(bloomKeyCapacity > 0, "bloomKeyCapacity must be positive")
    val fs = fsOf(manifestDir(root))
    fs.mkdirs(manifestDir(root))
    fs.mkdirs(new HPath(root, "data"))
    if (latest(root).isEmpty) {
      val meta =
        (if (statColumns.isEmpty) Seq.empty
         else Seq(s"$StatColsPrefix${statColumns.mkString(",")}")) ++
        (if (bloomColumns.isEmpty) Seq.empty
         else Seq(s"$BloomColsPrefix${bloomColumns.mkString(",")}",
           s"$BloomCapPrefix$bloomKeyCapacity"))
      val ok = tryCommit(root, Snapshot(0, Seq.empty, meta)).isDefined
      require(ok || latest(root).nonEmpty, s"init race lost at $root")
    }
  }

  /** The table's declared stat columns (empty = stats tracking off —
    * zero write-path overhead). Declared once at [[init]]; the line
    * rides `meta` through every commit path. */
  private def statColsOf(snap: Snapshot): Seq[String] =
    snap.meta.collectFirst {
      case l if l.startsWith(StatColsPrefix) =>
        l.stripPrefix(StatColsPrefix).split(',').toSeq.filter(_.nonEmpty)
    }.getOrElse(Seq.empty)

  /** The table's declared bloom columns (empty = no bloom overhead). */
  private[operators] def bloomColsOf(snap: Snapshot): Seq[String] =
    snap.meta.collectFirst {
      case l if l.startsWith(BloomColsPrefix) =>
        l.stripPrefix(BloomColsPrefix).split(',').toSeq.filter(_.nonEmpty)
    }.getOrElse(Seq.empty)

  /** The table's per-file Bloom capacity ([[init]] override or the
    * engine default). */
  private def bloomCapOf(snap: Snapshot): Long =
    snap.meta.collectFirst {
      case l if l.startsWith(BloomCapPrefix) =>
        l.stripPrefix(BloomCapPrefix).toLong
    }.getOrElse(ManifestStats.BloomKeyCapacity)

  /** The table's declared stat shape, for callers that must check a
    * RE-declaration for idempotence (the streaming sink passes its
    * creation options on every restart). */
  private[graft] def declaredStatShape(snap: Snapshot)
      : (Seq[String], Seq[String], Long) =
    (statColsOf(snap), bloomColsOf(snap), bloomCapOf(snap))

  /** The three write-time stat knobs a snapshot declares, bundled —
    * every write path passes exactly this trio to [[writeData]]. */
  private final case class StatSpec(statCols: Seq[String],
                                    bloomCols: Seq[String],
                                    bloomCap: Long)

  private def statSpecOf(snap: Snapshot): StatSpec =
    StatSpec(statColsOf(snap), bloomColsOf(snap), bloomCapOf(snap))

  // ---- head resolution: checkpoint hint + dense-chain probe ----

  /** Best-effort head hint (`manifest/_last_checkpoint`): written
    * after every successful commit, read before resolving the head.
    * NEVER authority — a stale hint is probed FORWARD along the
    * dense version chain (commits are always `v{N+1}`, so any
    * surviving version's successors exist until it IS the head), and
    * a missing/corrupt/expired hint falls back to a full listing.
    * Turns head resolution from O(commits) listing into O(1 +
    * commits-since-hint) existence probes at million-commit scale. */
  private def readHint(fs: FileSystem, dir: HPath): Option[Int] =
    scala.util.Try {
      readLines(fs, new HPath(dir, HintFile)).head.trim.toInt
    }.toOption

  private def writeHint(fs: FileSystem, dir: HPath, v: Int): Unit =
    try writeFile(fs, new HPath(dir, HintFile), v.toString)
    catch { case _: java.io.IOException => () } // hint is optional

  private def versionNumbers(fs: FileSystem, dir: HPath): Seq[Int] =
    childNames(fs, dir)
      .collect { case n if n.startsWith("v") => n.stripPrefix("v") }
      .filter(_.forall(_.isDigit)).filter(_.nonEmpty).map(_.toInt)

  private def latestVersion(fs: FileSystem, dir: HPath): Option[Int] = {
    if (!fs.exists(dir)) return None
    val probed = readHint(fs, dir)
      .filter(h => h >= 0 && fs.exists(new HPath(dir, s"v$h")))
      .map { h =>
        var v = h
        while (fs.exists(new HPath(dir, s"v${v + 1}"))) v += 1
        v
      }
    probed.orElse {
      val vs = versionNumbers(fs, dir)
      if (vs.isEmpty) None else Some(vs.max)
    }
  }

  /** Highest published snapshot (None before [[init]]). */
  def latest(root: String): Option[Snapshot] = {
    val dir = manifestDir(root)
    val fs = fsOf(dir)
    latestVersion(fs, dir).map { v =>
      val (files, meta, schema, stats) = parseLines(
        readLines(fs, new HPath(dir, s"v$v")))
      Snapshot(v, files, meta, schema, stats)
    }
  }

  /** Atomic publish of `next` as version `next.version`: write a temp
    * manifest, publish it as `v{N}` through the [[AtomicPublish]] seam
    * (complete-or-absent; fails if `v{N}` exists), then refresh the
    * head hint. Returns the published snapshot — stats restricted to
    * the files it references, exactly as a reader parses it — or None
    * when another commit took the version. */
  private def tryCommit(root: String, next: Snapshot): Option[Snapshot] = {
    require(next.meta.forall(_.startsWith("#")),
      "metadata lines must be #-prefixed")
    val dir = manifestDir(root)
    val fs = fsOf(dir)
    val tmp = new HPath(dir,
      s".tmp-${java.util.UUID.randomUUID()}.manifest")
    // stat lines only for files the version still references — a
    // dropped file's stats drop with it
    val fileSet = next.files.toSet
    val live = next.stats.filter(s => fileSet(s._1))
    val statLines = live.toSeq.sortBy(_._1)
      .map { case (f, payload) => s"$FileStatPrefix$f|$payload" }
    writeFile(fs, tmp,
      (next.schemaJson.map(SchemaPrefix + _).toSeq ++ statLines ++
        next.meta ++ next.files).mkString("\n"))
    val ok =
      try publisher(fs).publish(fs, tmp, new HPath(dir, s"v${next.version}"))
      finally { if (fs.exists(tmp)) fs.delete(tmp, false); () }
    if (ok) writeHint(fs, dir, next.version)
    if (ok) Some(next.copy(stats = live)) else None
  }

  // ---- the optimistic transaction core ----

  /** The head [[transact]] starts from when no manifest exists yet —
    * an append or schema op then publishes `v0` itself. */
  private val Empty = Snapshot(-1, Seq.empty)

  /** Consecutive read-set conflicts a RESTART-rule writer survives
    * before it fails loudly (see the class doc's conflict rules). */
  private val MaxRestarts = 8

  /** A writer's conflict rule — the class doc states all three. */
  private sealed trait OnConflict
  private case object NoConflict extends OnConflict
  private case object Restart extends OnConflict
  private case object Abort extends OnConflict

  /** One prepared attempt of a writer. `change` maps the head the
    * commit lands on to the next version's content (None: the head
    * already has it — publish nothing); `result` builds the writer's
    * answer from the published snapshot (or from the head, on an
    * abort or a no-op); `readSet` lists the files whose presence and
    * DV state the attempt's scan depended on; `schema` is the written
    * batch's schema, folded into the head's recorded schema at
    * publish time. */
  private final case class Plan[R](change: Snapshot => Option[Snapshot],
                                   result: Snapshot => R,
                                   readSet: Seq[String] = Seq.empty,
                                   schema: Option[StructType] = None)

  /** The write intents of one transaction: every data or sidecar write
    * its attempts make registers here, and [[transact]] clears them
    * all however it ends (committed files are live by then; a lost
    * round's files are ordinary vacuum orphans). */
  private final class Writes(root: String) {
    private val tokens = scala.collection.mutable.ArrayBuffer.empty[String]

    /** [[writeData]] under `base`'s declared stat shape: (files, stats). */
    def data(spark: SparkSession, df: DataFrame,
             base: Snapshot): (Seq[String], Map[String, String]) = {
      val (files, token, stats) = writeData(spark, root, df, statSpecOf(base))
      tokens += token
      (files, stats)
    }

    /** A fresh intent-guarded `data/<token>` dir for a sidecar write. */
    def sidecarDir(): String = {
      val token = java.util.UUID.randomUUID().toString
      registerIntent(root, token)
      tokens += token
      s"data/$token"
    }

    def clear(): Unit = tokens.foreach(clearIntent(root, _))
  }

  /** Did a concurrent commit replace a file of `readSet` or move its
    * deletion-vector state between `base` and `head`? (A rewrite that
    * read through the old overlay would resurrect the new DV's
    * victims, or drop its pointer.) */
  private def drifted(base: Snapshot, head: Snapshot,
                      readSet: Seq[String]): Boolean =
    readSet.nonEmpty && {
      val live = head.files.toSet
      readSet.exists(f => !live(f) || dvStateOf(head, f) != dvStateOf(base, f))
    }

  /** THE optimistic transaction every writer commits through (the
    * class doc states the protocol and the conflict rules):
    *  1. snapshot — `head` on the first attempt when the caller
    *     already read it (the one-manifest-read-per-batch seam), a
    *     fresh [[latest]] otherwise;
    *  2. `prepare` runs the writer's scan and data write against it
    *     (Left = nothing to commit), writing through the [[Writes]]
    *     it is handed;
    *  3. `beforeCommit` (the race-injection test seam);
    *  4. a read-dependent writer (rule RESTART/ABORT) validates its
    *     read set against a FRESH head; a NONE-rule writer's change is
    *     a function of the head alone, so it goes straight on;
    *  5. publish: the `#batch:<id>` marker (`ledger`) and the schema
    *     merge apply to the head the commit lands on; a lost publish
    *     re-reads the head and re-validates (4), a replayed batch
    *     returns `ledger`'s answer on that head.
    * `op` names the writer in the restart-bound failure. */
  private def transact[R](root: String, op: String, rule: OnConflict,
                          head: Option[Snapshot] = None,
                          ledger: Option[(Long, Snapshot => R)] = None,
                          beforeCommit: () => Unit = () => ())
                         (prepare: (Snapshot, Writes) => Either[R, Plan[R]])
      : R = {
    def fresh(): Snapshot = latest(root).getOrElse(Empty)
    def replayed(s: Snapshot): Option[R] = ledger.collect {
      case (id, answer) if batchCommitted(s, id) => answer(s)
    }
    val writes = new Writes(root)
    try {
      var snap = head.getOrElse(fresh())
      var conflicts = 0
      var out: Option[R] = None
      while (out.isEmpty) {
        out = replayed(snap)
        if (out.isEmpty) prepare(snap, writes) match {
          case Left(r) => out = Some(r)
          case Right(plan) =>
            val base = snap
            beforeCommit()
            if (rule != NoConflict) snap = fresh()
            var restart = false
            while (out.isEmpty && !restart) {
              out = replayed(snap)
              if (out.isEmpty) {
                if (drifted(base, snap, plan.readSet)) {
                  if (rule == Abort) out = Some(plan.result(snap))
                  else {
                    conflicts += 1
                    if (conflicts >= MaxRestarts)
                      throw new IllegalStateException(
                        s"$op at $root lost $conflicts consecutive " +
                          "conflicts on the files it read (a concurrent " +
                          "rewrite or merge-on-read delete); pause the " +
                          "conflicting writer and retry")
                    restart = true
                  }
                } else plan.change(snap) match {
                  case None => out = Some(plan.result(snap))
                  case Some(next) =>
                    val meta = ledger.fold(next.meta)(l =>
                      next.meta :+ s"$BatchPrefix${l._1}")
                    val schema = plan.schema.map(s => mergeSchemaJson(
                      seededSchemaJson(SparkSession.active, root, snap), s,
                      reservedNames(snap.meta))).orElse(next.schemaJson)
                    // a schema change drops the cached head-pinned plans
                    // first: they cannot refresh across it
                    if (schema != snap.schemaJson ||
                        colmapOf(meta) != colmapOf(snap.meta))
                      graft.sources.ManifestSql.uncacheRoot(
                        SparkSession.active, root)
                    out = tryCommit(root, next.copy(version = snap.version + 1,
                      meta = meta, schemaJson = schema)).map(plan.result)
                    if (out.isEmpty) snap = fresh()
                }
              }
            }
        }
      }
      out.get
    } finally writes.clear()
  }

  // ---- schema ledger ----

  /** Fold a batch's schema into the recorded table schema: existing
    * columns keep their position and must keep their type; brand-new
    * columns append. The result is what every reader plans with, so
    * evolution is append-only and type-stable by construction.
    * Recorded fields are nullable — a file written before a column
    * existed reads NULL for it, so no column can promise non-null
    * across the whole table. */
  /** The common readable type of an existing column and a batch's —
    * WIDENING inside a numeric family only (byte→short→int→long,
    * float→double), the exact upcasts Spark's parquet reader performs
    * on files narrower than the read schema (so widening the RECORDED
    * type never re-reads or rewrites a file). Cross-family widening
    * (int→double) and everything else is None: value semantics would
    * change, not just width. */
  private def widen(a: DataType, b: DataType): Option[DataType] = {
    if (a == b) return Some(a)
    val intRank = Map[DataType, Int](
      ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
    val fpRank = Map[DataType, Int](FloatType -> 1, DoubleType -> 2)
    def pick(r: Map[DataType, Int]) = for {
      x <- r.get(a); y <- r.get(b)
    } yield if (x >= y) a else b
    pick(intRank).orElse(pick(fpRank))
  }

  private def mergeSchemaJson(cur: Option[String],
                              batchRaw: StructType,
                              reserved: Set[String] = Set.empty): String = {
    val clash = batchRaw.fieldNames.toSet.intersect(reserved)
    require(clash.isEmpty,
      s"batch column(s) ${clash.mkString(",")} are reserved by column " +
        "history (a renamed-away or dropped name) — re-introducing them " +
        "would resurrect old files' bytes")
    val batch = StructType(batchRaw.fields.map(_.copy(nullable = true)))
    cur match {
      case None => batch.json
      case Some(j) =>
        val old = DataType.fromJson(j).asInstanceOf[StructType]
        val byName: Map[String, StructField] =
          batch.fields.map(f => f.name -> f).toMap
        var changed = false
        val merged = old.fields.map { f =>
          byName.get(f.name) match {
            case Some(nf) =>
              val w = widen(f.dataType, nf.dataType).getOrElse(
                throw new IllegalArgumentException(
                  s"schema evolution cannot change column '${f.name}' from " +
                    s"${f.dataType.catalogString} to " +
                    s"${nf.dataType.catalogString} (only in-family numeric " +
                    "widening is supported)"))
              if (w != f.dataType) changed = true
              f.copy(dataType = w)
            case None => f
          }
        }
        val oldNames = old.fieldNames.toSet
        val added = batch.fields.filterNot(f => oldNames(f.name))
        if (added.isEmpty && !changed) j
        else StructType(merged ++ added).json
    }
  }

  private def recordedSchema(snap: Snapshot): Option[StructType] =
    snap.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])

  /** The logical schema a snapshot's readers plan with: the recorded
    * schema, or (pre-ledger table) the one-off footer-seeded merge —
    * the [[graft.sources.ManifestSql]] front door's schema source. */
  private[graft] def recordedSchemaOf(spark: SparkSession, root: String,
                                      snap: Snapshot): StructType =
    recordedSchema(snap).orElse(
      seededSchemaJson(spark, root, snap)
        .map(DataType.fromJson(_).asInstanceOf[StructType]))
      .getOrElse(throw new IllegalStateException(
        s"empty, schema-less manifest table at $root has no schema"))

  /** A snapshot's rename chains (current → historical names). */
  private[graft] def colmapOfSnap(snap: Snapshot): Map[String, Seq[String]] =
    colmapOf(snap.meta)

  // ---- column rename/drop (the schema ledger's second rung) ----

  /** current name → its HISTORICAL names, newest first (`#colmap:`
    * lines). Old files keep their bytes under the old names; reads
    * coalesce through the chain. */
  private def colmapOf(meta: Seq[String]): Map[String, Seq[String]] =
    meta.collect {
      case l if l.startsWith(ColMapPrefix) =>
        val body = l.stripPrefix(ColMapPrefix)
        val i = body.indexOf('=')
        body.substring(0, i) ->
          body.substring(i + 1).split(',').toSeq.filter(_.nonEmpty)
    }.toMap

  /** Tombstoned column names (`#dropped:` lines). */
  private def droppedOf(meta: Seq[String]): Set[String] =
    meta.collect {
      case l if l.startsWith(DroppedPrefix) => l.stripPrefix(DroppedPrefix)
    }.toSet

  /** Names no NEW column may take: every historical name still
    * readable through a colmap chain, and every dropped name — a
    * batch re-introducing one would resurrect old files' bytes under
    * it. */
  private def reservedNames(meta: Seq[String]): Set[String] =
    colmapOf(meta).values.flatten.toSet ++ droppedOf(meta)

  private def rebuildRenameMeta(meta: Seq[String],
                                newMap: Map[String, Seq[String]],
                                newDropped: Set[String],
                                statColRename: Map[String, String])
      : Seq[String] = {
    def renamedCols(l: String, prefix: String): Option[String] = {
      val cols = l.stripPrefix(prefix).split(',').toSeq
        .filter(_.nonEmpty)
        .map(c => statColRename.getOrElse(c, c))
        .filterNot(newDropped)
      if (cols.isEmpty) None else Some(s"$prefix${cols.mkString(",")}")
    }
    val kept = meta.filterNot(l =>
      l.startsWith(ColMapPrefix) || l.startsWith(DroppedPrefix))
      .map { l =>
        if (l.startsWith(StatColsPrefix)) renamedCols(l, StatColsPrefix)
        else if (l.startsWith(BloomColsPrefix)) renamedCols(l, BloomColsPrefix)
        else Some(l)
      }.flatten
    kept ++
      newMap.toSeq.sortBy(_._1).map { case (n, olds) =>
        s"$ColMapPrefix$n=${olds.mkString(",")}" } ++
      newDropped.toSeq.sorted.map(DroppedPrefix + _)
  }

  /** RENAME a column — metadata-only commit, zero data I/O: the
    * recorded schema takes the new name, a `#colmap:` chain keeps the
    * old name readable from files written before the rename (reads
    * coalesce new-then-old, so pre-rename files serve the column
    * under its new name), and per-file stats recorded under the old
    * name keep pruning predicates on the new name. The old name
    * becomes RESERVED: no future batch may introduce a column with it
    * (it would resurrect old bytes). Type is unchanged by
    * construction; chained renames extend the chain. */
  def renameColumn(spark: SparkSession, root: String, from: String,
                   to: String): Snapshot = {
    require(to.matches("[A-Za-z0-9_]+"),
      s"column name must be word-shaped: '$to'")
    // the SOURCE name enters the `#colmap:` chain too, whose encoding
    // uses '=' and ',' as delimiters — defense-in-depth against a
    // legacy column name carrying one (today Spark's parquet writer
    // rejects such names, but a corrupt chain would silently read old
    // files' data as NULL)
    require(from.matches("[A-Za-z0-9_]+"),
      s"column name must be word-shaped: '$from'")
    metaCommit(root) { cur =>
      val schema = recordedSchema(cur).orElse(
        seededSchemaJson(spark, root, cur)
          .map(DataType.fromJson(_).asInstanceOf[StructType]))
        .getOrElse(throw new IllegalStateException(
          s"cannot rename on an empty, schema-less table at $root"))
      require(schema.fieldNames.contains(from),
        s"no column '$from' to rename (have ${schema.fieldNames.mkString(",")})")
      require(!schema.fieldNames.contains(to),
        s"rename target '$to' already exists")
      require(!reservedNames(cur.meta)(to),
        s"rename target '$to' is reserved by column history " +
          "(a historical or dropped name)")
      val newSchema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      val map = colmapOf(cur.meta)
      val newMap = (map - from) + (to -> (from +: map.getOrElse(from, Seq.empty)))
      Some(cur.copy(
        meta = rebuildRenameMeta(cur.meta, newMap, droppedOf(cur.meta),
          Map(from -> to)),
        schemaJson = Some(newSchema.json)))
    }
  }

  /** DROP a column — metadata-only commit: the recorded schema loses
    * the field, so every read (and every future rewrite) excludes it;
    * old files keep their bytes but no projection ever lists them.
    * The name — and its whole rename chain — is tombstoned
    * (`#dropped:`), so no future batch can re-introduce it and
    * resurrect the old bytes. */
  def dropColumn(spark: SparkSession, root: String,
                 name: String): Snapshot =
    metaCommit(root) { cur =>
      val schema = recordedSchema(cur).orElse(
        seededSchemaJson(spark, root, cur)
          .map(DataType.fromJson(_).asInstanceOf[StructType]))
        .getOrElse(throw new IllegalStateException(
          s"cannot drop on an empty, schema-less table at $root"))
      require(schema.fieldNames.contains(name),
        s"no column '$name' to drop (have ${schema.fieldNames.mkString(",")})")
      require(schema.fields.length > 1,
        "cannot drop the table's last column")
      val newSchema = StructType(schema.fields.filterNot(_.name == name))
      val map = colmapOf(cur.meta)
      val newDropped = droppedOf(cur.meta) + name ++
        map.getOrElse(name, Seq.empty)
      Some(cur.copy(
        meta = rebuildRenameMeta(cur.meta, map - name, newDropped, Map.empty),
        schemaJson = Some(newSchema.json)))
    }

  /** ADD COLUMNS — metadata-only commit, zero data I/O: the recorded
    * schema gains the (nullable) fields, every existing file reads
    * NULL for them (exactly as an appended batch carrying the column
    * would leave older files), and the next append may populate them.
    * The SQL `ALTER TABLE … ADD COLUMNS` routes here
    * ([[graft.catalog.GraftCatalog.alterTable]]); the same rules as a
    * schema-merging append apply: no clash with a live column, no
    * resurrection of a reserved (renamed-away/dropped) name. */
  def addColumns(spark: SparkSession, root: String,
                 cols: StructType): Snapshot = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    cols.fieldNames.foreach(n => require(n.matches("[A-Za-z0-9_]+"),
      s"column name must be word-shaped: '$n'"))
    metaCommit(root) { cur =>
      val schema = recordedSchema(cur).orElse(
        seededSchemaJson(spark, root, cur)
          .map(DataType.fromJson(_).asInstanceOf[StructType]))
        .getOrElse(throw new IllegalStateException(
          s"cannot add columns on an empty, schema-less table at $root"))
      val clash = cols.fieldNames.toSet.intersect(schema.fieldNames.toSet)
      require(clash.isEmpty,
        s"column(s) ${clash.mkString(",")} already exist")
      val reserved = cols.fieldNames.toSet
        .intersect(reservedNames(cur.meta))
      require(reserved.isEmpty,
        s"column name(s) ${reserved.mkString(",")} are reserved by " +
          "column history (a renamed-away or dropped name) — " +
          "re-introducing them would resurrect old files' bytes")
      val newSchema = StructType(schema.fields ++
        cols.fields.map(_.copy(nullable = true)))
      Some(cur.copy(schemaJson = Some(newSchema.json)))
    }
  }

  /** WIDEN a column's recorded type — metadata-only commit, zero data
    * I/O: the same in-family numeric widening an appended wider batch
    * triggers ([[widen]]: byte→short→int→long, float→double — the
    * exact upcasts Spark's parquet reader performs on files narrower
    * than the read schema), but EXPLICIT, so `ALTER TABLE … ALTER
    * COLUMN … TYPE` works without writing a row. Narrowing and
    * cross-family changes refuse with the reason named. Recorded
    * per-file stats stay prune-sound across the widening (bounds
    * normalize canonically — ManifestTableSpec pins the float→double
    * case). A no-op widen (same type) commits nothing. */
  def widenColumn(spark: SparkSession, root: String, name: String,
                  to: DataType): Snapshot = {
    metaCommit(root) { head =>
      val cur = present(root, head)
      val schema = recordedSchema(cur).orElse(
        seededSchemaJson(spark, root, cur)
          .map(DataType.fromJson(_).asInstanceOf[StructType]))
        .getOrElse(throw new IllegalStateException(
          s"cannot widen on an empty, schema-less table at $root"))
      val field = schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$name' to widen " +
            s"(have ${schema.fieldNames.mkString(",")})"))
      val w = widen(field.dataType, to).getOrElse(
        throw new IllegalArgumentException(
          s"cannot change column '$name' from " +
            s"${field.dataType.catalogString} to ${to.catalogString} " +
            "(only in-family numeric widening is supported)"))
      require(w == to,
        s"cannot NARROW column '$name' from " +
          s"${field.dataType.catalogString} to ${to.catalogString}")
      if (w == field.dataType) None // already that wide
      else Some(cur.copy(schemaJson = Some(StructType(schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f)).json)))
    }
  }

  /** [[transact]] for a metadata-only change computed from the head
    * alone — no scan, no data write, conflict rule NONE. */
  private def metaCommit(root: String, head: Option[Snapshot] = None)
      (change: Snapshot => Option[Snapshot]): Snapshot =
    transact(root, "metadata commit", NoConflict, head)((_, _) =>
      Right(Plan[Snapshot](change, s => s)))

  /** `snap`, unless it is the no-manifest-yet [[Empty]] head. */
  private def present(root: String, snap: Snapshot): Snapshot =
    if (snap.version >= 0) snap
    else throw new IllegalStateException(s"no manifest at $root")

  /** Schema-ledger seed for a PRE-LEDGER manifest: when the current
    * snapshot holds files but no recorded schema (a table created
    * before the ledger existed), the merge must start from the schema
    * the existing files already carry — otherwise the first
    * post-upgrade append would record ONLY its batch's schema and
    * every later read would silently hide any older column the batch
    * lacks. One mergeSchema footer read, once, at upgrade time; every
    * commit after that reads the recorded schema. */
  private def seededSchemaJson(spark: SparkSession, root: String,
                               cur: Snapshot): Option[String] =
    cur.schemaJson.orElse {
      if (cur.files.isEmpty) None
      else Some(StructType(
        spark.read.option("mergeSchema", "true")
          .parquet(cur.files.map(f => s"$root/$f"): _*)
          .schema.fields.map(_.copy(nullable = true))).json)
    }

  // ---- write intents ----

  private def intentDir(root: String): HPath =
    new HPath(manifestDir(root), "intents")

  /** Write-intent entries: one marker per in-flight `data/<token>/`
    * write. [[vacuum]] spares any file under a token with a live
    * intent REGARDLESS of mtime/grace, so a writer stalled between
    * [[writeData]] and its commit can never have its files vacuumed
    * out from under it and then publish a manifest of dead paths.
    * The intent is cleared once the writer's transaction resolves
    * (committed OR aborted — aborted files become plain orphans and
    * age out under the grace) — or immediately, when the data write
    * itself fails (the partial files age out the same way). */
  private def registerIntent(root: String, token: String): Unit = {
    val dir = intentDir(root)
    val fs = fsOf(dir)
    fs.mkdirs(dir)
    val p = new HPath(dir, token)
    try fs.create(p, false).close()
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
      case e: java.io.IOException =>
        // a GENUINE create failure (permissions, transient FS error)
        // must not silently drop the marker — an unprotected writer
        // races zero-grace vacuum into the exact lost-commit window
        // the intent guard exists to close
        if (!fs.exists(p)) throw e
    }
  }

  private def clearIntent(root: String, token: String): Unit = {
    val p = new HPath(intentDir(root), token)
    val fs = fsOf(p)
    if (fs.exists(p)) fs.delete(p, false)
    ()
  }

  private def liveIntents(root: String): Set[String] = {
    val dir = intentDir(root)
    childNames(fsOf(dir), dir).toSet
  }

  /** The root-relative `data/<token>/part-*` suffix of an absolute
    * scan path (`_metadata.file_path` output) — manifest file entries
    * are always exactly these three segments, so equality on the
    * suffix IS the membership test, probed through a Set in O(files)
    * instead of a files×affected nested `endsWith` scan. The ONE
    * place the layout depth is encoded ([[ManifestStats.compute]]
    * keys its stat map through this too). */
  private[operators] def relPathOf(absPath: String): String =
    absPath.split('/').takeRight(3).mkString("/")

  /** The `data/<token>/` segment of a root-relative file path. */
  private def tokenOf(relPath: String): Option[String] = {
    val parts = relPath.split('/')
    if (parts.length >= 2 && parts(0) == "data") Some(parts(1)) else None
  }

  /** Write `df` as immutable data files; returns their root-relative
    * paths, the write token (whose intent the CALLER — [[Writes]] —
    * clears once its transaction resolves), and the new files' encoded
    * [[ManifestStats]] payloads: row counts and on-disk BYTES always
    * (footer + the directory listing this method already does —
    * planners and compaction never stat the filesystem again), plus
    * min/max/null-count bounds for the declared stat columns and the
    * Bloom sidecar for the declared bloom columns. Not yet visible —
    * a commit must reference them. A failed write clears its own
    * intent before rethrowing, so partial files age out as ordinary
    * grace-bounded orphans instead of being intent-pinned forever. */
  private def writeData(spark: SparkSession, root: String, df: DataFrame,
                        spec: StatSpec)
      : (Seq[String], String, Map[String, String]) = {
    val token = java.util.UUID.randomUUID().toString
    registerIntent(root, token)
    val dir = s"data/$token"
    // declared bloom columns build DURING the write job (guide §1.2:
    // one pass, not two) — the tap feeds per-task filters to an
    // accumulator; compute() falls back to the read-back aggregate
    // whenever the harvest cannot vouch for the partition→file map
    val tap = graft.plans.BloomWriteTap.install(df, spec.bloomCols,
      spec.bloomCap)
    val toWrite = tap.map(_.frame).getOrElse(df)
    try toWrite.write.parquet(s"$root/$dir")
    catch { case t: Throwable => clearIntent(root, token); throw t }
    val d = new HPath(root, dir)
    val fs = fsOf(d)
    val parts = fs.listStatus(d).toSeq
      .filter(s => s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
    val rel = parts.map(s => s"$dir/${s.getPath.getName}").sorted
    val sizes = parts.map(s => s"$dir/${s.getPath.getName}" -> s.getLen).toMap
    (rel, token, ManifestStats.compute(spark, root, rel, spec.statCols,
      spec.bloomCols, spec.bloomCap, sizes, tap.flatMap(_.harvest(rel))))
  }

  /** Append `df` as a new snapshot; returns the committed version.
    * `beforeCommit` is a test seam for injecting a concurrent
    * vacuum/writer between the data write and the commit.
    * `guardLedger` is the [[TakedownLedger]] admission guard: with a
    * ledger root, the append REFUSES to run while a pending takedown
    * targets this table (recovery before admission — run
    * [[Retraction.resume]] first). */
  def append(spark: SparkSession, root: String, df: DataFrame,
             beforeCommit: () => Unit = () => (),
             guardLedger: Option[String] = None): Snapshot = {
    guardLedger.foreach(TakedownLedger.requireClear(_, root))
    transact(root, "append", NoConflict, beforeCommit = beforeCommit) {
      (head, w) =>
        val (newFiles, newStats) = w.data(spark, df, head)
        Right(Plan(cur => Some(cur.copy(files = cur.files ++ newFiles,
          stats = cur.stats ++ newStats)), s => s, schema = Some(df.schema)))
    }
  }

  /** OVERWRITE: replace the table's entire contents with `df` in one
    * atomic commit — the `INSERT OVERWRITE` shape. The new snapshot
    * references ONLY the new files; every previous file becomes a
    * vacuum orphan once reader retention passes. Metadata (declared
    * stat/bloom columns, the streaming ledger, rename history) CARRIES
    * — overwrite replaces data, not the table's identity — and the
    * schema ledger merges exactly as an append's would (the recorded
    * schema never narrows: readers of old versions still plan with
    * the columns their files carry). */
  def overwrite(spark: SparkSession, root: String, df: DataFrame,
                guardLedger: Option[String] = None): Snapshot = {
    guardLedger.foreach(TakedownLedger.requireClear(_, root))
    transact(root, "overwrite", NoConflict) { (head, w) =>
      val (newFiles, newStats) = w.data(spark, df, head)
      Right(Plan(cur => Some(cur.copy(files = newFiles, stats = newStats)),
        s => s, schema = Some(df.schema)))
    }
  }

  /** The latest version whose manifest was PUBLISHED at or before
    * `millis` (epoch) — `TIMESTAMP AS OF` resolution, the
    * commit-file-mtime convention (manifests are written once,
    * atomically, so mtime = commit time). None when the timestamp
    * predates the table (or every surviving version — expired
    * history cannot be addressed, exactly like version time
    * travel). */
  def versionAt(root: String, millis: Long): Option[Int] = {
    val dir = manifestDir(root)
    val fs = fsOf(dir)
    // ONE listing serves names and mtimes both (N sequential
    // getFileStatus probes would pay a round-trip per retained
    // version on an object store)
    scala.util.Try(fs.listStatus(dir).toSeq).getOrElse(Seq.empty)
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("v") && n.length > 1 &&
          n.drop(1).forall(_.isDigit))
          Some((n.drop(1).toInt, st.getModificationTime))
        else None
      }
      .filter(_._2 <= millis)
      .sortBy(_._1).lastOption.map(_._1)
  }

  /** A specific published snapshot (None if that version was never
    * published or has been expired by [[expireManifests]]). */
  def snapshot(root: String, version: Int): Option[Snapshot] = {
    val dir = manifestDir(root)
    val fs = fsOf(dir)
    val p = new HPath(dir, s"v$version")
    if (!fs.exists(p)) None
    else {
      val (files, meta, schema, stats) = parseLines(readLines(fs, p))
      Some(Snapshot(version, files, meta, schema, stats))
    }
  }

  // ---- exactly-once streaming ledger ----

  private def batchesThrough(meta: Seq[String]): Long =
    meta.collectFirst {
      case s if s.startsWith(ThroughPrefix) =>
        s.stripPrefix(ThroughPrefix).toLong
    }.getOrElse(-1L)

  /** Is micro-batch `id` already folded into `snap` — either as its
    * own `#batch:<id>` marker or below the folded watermark? */
  private def batchCommitted(snap: Snapshot, id: Long): Boolean =
    id <= batchesThrough(snap.meta) ||
      snap.meta.contains(s"$BatchPrefix$id")

  /** Is micro-batch `id` already committed at the CURRENT head — the
    * replay fast-path for callers that want to skip computing their
    * batch entirely ([[appendBatch]]/[[upsertBatch]] re-check inside
    * the transaction regardless, so this is an optimization, never
    * the correctness line). */
  def isBatchCommitted(root: String, batchId: Long): Boolean =
    latest(root).exists(batchCommitted(_, batchId))

  /** The streaming-sink checkpoint fingerprint recorded on this
    * table, if any ([[claimSinkCheckpoint]]). */
  private def sinkCheckpointOf(snap: Snapshot): Option[String] =
    snap.meta.collectFirst {
      case s if s.startsWith(SinkCkptPrefix) =>
        s.stripPrefix(SinkCkptPrefix)
    }

  /** Claim this table's streaming-batch ledger for the sink
    * checkpoint fingerprinted `fp` — replay-identity hardening for
    * the registered sink: micro-batch ids are only meaningful
    * RELATIVE TO ONE CHECKPOINT, so a SECOND query (or a relocated
    * checkpoint) pointed at the same table would restart ids at 0
    * and the ledger would silently no-op its batches as replays.
    * The first fingerprinted commit records `#sinkckpt:<fp>` (an
    * ordinary meta line — it carries through compaction and every
    * rewrite, like the `#batch:` markers); a later claim with the
    * SAME fingerprint is a no-op (the restart path), a DIFFERENT one
    * refuses loudly instead of losing data. The claim is a separate
    * metadata-only commit ahead of the batch commit — a crash
    * between the two re-claims idempotently on restart. Hand-rolled
    * `foreachBatch` writers ([[appendBatch]] & co.) carry no
    * fingerprint and are untouched — their one-ledger-per-table
    * contract stays documented. */
  private[graft] def claimSinkCheckpoint(root: String, queryId: String,
                                         locHash: String,
                                         head0: Option[Snapshot] = None)
      : Snapshot = {
    val fp = s"$queryId@$locHash"
    // the unreadable-metadata fallback id: NEVER a match witness —
    // two genuinely different queries that both hit the fallback
    // would otherwise pass the same-query branch and adopt each
    // other's ledger (the exact silent-no-op hazard the claim
    // refuses); for sentinel ids only the location hash may decide
    def knownQid(q: String): Boolean = q != UnknownQid
    def reclaim(cur: Snapshot): Option[Snapshot] =
      Some(cur.copy(meta = cur.meta.filterNot(_.startsWith(SinkCkptPrefix)) :+
        s"$SinkCkptPrefix$fp"))
    // first attempt may ride a caller-read head (the sink's
    // one-read-per-batch seam) — a stale head only costs a lost
    // publish and a fresh re-read, never a wrong claim verdict
    // (the matched fingerprint is immutable once recorded)
    metaCommit(root, head0) { head =>
      val cur = present(root, head)
      sinkCheckpointOf(cur) match {
        case None => reclaim(cur)
        // existing == fp implies equal location hashes, so even a
        // sentinel-id match is a genuine same-location restart
        case Some(existing) if existing == fp => None
        case Some(existing) if existing.contains('@') =>
          val Array(eQid, eLoc) = existing.split('@')
          if (eQid == queryId && knownQid(queryId)) {
            // same QUERY at a new location — a copied/relocated
            // checkpoint keeps its persisted id, and its batch ids ARE
            // this ledger's; record the move
            reclaim(cur)
          } else if (eLoc == locHash) {
            // the WIPED-checkpoint shape: a fresh query id at the SAME
            // location. Its deterministic replays of already-committed
            // batches no-op correctly against the id watermark — the
            // documented recovery path — but any NEW content arriving
            // under an already-committed id would be silently dropped.
            // Warn loudly and adopt; a divergent feed needs a re-init.
            graft.util.Log.warn(
              s"streaming sink at $root: checkpoint at this location " +
                s"was recreated (query $eQid -> $queryId). Replays of " +
                "already-committed batches will no-op via the batch " +
                "ledger; if the new query's feed DIVERGES from the " +
                "original, batches whose ids are already committed " +
                "would be dropped — re-init the table for a divergent " +
                "feed")
            reclaim(cur)
          } else throw new IllegalArgumentException(
            s"the streaming-batch ledger at $root belongs to the sink " +
              s"query fingerprinted '$existing'; this is a DIFFERENT " +
              s"query ('$fp') — its micro-batch ids would silently " +
              "no-op against the other query's ledger (one standing " +
              "query per sink table). Write through the original " +
              "checkpoint, or re-init the table")
        case Some(legacy) =>
          // pre-r20 claim: a bare path hash. The same location
          // upgrades in place; a different one is a second query.
          if (legacy == locHash) reclaim(cur)
          else throw new IllegalArgumentException(
            s"the streaming-batch ledger at $root belongs to the sink " +
              s"checkpoint fingerprinted '$legacy' (pre-r20 form); " +
              s"this query's checkpoint fingerprints '$locHash' — one " +
              "standing query per sink table. Write through the " +
              "original checkpoint, or re-init the table")
      }
    }
  }

  /** Highest batch id the ledger has recorded (−1 if none): the max
    * of the folded watermark and every visible `#batch:` marker.
    * Authoritative even for EMPTY batches and across compaction
    * (metadata lines carry through every rewrite) — what
    * [[SignatureStore.latestGeneration]] answers from. */
  private[operators] def ledgerHigh(snap: Snapshot): Long =
    (batchesThrough(snap.meta) +: snap.meta.collect {
      case s if s.startsWith(BatchPrefix) =>
        s.stripPrefix(BatchPrefix).toLong
    }).max

  /** EXACTLY-ONCE streaming append: commit `df` as micro-batch
    * `batchId`, recording a `#batch:<id>` marker IN the manifest —
    * marker and file list publish through the same atomic commit,
    * so there is no window where the data is visible but the batch
    * unrecorded (or vice versa). A replayed batch (same id — the
    * Structured Streaming contract) finds its marker (or the
    * [[foldBatches]] watermark covering it) and returns the current
    * snapshot without writing anything; a replay racing a concurrent
    * commit re-reads and re-checks inside the transaction. The
    * ledger grows one line per batch until [[foldBatches]] folds the
    * contiguous prefix into a single watermark line. */
  def appendBatch(spark: SparkSession, root: String, batchId: Long,
                  df: DataFrame): Snapshot =
    appendBatchWith(spark, root, batchId, df, latest(root))

  /** [[appendBatch]] against a head the CALLER already read — the
    * one-manifest-read-per-micro-batch seam (guide §6 round-trips):
    * the streaming sink and the signature store read the head once
    * per batch and thread it through the replay check, the stat
    * lookup, and the transaction's FIRST attempt. A stale head is
    * harmless by construction: it can only miss NEWER commits (batch
    * markers never retract), so a stale replay-check FALSE is
    * re-checked by [[transact]] after the version-collision re-read,
    * and a stale commit attempt loses its publish (atomic
    * complete-or-absent) and retries fresh. */
  private[graft] def appendBatchWith(spark: SparkSession, root: String,
                                     batchId: Long, df: DataFrame,
                                     head: Option[Snapshot]): Snapshot =
    // the replay-check read also serves the stat-column lookup
    transact(root, "appendBatch", NoConflict,
      head = Some(head.getOrElse(Empty)),
      ledger = Some(batchId -> ((s: Snapshot) => s))) { (cur, w) =>
      val (newFiles, newStats) = w.data(spark, df, cur)
      Right(Plan(c => Some(c.copy(files = c.files ++ newFiles,
        stats = c.stats ++ newStats)), s => s, schema = Some(df.schema)))
    }

  /** [[overwrite]] under the batch ledger — the streaming
    * COMPLETE-mode commit: the new snapshot references ONLY this
    * batch's files AND carries the `#batch:<id>` marker in the same
    * atomic publish, so a replayed micro-batch (same id) returns the
    * current snapshot without writing or committing anything. Same
    * identity-metadata carry as [[overwrite]]. */
  def overwriteBatch(spark: SparkSession, root: String, batchId: Long,
                     df: DataFrame): Snapshot =
    overwriteBatchWith(spark, root, batchId, df, latest(root))

  /** [[overwriteBatch]] against a caller-read head — same one-read
    * seam and staleness argument as [[appendBatchWith]]. */
  private[graft] def overwriteBatchWith(spark: SparkSession, root: String,
                                        batchId: Long, df: DataFrame,
                                        head: Option[Snapshot]): Snapshot =
    transact(root, "overwriteBatch", NoConflict,
      head = Some(head.getOrElse(Empty)),
      ledger = Some(batchId -> ((s: Snapshot) => s))) { (cur, w) =>
      val (newFiles, newStats) = w.data(spark, df, cur)
      Right(Plan(c => Some(c.copy(files = newFiles, stats = newStats)),
        s => s, schema = Some(df.schema)))
    }

  /** Fold the streaming batch ledger: replace the contiguous prefix
    * of `#batch:<id>` markers (starting just above the existing
    * watermark) with one `#batches_through:<id>` line, keeping the
    * newest `keepRecent` markers visible as an audit tail. Keeps
    * manifest size O(files + recent batches) over millions of
    * micro-batches; a replayed pre-watermark batch still commits
    * nothing ([[appendBatch]] checks the watermark first). Only the
    * CONTIGUOUS prefix folds — a gap in the id sequence (impossible
    * under the Structured Streaming contract, possible with manual
    * ids) is never papered over, because the watermark asserts every
    * id at or below it committed. Maintenance op, like
    * [[expireManifests]] — run it on the same cadence. */
  def foldBatches(root: String, keepRecent: Int = 0): Snapshot = {
    require(keepRecent >= 0, "keepRecent must be >= 0")
    metaCommit(root) { cur =>
      val (newMeta, changed) = foldedMeta(present(root, cur).meta, keepRecent)
      if (changed) Some(cur.copy(meta = newMeta)) else None
    }
  }

  private def foldedMeta(meta: Seq[String],
                         keepRecent: Int): (Seq[String], Boolean) = {
    val ids = meta.collect {
      case s if s.startsWith(BatchPrefix) =>
        s.stripPrefix(BatchPrefix).toLong
    }.sorted
    val chain = {
      var t = batchesThrough(meta)
      ids.foreach { id => if (id == t + 1) t += 1 }
      t
    }
    // the watermark stops below the kept audit tail (and never moves
    // backwards past a previous fold)
    val kept = ids.takeRight(keepRecent)
    val through = math.max(batchesThrough(meta),
      if (kept.isEmpty) chain else math.min(chain, kept.min - 1))
    val foldable = ids.filter(_ <= through).toSet
    if (foldable.isEmpty) (meta, false)
    else {
      val rest = meta.filterNot { s =>
        s.startsWith(ThroughPrefix) ||
          (s.startsWith(BatchPrefix) &&
            foldable(s.stripPrefix(BatchPrefix).toLong))
      }
      (s"$ThroughPrefix$through" +: rest, true)
    }
  }

  // ---- deletion vectors (merge-on-read deletes) ----

  /** The DV columns every sidecar parquet carries: the root-relative
    * data-file path and the parquet ROW POSITION of a deleted row in
    * it (Spark's `_metadata.row_index` — stable for an immutable
    * file, the public mechanism Delta's DVs key on). */
  private[graft] val DvSchema = StructType(Seq(
    StructField("file", org.apache.spark.sql.types.StringType,
      nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Deleted rows above this total skip the explicit broadcast on the
    * overlay anti-join (a DV that big should be folded by compaction
    * anyway; the plain join still works). ~16 bytes/row broadcast. */
  private val DvBroadcastMaxRows = 4L * 1000 * 1000

  /** file → (dv dir, deleted-row count) for the files of `snap` that
    * carry one. Empty on every pre-r20 snapshot. */
  private[graft] def dvRefsOf(snap: Snapshot,
                              files: Seq[String])
      : Map[String, (String, Long)] =
    files.flatMap(f => snap.stats.get(f).flatMap { p =>
      val st = ManifestStats.decodeCached(p)
      st.dvRef.map(r => f -> (r, st.dvRows))
    }).toMap

  /** Root-relative path of an absolute scan path, as a Column —
    * the codegen'd twin of [[relPathOf]] (last three segments). */
  private def relPathCol(abs: Column): Column =
    F.array_join(F.slice(F.split(abs, "/"), -3, 3), "/")

  /** The (file, pos) rows of the given DV dirs (exact schema read —
    * no footer scan). */
  private def dvRows(spark: SparkSession, root: String,
                     dirs: Seq[String]): DataFrame =
    spark.read.schema(DvSchema)
      .parquet(dirs.distinct.sorted.map(d => s"$root/$d"): _*)

  /** MERGE-ON-READ OVERLAY — applied once per DV-carrying scan by the
    * one scan builder ([[graft.sources.ManifestSql.scan]]), which every
    * Scala read and SQL door plans through. `scanned` must carry
    * `absCol` (absolute file path) and `posCol` (parquet row index)
    * alongside the data columns; rows whose (file, pos) appear in
    * `dv` (rows of [[DvSchema]]) drop. The DV side broadcasts when
    * small (`dvRows` deleted rows; a point delete's overlay is a
    * map-side hash probe — no shuffle on the 100 TB scan side); a huge
    * DV falls back to a plain join and is compaction's cue to fold. */
  private[graft] def overlayDv(dv: DataFrame, dvRows: Long,
                               scanned: DataFrame, absCol: String,
                               posCol: String): DataFrame = {
    val renamed = dv.withColumnRenamed("file", "__dv_file")
      .withColumnRenamed("pos", "__dv_pos")
    val side =
      if (dvRows <= DvBroadcastMaxRows) F.broadcast(renamed) else renamed
    scanned.join(side,
      relPathCol(scanned(absCol)) === side("__dv_file") &&
        scanned(posCol) === side("__dv_pos"),
      "left_anti")
  }

  /** Does any live file of `snap` carry a deletion vector? (The
    * cheap gate the SQL doors probe before building an overlay.) */
  private[graft] def hasDv(snap: Snapshot): Boolean =
    snap.files.exists(f => snap.stats.get(f).exists(
      ManifestStats.decodeCached(_).dvRef.isDefined))

  // ---- reads ----

  /** The latest snapshot's rows. */
  def read(spark: SparkSession, root: String): DataFrame =
    readSnapshot(spark, root, latest(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root")))

  /** [[isBatchCommitted]] against a caller-read head. */
  private[operators] def isBatchCommittedIn(head: Option[Snapshot],
                                            batchId: Long): Boolean =
    head.exists(batchCommitted(_, batchId))

  /** TIME TRAVEL: the table as of `version`. Readable as long as (a)
    * the manifest file survives ([[expireManifests]] retention) and
    * (b) the version's data files survive ([[vacuum]] retention —
    * vacuum keeps only the LATEST version's files once the grace
    * passes, so pin retention to the travel horizon you need). */
  def readVersion(spark: SparkSession, root: String,
                  version: Int): DataFrame =
    readSnapshot(spark, root, snapshot(root, version).getOrElse(
      throw new IllegalStateException(
        s"no manifest v$version at $root (never published or expired)")))

  /** A snapshot's rows through the one scan builder
    * ([[graft.sources.ManifestSql.scan]]), pinned to `snap` for good —
    * `snap` may be a file subset, and a refresh never moves or widens
    * it. The recorded schema plans the scan (zero footer reads; files
    * written before a column existed read NULL for it; a pre-ledger
    * manifest's schema is the one-off footer merge of
    * [[recordedSchemaOf]]); RENAMED columns read through their
    * `#colmap:` chain, DROPPED ones are absent, and deletion vectors
    * apply. `fileCol` / `posCol` add each row's file path and parquet
    * row index — join-safe and transparent to filter pushdown, so a
    * victim predicate still reaches the parquet scan (the
    * copy-on-write victim scans, the MoR delete and the MERGE probes
    * ride them). Also the one-read seam for lifecycle operators that
    * read, number, and commit against the same head
    * ([[SignatureStore.ingest]]). */
  private[operators] def readSnapshot(spark: SparkSession, root: String,
                                      snap: Snapshot,
                                      fileCol: Option[String] = None,
                                      posCol: Option[String] = None)
      : DataFrame =
    graft.sources.ManifestSql.scan(spark, root, snap, Some(snap.version),
      fileCol, posCol)

  /** CHANGE DATA FEED between two published versions — row-level
    * inserts and deletes derived from the manifests' FILE diff, with
    * no per-row tracking anywhere:
    *  - rows of removed files EXCEPT ALL rows of added files = the
    *    DELETES; added EXCEPT ALL removed = the INSERTS (multiset
    *    semantics, so duplicate rows account correctly);
    *  - COST: one scan per side and ONE aggregate — both EXCEPT ALLs
    *    computed at once by their own rewrite's algebra (each side's
    *    rows weighted ±1, grouped by every column, each non-zero
    *    group replicated |sum| times), so NULLs and float
    *    normalization behave exactly as in EXCEPT ALL;
    *  - an UPDATE surfaces as its delete+insert pair, and the
    *    UNCHANGED rows of a rewritten file cancel out — a pure
    *    COMPACTION between the versions reports ZERO changes (layout
    *    is not data);
    *  - cost scales with the CHANGED files only, never the table —
    *    at 100 TB a point delete's feed reads the two file sets the
    *    rewrite touched.
    * Both sides read through the TO version's schema and rename
    * chain, so changes are expressed in the newest column names. The
    * output adds `_change_type` ('insert' | 'delete'). Both versions
    * must still be published ([[expireManifests]] retention bounds
    * the feed's lookback) AND their changed data files must survive
    * [[vacuum]]'s reader retention (vacuum keeps only the LATEST
    * version's files once the grace passes — exactly the
    * [[readVersion]] contract): a removed file already vacuumed fails
    * the pre-check below with a retention-specific error instead of a
    * mid-job read failure. */
  def changes(spark: SparkSession, root: String, fromVersion: Int,
              toVersion: Int): DataFrame = {
    val (rem, add) = changeSides(spark, root, fromVersion, toVersion)
    // RewriteExceptAll's algebra for both directions at once: a group
    // with sum n > 0 is n deletes, n < 0 is |n| inserts
    val cols = rem.columns.toSeq.map(F.col)
    val n = F.col("__cdf_n")
    rem.withColumn("__cdf_w", F.lit(1L))
      .unionByName(add.withColumn("__cdf_w", F.lit(-1L)))
      .groupBy(cols: _*).agg(F.sum("__cdf_w").as("__cdf_n"))
      .filter(n =!= 0L)
      .withColumn("__cdf_rep", F.explode(F.sequence(F.lit(1L), F.abs(n))))
      .select(cols :+ F.when(n > 0L, F.lit("delete")).otherwise(F.lit("insert"))
        .as("_change_type"): _*)
  }

  /** The two row sets [[changes]] diffs: every row of the files
    * removed between the versions (read under `fromVersion`'s
    * deletion vectors) and every row of the files added (under
    * `toVersion`'s), both in the TO version's logical shape. */
  private[graft] def changeSides(spark: SparkSession, root: String,
                                 fromVersion: Int, toVersion: Int)
      : (DataFrame, DataFrame) = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    def snap(v: Int): Snapshot = snapshot(root, v).getOrElse(
      throw new IllegalStateException(
        s"no manifest v$v at $root (never published or expired)"))
    val from = snap(fromVersion)
    val to = snap(toVersion)
    val toSet = to.files.toSet
    val fromSet = from.files.toSet
    // a file carried between the versions whose DELETION-VECTOR state
    // moved participates as removed@from + added@to: the multiset
    // diff then yields exactly the newly-DV'd rows as deletes (and a
    // DV-restoring rewrite's rows as inserts) — a DV-only commit
    // changes no file list, but it IS a row-level change
    val dvChanged = from.files.filter(toSet).filter(f =>
      dvStateOf(from, f) != dvStateOf(to, f))
    val removed = from.files.filterNot(toSet) ++ dvChanged
    val added = to.files.filterNot(fromSet) ++ dvChanged
    // O(changed files) existence probes — the feed's own cost scale
    locally {
      val fs = fsOf(new HPath(root))
      val dvDirs = (dvRefsOf(from, removed) ++ dvRefsOf(to, added))
        .values.map(_._1).toSeq.distinct
      val gone = (removed ++ added)
        .filterNot(f => fs.exists(new HPath(root, f))) ++
        dvDirs.filterNot(d => fs.exists(new HPath(root, d)))
      if (gone.nonEmpty) throw new IllegalStateException(
        s"change feed v$fromVersion..v$toVersion at $root needs " +
          s"${gone.size} data file(s) vacuum has already deleted " +
          s"(e.g. ${gone.head}) — the CDF lookback is bounded by the " +
          "vacuum/reader-retention contract, like readVersion")
    }
    // pre-ledger manifests (no recorded schema): ONE schema over BOTH
    // changed-file sets, so the two sides align by name
    val changedAll = removed ++ added
    val readBase: Snapshot =
      if (to.schemaJson.isDefined) to
      else to.copy(schemaJson = Some(recordedSchemaOf(spark, root, to.copy(
        files = if (changedAll.nonEmpty) changedAll else to.files)).json))
    // each side reads under ITS OWN version's stat payloads, so a
    // file's DV overlay matches the version being diffed
    def rowsOf(files: Seq[String], statsOf: Snapshot): DataFrame =
      readSnapshot(spark, root,
        readBase.copy(files = files, stats = statsOf.stats))
    (rowsOf(removed, from), rowsOf(added, to))
  }

  /** Drop manifest files older than the newest `keepLast` versions —
    * the manifest-count valve for long-lived tables (one tiny file
    * per commit adds up over millions of commits). Time travel below
    * the horizon is gone afterwards; the latest version is always
    * kept (`keepLast` ≥ 1). Safe against concurrent committers: they
    * only ever create strictly NEWER versions, and [[latest]] takes
    * the max of what remains (expiry deletes a PREFIX, so the hint's
    * forward probe still lands on the head). Returns expired
    * versions. */
  def expireManifests(root: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val dir = manifestDir(root)
    val fs = fsOf(dir)
    if (!fs.exists(dir)) return Seq.empty
    val victims = versionNumbers(fs, dir).sorted.dropRight(keepLast)
    victims.foreach(v => fs.delete(new HPath(dir, s"v$v"), false))
    victims
  }

  /** Rewrite the CURRENT snapshot into ~`targetFileBytes` files and
    * commit the compacted state, carrying forward any files appended
    * after the base snapshot was taken. If a CONFLICTING REWRITE wins
    * the race (the latest manifest no longer contains the full base
    * set — some other compaction already replaced those files), this
    * one ABORTS and returns the winner's snapshot: merging two
    * rewrites of the same base would commit every base row twice.
    * The abandoned compacted files become orphans for [[vacuum]].
    * `beforeCommit` is a test seam for injecting a concurrent
    * append/compaction between the rewrite and the commit race.
    *
    * `clusterBy` RANGE-CLUSTERS the rewrite on the given columns
    * (range repartition + within-partition sort) — the maintenance op
    * that makes stats pruning EFFECTIVE on a table built from
    * unsorted appends: before, every file spans the whole key range
    * and a point predicate lists every file; after, each file owns a
    * tight disjoint band and [[candidateFiles]] lists ~one. Cluster
    * on the declared stat columns; sorting within files also tightens
    * parquet's own row-group stats for engines reading the files
    * directly. */
  def compact(spark: SparkSession, root: String, targetFileBytes: Long,
              beforeCommit: () => Unit = () => (),
              clusterBy: Seq[String] = Seq.empty): Snapshot =
    // the read set is the whole base: a conflicting rewrite or a MoR
    // delete on any base file ABORTS (compaction is layout-only;
    // merging two rewrites of one base would commit every base row
    // twice, and a rewrite read through the OLD overlay would
    // resurrect the delete's victims). Files that appeared since the
    // base are appends — kept after the compacted set
    rewriteFiles(spark, root, "compact", Abort, targetFileBytes,
      _.files, clusterBy, rewrittenFirst = true, beforeCommit)

  /** A file's recorded on-disk size — the `bytes:` stat every write
    * commits with its file list; None for a legacy line predating the
    * field. */
  private[graft] def recordedBytesOf(snap: Snapshot, f: String): Option[Long] =
    snap.stats.get(f).map(ManifestStats.decodeCached(_).bytes).filter(_ >= 0L)

  /** Total on-disk bytes of `files`: their recorded sizes, with
    * `fsLen` (an FS stat) asked for only the legacy files lacking
    * one. */
  private[graft] def bytesOf(snap: Snapshot, files: Seq[String])
                            (fsLen: String => Long): Long =
    files.map(f => recordedBytesOf(snap, f).getOrElse(fsLen(f))).sum

  /** How many ~`target`-byte files `bytes` of output make (≥ 1). */
  private def fileCount(bytes: Long, target: Long): Int =
    math.max(1L, (bytes + target - 1) / target).toInt

  /** A row-level rewrite's output, narrowed (no shuffle) to the file
    * count its input bytes call for at the session's advisory
    * partition size — the size AQE coalesces a shuffled rewrite to.
    * A rewrite whose join broadcasts a key set keeps the scan's
    * partitioning, one file per scan split, without this.
    * `extraBytes` prices rows that are not in `files` (a merge's
    * inserts). */
  private def sizedRewrite(spark: SparkSession, root: String, base: Snapshot,
                           files: Seq[String], out: DataFrame,
                           extraBytes: Long = 0L): DataFrame = {
    lazy val fs = fsOf(new HPath(root))
    val bytes = bytesOf(base, files)(f =>
      fs.getFileStatus(new HPath(root, f)).getLen) + extraBytes
    out.coalesce(fileCount(bytes, org.apache.spark.sql.internal.SQLConf.get
      .getConf(org.apache.spark.sql.internal.SQLConf
        .ADVISORY_PARTITION_SIZE_IN_BYTES)))
  }

  /** A pinned frame's size estimate — its row-count statistics times
    * the schema's per-row width ([[Pin]]). */
  private def pinnedBytes(pinned: DataFrame): Long =
    pinned.queryExecution.analyzed.stats.sizeInBytes.min(Long.MaxValue).toLong

  /** The one LAYOUT REWRITE behind [[compact]] and [[foldDeletes]]:
    * the files `select` picks from the head (none = no scan, no
    * commit) are read through the deletion-vector overlay — deleted
    * rows drop out — arranged into ~`targetFileBytes` files (sized by
    * [[bytesOf]]; range-clustered and sorted on `clusterBy` when
    * given), written, and swapped in for exactly those files, with
    * the selection as the read set under `rule`. Files committed
    * since the base carry, after the rewritten ones when
    * `rewrittenFirst`, before them otherwise. */
  private def rewriteFiles(spark: SparkSession, root: String, op: String,
                           rule: OnConflict, targetFileBytes: Long,
                           select: Snapshot => Seq[String],
                           clusterBy: Seq[String] = Seq.empty,
                           rewrittenFirst: Boolean = false,
                           beforeCommit: () => Unit = () => ()): Snapshot = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    transact(root, op, rule, beforeCommit = beforeCommit) { (head, w) =>
      val base = present(root, head)
      val picked = select(base)
      if (picked.isEmpty) Left(base)
      else {
        lazy val fs = fsOf(new HPath(root))
        val n = fileCount(bytesOf(base, picked)(f =>
          fs.getFileStatus(new HPath(root, f)).getLen), targetFileBytes)
        val read = readSnapshot(spark, root, base.copy(files = picked))
        val arranged = if (clusterBy.isEmpty) read.repartition(n)
        else {
          val missing = clusterBy.filterNot(read.columns.contains)
          require(missing.isEmpty,
            s"clusterBy column(s) not in the table: ${missing.mkString(",")}")
          read.repartitionByRange(n, clusterBy.map(F.col): _*)
            .sortWithinPartitions(clusterBy.map(F.col): _*)
        }
        val (newFiles, newStats) = w.data(spark, arranged, base)
        val pickedSet = picked.toSet
        Right(Plan(cur => {
          val carried = cur.files.filterNot(pickedSet)
          Some(cur.copy(
            files = if (rewrittenFirst) newFiles ++ carried
                    else carried ++ newFiles,
            stats = cur.stats ++ newStats))
        }, s => s, readSet = picked))
      }
    }
  }

  // ---- the one row-level change ----

  /** How a row-level change lands ([[rowChange]]). */
  private sealed trait Shape

  /** COPY-ON-WRITE: each affected file is read through the DV overlay
    * and `keep` (the writer's row transform); that output, unioned with
    * `extra` (rows of this attempt — MERGE's inserts), is narrowed by
    * [[sizedRewrite]] and written in one job. With `foldSchema` its
    * schema folds into the head's as a batch's would (MERGE); a delete
    * or an update rewrites under the recorded schema. */
  private final case class Rewrite(keep: DataFrame => DataFrame,
                                   extra: Option[DataFrame] = None,
                                   foldSchema: Boolean = false) extends Shape

  /** DELETION VECTOR: `victims` (pinned `file`, `pos` rows) plus the
    * affected files' prior DV rows become ONE new sidecar, and the
    * affected files' stat payloads point at it; no data file is
    * rewritten and the file list does not change. */
  private final case class Sidecar(victims: DataFrame) extends Shape

  /** One attempt of a row-level writer: its per-file probe
    * (root-relative file → what the writer counts there; the files it
    * names are the affected set), the shape the change lands in, and
    * the writer's answer from a snapshot and the probe's total. */
  private final case class Probe[R](perFile: Map[String, Long], shape: Shape,
                                    result: (Snapshot, Long) => R)

  /** A row-level writer: its attempt against a base snapshot, and the
    * rows it adds whatever the probe finds. */
  private final case class RowWriter[R](attempt: Snapshot => Probe[R],
                                        added: Option[DataFrame] = None)

  private val NoFiles = (Seq.empty[String], Map.empty[String, String])

  /** THE row-level commit: every DELETE, UPDATE, REPLACE WHERE, upsert,
    * MERGE and merge-on-read delete is one [[transact]] under rule
    * RESTART through here. `setup` (the writer's pins, victim set and
    * up-front checks) runs once; then each attempt
    *  - writes `added` — on the first attempt only, a restart reuses
    *    its files;
    *  - runs the writer's probe, whose files are the affected set;
    *  - with nothing affected or added, commits nothing (a ledgered
    *    writer still lands its `#batch` marker on the head);
    *  - writes the shape's output: a sized rewrite of the affected
    *    files plus the attempt's extra rows, or a DV sidecar over them;
    *  - commits one [[Plan]]: carried ++ rewritten ++ added files and
    *    their stats, the affected files as the read set, `added`'s
    *    schema merged.
    * Every frame pinned from `setup` on is released when the
    * transaction ends ([[Pin.scoped]]), as [[Writes]] clears intents. */
  private def rowChange[R](spark: SparkSession, root: String, op: String,
                           head: Option[Snapshot] = None,
                           ledger: Option[(Long, Snapshot => R)] = None,
                           beforeCommit: () => Unit)
                          (setup: => RowWriter[R]): R = Pin.scoped {
    val writer = setup
    var addedOut: Option[(Seq[String], Map[String, String])] = None
    transact(root, op, Restart, head, ledger, beforeCommit) { (hd, w) =>
      val base = present(root, hd)
      val (addedFiles, addedStats) = writer.added.fold(NoFiles) { df =>
        if (addedOut.isEmpty) addedOut = Some(w.data(spark, df, base))
        addedOut.get
      }
      val p = writer.attempt(base)
      val affected = base.files.filter(p.perFile.contains)
      val result = (s: Snapshot) => p.result(s, p.perFile.values.sum)
      val extra = p.shape match {
        case r: Rewrite => r.extra
        case _: Sidecar => None
      }
      def plan(gone: Set[String], written: (Seq[String], Map[String, String]),
               pointed: Snapshot => Map[String, String],
               schema: Option[StructType]) =
        Right(Plan(cur => Some(cur.copy(
          files = cur.files.filterNot(gone) ++ written._1 ++ addedFiles,
          stats = cur.stats ++ written._2 ++ pointed(cur) ++ addedStats)),
          result, readSet = affected,
          schema = writer.added.map(_.schema).orElse(schema)))
      if (affected.isEmpty && writer.added.isEmpty && extra.isEmpty) {
        if (ledger.isEmpty) Left(result(base))
        else Right(Plan(Some(_), result))
      } else p.shape match {
        case Rewrite(keep, _, foldSchema) =>
          // through the mapped projection, so rewritten files carry
          // the CURRENT names
          val rewritten = if (affected.isEmpty) None
            else Some(keep(readSnapshot(spark, root, base.copy(files = affected))))
          val out = (rewritten ++ extra).reduceOption(_ unionByName _)
          plan(affected.toSet, out.fold(NoFiles)(o => w.data(spark,
            sizedRewrite(spark, root, base, affected, o,
              extra.fold(0L)(pinnedBytes)), base)),
            _ => Map.empty, out.filter(_ => foldSchema).map(_.schema))
        case Sidecar(victims) =>
          // prior DV rows of the affected files carry into the new
          // sidecar (one dvref per file — the new one supersedes)
          val oldRefs = dvRefsOf(base, affected)
          val dv = if (oldRefs.isEmpty) victims else {
            // LocalRelation, not parallelize: a driver-local name list
            // embeds in the plan (broadcastable, no RDD closure to
            // clean, no extra stage)
            val affectedDf = spark.createDataset(affected)(
              org.apache.spark.sql.Encoders.STRING).toDF("__aff")
            victims.unionByName(dvRows(spark, root, oldRefs.values.map(_._1).toSeq)
              .join(affectedDf, F.col("file") === F.col("__aff"), "left_semi"))
          }
          val dvDir = w.sidecarDir()
          val total = p.perFile.values.sum + oldRefs.values.map(_._2).sum
          // narrowed WITHOUT a shuffle: the victims are pinned, so the
          // write reads their blocks in fewer tasks
          dv.coalesce(math.max(1L, total / (8L * 1000 * 1000)).toInt)
            .write.parquet(s"$root/$dvDir")
          plan(Set.empty, NoFiles, cur => affected.map { f =>
            val st = cur.stats.get(f).map(ManifestStats.decodeCached)
              .getOrElse(ManifestStats.FileStats(-1L, Map.empty))
            f -> ManifestStats.encode(st.copy(dvRef = Some(dvDir),
              dvRows = st.dvRows + p.perFile(f)))
          }.toMap, None)
      }
    }
  }

  private val FileCol = "__file"
  private val PosCol = "__pos"

  /** The victim rows of `v` in `base`'s candidate files (the prune
    * bounds even the victim scan — the affected set is provably inside
    * it), with each row's absolute file path as `__file` and, with
    * `withPos`, its parquet row index as `__pos`. Both materialize AT
    * THE SCAN, before any join the victim filter adds, and the scan
    * overlays existing DVs, so an already-deleted row is never a
    * victim (or a survivor). None: no candidate file. */
  private def victimScan(spark: SparkSession, root: String, base: Snapshot,
                         v: Victims, withPos: Boolean): Option[DataFrame] = {
    val files =
      v.prune.map(candidateFiles(spark, root, base, _)).getOrElse(base.files)
    if (files.isEmpty) None
    else Some(v.hits(readSnapshot(spark, root, base.copy(files = files),
      fileCol = Some(FileCol), posCol = if (withPos) Some(PosCol) else None)))
  }

  /** A probe's (absolute scan path, count) rows, keyed by the
    * root-relative path (file entries are always data/<token>/part-*,
    * three segments). */
  private def perFileOf(probe: DataFrame): Map[String, Long] =
    probe.collect().map(r => relPathOf(r.getString(0)) -> r.getLong(1)).toMap

  /** The copy-on-write attempt over `v`: one pushed-down job counts the
    * victims per file — the affected set and the
    * [[Delete.removedRows]] report — and the affected files rewrite
    * through `keep`. */
  private def rewriteOf(spark: SparkSession, root: String, v: Victims,
                        keep: DataFrame => DataFrame)
                       (base: Snapshot): Probe[Delete] =
    Probe(victimScan(spark, root, base, v, withPos = false).fold(
      Map.empty[String, Long])(hits => perFileOf(hits.groupBy(FileCol).count())),
      Rewrite(keep), Delete(_, _))

  /** The deletion-vector attempt over `v`: the victims' (file, pos) pin
    * and count per file in ONE job ([[Pin.countByKey]]), so the sidecar
    * and the per-file pricing see the same rows. */
  private def sidecarOf(spark: SparkSession, root: String, v: Victims)
                       (base: Snapshot): Probe[Delete] =
    victimScan(spark, root, base, v, withPos = true) match {
      case None => Probe(Map.empty, Sidecar(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), DvSchema)),
        Delete(_, _))
      case Some(hits) =>
        val (victims, perFile) = Pin.countByKey(hits.select(
          relPathCol(F.col(FileCol)).as("file"), F.col(PosCol).as("pos")), "file")
        Probe(perFile, Sidecar(victims), Delete(_, _))
    }

  /** Row-level DELETE — copy-on-write rewrite of ONLY the files that
    * contain victim rows: the REWRITE shape of the one row-level body
    * ([[rowChange]]; the class doc states both shapes).
    * The scale-store counterpart of the reference's own S7 delete
    * (`classes/hive/model.php:831-853`) and the primitive a
    * takedown/retraction pass needs: at 100 TB a purge touches the
    * handful of files holding the victim ids, never the table.
    * Victims are the rows where `predicate` holds AND every
    * membership term holds ([[MembershipTerm]] — the `WHERE p AND
    * c IN (SELECT …) AND [NOT] EXISTS (…)` shape; none by default).
    *
    *  - locating victims reads the base snapshot WITH the predicate
    *    pushed to the parquet scan (only matching row-groups
    *    decode) and aggregates ONE job: victim count per affected
    *    file — a metadata-scale collect, bounded by the file count,
    *    that also prices the [[Delete.removedRows]] report (no
    *    second victim scan anywhere);
    *  - the victim scan prunes by the predicate AND each POSITIVE
    *    term's value set (IN-list + Blooms when driver-sized, range
    *    beyond); negated terms cannot prune (absence is not a
    *    bounds-provable property);
    *  - untouched files are carried into the new snapshot by
    *    reference — their bytes are never read or rewritten;
    *  - conflict rule RESTART (the class doc): a compaction abort is
    *    safe (the data is unchanged, only its layout), but a delete
    *    MUST apply — if a concurrent rewrite replaced an affected
    *    file, the whole pass reruns against the new snapshot.
    *    Concurrent appends merge conflict-free exactly as in compact
    *    (their files are outside the affected set) — note an append
    *    racing in rows matching `predicate` lands AFTER this delete's
    *    victim scan and survives it, the standard snapshot-isolation
    *    reading of a concurrent DELETE + INSERT.
    * A NULL predicate result keeps the row (DELETE: NULL is not
    * TRUE). `beforeCommit` is the usual race-injection test seam. */
  def deleteWhere(spark: SparkSession, root: String, predicate: Column,
                  terms: Seq[MembershipTerm] = Nil,
                  beforeCommit: () => Unit = () => ()): Delete =
    rowChange(spark, root, "deleteWhere", beforeCommit = beforeCommit) {
      val v = victimsOf(spark, Some(predicate), terms.map(pinned))
      RowWriter(rewriteOf(spark, root, v, v.keep))
    }

  /** [[deleteWhere]] for a victim set that is NOT driver-sized — the
    * frame-shaped takedown ([[Retraction.purgeWhere]] resume path):
    * the single-id-column `victims` frame is one membership term
    * (joins, AQE broadcasts the smaller side) instead of an `isin`
    * literal, with the same copy-on-write rewrite, restart, and
    * snapshot-isolation semantics. */
  def deleteIds(spark: SparkSession, root: String, idCol: String,
                victims: DataFrame,
                beforeCommit: () => Unit = () => ()): Delete =
    rowChange(spark, root, "deleteIds", beforeCommit = beforeCommit) {
      val v = victimsOf(spark, None, Seq(pinned(MembershipTerm(idCol, victims))))
      RowWriter(rewriteOf(spark, root, v, v.keep))
    }

  /** Driver-sized id sets past this prune by RANGE only. Under the
    * cap the ids travel as an IN-list predicate, which the per-file
    * BLOOM stats answer key-by-key — the scattered-id shape (point
    * deletes on unclustered keys, CDC merge batches) then opens
    * ~(matching + fpp·files) files instead of every range-straddling
    * file. The cap bounds the driver's per-file probe cost and stays
    * inside [[ManifestStats.MaxInProbe]]. */
  private val IdInPruneMax = 1024

  /** The victim/merge-scan prune for an id frame: an exact IN-list
    * when the DISTINCT id set is small enough to probe (bloom-able),
    * else the id RANGE (tight on a clustered table — the documented
    * operating contract for large scattered batches: cluster by the
    * key, or accept candidate-wide scans). */
  private def idPrune(spark: SparkSession, idCol: String,
                      distinctIds: DataFrame,
                      frameCol: String): Option[Column] = {
    // ONE job decides the branch AND supplies the IN values: take one
    // row past the cap — short when the set is small, an early-exit
    // scan when it is not (the frame is localCheckpoint-pinned by
    // every caller, so this never recomputes upstream lineage)
    val probe = distinctIds.take(IdInPruneMax + 1)
    if (probe.isEmpty) return None
    if (probe.length <= IdInPruneMax) {
      val vals = probe.toSeq.map(_.get(0))
      if (!vals.contains(null))
        return Some(F.col(idCol).isInCollection(vals))
    }
    // the id set is not driver-sized, but its RANGE is one row —
    // enough to prune to range-intersecting files on a clustered
    // table (ids ⊆ [min, max] by construction)
    val mm = distinctIds.agg(F.min(frameCol), F.max(frameCol)).head()
    if (mm.isNullAt(0)) None
    else Some(F.col(idCol) >= F.lit(mm.get(0)) &&
      F.col(idCol) <= F.lit(mm.get(1)))
  }

  /** Row-level UPDATE — the copy-on-write twin of [[deleteWhere]]
    * (the REWRITE shape of [[rowChange]], with the assignments as the
    * row transform) and the scale form of the reference's S6 update
    * (`classes/hive/model.php:762-829`): rows where `predicate` and
    * every membership term hold (the delete's victims, same
    * pruning) get `assignments` applied (column -> replacement
    * expression, evaluated against the row); only the files that
    * contain matched rows are rewritten, everything else is carried
    * by reference. Conflict rule RESTART (the class doc), with the
    * delete's snapshot-isolation reading: a concurrent append
    * lands untouched even if its rows match `predicate` (they
    * post-date the scan). A NULL predicate result leaves the row
    * unchanged (UPDATE WHERE semantics). Assignments must not change
    * a column's type — the recorded schema is the contract every
    * reader plans with. Returns the committed snapshot and the
    * matched-row count from the update's own single victim scan. */
  def updateWhere(spark: SparkSession, root: String, predicate: Column,
                  assignments: Map[String, Column],
                  terms: Seq[MembershipTerm] = Nil,
                  beforeCommit: () => Unit = () => ()): Delete = {
    require(assignments.nonEmpty, "updateWhere needs at least one assignment")
    rowChange(spark, root, "updateWhere", beforeCommit = beforeCommit) {
      val v = victimsOf(spark, Some(predicate), terms.map(pinned))
      RowWriter(rewriteOf(spark, root, v, df => {
        val unknown = assignments.keySet -- df.columns.toSet
        require(unknown.isEmpty,
          s"updateWhere assigns to unknown column(s): ${unknown.mkString(",")}")
        val out = v.mark(df).select(df.columns.toSeq.map { c =>
          assignments.get(c) match {
            case Some(expr) => F.when(v.fire, expr).otherwise(F.col(c)).as(c)
            case None => F.col(c)
          }
        }: _*)
        df.schema.fields.zip(out.schema.fields).foreach { case (a, b) =>
          require(a.dataType.catalogString == b.dataType.catalogString,
            s"assignment changes column '${a.name}' from " +
              s"${a.dataType.catalogString} to ${b.dataType.catalogString}")
        }
        out
      }))
    }
  }

  /** One FRAME-shaped membership conjunct of a row-level delete or
    * update: `col IN <values>` (`negated = false` — the `c IN
    * (SELECT …)` / equality-correlated `EXISTS` shape) or `col`
    * matching NO values row (`negated = true` — the
    * equality-correlated `NOT EXISTS` shape, sound anti-join
    * semantics: a NULL `col` matches nothing, so it FIRES under
    * negation, exactly as `NOT EXISTS (… WHERE s.k = t.k)` does; this
    * is NOT `NOT IN`, whose three-valued NULL semantics stay
    * refused). `values` is a one-column frame, unbounded — membership
    * resolves through joins, never a driver list. */
  final case class MembershipTerm(col: String, values: DataFrame,
                                  negated: Boolean = false)

  /** A membership term whose values are pinned: the [[Pin.keySet]]
    * `keys` over their frame column `keyCol`. */
  private final case class PinnedTerm(col: String, keys: Pin.KeySet,
                                      keyCol: String, negated: Boolean = false)

  /** Pin a membership term's one-column values frame, in one job. */
  private def pinned(t: MembershipTerm): PinnedTerm = {
    require(t.values.columns.length == 1,
      s"values frame must have exactly one column, " +
        s"got ${t.values.columns.mkString(",")}")
    val kc = "__in_values"
    PinnedTerm(t.col, Pin.keySet(t.values.toDF(kc), Seq(kc), IdInPruneMax),
      kc, t.negated)
  }

  /** The victim set of one row-level write, from [[victimsOf]].
    * `mark` adds each joined term's `__in_id_<i>`/`__in_hit_<i>`
    * columns to a frame (`markers` lists them); `hit` is the victim
    * filter — the BARE predicate AND the terms, so the predicate pushes
    * to the parquet scan (a Filter drops NULL already); `fire` is its
    * two-valued form (NULL predicate → false) for the keep side and
    * UPDATE's `when`; `prune` bounds the victim scan's candidate files;
    * `keys` is each term's distinct non-null value count. */
  private final case class Victims(mark: DataFrame => DataFrame,
                                   markers: Seq[String], hit: Column,
                                   fire: Column, prune: Option[Column],
                                   keys: Seq[Long]) {
    def hits(df: DataFrame): DataFrame = mark(df).filter(hit)
    /** Every non-victim row of `df`, its own columns only. */
    def keep(df: DataFrame): DataFrame = {
      val kept = mark(df).filter(!fire)
      if (markers.isEmpty) kept else kept.drop(markers: _*)
    }
  }

  /** THE victim builder behind every row-level delete, update and
    * upsert: rows where `predicate` holds (None = every row) AND every
    * term holds, over the term's distinct non-null values (a NULL never
    * equality-matches). A driver-sized key set is an IN filter (no
    * join, so nothing shuffles or broadcasts) that is also the IN-list
    * prune; a larger one deduplicates and pins Spark-side
    * ([[Pin.count]], which also counts it), marks through a left-outer
    * join and prunes by [[idPrune]]. Null `col` values on a positive
    * term keep their rows (IN: NULL is not TRUE); on a negated term
    * they fire (anti semantics). */
  private def victimsOf(spark: SparkSession, predicate: Option[Column],
                        terms: Seq[PinnedTerm]): Victims = {
    // (mark, markers, membership, prune, distinct keys) per term
    val prepared = terms.zipWithIndex.map { case (t, i) =>
      t.keys.member(t.col) match {
        case Some(member) =>
          (identity[DataFrame] _, Nil, member,
            if (t.negated) None else t.keys.inList(0, t.col),
            t.keys.keys.get.size.toLong)
        case None =>
          val (idc, hitc) = (s"__in_id_$i", s"__in_hit_$i")
          val (v, n) = Pin.count(t.keys.frame.select(F.col(t.keyCol).as(idc))
            .na.drop().distinct().withColumn(hitc, F.lit(true)))
          val m: DataFrame => DataFrame =
            df => df.join(v, df(t.col) === v(idc), "left_outer")
          (m, Seq(idc, hitc), F.col(hitc).isNotNull,
            if (t.negated) None else idPrune(spark, t.col, v.select(idc), idc),
            n)
      }
    }
    val prune = (predicate.toSeq ++ prepared.flatMap(_._4)).reduceOption(_ && _)
    val mark = (df: DataFrame) =>
      prepared.foldLeft(df) { case (acc, (m, _, _, _, _)) => m(acc) }
    val held = terms.zip(prepared).map { case (t, (_, _, member, _, _)) =>
      if (t.negated) !member else member
    }
    Victims(mark, prepared.flatMap(_._2),
      hit = (predicate.toSeq ++ held).reduce(_ && _),
      fire = (predicate.map(F.coalesce(_, F.lit(false))).toSeq ++ held)
        .reduce(_ && _),
      prune, prepared.map(_._5))
  }

  // ---- merge-on-read deletes ----

  /** MERGE-ON-READ DELETE — the write-amplification answer to
    * [[deleteWhere]]'s copy-on-write: instead of REWRITING every file
    * that holds a victim row (a 1-row delete rewrites a whole band
    * file; a scattered takedown rewrites every touched file — the
    * wrong cost model for frequent small deletes at 100 TB), the
    * commit records each victim's (file, row-position) in a DELETION
    * VECTOR sidecar and points the affected files' stat payloads at
    * it (`dvref:` — [[ManifestStats.FileStats.dvRef]]). NO DATA FILE
    * IS REWRITTEN; the commit is metadata-plus-sidecar sized — the DV
    * SIDECAR shape of the one row-level body ([[rowChange]]). Victims
    * (predicate AND membership terms) and pruning are
    * [[deleteWhere]]'s.
    *
    *  - READERS overlay the DV everywhere: every Scala read and SQL
    *    door (temp view, catalog name, path read, TVF) plans the
    *    anti-join on `_metadata.row_index` inside the one scan builder
    *    ([[graft.sources.ManifestSql.scan]]), against the DVs of the
    *    scan's current pin. A small DV broadcasts — the overlay is a
    *    map-side probe, no shuffle on the scan side.
    *  - TIME TRAVEL is exact: DV refs live in per-version stat
    *    payloads, so an older version reads its own (or no) DV.
    *  - REWRITES FOLD DVs: [[compact]] reads through the overlay and
    *    replaces the payloads, so compaction restores DV-free files
    *    (and exact stats); copy-on-write DML on a DV'd file does the
    *    same for the files it touches. [[vacuum]] spares sidecars
    *    referenced by any live payload and collects superseded ones.
    *  - COUNTS stay metadata-exact: payloads carry the exact deleted
    *    count, so `rows − dvRows` prices a file without opening it.
    *  - The CHANGE FEED reports DV'd rows as row-level deletes — a
    *    DV-only commit diffs the two versions' DV state, reading only
    *    the affected files ([[changes]]).
    *
    * Conflict rule RESTART (the class doc): a concurrent rewrite of
    * an affected file (or a concurrent MoR delete touching it) reruns
    * the victim scan against the new snapshot. Repeated MoR deletes on one file
    * UNION into a single superseding sidecar (one `dvref` per file).
    * Returns the committed snapshot and the exact victim count —
    * already-deleted rows are invisible to the victim scan and never
    * double-count. */
  def deleteWhereMoR(spark: SparkSession, root: String, predicate: Column,
                     terms: Seq[MembershipTerm] = Nil,
                     beforeCommit: () => Unit = () => ()): Delete =
    rowChange(spark, root, "deleteWhereMoR", beforeCommit = beforeCommit) {
      RowWriter(sidecarOf(spark, root,
        victimsOf(spark, Some(predicate), terms.map(pinned))))
    }

  /** [[deleteIds]] in merge-on-read form — the takedown shape: the
    * (unbounded) one-column `victims` frame is one membership term;
    * only DV sidecars commit. */
  def deleteIdsMoR(spark: SparkSession, root: String, idCol: String,
                   victims: DataFrame,
                   beforeCommit: () => Unit = () => ()): Delete =
    rowChange(spark, root, "deleteIdsMoR", beforeCommit = beforeCommit) {
      RowWriter(sidecarOf(spark, root,
        victimsOf(spark, None, Seq(pinned(MembershipTerm(idCol, victims))))))
    }

  /** A snapshot's DV identity for one file — the drift probe
    * [[drifted]] compares across snapshots. */
  private def dvStateOf(snap: Snapshot, f: String): (Option[String], Long) =
    snap.stats.get(f).map(ManifestStats.decodeCached)
      .map(st => (st.dvRef, st.dvRows)).getOrElse((None, 0L))

  /** PREDICATE OVERWRITE — `replaceWhere` / v2 `INSERT INTO …
    * REPLACE WHERE`: replace EXACTLY the rows matching `predicate`
    * with `df`, in ONE ledgered commit. The daily-partition-reload
    * shape: on a date-clustered 100 TB table, reloading one day
    * rewrites only that day's files (the victim scan prunes through
    * bounds + Blooms like [[deleteWhere]]'s) and appends the new
    * files — never a full-table rewrite, never two commits with a
    * visible half-state between them. It is [[rowChange]]'s REWRITE
    * shape with `df` as the added rows.
    *
    *  - every NEW row must satisfy `predicate` (the Delta
    *    `replaceWhere` constraint): a violating reload would
    *    silently leak rows outside the replaced region — refused
    *    up front with the violation counted;
    *  - files with no matching row carry by reference; files with
    *    matching rows are rewritten WITHOUT them (the keep side
    *    reads through any deletion-vector overlay, folding DVs for
    *    the files it touches); `df`'s rows land as fresh files. All
    *    three sets publish in one atomic commit;
    *  - `df` may add columns — the recorded schema merges exactly as
    *    an append's would;
    *  - RACING APPEND semantics are [[deleteWhere]]'s snapshot
    *    isolation: an append committing between this op's victim
    *    scan and its commit survives untouched even where its rows
    *    match `predicate` (they post-date the scan); a conflicting
    *    REWRITE of an affected file restarts the scan (conflict rule
    *    RESTART, the class doc);
    *  - returns the committed snapshot and the REPLACED row count.
    * A no-victim predicate degrades to a plain ledgered append of
    * `df` (the reload of a not-yet-loaded day). */
  def overwriteWhere(spark: SparkSession, root: String,
                     predicate: Column, df: DataFrame,
                     beforeCommit: () => Unit = () => ()): Delete =
    rowChange(spark, root, "overwriteWhere", beforeCommit = beforeCommit) {
      // fused pin (Pin.countWhere): the violation audit rides the pin's
      // own materializing job; the audit column lives only in the pinned
      // rows and is projected away before the write
      val (pinnedV, violations) = Pin.countWhere(
        df.withColumn("__graft_viol", !F.coalesce(predicate, F.lit(false))),
        "__graft_viol")
      require(violations == 0L,
        s"overwriteWhere: $violations new row(s) do not satisfy the " +
          "replace predicate — they would land OUTSIDE the replaced " +
          "region; widen the predicate or filter the input")
      // the keep side of the affected files reads through any DV
      // overlay, so a MoR-deleted row neither survives nor double-counts
      val v = victimsOf(spark, Some(predicate), Nil)
      RowWriter(rewriteOf(spark, root, v, v.keep),
        added = Some(pinnedV.drop("__graft_viol")))
    }

  /** FOLD DELETION VECTORS: rewrite ONLY the files carrying a DV
    * (reading through the overlay, so the rewrite drops the deleted
    * rows), leaving every DV-free file untouched — the targeted
    * physical-erase completion of a merge-on-read delete, and the
    * second half of a DV-based TAKEDOWN: the MoR commit makes victims
    * unreadable instantly (metadata-sized), this pass erases their
    * bytes, and [[vacuum]] then deletes the superseded files and
    * sidecars. A table with no DVs is a zero-cost no-op (no scan, no
    * commit). Conflict rule RESTART (the class doc) over the DV'd
    * files as the read set.
    * Also the maintenance valve for a DV that grew past broadcast
    * size. */
  def foldDeletes(spark: SparkSession, root: String,
                  targetFileBytes: Long = 128L * 1024 * 1024): Snapshot =
    // RESTART, but boundedly: every lost round has already rewritten
    // all DV'd files (vacuum orphans), so a steady MoR-delete stream
    // fails loudly rather than livelocking on garbage writes
    rewriteFiles(spark, root, "foldDeletes", Restart, targetFileBytes,
      base => base.files.filter(f => base.stats.get(f).exists(
        ManifestStats.decodeCached(_).dvRef.isDefined)))

  /** The `#dvmode:` table declaration: with merge-on-read deletes ON,
    * every SQL `DELETE FROM` door (V1 rule, DSv2 `SupportsDelete`)
    * routes through [[deleteWhereMoR]] instead of the copy-on-write
    * [[deleteWhere]], membership terms included
    * ([[graft.sources.ManifestSql.sqlDeleteAt]]); the Scala API
    * always offers both. An ordinary metadata commit;
    * carries through compaction and every rewrite like any meta
    * line. */
  def setMorDeletes(root: String, on: Boolean): Snapshot =
    metaCommit(root) { cur =>
      val rest = cur.meta.filterNot(_.startsWith(DvModePrefix))
      Some(cur.copy(meta = if (on) rest :+ s"${DvModePrefix}on" else rest))
    }

  /** Is the table declared merge-on-read for SQL deletes? */
  def morDeletes(snap: Snapshot): Boolean =
    snap.meta.contains(s"${DvModePrefix}on")

  /** A committed MERGE: the snapshot plus how many update rows
    * replaced an existing row vs landed as inserts. */
  final case class Merge(snapshot: Snapshot, matchedRows: Long,
                         insertedRows: Long)

  /** MERGE / upsert — the scale form of the reference's S8 upsert
    * (`classes/hive/model.php:918-934`): each `updates` row REPLACES
    * the corpus row carrying the same `idCol` value (whole-row
    * replace) or inserts if none exists, in ONE commit. Copy-on-write
    * like the delete/update — [[rowChange]]'s REWRITE shape with the
    * rows whose id the batch carries as victims and the batch as the
    * added rows: the updates write once up front (their
    * files are reused across restarts), matched rows' files are
    * rewritten WITHOUT the old versions, untouched files carry by
    * reference, and the new snapshot = carried ∪ rewritten ∪ update
    * files. The updates may ADD columns — the recorded schema merges
    * exactly as an append's would, and older files read NULL for
    * them. Conflict rule RESTART (the class doc — a merge must
    * apply), like [[deleteWhere]]; a concurrent
    * append with a colliding id post-dates the match scan and
    * survives alongside the update row — the snapshot-isolation
    * reading of MERGE racing INSERT (last committer is not
    * arbitrated, exactly like two racing plain appends).
    *
    * MATCH-SCAN OPERATING ENVELOPE (the KEY-SET envelope): the
    * updates pin in ONE job that also counts them and, for a batch of
    * ≤ [[IdInPruneMax]] distinct ids of a driver-keyable type
    * (integral, date/timestamp, binary-collated string —
    * [[Pin.driverKeyable]]), brings the ids to the driver. Such a
    * batch prunes per KEY (IN-list over bounds + per-file Blooms —
    * declare the merge key a bloom column at [[init]] and a scattered
    * CDC batch opens ~(matching + fpp·files) files), and its ids
    * select the probe's and the rewrite's rows as an IN filter — no
    * join, so the table-side scan never shuffles; the rewrite is
    * sized from the affected files' bytes. A larger batch, or a
    * floating/binary/collated id, dedups Spark-side and prunes by its
    * id RANGE only, so either cluster the table by the merge key
    * ([[compact]] `clusterBy` — each file owns a tight band and the
    * scan opens the intersecting few) or accept a candidate-wide
    * scan. Pinned by the files-opened contract spec (ManifestTableSpec),
    * the bloom corruption proofs (ManifestStatsSpec) and the upsert
    * plan-shape guard (PlanShapeSpec). */
  def upsert(spark: SparkSession, root: String, idCol: String,
             updates: DataFrame,
             beforeCommit: () => Unit = () => ()): Merge =
    upsertImpl(spark, root, idCol, updates, beforeCommit, None)

  /** EXACTLY-ONCE streaming MERGE — the bridge between the CDC stack
    * and the manifest table: [[upsert]] under the same `#batch:<id>`
    * ledger as [[appendBatch]]. The batch marker publishes in the SAME
    * atomic commit as the merge's file-list change, so there is no
    * window where the merge is applied but the batch unrecorded (or
    * vice versa); a replayed micro-batch (same id — the Structured
    * Streaming `foreachBatch` contract) finds its marker (or the
    * [[foldBatches]] watermark covering it) and returns the current
    * snapshot WITHOUT writing, scanning, or committing anything —
    * `Merge(current, 0, 0)`, its data files (if any were written
    * before a racing duplicate won) become vacuumable orphans. A
    * rewrite-shaped merge that loses its commit race re-checks the
    * ledger on every head it validates, so a duplicate can never apply
    * the batch twice. Feed ordering across DIFFERENT batch ids is the
    * caller's contract, exactly as with a transactional-table
    * streaming MERGE: each id applies once, last-applied-wins per
    * key. */
  def upsertBatch(spark: SparkSession, root: String, batchId: Long,
                  idCol: String, updates: DataFrame,
                  beforeCommit: () => Unit = () => ()): Merge =
    upsertBatchWith(spark, root, batchId, idCol, updates, latest(root),
      beforeCommit)

  /** [[upsertBatch]] against a caller-read head — same one-read seam
    * and staleness argument as [[appendBatchWith]] (the rewrite path
    * additionally re-checks drift on every fresh head). */
  private[graft] def upsertBatchWith(spark: SparkSession, root: String,
                                     batchId: Long, idCol: String,
                                     updates: DataFrame,
                                     head: Option[Snapshot],
                                     beforeCommit: () => Unit = () => ())
      : Merge =
    head.filter(batchCommitted(_, batchId)) match {
      case Some(cur) => Merge(cur, 0L, 0L) // replayed: nothing to do
      case None => upsertImpl(spark, root, idCol, updates, beforeCommit,
        Some(batchId), head)
    }

  private def upsertImpl(spark: SparkSession, root: String, idCol: String,
                         updates: DataFrame,
                         beforeCommit: () => Unit,
                         batchId: Option[Long],
                         head: Option[Snapshot] = None): Merge =
    // with a batch id every attempt re-checks the ledger (a racing
    // duplicate may have committed the batch while this writer was
    // scanning/writing) and the commit carries the marker
    rowChange(spark, root, "upsert", head,
      batchId.map(_ -> ((s: Snapshot) => Merge(s, 0L, 0L))), beforeCommit) {
      // ONE pinning job (Pin.keySet) counts the updates and, for a
      // driver-sized batch, brings its distinct ids home. The victims
      // are the rows whose id the batch carries — victimsOf over that
      // same pin (the match scan's prune and IN filter, or its
      // Spark-side distinct ids, see the class doc's contract) — and
      // the batch itself is the added rows
      val ks = Pin.keySet(updates, Seq(idCol), IdInPruneMax)
      val v = victimsOf(spark, None, Seq(PinnedTerm(idCol, ks, idCol)))
      // a NULL id is one more distinct value, as in a Spark distinct
      require(v.keys.head == ks.keyedRows && ks.rows - ks.keyedRows <= 1L,
        s"upsert updates must carry distinct '$idCol' values")
      RowWriter(base => Probe(
        victimScan(spark, root, base, v, withPos = false).fold(
          Map.empty[String, Long]) { hits =>
          // one pushed-down job: per matched id, every file holding a
          // row for it — each id attributed ONCE (to its first file), so
          // the match count is of DISTINCT ids even when racing appends
          // left duplicate rows for one id, possibly across files
          // (insertedRows = rows - matched can never go negative)
          perFileOf(hits.select(F.col(FileCol), F.col(idCol).as("__id"))
            .groupBy("__id")
            .agg(F.sort_array(F.collect_set(FileCol)).as("fs"))
            .select(F.posexplode(F.col("fs")).as(Seq("pos", FileCol)))
            .groupBy(FileCol)
            .agg(F.sum(F.when(F.col("pos") === 0, 1L).otherwise(0L))))
        }, Rewrite(v.keep), (s, matched) => Merge(s, matched, ks.rows - matched)),
        added = Some(ks.frame))
    }

  /** One `WHEN MATCHED` / `WHEN NOT MATCHED BY SOURCE` clause of a
    * general [[mergeInto]]: the first clause whose `condition` holds
    * (None = unconditional) applies its action; later clauses and
    * rows matching no clause are untouched. Conditions and update
    * values evaluate over the MERGE FRAME: the target's columns
    * under their own names, the source's under [[sourceCol]]
    * (`__s_<name>`) — null for a `NOT MATCHED BY SOURCE` row, whose
    * clauses therefore must reference target columns only. */
  final case class WhenMatched(condition: Option[Column],
                               action: MergeAction)
  sealed trait MergeAction
  /** Assign `assignments` (target column -> merge-frame expression);
    * unassigned columns keep their row values. Assignments must not
    * change a column's type — the recorded schema is every reader's
    * planning contract, exactly as [[updateWhere]] enforces. */
  final case class MergeUpdate(assignments: Map[String, Column])
    extends MergeAction
  /** Drop the row. */
  case object MergeDelete extends MergeAction
  /** One `WHEN NOT MATCHED [AND cond] THEN INSERT` clause: for a
    * source row matching no target key, the first clause whose
    * condition holds inserts a row built from `assignments` (target
    * column -> expression over the source's [[sourceCol]] names);
    * unassigned columns insert NULL. Source rows matching no insert
    * clause are dropped, per SQL MERGE. */
  final case class WhenNotMatched(condition: Option[Column],
                                  assignments: Map[String, Column])

  /** A source column inside a [[mergeInto]] clause expression: the
    * merge frame exposes the source under the reserved `__s_` prefix
    * so colliding names stay addressable on both sides. */
  def sourceCol(name: String): Column = F.col(SourcePrefix + name)

  private[graft] val SourcePrefix = "__s_"
  private def mergeKeyCol(i: Int) = s"__merge_key_$i"
  // deliberately OUTSIDE the `__s_<name>` image: source columns alias
  // under that prefix, so a marker named `__s_present` would collide
  // with a legitimate source column named `present`. Source names may
  // not start with `__` (checked below), so `__merge_*` is unreachable.
  private val MergePresentCol = "__merge_present"

  /** GENERAL MERGE — the full SQL `MERGE INTO` shape and the one
    * engine behind every SQL MERGE ([[upsert]] is the Scala
    * whole-row replace-or-insert): conditional
    * and partial `WHEN MATCHED THEN UPDATE/DELETE` clauses,
    * conditional `WHEN NOT MATCHED THEN INSERT` clauses, and `WHEN
    * NOT MATCHED BY SOURCE THEN UPDATE/DELETE` clauses, applied in
    * declaration order (first true condition wins, per ANSI), in ONE
    * atomic copy-on-write commit — [[rowChange]]'s REWRITE shape, with
    * the clause fold as the row transform and the inserts as the
    * attempt's extra rows.
    *
    * The merge key is `idCols` (one or more target columns) matched
    * against `sourceKeys` (one expression over the source per key
    * column, positionally — the composite CDC shape, e.g.
    * `(tenant_id, id)`). Duplicate source key tuples follow ANSI: a
    * duplicate that MATCHES a target row refuses (which copy updates
    * it would be nondeterministic — the cardinality violation,
    * detected against the pruned target scan, not by a blanket
    * up-front distinctness demand), while duplicate UNMATCHED rows
    * each insert, so insert-only merges take raw append-shaped
    * feeds unchanged; a tuple with ANY null component
    * equality-matches nothing and falls to the NOT MATCHED clauses.
    * The target may
    * hold several rows for one key (appends are unconstrained);
    * every one of them matches and the fired clause applies to each.
    *
    * VICTIM PRUNING: the source pins in ONE job that also yields its
    * key-set envelope ([[Pin.keySet]] — [[upsert]]'s, over key
    * TUPLES): for ≤ [[IdInPruneMax]] distinct driver-keyable tuples
    * the duplicate-key check, the IN-list prunes and the broadcast key
    * frame of the not-matched-by-source anti-join all come from that
    * job; beyond it they run as Spark queries. Matched-clause victims
    * prune per KEY exactly like [[upsert]] — each key COMPONENT
    * prunes independently (IN-list + Blooms for driver-sized
    * batches, component range beyond) and the conjunction of the
    * component predicates gates the file; `NOT MATCHED BY
    * SOURCE` victims prune by the OR of their clause conditions
    * through the same bounds/Bloom stats (an unconditional clause
    * degrades to a full scan, necessarily: every unmatched row
    * changes). Files with no row fired by any clause carry by
    * reference untouched. Conflict rule RESTART (the class doc),
    * with the snapshot-isolation reading of [[deleteWhere]]/
    * [[upsert]]: a concurrent append post-dates the match scan and
    * lands unmerged.
    *
    * With `batchId` the commit carries the `#batch:<id>` ledger
    * marker in the SAME atomic publish — a replayed merge (same id)
    * no-ops, the [[upsertBatch]] exactly-once contract.
    *
    * Returns `Merge(snapshot, matchedRows, insertedRows)`:
    * matchedRows = target rows a MATCHED clause fired on,
    * insertedRows = rows the NOT MATCHED clauses inserted. */
  def mergeInto(spark: SparkSession, root: String, idCols: Seq[String],
                source: DataFrame, sourceKeys: Seq[Column],
                matched: Seq[WhenMatched] = Seq.empty,
                notMatched: Seq[WhenNotMatched] = Seq.empty,
                notMatchedBySource: Seq[WhenMatched] = Seq.empty,
                batchId: Option[Long] = None,
                beforeCommit: () => Unit = () => ()): Merge = {
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "mergeInto needs at least one clause")
    require(idCols.nonEmpty && idCols.size == sourceKeys.size,
      s"mergeInto needs one source key expression per target key " +
        s"column (got ${idCols.size} columns, ${sourceKeys.size} keys)")
    require(idCols.distinct == idCols,
      s"mergeInto key columns repeat: ${idCols.mkString(",")}")
    val srcNames = source.columns.toSeq
    require(srcNames.distinct == srcNames,
      s"merge source has duplicate column names: ${srcNames.mkString(",")}")
    require(!srcNames.exists(_.startsWith("__")),
      "merge source column names must not start with '__' (reserved " +
        "for the merge frame)")
    // a replay returns before the source is even pinned; the head
    // read here is also the transaction's first snapshot
    val head = present(root, latest(root).getOrElse(Empty))
    if (batchId.exists(batchCommitted(head, _))) return Merge(head, 0L, 0L)
    val keyCols = idCols.indices.map(mergeKeyCol)
    rowChange(spark, root, "mergeInto", Some(head),
      batchId.map(_ -> ((s: Snapshot) => Merge(s, 0L, 0L))), beforeCommit) {
      // the source pins once — keys first, columns under the __s_
      // prefix, plus the match marker the left-outer join nulls out —
      // in ONE job (Pin.keySet) that also yields, for a driver-sized
      // source, the distinct key tuples with their counts: the duplicate
      // check, the IN-list prunes and a local key frame for the
      // anti-join, with no further query over the source. The pin
      // carries its row count, so a small source broadcasts into the
      // probe and rewrite joins
      val ks = Pin.keySet(source.select(
        (sourceKeys.zip(keyCols).map { case (e, k) => e.as(k) } ++
          srcNames.map(c => F.col(c).as(SourcePrefix + c))) :+
          F.lit(true).as(MergePresentCol): _*), keyCols, IdInPruneMax)
      val src = ks.frame
      val allNonNull = keyCols.map(k => F.col(k).isNotNull).reduce(_ && _)
      val srcKeys = ks.keysFrame(keyCols).getOrElse(
        src.select(keyCols.map(F.col): _*).filter(allNonNull))
      // ANSI cardinality: a duplicate source key tuple is a violation
      // only when it would fire a MATCHED clause on one target row
      // twice — duplicate UNMATCHED rows each insert (per SQL MERGE),
      // and NOT MATCHED BY SOURCE clauses never touch a matched row.
      // So: no blanket up-front refusal; with matched clauses present,
      // the duplicated keys probe the (pruned) target inside the scan
      // loop and refuse only on an actual multi-match.
      val dupKeys = ks.keys match {
        case Some(m) =>
          if (m.size == ks.keyedRows) None else ks.keysFrame(keyCols, 2L)
        case None =>
          if (srcKeys.distinct().count() == ks.keyedRows) None
          else Some(Pin.count(srcKeys.groupBy(keyCols.map(F.col): _*)
            .agg(F.count(F.lit(1)).as("__dup_n"))
            .filter(F.col("__dup_n") > 1)
            .select(keyCols.map(F.col): _*))._1)
      }
      // each component prunes independently; the conjunction gates the
      // file (conservative superset of tuple-matching files)
      val keyPrune = idCols.indices.flatMap(i =>
        if (ks.keys.isDefined) ks.inList(i, idCols(i))
        else idPrune(spark, idCols(i),
          srcKeys.select(keyCols(i)).distinct(), keyCols(i)))
        .reduceOption(_ && _)
      def keyJoinCond(left: DataFrame, right: DataFrame): Column =
        idCols.zip(keyCols).map { case (c, k) => left(c) === right(k) }
          .reduce(_ && _)
      // null-safe first-true-wins: a NULL condition is NOT TRUE (ANSI)
      def holds(c: Option[Column]): Column =
        c.map(F.coalesce(_, F.lit(false))).getOrElse(F.lit(true))
      def anyHolds(cs: Seq[WhenMatched]): Column =
        cs.map(c => holds(c.condition)).reduce(_ || _)
      // the FILE-level prune uses the RAW disjunction: the stats
      // evaluator treats a Coalesce wrapper as an unsupported shape
      // (never prune), and null-safety is a row concern — a file where
      // no condition can be TRUE has no firable row either way
      def anyRaw(cs: Seq[WhenMatched]): Column =
        cs.map(_.condition.getOrElse(F.lit(true))).reduce(_ || _)
      // ---- the rewritten victims: left-outer the source onto the
      // affected rows, fold the clauses first-true-wins; a rewrite must
      // not change the recorded shape
      def mergeFrame(victims: DataFrame): DataFrame = {
        val unknown = (matched ++ notMatchedBySource).flatMap {
          case WhenMatched(_, MergeUpdate(as)) => as.keys
          case _ => Nil
        }.toSet -- victims.columns.toSet
        require(unknown.isEmpty,
          "merge UPDATE assigns to unknown column(s): " +
            unknown.mkString(","))
        // with no matched clause, no kept expression references a
        // source column — join only the DEDUPLICATED key+marker
        // frame, so a duplicate source key (legal here) cannot fan
        // a carried row out into two copies
        val joinSrc =
          if (matched.nonEmpty) src
          else src.select(keyCols.map(F.col) :+
            F.col(MergePresentCol): _*).dropDuplicates(keyCols)
        val frame = victims.join(joinSrc,
          keyJoinCond(victims, joinSrc), "left_outer")
        val isM = F.coalesce(F.col(MergePresentCol), F.lit(false))
        // clause index: matched clauses 0.., NMBS clauses offset
        // by the matched count; -1 = untouched
        val allClauses = matched ++ notMatchedBySource
        val clauseIdx = allClauses.zipWithIndex.foldRight(
          F.lit(-1): Column) { case ((cl, i), rest) =>
          val side = if (i < matched.size) isM else !isM
          F.when(side && holds(cl.condition), F.lit(i)).otherwise(rest)
        }
        val tagged = frame.withColumn("__clause", clauseIdx)
        val dropIdx = allClauses.zipWithIndex.collect {
          case (WhenMatched(_, MergeDelete), i) => i }
        val kept =
          if (dropIdx.isEmpty) tagged
          else tagged.filter(!F.col("__clause")
            .isInCollection(dropIdx.map(Int.box)))
        val out = kept.select(victims.columns.toIndexedSeq.map { c =>
          val folded = allClauses.zipWithIndex.foldRight(
            victims(c)) { case ((cl, i), rest) =>
            cl.action match {
              case MergeUpdate(as) if as.contains(c) =>
                F.when(F.col("__clause") === i, as(c)).otherwise(rest)
              case _ => rest
            }
          }
          folded.as(c)
        }: _*)
        victims.schema.fields.zip(out.schema.fields).foreach { case (a, b) =>
          require(a.dataType.catalogString == b.dataType.catalogString,
            s"merge assignment changes column '${a.name}' from " +
              s"${a.dataType.catalogString} to ${b.dataType.catalogString}")
        }
        out
      }

      RowWriter { base =>
        // ---- victim discovery (pruned probes, driver-sized output)
        // key candidates serve BOTH the matched probe and the insert
        // anti-join: conservative superset of files that can hold a
        // source key
        val keyFiles =
          if (base.files.isEmpty) Seq.empty
          else keyPrune.map(candidateFiles(spark, root, base, _))
            .getOrElse(base.files)
        // the ANSI cardinality check, on the rows it actually covers:
        // a violation is a target row MORE THAN ONE source row would
        // actually MODIFY (fire a matched clause on) — duplicates
        // matching nothing are legal inserts, and duplicate copies
        // whose conditions are false on that row attempt nothing. The
        // probe is bounded to dup-keyed target rows (semi-join), then
        // counts FIRING source pairs per target row.
        if (matched.nonEmpty && dupKeys.nonEmpty && keyFiles.nonEmpty) {
          val dk = dupKeys.get
          val scan = readSnapshot(spark, root, base.copy(files = keyFiles))
          val dup = scan.join(dk, keyJoinCond(scan, dk), "left_semi")
            .withColumn("__rowid", F.monotonically_increasing_id())
          val firing = dup.join(src, keyJoinCond(dup, src), "inner")
            .filter(anyHolds(matched))
          require(firing.groupBy("__rowid").count()
            .filter(F.col("count") > 1).isEmpty,
            "mergeInto: more than one source row (duplicate key " +
              "tuples) attempts to modify the same target row — which " +
              "copy updates it would be nondeterministic (the ANSI " +
              "MERGE cardinality violation); de-duplicate the source " +
              "first")
        }
        val nmbsFiles =
          if (notMatchedBySource.isEmpty || base.files.isEmpty) Seq.empty
          else candidateFiles(spark, root, base,
            anyRaw(notMatchedBySource))
        def scanOf(files: Seq[String]): DataFrame =
          readSnapshot(spark, root, base.copy(files = files),
            fileCol = Some(FileCol))
        // per-file fired-row counts, matched and not-matched-by-source
        // tagged apart — ONE pushed-down job over the union
        val mProbe =
          if (matched.isEmpty || keyFiles.isEmpty) None
          else {
            val scan = scanOf(keyFiles)
            Some(scan
              .join(src, keyJoinCond(scan, src), "inner")
              .filter(anyHolds(matched))
              .select(F.col(FileCol), F.lit(true).as("__m")))
          }
        val nProbe =
          if (nmbsFiles.isEmpty) None
          else {
            val scan = scanOf(nmbsFiles)
            Some(scan
              .join(srcKeys, keyJoinCond(scan, srcKeys), "left_anti")
              .filter(anyHolds(notMatchedBySource))
              .select(F.col(FileCol), F.lit(false).as("__m")))
          }
        val perFile = (mProbe ++ nProbe).reduceOption(_ unionByName _)
          .fold(Map.empty[String, Long])(u => perFileOf(u.groupBy(FileCol)
            .agg(F.sum(F.when(F.col("__m"), 1L).otherwise(0L)))))
        // ---- the inserts: source rows matching NO target key, first
        // insert clause wins, unassigned columns NULL
        val affected = base.files.filter(perFile.contains)
        val targetSchema =
          if (base.schemaJson.isEmpty && base.files.isEmpty) StructType(Seq.empty)
          else recordedSchemaOf(spark, root, base.copy(files =
            if (affected.nonEmpty) affected else base.files))
        val inserts =
          if (notMatched.isEmpty) None
          else {
            val unmatched =
              if (base.files.isEmpty || keyFiles.isEmpty) src
              else {
                val keys = readSnapshot(spark, root,
                  base.copy(files = keyFiles))
                  .select(idCols.map(F.col): _*)
                src.join(keys, keyJoinCond(keys, src), "left_anti")
              }
            val iIdx = notMatched.zipWithIndex.foldRight(
              F.lit(-1): Column) { case ((cl, i), rest) =>
              F.when(holds(cl.condition), F.lit(i)).otherwise(rest)
            }
            val fired = unmatched.withColumn("__iclause", iIdx)
              .filter(F.col("__iclause") >= 0)
            if (targetSchema.nonEmpty) {
              val unknown = notMatched.flatMap(_.assignments.keys).toSet --
                targetSchema.fieldNames.toSet
              require(unknown.isEmpty,
                "merge INSERT assigns to unknown column(s): " +
                  unknown.mkString(","))
            }
            val cols =
              if (targetSchema.nonEmpty) targetSchema.fields.toSeq
              else {
                // empty un-seeded table: the insert clauses define the
                // shape — every assigned column, in first-clause order
                val names = notMatched.flatMap(_.assignments.keys).distinct
                require(names.nonEmpty, "mergeInto into an empty " +
                  "schemaless table needs at least one INSERT assignment")
                names.map(n => StructField(n, NullType))
              }
            val nullRest: StructField => Column = f =>
              if (targetSchema.nonEmpty) F.lit(null).cast(f.dataType)
              else F.lit(null)
            Some(fired.select(cols.map { f =>
              val v = notMatched.zipWithIndex.foldRight(nullRest(f)) {
                case ((cl, i), rest) =>
                  cl.assignments.get(f.name) match {
                    case Some(e) => F.when(F.col("__iclause") === i, e)
                      .otherwise(rest)
                    case None => rest
                  }
              }
              (if (targetSchema.nonEmpty) v.cast(f.dataType) else v)
                .as(f.name)
            }: _*))
          }
        val (insertsPinned, insertedRows) = inserts.map(Pin.count) match {
          case Some((df, n)) if n > 0L => (Some(df), n)
          case _ => (None, 0L)
        }
        // the merge frame reads through base's DV overlay, and its
        // schema folds into the head's as a batch's would
        Probe(perFile, Rewrite(mergeFrame, insertsPinned, foldSchema = true),
          (s, matchedRows) => Merge(s, matchedRows, insertedRows))
      }
    }
  }

  /** The files of `snap` that MAY contain rows matching `predicate`,
    * judged purely from the manifest's recorded per-file stats —
    * zero data or footer I/O. Files without stats (pre-stats tables,
    * batches lacking the column) are always candidates; with no
    * recorded schema or no stats at all this degrades to the full
    * list. Conservative by construction ([[ManifestStats.mayMatch]]). */
  private[graft] def candidateFiles(spark: SparkSession, snap: Snapshot,
                                    predicate: Column): Seq[String] =
    candidateFilesImpl(spark, None, snap, predicate)

  /** [[candidateFiles]] WITH the table root: equality/IN predicates
    * additionally consult the per-file Bloom side index (loaded
    * lazily, content-addressed-cached) — the scattered-key pruning
    * min/max bounds cannot give. Every internal predicate-shaped op
    * routes here. */
  private[graft] def candidateFiles(spark: SparkSession, root: String,
                                    snap: Snapshot,
                                    predicate: Column): Seq[String] =
    candidateFilesImpl(spark, Some(root), snap, predicate)

  private def candidateFilesImpl(spark: SparkSession, root: Option[String],
                                 snap: Snapshot,
                                 predicate: Column): Seq[String] = {
    val schema = recordedSchema(snap)
    if (snap.stats.isEmpty || schema.isEmpty) return snap.files
    // ONE analysis pass for the whole call; per-file work is pure
    // driver-side bound arithmetic — metadata scale at a million files
    ManifestStats.compilePredicate(spark, predicate, schema.get) match {
      case None => snap.files
      case Some(cond) => candidatesOf(spark, root, snap, schema.get, cond)
    }
  }

  /** Shared candidate filter over a COMPILED predicate. */
  private[graft] def candidatesOf(spark: SparkSession, root: Option[String],
                                  snap: Snapshot,
                                  schema: StructType,
                                  cond: org.apache.spark.sql.catalyst
                                    .expressions.Expression): Seq[String] = {
    val resolve = statResolve(snap)
    // load blooms only when the predicate has an equality/IN shape a
    // bloom can answer — a pure range scan never touches the side
    // files
    val wantBloom = root.isDefined && cond.exists {
      case _: org.apache.spark.sql.catalyst.expressions.EqualTo => true
      case _: org.apache.spark.sql.catalyst.expressions.EqualNullSafe => true
      case _: org.apache.spark.sql.catalyst.expressions.In => true
      case _: org.apache.spark.sql.catalyst.expressions.InSet => true
      case _ => false
    }
    snap.files.filter { f =>
      snap.stats.get(f) match {
        case None => true
        case Some(payload) =>
          val st = ManifestStats.decodeCached(payload)
          val bloomFor: String => Option[
            org.apache.spark.util.sketch.BloomFilter] =
            (st.bloomRef, root) match {
              case (Some(ref), Some(r)) if wantBloom =>
                val loaded = ManifestStats.loadBlooms(spark, r, ref)
                n => resolve(n).iterator
                  .flatMap(k => loaded.get((f, k))).nextOption()
              case _ => _ => None
            }
          ManifestStats.mayMatch(cond, st, schema, resolve, bloomFor)
      }
    }
  }

  /** Stat-key resolution through the rename chain: a predicate on a
    * RENAMED column consults bounds recorded under any historical
    * name (pre-rename files' stats), newest first. */
  private def statResolve(snap: Snapshot): String => Seq[String] = {
    val map = colmapOf(snap.meta)
    n => n +: map.getOrElse(n, Seq.empty)
  }

  /** METADATA-ONLY table min/max for a stat column: Some((min, max))
    * — as external JVM values of the column's type — when EVERY live
    * file records null-free-or-not bounds for `col` (resolved through
    * the rename chain); None when any file lacks the stat (the caller
    * scans). Nulls never participate in min/max, so bounds stay exact
    * in their presence; an all-null or empty table answers None. Like
    * [[countWhere]], this turns a whole-table aggregate into a
    * manifest read — zero data files opened at any scale. */
  def statBounds(spark: SparkSession, root: String,
                 col: String): Option[(Any, Any)] = {
    val snap = latest(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root"))
    val dt = recordedSchema(snap)
      .flatMap(_.fields.find(_.name == col)).map(_.dataType)
      .getOrElse(return None)
    val keys = statResolve(snap)(col)
    if (snap.files.isEmpty) return None
    // a deletion vector can have removed the very row a bound came
    // from — bounds stay SOUND for pruning (supersets), but this
    // method promises EXACT min/max, so any live DV answers None
    // (compaction folds DVs and restores the metadata answer)
    if (snap.files.exists(f => snap.stats.get(f).exists(p =>
      ManifestStats.decodeCached(p).dvRows > 0L))) return None
    // every file must carry SOME entry for the column (bounds, or the
    // null-only marker — which contributes nothing to min/max)
    val entries = snap.files.map { f =>
      snap.stats.get(f).map(ManifestStats.decodeCached).flatMap(st =>
        keys.iterator.flatMap(st.cols.get).nextOption())
    }
    if (entries.exists(_.isEmpty)) return None
    val all = entries.flatten.flatMap(_.bounds)
    if (all.isEmpty) None // no non-null value anywhere
    else {
      val ord = Ordering.fromLessThan[String](
        ManifestStats.cmpNormalized(dt, _, _) < 0)
      Some((ManifestStats.denormalize(dt, all.map(_._1).min(ord)),
        ManifestStats.denormalize(dt, all.map(_._2).max(ord))))
    }
  }

  /** PRUNED READ: rows of the latest snapshot matching `predicate`,
    * planned over ONLY the candidate files the manifest stats admit —
    * on a range-clustered table a point/range query lists a handful
    * of files instead of the table ([[init]] with stat columns).
    * Result-identical to `read(...).filter(predicate)`: pruning can
    * only drop files that provably hold no match. */
  def readWhere(spark: SparkSession, root: String,
                predicate: Column): DataFrame = {
    val snap = latest(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root"))
    readSnapshot(spark, root,
      snap.copy(files = candidateFiles(spark, root, snap, predicate)))
      .filter(predicate)
  }

  /** METADATA-FIRST COUNT: `read(...).filter(predicate).count()`
    * answered from the manifest where possible — files whose bounds
    * prove EVERY row matches ([[ManifestStats.mustMatch]], null-free)
    * contribute their recorded row count without being opened; files
    * that provably hold NO match are skipped; only boundary files are
    * scanned (with the predicate pushed down). With no predicate the
    * whole count comes from metadata when every file carries stats.
    * At 100 TB this turns a clustered-range count into a manifest
    * read plus a scan of the two edge files. */
  def countWhere(spark: SparkSession, root: String,
                 predicate: Option[Column] = None): Long = {
    val snap = latest(root).getOrElse(
      throw new IllegalStateException(s"no manifest at $root"))
    // LIVE rows of a file: recorded rows minus its exact DV count —
    // metadata-exact even under merge-on-read deletes (a mustMatch
    // file's every row matches, deleted ones included, so live
    // matches = rows − dvRows)
    def rowsOf(f: String): Option[Long] =
      snap.stats.get(f).map(ManifestStats.decodeCached)
        .filter(_.rows >= 0).map(st => st.rows - st.dvRows)
    predicate match {
      case None =>
        val (counted, unstated) = snap.files.partition(rowsOf(_).isDefined)
        val metaRows = counted.flatMap(rowsOf).sum
        if (unstated.isEmpty) metaRows
        else metaRows +
          readSnapshot(spark, root, snap.copy(files = unstated)).count()
      case Some(p) =>
        val schema = recordedSchema(snap)
        val cond = schema.flatMap(ManifestStats.compilePredicate(spark, p, _))
        val resolve = statResolve(snap)
        def full(f: String): Boolean = (for {
          sc <- schema; c <- cond; payload <- snap.stats.get(f)
        } yield ManifestStats.mustMatch(c, ManifestStats.decodeCached(payload), sc,
          resolve)).getOrElse(false)
        val cand = candidateFiles(spark, root, snap, p)
        val (fullFiles, boundary) =
          cand.partition(f => full(f) && rowsOf(f).isDefined)
        val metaRows = fullFiles.flatMap(rowsOf).sum
        if (boundary.isEmpty) metaRows
        else metaRows + readSnapshot(spark, root, snap.copy(files = boundary))
          .filter(p).count()
    }
  }

  /** TABLE HISTORY — one row per SURVIVING manifest version, from
    * metadata alone (zero data I/O): file count, total rows (when
    * every file carries stats — NULL otherwise), the file delta vs
    * the previous surviving version, the streaming ledger state, and
    * the recorded column count. The ops dashboard over a long-lived
    * table; [[expireManifests]] retention bounds the lookback exactly
    * as for time travel. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val dir = manifestDir(root)
    val versions = versionNumbers(fsOf(dir), dir).sorted
    val snaps = versions.flatMap(v => snapshot(root, v))
    val out = snaps.zipWithIndex.map { case (s, i) =>
      val prev: Set[String] =
        if (i == 0) Set.empty else snaps(i - 1).files.toSet
      val cur = s.files.toSet
      val rowCounts = s.files.map(f =>
        s.stats.get(f).map(ManifestStats.decodeCached)
          .filter(_.rows >= 0).map(st => st.rows - st.dvRows))
      val nRows: Option[Long] =
        if (s.files.isEmpty) Some(0L)
        else if (rowCounts.forall(_.isDefined)) Some(rowCounts.flatten.sum)
        else None
      (s.version, s.files.size, nRows,
        (cur -- prev).size, (prev -- cur).size,
        batchesThrough(s.meta), s.meta.count(_.startsWith(BatchPrefix)),
        recordedSchema(s).map(_.fields.length))
    }
    val sp = spark
    import sp.implicits._
    out.toDF("version", "n_files", "n_rows", "files_added",
      "files_removed", "batches_through", "batch_markers", "n_columns")
  }

  /** What one [[maintain]] pass did: the post-maintenance snapshot,
    * whether a compaction rewrite ran, the expired manifest versions,
    * and the vacuumed orphan paths. */
  final case class Maintenance(snapshot: Snapshot, compacted: Boolean,
                               expired: Seq[Int], vacuumed: Seq[String])

  /** ONE-OP TABLE MAINTENANCE — the whole upkeep cadence a long-lived
    * streaming table needs, in dependency order, so an operator
    * schedules a single call instead of four:
    *  1. [[foldBatches]] — the streaming ledger folds to a watermark
    *     (manifest stays O(files + recent batches));
    *  2. [[compact]] — only when the live file count exceeds
    *     `maxLiveFiles` (no churn on an already-tight table), range-
    *     clustering on `clusterBy` when given (stats pruning stays
    *     effective as unsorted appends accumulate);
    *  3. [[expireManifests]] — bound time travel to `keepManifests`;
    *  4. [[vacuum]] — drop unreferenced data files past the grace.
    * Single-writer maintenance op, like the pieces it composes;
    * concurrent APPENDS stay safe throughout (fold/compact merge
    * optimistically, vacuum honors write intents). */
  def maintain(spark: SparkSession, root: String,
               targetFileBytes: Long,
               maxLiveFiles: Int = 64,
               clusterBy: Seq[String] = Seq.empty,
               keepRecentBatches: Int = 8,
               keepManifests: Int = 20,
               orphanGraceMillis: Long = 24L * 3600 * 1000): Maintenance = {
    require(maxLiveFiles >= 1, "maxLiveFiles must be >= 1")
    val folded = foldBatches(root, keepRecent = keepRecentBatches)
    val doCompact = folded.files.size > maxLiveFiles
    val snap =
      if (doCompact) compact(spark, root, targetFileBytes,
        clusterBy = clusterBy)
      else folded
    val expired = expireManifests(root, keepLast = keepManifests)
    val vacuumed = vacuum(root, orphanGraceMillis)
    Maintenance(snap, doCompact, expired, vacuumed)
  }

  /** Delete data files unreferenced by the LATEST manifest. Three
    * retention gates:
    *  - reader retention (caller's): run only after readers pinned to
    *    older versions have drained;
    *  - WRITE INTENTS (structural): a file whose `data/<token>/`
    *    write is still in flight — intent registered at
    *    [[writeData]], cleared when the writer's transaction
    *    resolves — is spared unconditionally, however old. This
    *    closes the stalled-writer hole mtime grace alone leaves: a
    *    writer paused longer than the grace between writeData and
    *    commit can no longer have its files vacuumed and then
    *    publish a manifest of dead paths;
    *  - `orphanGraceMillis` (caller's): intent-LESS files younger
    *    than this are still spared — belt-and-braces for externally
    *    written data. With the intent guard, 0 is safe for files
    *    written through this object's own writers.
    * Returns deleted paths. */
  def vacuum(root: String,
             orphanGraceMillis: Long = 24L * 3600 * 1000): Seq[String] = {
    val head = latest(root)
    val live = head.map(_.files.toSet).getOrElse(Set.empty)
    // bloom sidecars referenced by any LIVE file's stats are live too
    // (a carried file keeps pointing into its original commit's
    // sidecar); an unreferenced one is an orphan like its data
    val liveBloomRefs: Set[String] = head.map(s =>
      s.stats.view.filterKeys(live).values
        .flatMap(p => ManifestStats.decodeCached(p).bloomRef).toSet)
      .getOrElse(Set.empty)
    // deletion-vector sidecar DIRS referenced by any live file's
    // payload are live wholesale (their parquet parts plus writer
    // bookkeeping files); a superseded sidecar is an orphan like any
    // unreferenced data
    val liveDvDirs: Set[String] = head.map(s =>
      s.stats.view.filterKeys(live).values
        .flatMap(p => ManifestStats.decodeCached(p).dvRef).toSet)
      .getOrElse(Set.empty)
    val intents = liveIntents(root)
    val dataDir = new HPath(root, "data")
    val fs = fsOf(dataDir)
    if (!fs.exists(dataDir)) return Seq.empty
    val cutoff = System.currentTimeMillis() - orphanGraceMillis
    val rootPrefix = {
      val p = fs.makeQualified(new HPath(root)).toUri.getPath
      if (p.endsWith("/")) p else p + "/"
    }
    val it = fs.listFiles(dataDir, true)
    val victims = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && st.getModificationTime < cutoff) {
        val rel = st.getPath.toUri.getPath.stripPrefix(rootPrefix)
        if (!live(rel) && !tokenOf(rel).exists(intents) &&
            !liveBloomRefs(rel) &&
            !tokenOf(rel).exists(t => liveDvDirs(s"data/$t")))
          victims += rel
      }
    }
    victims.foreach { v =>
      val p = new HPath(root, v)
      if (fs.exists(p)) fs.delete(p, false)
    }
    victims.sorted.toSeq
  }
}
