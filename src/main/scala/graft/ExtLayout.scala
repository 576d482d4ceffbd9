package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.functions.Text
import graft.operators.{Curation, Dedup, Joins, Layout, Multimodal, Similarity, Skew, Temporal}
import graft.sources.Tables
import graft.streaming.EventWindows

/** Physical layout & sources: file formats, schema evolution,
  * compaction, partition/z-order/Bloom pruning, bucketing, skew.
  *
  * One wiring object per operator family (query + its DuckDB
  * oracle side by side); [[Extensions]] concatenates the
  * families. Shared constants/helpers live in [[ExtShared]].
  */
private[graft] object ExtLayout {
  import ExtShared._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // raw-corpus ingest format: documents round-trip through a
    // JSON-lines sink + explicit-schema source (the shape a training
    // corpus actually arrives in), then aggregate per source. The
    // oracle replays the aggregation on the parquet table, so
    // equality proves the JSONL round-trip is lossless — including
    // sum(length(text)), which any broken string escaping would move.
    "x_source_jsonl" -> ((s, dir) => {
      val scan = Tables.scan(s, dir, "documents")
      val out = Workspace.dir(s"jsonl_${new java.io.File(dir).getName}")
      scan.write.mode("overwrite").json(out)
      s.read.schema(scan.schema).json(out)
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars").cast("long")).as("sum_chars"),
          F.sum(F.length(F.col("text")).cast("long")).as("sum_text_chars"))
    }),


    // gzip-compressed JSONL round-trip: the format a web crawl
    // actually arrives in (.jsonl.gz). gzip is NOT splittable — one
    // task per file — so a real 100 TB ingest's parallelism is set by
    // the FILE COUNT, which the writer's repartition pins; everything
    // downstream of the codec is the jsonl twin, and the oracle
    // proves decompress→parse losslessness
    "x_source_gzip" -> ((s, dir) => {
      val scan = Tables.scan(s, dir, "documents")
      val out = Workspace.dir(s"jsonlgz_${new java.io.File(dir).getName}")
      scan.repartition(8)
        .write.mode("overwrite").option("compression", "gzip").json(out)
      s.read.schema(scan.schema).json(out)
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars").cast("long")).as("sum_chars"),
          F.sum(F.length(F.col("text")).cast("long")).as("sum_text_chars"))
    }),


    // CSV twin of the ingest round-trip — the format where quoting
    // and embedded delimiters actually bite. RFC4180-style escape
    // (quote doubled as "") on BOTH sides, multiLine read so embedded
    // newlines would survive too; the same parquet-side oracle proves
    // losslessness through sum(length(text)).
    "x_source_csv" -> ((s, dir) => {
      val scan = Tables.scan(s, dir, "documents")
      val out = Workspace.dir(s"csv_${new java.io.File(dir).getName}")
      scan.write.mode("overwrite")
        .option("header", "true").option("escape", "\"").csv(out)
      s.read.schema(scan.schema)
        .option("header", "true").option("escape", "\"")
        .option("multiLine", "true").csv(out)
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars").cast("long")).as("sum_chars"),
          F.sum(F.length(F.col("text")).cast("long")).as("sum_text_chars"))
    }),


    // ORC twin — the third interchange format (columnar like the
    // parquet native path, so this also covers the ORC reader/writer
    // codepath end-to-end); same lossless-round-trip oracle
    "x_source_orc" -> ((s, dir) => {
      val scan = Tables.scan(s, dir, "documents")
      val out = Workspace.dir(s"orc_${new java.io.File(dir).getName}")
      scan.write.mode("overwrite").orc(out)
      s.read.schema(scan.schema).orc(out)
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars").cast("long")).as("sum_chars"),
          F.sum(F.length(F.col("text")).cast("long")).as("sum_text_chars"))
    }),


    // Avro twin — the row-oriented interchange format raw corpora
    // commonly arrive in. No spark-avro module on this classpath, so
    // the round-trip runs through graft's own Hadoop-connector IO
    // (AvroKeyInput/OutputFormat); same lossless parquet-side oracle.
    "x_source_avro" -> ((s, dir) => {
      val scan = Tables.scan(s, dir, "documents")
      val out = Workspace.dir(s"avro_${new java.io.File(dir).getName}")
      graft.sources.AvroIO.write(scan, out)
      graft.sources.AvroIO.read(s, out, scan.schema)
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars").cast("long")).as("sum_chars"),
          F.sum(F.length(F.col("text")).cast("long")).as("sum_text_chars"))
    }),


    // schema-evolution ingest: a long-lived crawl corpus arrives in
    // batches whose schema GROWS over time — batch 2 here adds a
    // tok_count column batch 1 never had. Write the two batches as
    // separate parquet directories, read the root back with
    // mergeSchema (the union-schema read every evolving corpus
    // needs), and aggregate per source: row/char sums prove the read
    // is lossless across the schema seam, count(tok_count) proves the
    // missing column NULL-fills (only batch-2 rows counted), and its
    // sum proves batch-2 values survive. Scale note: mergeSchema
    // footer reconciliation is a driver-side listing cost — on a
    // 100-TB corpus pin the merged schema in a catalog table instead
    // of re-inferring per read; the READ path (per-file projection
    // with NULL-fill) is identical either way.
    "x_source_evolved" -> ((s, dir) => {
      val scan = Tables.scan(s, dir, "documents")
      val out = Workspace.dir(s"evolved_${new java.io.File(dir).getName}")
      scan.filter(F.col("doc_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$out/batch1")
      scan.filter(F.col("doc_id") % 2 =!= 0)
        .withColumn("tok_count",
          graft.functions.Text.tokenCount(F.col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$out/batch2")
      s.read.option("mergeSchema", "true").parquet(s"$out/batch1", s"$out/batch2")
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars").cast("long")).as("sum_chars"),
          F.count(F.col("tok_count")).as("n_evolved"),
          F.sum(F.col("tok_count")).as("sum_toks"))
    }),


    // graded small-file compaction: fragment documents into 64 tiny
    // files (the long-running-ingest shape), byte-size compact them,
    // and aggregate the compacted copy — the oracle aggregates the
    // original table, so equality proves compaction is row-lossless
    // while LayoutSpec separately pins the file-count contract.
    "x_compaction" -> ((s, dir) => {
      val base = Workspace.dir(s"compact_${new java.io.File(dir).getName}")
      Tables.scan(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(s"$base/frag")
      Layout.compact(s, s"$base/frag", s"$base/out",
        targetFileBytes = 512L * 1024)
      s.read.parquet(s"$base/out")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars").cast("long")).as("sum_chars"))
    }),

    // manifest-pointer compaction: the table is three appends of the
    // documents corpus; compaction rewrites the first two while a
    // CONCURRENT append (the third split, injected between rewrite
    // and commit) races it — the optimistic merge must carry the
    // append forward, and the read goes through the manifest, never a
    // directory listing. Oracle = the whole corpus: losing the race
    // (or double-counting a rewritten file) fails the hash.
    "x_compact_manifest" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_tbl")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(root)
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 0))
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 1))
      graft.operators.ManifestTable.compact(s, root,
        targetFileBytes = 4L * 1024 * 1024,
        beforeCommit = () => {
          graft.operators.ManifestTable.append(s, root,
            docs.filter(F.col("doc_id") % 3 === 2)); ()
        })
      graft.operators.ManifestTable.read(s, root)
    }),


    // row-level DELETE through the manifest (copy-on-write): two
    // appends, then deleteWhere(doc_id % 5 = 0) races a CONCURRENT
    // append of the third split (injected between the victim rewrite
    // and the commit). The racing append's rows ALL survive — they
    // landed after the victim scan, the snapshot-isolation reading of
    // DELETE+INSERT — including its own doc_id%5=0 rows; losing the
    // append, double-counting a rewritten file, or deleting from the
    // racing batch each fails the hash.
    "x_manifest_delete" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_del")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(root)
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 0))
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 1))
      graft.operators.ManifestTable.deleteWhere(s, root,
        F.col("doc_id") % 5 === 0,
        beforeCommit = () => {
          graft.operators.ManifestTable.append(s, root,
            docs.filter(F.col("doc_id") % 3 === 2)); ()
        })
      graft.operators.ManifestTable.read(s, root)
    }),


    // MERGE-ON-READ delete (deletion vectors, r20): the write-
    // amplification answer to x_manifest_delete's copy-on-write — the
    // table is declared MoR via SQL (GRAFT MOR … ON), two SQL DELETEs
    // commit deletion-vector sidecars WITHOUT rewriting any data file
    // (the file list is asserted identical), repeat deletes union
    // into one superseding sidecar per file, a post-delete append
    // lands untouched, and the read-back goes through the catalog
    // name — grading the catalog door's DV overlay, the broadcast
    // anti-join on parquet row position, and the DV-exact row
    // accounting in one hash.
    "x_manifest_delete_mor" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_mor")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(root, Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 0))
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 1))
      graft.api.Graft(s, dir)
        .registerManifest("mor_corpus", root, persistent = true)
      s.sql(s"GRAFT MOR TABLE mor_corpus ON")
      val before = graft.operators.ManifestTable.latest(root).get.files
      s.sql("DELETE FROM mor_corpus WHERE doc_id % 5 = 0")
      s.sql("DELETE FROM mor_corpus WHERE doc_id % 7 = 0")
      val after = graft.operators.ManifestTable.latest(root).get.files
      require(after == before,
        "MoR DELETE must not rewrite any data file")
      // an append AFTER the deletes: its rows (matching or not) are
      // untouched by the standing DVs
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 2))
      s.catalog.refreshTable("mor_corpus")
      s.sql("SELECT doc_id, lang, source FROM mor_corpus")
    }),


    // PREDICATE OVERWRITE (replaceWhere, r20) — the daily-partition-
    // reload shape: two disjoint doc_id bands are each replaced with
    // a RELOADED slice (fewer rows, rewritten lang) in ONE ledgered
    // commit per band — band one through the v2 SQL door (INSERT
    // INTO … REPLACE WHERE, OverwriteByExpression → the ledgered
    // overwriteWhere), band two through the V1 writer option
    // (.option("replaceWhere", …).mode(overwrite)). Files outside a
    // band carry by reference; rows inside it that the reload drops
    // must VANISH; a leaked row outside the band (the constraint the
    // op validates) or a double-applied band fails the hash.
    "x_manifest_replace_where" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_rw")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(root, Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root, docs)
      graft.api.Graft(s, dir)
        .registerManifest("rw_corpus", root, persistent = true)
      graft.catalog.GraftCatalog.install(s)
      docs.createOrReplaceTempView("rw_src")
      s.sql("INSERT INTO graft.default.rw_corpus " +
        "REPLACE WHERE doc_id >= 100 AND doc_id < 200 " +
        "SELECT doc_id, 'xx' AS lang, source FROM rw_src " +
        "WHERE doc_id >= 100 AND doc_id < 200 AND doc_id % 2 = 0")
      docs.filter(F.col("doc_id") >= 300 && F.col("doc_id") < 400 &&
          F.col("doc_id") % 2 === 0)
        .withColumn("lang", F.lit("yy"))
        .write.format("graft-manifest")
        .option("path", root)
        .option("replaceWhere", "doc_id >= 300 AND doc_id < 400")
        .mode("overwrite").save()
      s.catalog.refreshTable("rw_corpus")
      s.sql("SELECT doc_id, lang, source FROM rw_corpus")
    }),


    // row-level UPDATE through the manifest (copy-on-write, the S6
    // twin at scale): two appends, then updateWhere(doc_id % 7 = 0)
    // rewrites lang and n_chars on matched rows while a CONCURRENT
    // append (the third split) races in between rewrite and commit —
    // the racing rows post-date the match scan and stay original even
    // where they match the predicate (snapshot isolation, exactly as
    // in the delete). Only victim-holding files are rewritten.
    "x_manifest_update" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_upd")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      graft.operators.ManifestTable.init(root)
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 0))
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 1))
      graft.operators.ManifestTable.updateWhere(s, root,
        F.col("doc_id") % 7 === 0,
        Map("lang" -> F.lit("xx"),
          "n_chars" -> (F.col("n_chars") + 1000)),
        beforeCommit = () => {
          graft.operators.ManifestTable.append(s, root,
            docs.filter(F.col("doc_id") % 3 === 2)); ()
        })
      graft.operators.ManifestTable.read(s, root)
    }),


    // MERGE/upsert through the manifest (the S8 twin at scale): the
    // corpus holds splits 1+2, the update set is every doc_id % 4 = 0
    // row — colliding ids are REPLACED whole-row, new ids insert, and
    // the update rows carry a `rev` column the table never had (the
    // recorded schema merges; older rows read NULL). A concurrent
    // append (split 0 minus the update ids) races the commit and
    // survives untouched. One commit publishes all of it.
    "x_manifest_upsert" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_ups")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(root)
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 1))
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 2))
      val updates = docs.filter(F.col("doc_id") % 4 === 0)
        .select(F.col("doc_id"), F.lit("upserted").as("lang"),
          F.col("source"), F.lit(2L).as("rev"))
      graft.operators.ManifestTable.upsert(s, root, "doc_id", updates,
        beforeCommit = () => {
          graft.operators.ManifestTable.append(s, root,
            docs.filter(F.col("doc_id") % 3 === 0 &&
              F.col("doc_id") % 4 =!= 0)); ()
        })
      graft.operators.ManifestTable.read(s, root)
    }),


    // stats-pruned manifest ops over a RANGE-CLUSTERED table: the
    // table declares doc_id as a stat column and lands as 8
    // range-disjoint files (repartitionByRange), so every file's
    // recorded min/max is a tight doc_id band. The row delete, the
    // update, and the final read all carry range predicates — each
    // plans over ONLY the band-intersecting candidate files
    // (ManifestStatsSpec proves skipped files are never opened via
    // on-disk corruption; this grades that the pruned plans stay
    // result-exact). At 100 TB this is the difference between a point
    // delete opening every footer and opening one file.
    "x_manifest_prune" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_prune")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      graft.operators.ManifestTable.init(root, Seq("doc_id"), Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root,
        docs.repartitionByRange(8, F.col("doc_id")))
      graft.operators.ManifestTable.deleteWhere(s, root,
        F.col("doc_id") >= 40 && F.col("doc_id") < 60)
      graft.operators.ManifestTable.updateWhere(s, root,
        F.col("doc_id") >= 70 && F.col("doc_id") < 80,
        Map("lang" -> F.lit("xx")))
      // the range probe prunes on the per-file min/max bands; the
      // IN-list probe prunes per KEY (bounds + bloom), including a
      // deleted id (45) and ids outside every band's residue
      graft.operators.ManifestTable.readWhere(s, root,
          F.col("doc_id") >= 20 && F.col("doc_id") < 120)
        .withColumn("probe", F.lit("range"))
        .unionByName(graft.operators.ManifestTable.readWhere(s, root,
            F.col("doc_id").isin(5L, 45L, 75L, 130L, 222L))
          .withColumn("probe", F.lit("in")))
    }),


    // SQL FRONT DOOR over the manifest table: the table registers as
    // a catalog view served by a snapshot-pinned FileIndex relation,
    // so pure spark.sql reads plan stats-PRUNED scans (PlanShapeSpec
    // pins the shrunk file list) with snapshot isolation — the head
    // view excludes the deleted band, while a versionAsOf pin still
    // serves it (time travel under SQL). Everything downstream of the
    // pruned listing is stock vectorized parquet + codegen.
    "x_manifest_sql" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_sql")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      graft.operators.ManifestTable.init(root, Seq("doc_id"), Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root,
        docs.repartitionByRange(8, F.col("doc_id")))   // v1
      graft.operators.ManifestTable.deleteWhere(s, root,
        F.col("doc_id") >= 40 && F.col("doc_id") < 60) // v2 (head)
      val g = graft.api.Graft(s, dir)
      g.registerManifest("corpus_manifest", root)
      g.registerManifest("corpus_manifest_v1", root, versionAsOf = Some(1))
      // a CATALOG entry for the time-travel SYNTAX arm (VERSION AS OF
      // needs a real catalog identity; re-registration is idempotent)
      g.registerManifest("corpus_manifest_cat", root, persistent = true)
      // the DSv2 arms address the same entry as graft.default.…
      graft.catalog.GraftCatalog.install(s)
      // the third arm reads the SAME v1 pin through the registered
      // provider's option path (the ad-hoc time-travel recipe the
      // persistent catalog mode documents) — its rows must equal the
      // registered-view arm's, so the provider's pin contract is
      // oracle-graded too
      val optArm = s.read.format("graft-manifest")
        .option("path", root).option("versionAsOf", "1").load()
        .filter(F.col("doc_id") >= 40 && F.col("doc_id") < 60)
        .select(F.col("doc_id"), F.col("lang"), F.col("source"),
          F.col("n_chars"), F.lit("v1opt").as("ver"))
      s.sql("SELECT doc_id, lang, source, n_chars, 'head' AS ver " +
        "FROM corpus_manifest " +
        "WHERE (doc_id >= 30 AND doc_id < 120) OR doc_id = 7 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, n_chars, 'v1' AS ver " +
        "FROM corpus_manifest_v1 WHERE doc_id >= 40 AND doc_id < 60 " +
        // the same v1 pin a third way: the path-addressed TVF (no
        // registration at all) — ad-hoc SQL time travel
        "UNION ALL " +
        s"SELECT doc_id, lang, source, n_chars, 'v1tvf' AS ver " +
        s"FROM graft_manifest('$root', 1) " +
        "WHERE doc_id >= 40 AND doc_id < 60 " +
        // ...and a FOURTH way: the ANSI time-travel SYNTAX on the
        // catalog entry (the catalog door's time-travel loadTable)
        "UNION ALL " +
        "SELECT doc_id, lang, source, n_chars, 'v1sql' AS ver " +
        "FROM corpus_manifest_cat VERSION AS OF 1 " +
        "WHERE doc_id >= 40 AND doc_id < 60 " +
        // ...and the graft.default.* alias (r19): head + native v2
        // time travel; the v2 relation swaps to the same pruned V1
        // scan, so these arms must hash-equal their twins
        "UNION ALL " +
        "SELECT doc_id, lang, source, n_chars, 'v2' AS ver " +
        "FROM graft.default.corpus_manifest_cat " +
        "WHERE (doc_id >= 30 AND doc_id < 120) OR doc_id = 7 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, n_chars, 'v2sql' AS ver " +
        "FROM graft.default.corpus_manifest_cat VERSION AS OF 1 " +
        "WHERE doc_id >= 40 AND doc_id < 60")
        .unionByName(optArm)
    }),


    // SCATTERED-KEY pruning through per-file Blooms: eight interleaved
    // appends (doc_id ≡ i mod 8) leave every file spanning the whole
    // id range — min/max prunes NOTHING — and the declared bloom
    // column turns point/IN lookups into ~one-file plans anyway. The
    // graded chain: a scattered point DELETE, a scattered three-key
    // MERGE (both victim-scanning only bloom-admitted files —
    // ManifestStatsSpec proves skipped files are never opened via
    // on-disk corruption), then an IN-list and a point read. At
    // 100 TB this is the CDC shape min/max cannot serve: a merge
    // batch of scattered ids opens matching + fpp·files files.
    "x_manifest_bloom" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_bloom")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(root, Seq("doc_id"), Seq("doc_id"))
      for (i <- 0 until 8)
        graft.operators.ManifestTable.append(s, root,
          docs.filter(F.col("doc_id") % 8 === i))
      graft.operators.ManifestTable.deleteWhere(s, root,
        F.col("doc_id") === 40L)
      val upd = docs.filter(F.col("doc_id").isin(7L, 21L, 35L))
        .select(F.col("doc_id"), F.lit("merged").as("lang"),
          F.col("source"))
      graft.operators.ManifestTable.upsert(s, root, "doc_id", upd)
      graft.operators.ManifestTable.readWhere(s, root,
          F.col("doc_id").isin(7L, 13L, 21L, 35L, 40L, 103L))
        .withColumn("probe", F.lit("in"))
        .unionByName(graft.operators.ManifestTable.readWhere(s, root,
            F.col("doc_id") === 57L)
          .withColumn("probe", F.lit("point")))
    }),


    // metadata-only aggregates off the manifest's per-file stats:
    // whole-table and file-aligned counts answer from recorded row
    // counts + bounds WITHOUT opening data files (mustMatch full
    // files; only boundary files scan — ManifestStatsSpec proves the
    // zero-I/O property by corrupting every data file). Graded here
    // for exactness against the raw corpus.
    "x_manifest_metacount" -> ((s, dir) => {
      import s.implicits._
      val root = layoutDir(dir, "manifest_metacount")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(root, Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root,
        docs.repartitionByRange(8, F.col("doc_id")))
      val nTotal = graft.operators.ManifestTable.countWhere(s, root)
      val nRange = graft.operators.ManifestTable.countWhere(s, root,
        Some(F.col("doc_id") >= 100 && F.col("doc_id") < 300))
      val nPoint = graft.operators.ManifestTable.countWhere(s, root,
        Some(F.col("doc_id") === 7))
      // whole-table min/max answered from the manifest's bounds alone
      val (dMin, dMax) = graft.operators.ManifestTable
        .statBounds(s, root, "doc_id")
        .map { case (a, b) =>
          (a.asInstanceOf[Long], b.asInstanceOf[Long]) }
        .getOrElse(throw new IllegalStateException(
          "statBounds must answer on a fully-statted table"))
      Seq((nTotal, nRange, nPoint, dMin, dMax))
        .toDF("n_total", "n_range", "n_point", "min_doc", "max_doc")
    }),


    // schema evolution THROUGH the manifest table: batch 2 adds a
    // tok_count column batch 1 never had. The manifest records the
    // merged schema at each commit, so the read NULL-fills batch-1
    // rows with ZERO footer reconciliation (the catalog-pinned-schema
    // design x_source_evolved's doc note asks for, built into the
    // table) — and the compaction in the middle proves a rewrite
    // carries the evolved schema. Same aggregate contract as
    // x_source_evolved: count(tok_count) counts only batch-2 rows,
    // its sum proves their values survive the seam and the rewrite.
    "x_manifest_evolved" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_evolved")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
      graft.operators.ManifestTable.init(root)
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 2 === 0)
          .select("doc_id", "source", "n_chars"))
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 2 =!= 0)
          .select(F.col("doc_id"), F.col("source"), F.col("n_chars"),
            graft.functions.Text.tokenCount(F.col("text"))
              .cast("long").as("tok_count")))
      graft.operators.ManifestTable.compact(s, root,
        targetFileBytes = 4L * 1024 * 1024)
      graft.operators.ManifestTable.read(s, root)
        .groupBy("source")
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_chars").cast("long")).as("sum_chars"),
          F.count(F.col("tok_count")).as("n_evolved"),
          F.sum(F.col("tok_count")).as("sum_toks"))
    }),


    // numeric type WIDENING through the schema ledger: batch 1 lands
    // n_chars as INT, batch 2 as LONG — the recorded type widens to
    // bigint as a pure metadata change (the int file is carried by
    // reference; Spark's parquet reader upcasts it at scan), and the
    // compaction rewrite then emits uniform wide files. The aggregate
    // must be exact across the seam.
    "x_manifest_widen" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_widen")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
      graft.operators.ManifestTable.init(root, Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 2 === 0)
          .select(F.col("doc_id"), F.col("source"),
            F.col("n_chars").cast("int").as("n_chars")))
      // EXPLICIT SQL widening (r20): ALTER COLUMN … TYPE BIGINT
      // through the catalog door to the ledger widen (metadata-only;
      // the int files upcast at read) — graded against the
      // append-driven widening arm below and the post-compact
      // read-back, all in one hash
      graft.api.Graft(s, dir)
        .registerManifest("widen_corpus", root, persistent = true)
      s.sql("ALTER TABLE widen_corpus ALTER COLUMN n_chars TYPE BIGINT")
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 2 =!= 0)
          .select(F.col("doc_id"), F.col("source"),
            F.col("n_chars").cast("long").as("n_chars")))
      graft.operators.ManifestTable.compact(s, root,
        targetFileBytes = 4L * 1024 * 1024)
      s.catalog.refreshTable("widen_corpus")
      s.sql("SELECT source, count(*) AS n_docs, " +
        "sum(n_chars) AS sum_chars FROM widen_corpus GROUP BY source")
    }),


    // exactly-once streaming append into the manifest table: three
    // mtime-ordered micro-batches land through appendBatch's atomic
    // marker+filelist commit — a double-counted replay or a lost
    // batch fails the whole-corpus hash
    "x_stream_manifest" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_stream")
      val batches = layoutDir(dir, "manifest_stream_in")
      deleteRec(new java.io.File(root))
      deleteRec(new java.io.File(batches))
      new java.io.File(batches).mkdirs()
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      for (i <- 0 until 3)
        writeSingleFile(docs.filter(F.col("doc_id") % 3 === i),
          s"$batches/ingest_$i.parquet", 1000000000000L + i * 60000L)
      graft.streaming.StreamingOps.streamingManifestAppend(s, batches, root)
    }),


    // CLUSTERED compaction: four interleaved appends leave every file
    // spanning the whole doc_id range (pruning useless); compact with
    // clusterBy re-sorts the table into disjoint per-file bands, and
    // the final pruned range read must still be row-exact.
    // ManifestStatsSpec pins the bands (4 candidates -> 1); the hash
    // grades that the clustered rewrite loses and invents nothing.
    "x_manifest_cluster" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_cluster")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      graft.operators.ManifestTable.init(root, Seq("doc_id"))
      for (i <- 0 until 4)
        graft.operators.ManifestTable.append(s, root,
          docs.filter(F.col("doc_id") % 4 === i))
      graft.operators.ManifestTable.compact(s, root,
        targetFileBytes = 256L * 1024, clusterBy = Seq("doc_id"))
      graft.operators.ManifestTable.readWhere(s, root,
        F.col("doc_id") >= 100 && F.col("doc_id") < 220)
    }),


    // CHANGE DATA FEED off the manifest's file diff (no per-row
    // tracking): append -> pure inserts, row delete -> pure deletes
    // (unchanged rows of the rewritten file cancel), update -> its
    // delete+insert pair, compaction -> ZERO rows (layout is not
    // data, pinned by the empty 'compact' step in the hash). Feed
    // cost scales with the changed files only.
    "x_manifest_changes" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_cdf")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(root)
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 0)) // v1
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 1)) // v2
      graft.operators.ManifestTable.deleteWhere(s, root,
        F.col("doc_id") % 5 === 0)              // v3
      graft.operators.ManifestTable.updateWhere(s, root,
        F.col("doc_id") % 7 === 0, Map("lang" -> F.lit("xx"))) // v4
      graft.operators.ManifestTable.compact(s, root,
        targetFileBytes = 4L * 1024 * 1024)     // v5
      def step(a: Int, b: Int, name: String) =
        graft.operators.ManifestTable.changes(s, root, a, b)
          .withColumn("step", F.lit(name))
      step(1, 2, "append")
        .unionByName(step(2, 3, "delete"))
        .unionByName(step(3, 4, "update"))
        .unionByName(step(4, 5, "compact")) // must contribute nothing
    }),


    // column RENAME + DROP through the schema ledger: batch 1 lands
    // under the original names, then n_chars→chars and doc_id→doc
    // rename (metadata-only — zero data I/O), batch 2 arrives under
    // the NEW names, and source is dropped. Phase 1 reads the mixed
    // table through the colmap (old files coalesce into the new
    // names) WITH a pruning predicate on the renamed stat column —
    // pre-rename files' doc_id stats must resolve through the chain;
    // phase 2 re-reads after a compaction, which rewrites every file
    // under the current names. Both phases must be byte-identical to
    // the oracle's plain projection of the raw corpus.
    "x_manifest_rename" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_rename")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
      graft.operators.ManifestTable.init(root, Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 2 === 0)
          .select("doc_id", "source", "n_chars"))
      graft.operators.ManifestTable.renameColumn(s, root, "n_chars", "chars")
      graft.operators.ManifestTable.renameColumn(s, root, "doc_id", "doc")
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 2 =!= 0)
          .select(F.col("doc_id").as("doc"), F.col("source"),
            F.col("n_chars").as("chars")))
      graft.operators.ManifestTable.dropColumn(s, root, "source")
      // pin phase 1 before the compaction changes the live file set
      val phase1 = graft.operators.ManifestTable.readWhere(s, root,
          F.col("doc") < 300).withColumn("phase", F.lit(1L))
        .localCheckpoint(eager = true)
      graft.operators.ManifestTable.compact(s, root,
        targetFileBytes = 4L * 1024 * 1024)
      phase1.unionByName(graft.operators.ManifestTable.read(s, root)
        .withColumn("phase", F.lit(2L)))
    }),


    // EXACTLY-ONCE streaming MERGE into the manifest (the CDC→manifest
    // bridge): the table seeds with the whole corpus, then three
    // mtime-ordered micro-batches of whole-row updates (doc_id%4 =
    // 0/1/2, each carrying a rev column the table never had) land
    // through upsertBatch — marker and merge publish in ONE atomic
    // commit. After the stream drains, batch 0 is REPLAYED with
    // poisoned data: the ledger must make it a no-op (an applied
    // replay would put 'MUST_NOT_APPLY' in lang and fail the hash).
    "x_stream_upsert" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_upsstream")
      val batches = layoutDir(dir, "manifest_upsstream_in")
      deleteRec(new java.io.File(root))
      deleteRec(new java.io.File(batches))
      new java.io.File(batches).mkdirs()
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(root, Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root, docs)
      for (i <- 0 until 3)
        writeSingleFile(
          docs.filter(F.col("doc_id") % 4 === i)
            .select(F.col("doc_id"), F.lit(s"up$i").as("lang"),
              F.col("source"), F.lit(i + 1L).as("rev")),
          s"$batches/cdc_$i.parquet", 1000000000000L + i * 60000L)
      graft.streaming.StreamingOps.streamingManifestUpsert(
        s, batches, root, "doc_id")
      graft.operators.ManifestTable.upsertBatch(s, root, 0L, "doc_id",
        docs.filter(F.col("doc_id") % 4 === 0)
          .select(F.col("doc_id"), F.lit("MUST_NOT_APPLY").as("lang"),
            F.col("source"), F.lit(99L).as("rev")))
      graft.operators.ManifestTable.read(s, root)
    }),


    // CDC SUBSCRIPTION to a manifest table: a version-watermarked
    // drain delivers each commit as a per-version file-diff batch
    // (batchId = the version) into an id-LEDGERED sink manifest table
    // — at-least-once delivery + exactly-once apply = exactly-once
    // end to end. The grade: two appends and a row delete drain as
    // three batches; a second drain delivers NOTHING (watermark); the
    // watermark is then WIPED and the full feed re-delivers with the
    // same ids — every replayed batch must be a ledger no-op, or the
    // sink double-counts and fails the hash.
    "x_stream_changes" -> ((s, dir) => {
      val src = layoutDir(dir, "cdcfeed_src")
      val sink = layoutDir(dir, "cdcfeed_sink")
      val ckpt = layoutDir(dir, "cdcfeed_ckpt")
      Seq(src, sink, ckpt).foreach(r => deleteRec(new java.io.File(r)))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(src)
      graft.operators.ManifestTable.append(s, src,
        docs.filter(F.col("doc_id") % 3 === 0)) // v1
      graft.operators.ManifestTable.append(s, src,
        docs.filter(F.col("doc_id") % 3 === 1)) // v2
      graft.operators.ManifestTable.deleteWhere(s, src,
        F.col("doc_id") % 5 === 0)              // v3
      graft.operators.ManifestTable.init(sink)
      def subscribe(): Seq[Long] =
        graft.streaming.ManifestChangeFeed.drain(s, src, ckpt) {
          (batch, id) =>
            graft.operators.ManifestTable.appendBatch(s, sink, id,
              batch.withColumn("ver", F.lit(id)))
            ()
        }
      require(subscribe() == Seq(1L, 2L, 3L), "first drain delivers all")
      require(subscribe().isEmpty, "watermarked drain re-delivers nothing")
      // crash-replay: the watermark vanishes, every version
      // re-delivers under its original id — the sink's batch ledger
      // must no-op all three
      deleteRec(new java.io.File(ckpt))
      require(subscribe() == Seq(1L, 2L, 3L), "replay re-delivers the feed")
      graft.operators.ManifestTable.read(s, sink)
    }),


    // the change feed as a REGISTERED Structured Streaming source:
    // spark.readStream.format("graft-cdf") drains the same three
    // versions through a real streaming query (offset log, triggers,
    // foreachBatch) into an id-ledgered sink. The grade: a restart on
    // the same checkpoint delivers nothing (the offset log IS the
    // watermark), and a WIPED checkpoint replays the feed with the
    // same deterministic batch id — the sink ledger must no-op it or
    // the hash double-counts. Rows carry _commit_version, so per-
    // commit attribution survives Spark's range batching.
    "x_stream_cdf_source" -> ((s, dir) => {
      val src = layoutDir(dir, "cdfsrc_src")
      val sink = layoutDir(dir, "cdfsrc_sink")
      val ckpt = layoutDir(dir, "cdfsrc_ckpt")
      Seq(src, sink, ckpt).foreach(r => deleteRec(new java.io.File(r)))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(src)
      graft.operators.ManifestTable.append(s, src,
        docs.filter(F.col("doc_id") % 3 === 0)) // v1
      graft.operators.ManifestTable.append(s, src,
        docs.filter(F.col("doc_id") % 3 === 1)) // v2
      graft.operators.ManifestTable.deleteWhere(s, src,
        F.col("doc_id") % 5 === 0)              // v3
      graft.operators.ManifestTable.init(sink)
      def run(): Unit = graft.ScopedShufflePartitions(s) {
        val q = s.readStream.format("graft-cdf").option("path", src)
          .load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame,
                           id: Long) =>
            graft.operators.ManifestTable.appendBatch(s, sink, id, batch)
            (): Unit
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      run() // drains versions 1..3 in one deterministic batch (id 0)
      run() // restart on the same checkpoint: the offset log no-ops
      deleteRec(new java.io.File(ckpt))
      run() // wiped checkpoint: full replay, same id — ledger no-ops
      graft.operators.ManifestTable.read(s, sink)
    }),


    // the REGISTERED streaming SINK closes the loop: readStream
    // (graft-cdf) → writeStream (graft-manifest) is a manifest-to-
    // manifest pipeline with ZERO foreachBatch code — every micro-
    // batch commits through the #batch ledger, so the engine's
    // replays no-op. Two sinks drain the same feed: append mode
    // journals the raw change rows; update mode replace-or-inserts
    // the insert rows by doc_id (the CDC state shape). The grade: a
    // restart delivers nothing, and a WIPED-checkpoint replay (same
    // deterministic batch id) must no-op in BOTH sink ledgers — a
    // sink that double-appends or double-merges fails the hash.
    "x_stream_manifest_sink" -> ((s, dir) => {
      val src = layoutDir(dir, "msink_src")
      val aSink = layoutDir(dir, "msink_feed")
      val uSink = layoutDir(dir, "msink_state")
      val ckA = layoutDir(dir, "msink_cka")
      val ckU = layoutDir(dir, "msink_cku")
      Seq(src, aSink, uSink, ckA, ckU)
        .foreach(r => deleteRec(new java.io.File(r)))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(src)
      graft.operators.ManifestTable.append(s, src,
        docs.filter(F.col("doc_id") % 3 === 0)) // v1
      graft.operators.ManifestTable.append(s, src,
        docs.filter(F.col("doc_id") % 3 === 1)) // v2
      graft.operators.ManifestTable.deleteWhere(s, src,
        F.col("doc_id") % 5 === 0)              // v3
      def run(): Unit = graft.ScopedShufflePartitions(s) {
        def feed() = s.readStream.format("graft-cdf")
          .option("path", src).load()
        val qa = feed().writeStream.format("graft-manifest")
          .option("path", aSink)
          .option("checkpointLocation", ckA)
          .outputMode("append").start()
        val qu = feed().filter(F.col("_change_type") === "insert")
          .select("doc_id", "lang", "source")
          .writeStream.format("graft-manifest")
          .option("path", uSink).option("mergeKey", "doc_id")
          .option("checkpointLocation", ckU)
          .outputMode("update").start()
        try { qa.processAllAvailable(); qu.processAllAvailable() }
        finally { qa.stop(); qu.stop() }
      }
      run() // both sinks drain the 3-version feed as batch 0
      run() // restart: the offset logs deliver nothing
      Seq(ckA, ckU).foreach(c => deleteRec(new java.io.File(c)))
      run() // wiped checkpoints: batch 0 replays — both ledgers no-op
      graft.operators.ManifestTable.read(s, aSink)
        .withColumn("arm", F.lit("feed"))
        .unionByName(graft.operators.ManifestTable.read(s, uSink)
          .withColumn("_change_type", F.lit("state"))
          .withColumn("_commit_version", F.lit(-1L))
          .withColumn("arm", F.lit("state")))
    }),


    // SQL WRITE PATH through the front door: INSERT INTO appends via
    // the ledgered commit (two SQL batches land as v2/v3), a
    // SQL-SOURCED merge applies exactly once (upsertBatch fed FROM
    // spark.sql, then REPLAYED with poisoned data — the batch ledger
    // must no-op it), and INSERT OVERWRITE atomically replaces the
    // snapshot. Phase 1 pins the pre-overwrite table; phase 2 reads
    // the replaced one. A raw-file write bypassing the manifest, a
    // double-applied merge, or a non-atomic overwrite each fails the
    // hash.
    // MERGE WITH SCHEMA EVOLUTION (r19): a star merge whose source
    // carries a column the target lacks ADDS it through the schema
    // ledger inside the same statement — matched rows take the
    // source value, inserted rows carry it, every untouched row
    // reads NULL, and the read-back goes through the CATALOG name,
    // which must serve the evolved schema at the next statement (a
    // stale schema would fail the SELECT, a dropped column the hash).
    "x_manifest_sql_evolve" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_sqlevo")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      docs.createOrReplaceTempView("sqlevo_docs")
      graft.operators.ManifestTable.init(root, Seq("doc_id"), Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root,
        docs.select("doc_id", "lang", "source"))
      graft.api.Graft(s, dir)
        .registerManifest("sqlevo_corpus", root, persistent = true)
      s.sql("SELECT doc_id, lang, source, " +
        "CAST(n_chars AS BIGINT) AS score FROM sqlevo_docs " +
        "WHERE doc_id % 4 = 0 " +
        "UNION ALL SELECT -doc_id - 1 AS doc_id, lang, source, " +
        "CAST(n_chars AS BIGINT) AS score FROM sqlevo_docs " +
        "WHERE doc_id % 6 = 0")
        .createOrReplaceTempView("sqlevo_src")
      s.sql("MERGE WITH SCHEMA EVOLUTION INTO sqlevo_corpus t " +
        "USING sqlevo_src s ON t.doc_id = s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
      s.sql("SELECT doc_id, lang, source, score FROM sqlevo_corpus")
    }),

    // TABLE-ADDRESSED streaming through the DSv2 door (r19):
    // readStream.table("graft.default.feed") serves the insert-row
    // feed (graft-manifest's StreamSourceProvider via the
    // V2TableWithV1Fallback seam — offsets, restart monotonicity and
    // retention checks all the cdf source's), writeStream.toTable
    // lands on the exactly-once ledgered sink. The grade: seed →
    // drain → append → drain (incremental), restart (no re-delivery),
    // wiped-checkpoint replay (ledger no-ops), then a row-level
    // DELETE on the feed which must feed NOTHING to the insert feed.
    // A re-delivered batch, a rewound offset, or a delete leaking
    // into the feed each fails the hash.
    "x_stream_table" -> ((s, dir) => {
      val feed = layoutDir(dir, "stbl_feed")
      val sink = layoutDir(dir, "stbl_sink")
      val ckpt = layoutDir(dir, "stbl_ckpt")
      Seq(feed, sink, ckpt).foreach(r => deleteRec(new java.io.File(r)))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(feed, Seq("doc_id"), Seq("doc_id"))
      graft.operators.ManifestTable.append(s, feed,
        docs.filter(F.col("doc_id") % 2 === 0))
      graft.operators.ManifestTable.init(sink, Seq("doc_id"), Seq("doc_id"))
      graft.operators.ManifestTable.overwrite(s, sink, docs.limit(0))
      val g = graft.api.Graft(s, dir)
      g.registerManifest("stbl_feed", feed, persistent = true)
      g.registerManifest("stbl_sink", sink, persistent = true)
      graft.catalog.GraftCatalog.install(s)
      def run(): Unit = graft.ScopedShufflePartitions(s) {
        val q = s.readStream.table("graft.default.stbl_feed")
          .writeStream.format("graft-manifest")
          .option("checkpointLocation", ckpt)
          .toTable("graft.default.stbl_sink")
        try q.processAllAvailable() finally q.stop()
      }
      run() // the seed batch
      graft.operators.ManifestTable.append(s, feed,
        docs.filter(F.col("doc_id") % 2 =!= 0))
      run() // incremental: only the odd half arrives
      run() // restart: offsets deliver nothing
      deleteRec(new java.io.File(ckpt))
      run() // wiped checkpoint: full replay — the sink ledger no-ops
      graft.operators.ManifestTable.deleteWhere(s, feed,
        F.col("doc_id") % 10 === 0)
      run() // a delete commit feeds NO insert rows
      graft.operators.ManifestTable.read(s, sink)
    }),

    "x_manifest_sql_write" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_sqlw")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      docs.createOrReplaceTempView("sqlw_docs")
      graft.operators.ManifestTable.init(root, Seq("doc_id"), Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root,
        docs.filter(F.col("doc_id") % 3 === 0)) // v1: Scala seed
      val g = graft.api.Graft(s, dir)
      g.registerManifest("sqlw_corpus", root)
      s.sql("INSERT INTO sqlw_corpus " +
        "SELECT doc_id, lang, source FROM sqlw_docs WHERE doc_id % 3 = 1")
      s.sql("INSERT INTO sqlw_corpus " +
        "SELECT doc_id, upper(lang), source FROM sqlw_docs " +
        "WHERE doc_id % 3 = 2")
      // SQL-sourced ledgered merge + poisoned replay
      graft.operators.ManifestTable.upsertBatch(s, root, 100L, "doc_id",
        s.sql("SELECT doc_id, 'merged' AS lang, source FROM sqlw_docs " +
          "WHERE doc_id % 10 = 0"))
      graft.operators.ManifestTable.upsertBatch(s, root, 100L, "doc_id",
        s.sql("SELECT doc_id, 'MUST_NOT_APPLY' AS lang, source " +
          "FROM sqlw_docs WHERE doc_id % 10 = 0"))
      val phase1 = graft.operators.ManifestTable.read(s, root)
        .withColumn("phase", F.lit(1L)).localCheckpoint(eager = true)
      s.sql("INSERT OVERWRITE sqlw_corpus " +
        "SELECT doc_id, lang, source FROM sqlw_docs WHERE doc_id < 100")
      phase1.unionByName(graft.operators.ManifestTable.read(s, root)
        .withColumn("phase", F.lit(2L)))
    }),


    // the DataFrame WRITER front door: df.write.format(
    // "graft-manifest") creates the table (manifest init + ledgered
    // first append, stat/bloom shape declared via options), append =
    // one ledgered commit, overwrite = atomic snapshot replace — and
    // the read-back goes through the path-addressed TVF, so the whole
    // lifecycle (create/append/replace/read) runs registration-free
    // on idiomatic Spark API. Raw files in the root, a lost append,
    // or a non-atomic replace each fails the hash.
    "x_manifest_writer" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_writer")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      docs.filter(F.col("doc_id") % 3 === 0)
        .write.format("graft-manifest")
        .option("path", root)
        .option("statCols", "doc_id").option("bloomCols", "doc_id")
        .save() // create: init + v1
      docs.filter(F.col("doc_id") % 3 =!= 0)
        .write.format("graft-manifest").mode("append").save(root) // v2
      docs.filter(F.col("doc_id") < 120)
        .write.format("graft-manifest").mode("overwrite").save(root) // v3
      docs.filter(F.col("doc_id") >= 300)
        .write.format("graft-manifest").mode("append").save(root) // v4
      s.sql(s"SELECT doc_id, lang, source FROM graft_manifest('$root')")
    }),


    // SQL ROW-LEVEL DML through the front door: DELETE FROM prunes
    // its victim scan and commits through the ledger, UPDATE rewrites
    // only matched files, a batch-id MERGE whole-row-replaces-or-
    // inserts by key exactly once (the POISONED replay under the same
    // id must no-op against the batch ledger), and a MATCHED-DELETE
    // merge takes down a key list. Every statement is pure SQL — the
    // Scala writers own the semantics underneath, so a raw rewrite,
    // a double-applied merge, or a band leaking back each fails the
    // hash. The deleted band's %10=0 ids come BACK via the merge's
    // NOT MATCHED arm (insert), pinning that both merge arms ran.
    "x_manifest_sql_dml" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_sqldml")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      docs.createOrReplaceTempView("sqldml_docs")
      graft.operators.ManifestTable.init(root, Seq("doc_id"), Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root, docs) // v1: full seed
      val g = graft.api.Graft(s, dir)
      g.registerManifest("sqldml_corpus", root)
      s.sql("DELETE FROM sqldml_corpus WHERE doc_id >= 40 AND doc_id < 60")
      s.sql("UPDATE sqldml_corpus SET lang = 'xx' WHERE doc_id % 7 = 0")
      val merge = "MERGE INTO sqldml_corpus t USING " +
        "(SELECT doc_id, '%s' AS lang, source FROM sqldml_docs " +
        "WHERE doc_id %% 10 = 0) s ON t.doc_id = s.doc_id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
      s.conf.set(graft.sources.ManifestSql.BatchIdConf, "100")
      s.sql(merge.format("merged"))
      // poisoned replay under the SAME batch id — the ledger no-ops
      s.conf.set(graft.sources.ManifestSql.BatchIdConf, "100")
      s.sql(merge.format("MUST_NOT_APPLY"))
      s.sql("MERGE INTO sqldml_corpus t USING " +
        "(SELECT doc_id FROM sqldml_docs " +
        "WHERE doc_id % 13 = 0 AND doc_id % 10 <> 0) s " +
        "ON t.doc_id = s.doc_id WHEN MATCHED THEN DELETE")
      s.sql("SELECT doc_id, lang, source FROM sqldml_corpus")
    }),


    // SUBQUERY-PREDICATE DML: DELETE and UPDATE carrying membership
    // conjuncts — uncorrelated 'col IN (SELECT …)' (one, and TWO in
    // one predicate), equality-correlated EXISTS, and NOT EXISTS
    // (sound anti semantics, unlike the refused NOT IN) — each
    // subquery materializing as a values frame joined against the
    // pruned victim scan (never a driver list), with the residue
    // conjunct narrowing both the prune and the fire condition. A
    // dropped residue, a driver-collected list, a fanned-out join,
    // IN-NULL mishandling, or inverted EXISTS polarity each fails
    // the hash.
    "x_manifest_sql_in" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_sqlin")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      docs.createOrReplaceTempView("sqlin_docs")
      graft.operators.ManifestTable.init(root, Seq("doc_id"), Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root, docs)
      graft.api.Graft(s, dir).registerManifest("sqlin_corpus", root)
      s.sql("DELETE FROM sqlin_corpus WHERE doc_id >= 100 AND doc_id IN " +
        "(SELECT doc_id FROM sqlin_docs WHERE lang = 'en')")
      s.sql("UPDATE sqlin_corpus SET lang = concat(lang, '!') " +
        "WHERE doc_id < 250 AND doc_id IN " +
        "(SELECT doc_id FROM sqlin_docs WHERE source = 'src3')")
      // TWO IN terms in one predicate: both value sets must gate
      s.sql("UPDATE sqlin_corpus SET source = concat(source, '+') " +
        "WHERE doc_id IN " +
        "(SELECT doc_id FROM sqlin_docs WHERE doc_id % 2 = 0) " +
        "AND doc_id IN " +
        "(SELECT doc_id FROM sqlin_docs WHERE doc_id % 3 = 0)")
      // equality-correlated EXISTS with an inner-only conjunct
      s.sql("DELETE FROM sqlin_corpus WHERE doc_id < 30 AND EXISTS " +
        "(SELECT 1 FROM sqlin_docs d " +
        "WHERE d.doc_id = sqlin_corpus.doc_id AND d.lang = 'de')")
      // NOT EXISTS: rows whose key matches NO values row fire
      s.sql("UPDATE sqlin_corpus SET lang = concat(lang, '?') " +
        "WHERE doc_id >= 400 AND NOT EXISTS " +
        "(SELECT 1 FROM sqlin_docs d " +
        "WHERE d.doc_id = sqlin_corpus.doc_id AND d.source = 'src1')")
      s.sql("SELECT doc_id, lang, source FROM sqlin_corpus")
    }),


    // GENERAL SQL MERGE — the full lakehouse shape in one ledgered
    // statement: conditional matched DELETE (first-true-wins beats
    // the update), PARTIAL conditional UPDATE (source-referencing
    // expression, untouched columns carry), conditional NOT MATCHED
    // INSERT with explicit column list, and NOT MATCHED BY SOURCE
    // maintenance of source-absent rows — plus the POISONED same-
    // batch-id replay the ledger must no-op. A wrong clause order, a
    // whole-row widening of the partial update, an insert leaking
    // past its condition, an NMBS arm hitting matched rows, or a
    // double-applied merge each fails the hash.
    "x_manifest_sql_merge" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_sqlgm")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      docs.createOrReplaceTempView("sqlgm_docs")
      graft.operators.ManifestTable.init(root, Seq("doc_id"), Seq("doc_id"))
      graft.operators.ManifestTable.append(s, root, docs)
      graft.api.Graft(s, dir).registerManifest("sqlgm_corpus", root)
      // matched arm: every %4=0 doc; unmatched arm: fresh negative
      // keys derived from %6=0 docs (never collide with real ids)
      s.sql("SELECT doc_id, lang, source FROM sqlgm_docs " +
        "WHERE doc_id % 4 = 0 " +
        "UNION ALL SELECT -doc_id - 1 AS doc_id, lang, source " +
        "FROM sqlgm_docs WHERE doc_id % 6 = 0")
        .createOrReplaceTempView("sqlgm_src")
      // COMPOSITE key: (doc_id, source) — both components of a
      // matched pair come from the same document row, so the fold is
      // identical to the single-key one while grading the
      // multi-column join + per-component pruning path
      val merge = "MERGE INTO sqlgm_corpus t USING sqlgm_src s " +
        "ON t.doc_id = s.doc_id AND t.source = s.source " +
        "WHEN MATCHED AND s.lang = 'en' THEN DELETE " +
        "WHEN MATCHED AND t.doc_id %% 8 = 0 " +
        "THEN UPDATE SET lang = concat('%s', s.lang) " +
        "WHEN NOT MATCHED AND s.lang IN ('en', 'de') " +
        "THEN INSERT (doc_id, lang, source) VALUES (s.doc_id, s.lang, '%s') " +
        "WHEN NOT MATCHED BY SOURCE AND t.doc_id %% 9 = 0 " +
        "THEN UPDATE SET lang = 'stale'"
      s.conf.set(graft.sources.ManifestSql.BatchIdConf, "300")
      s.sql(merge.format("u_", "ins"))
      // poisoned replay under the SAME batch id — the ledger no-ops
      s.conf.set(graft.sources.ManifestSql.BatchIdConf, "300")
      s.sql(merge.format("POISON_", "POISON"))
      s.sql("SELECT doc_id, lang, source FROM sqlgm_corpus")
    }),


    // snapshot time travel: three appends then a row-level delete —
    // the output reads version 2 (exactly the first two appends, BY
    // the manifest pointer, not a directory listing) alongside the
    // post-delete latest, so a partial version, a delete leaking into
    // history, or a wrong version chain each fails the hash
    "x_manifest_timetravel" -> ((s, dir) => {
      val root = layoutDir(dir, "manifest_tt")
      deleteRec(new java.io.File(root))
      val docs = Tables.scan(s, dir, "documents")
        .select("doc_id", "lang", "source")
      graft.operators.ManifestTable.init(root)
      for (i <- 0 until 3)
        graft.operators.ManifestTable.append(s, root,
          docs.filter(F.col("doc_id") % 3 === i))
      graft.operators.ManifestTable.deleteWhere(s, root,
        F.col("doc_id") % 7 === 0)
      graft.operators.ManifestTable.readVersion(s, root, 2)
        .withColumn("ver", F.lit(2L))
        .unionByName(graft.operators.ManifestTable.read(s, root)
          .withColumn("ver", F.lit(4L)))
    }),


    // ---- multimodal plumbing (column twin of the decode stage) ----
    "x_multimodal_meta" -> ((s, dir) =>
      Multimodal.metaColumns(Tables.scan(s, dir, "documents"), "doc_id", "text")),


    // feature extraction through the REAL mapPartitions decode seam
    // (per-partition model init, streamed rows, typed output) — the
    // oracle replays the md5-derived stub math, so the graded check
    // covers the distributed plumbing end-to-end, not a Column twin
    "x_multimodal_features" -> ((s, dir) =>
      Multimodal.featurize(s,
        Multimodal.attachPayload(Tables.scan(s, dir, "documents"),
          "doc_id", "text"), "doc_id", MM_FEAT_DIMS).toDF()),


    // fixed-stride frame sampling (the video-keyframe shape): payload
    // cut into byte windows, each fingerprinted, streamed out of a
    // flatMap without materializing a per-doc frame list
    "x_multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(s,
        Multimodal.attachPayload(Tables.scan(s, dir, "documents"),
          "doc_id", "text"), "doc_id", MM_FRAME_BYTES).toDF()),


    // REAL image decode, graded: every 5th doc's payload is replaced
    // executor-side with a genuine PNG whose dimensions are pure
    // functions of doc_id (8+id%7 x 5+id%11), the rest stay opaque
    // text bytes. decodeImageIO must actually parse the PNGs to
    // report those dims (the stub would emit md5-derived dims and
    // hash-mismatch), while opaque rows must fall through to the
    // stub — one mixed-corpus pass, the realistic 100 TB shape. Only
    // dims are projected: PNG encoder BYTES are JVM-specific, so
    // byte_len/checksum aren't oracle-portable for real rows.
    "x_multimodal_decode" -> ((s, dir) => {
      import s.implicits._
      val mixed = Tables.scan(s, dir, "documents")
        .filter(F.col("doc_id") < MM_DECODE_DOCS)
        .select(F.col("doc_id").cast("long"), F.col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val payload =
            if (id % 5 == 0)
              Multimodal.syntheticPng((8 + id % 7).toInt, (5 + id % 11).toInt)
            else Option(text).getOrElse("") // NULL text → empty payload (stub path), not NPE
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          (id, payload)
        })
        .toDF("doc_id", "payload")
      Multimodal.decodeImageIO(s, mixed, "doc_id").toDF()
        .select(F.col("doc_id"), F.col("width"), F.col("height"))
    }),


    // ---- skew mitigation (identical results, hot-key-proof plans) ----
    // GENUINE skew, not a balanced fixture: ~80% of events collapse
    // onto one hot key (every user_id not divisible by 5 becomes
    // user 1) — the celebrity-key distribution the salted plans
    // exist for. The derivation is pure arithmetic, so the oracle
    // replays it and checks result-identity with the PLAIN agg/join;
    // SkewSpec separately pins that the salted partial stage bounds
    // the hottest reducer group to ~1/SALT_BUCKETS of the hot key.
    // bloom-filtered fact join: a Bloom over the selective dim's keys
    // is broadcast and kills fact rows MAP-SIDE before their shuffle —
    // the manual runtime-row-filter for dims too big to broadcast-join
    // at 100 TB. No false negatives, so the result is exactly the
    // plain inner join (the oracle); PlanShapeSpec pins the
    // filter-before-exchange shape under a forced sort-merge join.
    "x_bloom_join" -> ((s, dir) => {
      val hiSpend = Tables.scan(s, dir, "orders")
        .filter(F.col("o_totalprice") > SETOPS_CUTOFF)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      Joins.bloomFilteredJoin(
          Tables.scan(s, dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_quantity"),
          "l_orderkey", hiSpend, "o_orderkey")
        .select("l_orderkey", "l_linenumber", "l_quantity",
          "o_totalprice", "o_orderstatus")
    }),

    "x_skew_agg" -> ((s, dir) =>
      Skew.saltedAgg(
        Tables.scan(s, dir, "events").withColumn("skew_user", skewKey),
        "skew_user", F.col("event_id"), "value", SALT_BUCKETS)),


    // hot-keyed click events ⋈ customer dim with the dim replicated
    // per salt bucket — the hot user's clicks spread over
    // SALT_BUCKETS reducers instead of stalling one task
    "x_skew_join" -> ((s, dir) => {
      val clicks = Tables.scan(s, dir, "events")
        .filter(F.col("event_type") === "click")
        .select(F.col("event_id"), skewKey.as("user_id"), F.col("value"))
      val dim = Tables.scan(s, dir, "customer")
        .select(F.col("c_custkey").as("user_id"), F.col("c_name"))
      Joins.saltedJoin(clicks, dim, Seq("user_id"), SALT_BUCKETS,
          saltFrom = F.col("event_id"))
        .select("event_id", "user_id", "c_name", "value")
    }),


    // ---- physical layout (scale path) ----
    // date-partitioned materialization + partition-pruned read-back:
    // only the 7/30 event_date directories inside the queried week
    // are listed into the scan (PartitionFilters, pinned by
    // PlanShapeSpec); the aggregation runs on the pruned subset only
    "x_partition_prune" -> ((s, dir) => {
      val out = layoutDir(dir, "events_by_date")
      Layout.writeDatePartitioned(Tables.scan(s, dir, "events"), "ts", out)
      Layout.readDateRange(s, out, PRUNE_FROM, PRUNE_TO)
        .groupBy("event_date", "event_type")
        .agg(F.count(F.lit(1)).as("n"), F.sum("value").as("sum_value"))
    }),


    // Z-order clustered materialization + 2-D pruned read-back: the
    // Morton layout bounds every file's (user_id, day_idx) rectangle,
    // so parquet min/max footer stats skip files for predicates on
    // EITHER dimension — the property single-key clustering gives only
    // one of (LayoutSpec pins the per-file span bounds). The graded
    // read applies both band predicates and aggregates the rectangle;
    // sums in DECIMAL so values are accumulation-order-exact
    "x_zorder_prune" -> ((s, dir) => {
      val out = layoutDir(dir, "events_zorder")
      Layout.writeZOrdered(
        Tables.scan(s, dir, "events").withColumn("day_idx",
          F.datediff(F.to_date(F.col("ts")),
            F.lit("2024-01-01").cast("date"))),
        "user_id", "day_idx", 16, out, bits = ZORDER_BITS)
      s.read.parquet(out)
        .filter(F.col("user_id").between(ZORDER_USER_LO, ZORDER_USER_HI)
          && F.col("day_idx").between(ZORDER_DAY_LO, ZORDER_DAY_HI))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double").as("sum_value"))
    }),


    // co-located (bucketed) join: both sides materialized bucketed +
    // sorted on the join key with the same bucket count, so the
    // sort-merge join runs WITHOUT a shuffle on either side — at
    // 100 TB this is the layout that turns every repeated fact↔fact
    // join on the declared key into a local merge (PlanShapeSpec pins
    // the no-Exchange-under-the-join property for this exact query);
    // spend accumulates in DECIMAL so values are order-exact
    "x_bucketed_join" -> ((s, dir) => {
      Tables.writeBucketed(
        Tables.scan(s, dir, "orders").select("o_custkey", "o_totalprice"),
        "graft_bkt_orders", "o_custkey", 8)
      Tables.writeBucketed(
        Tables.scan(s, dir, "customer")
          .select(F.col("c_custkey").as("o_custkey"), F.col("c_mktsegment")),
        "graft_bkt_customer", "o_custkey", 8)
      s.table("graft_bkt_orders")
        .join(s.table("graft_bkt_customer"), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).as("n_orders"),
          F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double").as("total_spend"))
    }),


    // bloom file index: the layout is clustered on user_id, so every
    // file's event_id min/max spans the whole id range and footer
    // stats can never skip a file for an EVENT point lookup — the
    // per-file Bloom side index can (1 + fpp·files listed; false
    // negatives impossible, both pinned in LayoutSpec)
    "x_bloom_prune" -> ((s, dir) => {
      val out = layoutDir(dir, "events_bloomidx")
      Layout.writeRangeClustered(Tables.scan(s, dir, "events"),
        "user_id", BLOOM_IDX_FILES, s"$out/data")
      Layout.writeBloomIndex(s, s"$out/data", "event_id", s"$out/idx",
        expectedPerFile = 100000L, fpp = BLOOM_IDX_FPP)
      Layout.readBloomIndexed(s, s"$out/data", s"$out/idx",
          "event_id", BLOOM_IDX_EVENT)
        .select("event_id", "user_id", "event_type", "value")
    }),


    // image near-dup dedup: real PNG decode → 64-bit average-hash →
    // banded equi-join candidates → exact Hamming gate. The graded
    // corpus plants duplicate groups via seeded pixel content
    // (doc_id % 13), so the oracle predicts the pairs from key
    // arithmetic without seeing any bytes
    "x_multimodal_phash" -> ((s, dir) => {
      import s.implicits._
      val imgs = Tables.scan(s, dir, "documents")
        .filter(F.col("doc_id") < MM_PHASH_DOCS)
        .select(F.col("doc_id").cast("long")).as[Long]
        .mapPartitions(_.map(id => (id,
          Multimodal.syntheticPngSeeded(16, 16, (id % MM_PHASH_SEEDS).toInt))))
        .toDF("doc_id", "payload")
      Multimodal.phashPairs(
        Multimodal.perceptualHash(s, imgs, "doc_id").toDF(),
        "doc_id", "phash", MM_PHASH_MAXDIST)
    })
  )

  def oracleSql: Map[String, String] = Map(
    // the oracle joins the raw tables — the bucketed layout is a
    // physical re-materialization, not a transformation
    "x_bucketed_join" ->
      ("SELECT c_mktsegment, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_spend " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment"),

    // the oracle aggregates the PARQUET table; the Spark side
    // aggregates the JSONL round-trip of it — equality proves the
    // sink+source pair is lossless (sums cast: DuckDB sum(BIGINT)
    // widens to HUGEINT)
    "x_source_jsonl" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_text_chars " +
        "FROM documents GROUP BY 1"),

    // same oracle as the JSONL twin — every interchange format must
    // reproduce the parquet original exactly
    "x_source_gzip" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_text_chars " +
        "FROM documents GROUP BY 1"),

    "x_source_avro" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_text_chars " +
        "FROM documents GROUP BY 1"),

    "x_source_csv" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_text_chars " +
        "FROM documents GROUP BY 1"),

    "x_source_orc" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(sum(length(text)) AS BIGINT) AS sum_text_chars " +
        "FROM documents GROUP BY 1"),

    "x_compaction" ->
      ("SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM documents GROUP BY 1"),

    // the manifest table holds exactly the corpus — a lost concurrent
    // append or a double-counted rewritten file fails the hash
    "x_compact_manifest" ->
      "SELECT doc_id, lang, source FROM documents",

    // every batch exactly once = the whole corpus
    "x_stream_manifest" ->
      "SELECT doc_id, lang, source FROM documents",

    // the int→bigint widening (and the rewrite through it) must be
    // invisible to the aggregate
    "x_manifest_widen" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars " +
        "FROM documents GROUP BY 1"),

    // the clustered rewrite must be invisible to the windowed read
    "x_manifest_cluster" ->
      ("SELECT doc_id, lang, source, n_chars FROM documents " +
        "WHERE doc_id >= 100 AND doc_id < 220"),

    // replay of the four steps' row-level effects; the compact step
    // contributes no rows at all
    "x_manifest_changes" ->
      ("SELECT doc_id, lang, source, 'insert' AS _change_type, " +
        "'append' AS step FROM documents WHERE doc_id % 3 = 1 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, 'delete', 'delete' FROM documents " +
        "WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 = 0 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, 'delete', 'update' FROM documents " +
        "WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0 AND doc_id % 7 = 0 " +
        "UNION ALL " +
        "SELECT doc_id, 'xx', source, 'insert', 'update' FROM documents " +
        "WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0 AND doc_id % 7 = 0"),

    // both phases project the raw corpus under the post-rename names;
    // phase 1 is windowed by the pruned read's predicate
    "x_manifest_rename" ->
      ("SELECT doc_id AS doc, n_chars AS chars, CAST(1 AS BIGINT) AS phase " +
        "FROM documents WHERE doc_id < 300 " +
        "UNION ALL " +
        "SELECT doc_id AS doc, n_chars AS chars, CAST(2 AS BIGINT) AS phase " +
        "FROM documents"),

    // each %4 class merged exactly once by its batch (whole-row
    // replace + merged rev column); %4=3 rows untouched, rev NULL;
    // the poisoned replay of batch 0 must be invisible
    "x_stream_upsert" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id % 4 < 3 THEN 'up' || CAST(doc_id % 4 AS VARCHAR) " +
        "ELSE lang END AS lang, source, " +
        "CASE WHEN doc_id % 4 < 3 THEN CAST(doc_id % 4 + 1 AS BIGINT) END AS rev " +
        "FROM documents"),

    // the drained feed = the three versions' row-level diffs exactly
    // once each, despite the full-feed replay
    "x_stream_changes" ->
      ("SELECT doc_id, lang, source, 'insert' AS _change_type, " +
        "CAST(1 AS BIGINT) AS ver FROM documents WHERE doc_id % 3 = 0 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, 'insert', 2 FROM documents " +
        "WHERE doc_id % 3 = 1 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, 'delete', 3 FROM documents " +
        "WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 = 0"),

    // the registered streaming source delivers the same three
    // versions' diffs exactly once, restart- and replay-proof, each
    // row stamped with its commit version
    "x_stream_cdf_source" ->
      ("SELECT doc_id, lang, source, 'insert' AS _change_type, " +
        "CAST(1 AS BIGINT) AS _commit_version FROM documents " +
        "WHERE doc_id % 3 = 0 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, 'insert', 2 FROM documents " +
        "WHERE doc_id % 3 = 1 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, 'delete', 3 FROM documents " +
        "WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 = 0"),

    // feed arm = the cdf journal exactly (same fold as above); state
    // arm = every insert ever, replace-or-inserted once by doc_id
    "x_stream_manifest_sink" ->
      ("SELECT doc_id, lang, source, 'insert' AS _change_type, " +
        "CAST(1 AS BIGINT) AS _commit_version, 'feed' AS arm " +
        "FROM documents WHERE doc_id % 3 = 0 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, 'insert', 2, 'feed' " +
        "FROM documents WHERE doc_id % 3 = 1 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, 'delete', 3, 'feed' " +
        "FROM documents WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 = 0 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, 'state', -1, 'state' " +
        "FROM documents WHERE doc_id % 3 IN (0, 1)"),

    // phase 1: the Scala seed ∪ two SQL inserts, with the %10=0 rows
    // whole-row replaced by the SQL-sourced merge (the poisoned
    // replay invisible); phase 2: the INSERT OVERWRITE replacement
    "x_manifest_sql_write" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id % 10 = 0 THEN 'merged' " +
        "WHEN doc_id % 3 = 2 THEN upper(lang) ELSE lang END AS lang, " +
        "source, CAST(1 AS BIGINT) AS phase FROM documents " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, CAST(2 AS BIGINT) AS phase " +
        "FROM documents WHERE doc_id < 100"),

    // the writer lifecycle fold: the overwrite replaced everything
    // with doc_id < 120, then the final append added doc_id >= 300
    "x_manifest_writer" ->
      ("SELECT doc_id, lang, source FROM documents " +
        "WHERE doc_id < 120 OR doc_id >= 300"),

    // the lifecycle fold of the four SQL DML statements: %10=0 rows
    // always present as 'merged' (matched-replace inside the live
    // set, NOT-MATCHED re-insert inside the deleted band); everyone
    // else survives only outside the deleted band and the %13 merge-
    // delete list, with %7=0 survivors updated to 'xx'; the poisoned
    // replay invisible
    "x_manifest_sql_dml" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id % 10 = 0 THEN 'merged' " +
        "WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang, source " +
        "FROM documents " +
        "WHERE doc_id % 10 = 0 " +
        "OR (NOT (doc_id >= 40 AND doc_id < 60) AND doc_id % 13 <> 0)"),

    // the evolving-merge fold: %4=0 rows matched (whole-row replace,
    // score set), %6=0 rows re-keyed negative and inserted with
    // score, everything else reads NULL in the evolved column
    "x_manifest_sql_evolve" ->
      ("SELECT doc_id, lang, source, " +
        "CASE WHEN doc_id % 4 = 0 THEN CAST(n_chars AS BIGINT) END " +
        "AS score FROM documents " +
        "UNION ALL " +
        "SELECT -doc_id - 1 AS doc_id, lang, source, " +
        "CAST(n_chars AS BIGINT) AS score FROM documents " +
        "WHERE doc_id % 6 = 0"),

    // the table-addressed stream: both halves delivered exactly once
    // (incremental batch, restart, and wiped-checkpoint replay all
    // no-op against offsets + the sink ledger), and the feed-side
    // DELETE commit feeds nothing — the sink is exactly the corpus
    "x_stream_table" ->
      "SELECT doc_id, lang, source FROM documents",

    // the subquery-predicate fold: en docs at/above 100 deleted (the
    // residue spares the low band), src3 docs under 250 updated,
    // %6=0 docs (the two-IN conjunction) source-stamped, de docs
    // under 30 EXISTS-deleted, non-src1 docs at/above 400
    // NOT-EXISTS-stamped — all predicates over the ORIGINAL table
    // (doc_id is unique), so the fold composes per column
    "x_manifest_sql_in" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id >= 400 AND source <> 'src1' " +
        "THEN (CASE WHEN doc_id < 250 AND source = 'src3' " +
        "THEN lang || '!' ELSE lang END) || '?' " +
        "ELSE CASE WHEN doc_id < 250 AND source = 'src3' " +
        "THEN lang || '!' ELSE lang END END AS lang, " +
        "CASE WHEN doc_id % 6 = 0 THEN source || '+' " +
        "ELSE source END AS source " +
        "FROM documents " +
        "WHERE NOT (doc_id >= 100 AND lang = 'en') " +
        "AND NOT (doc_id < 30 AND lang = 'de')"),

    // the general-merge fold: matched (%4=0) 'en' rows deleted first
    // (clause order), surviving matched %8=0 rows partially updated
    // from the source, unmatched %9=0 rows NMBS-stamped 'stale',
    // en/de %6=0 docs re-keyed negative and inserted with source
    // 'ins'; the poisoned replay invisible
    "x_manifest_sql_merge" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id % 4 = 0 AND doc_id % 8 = 0 THEN 'u_' || lang " +
        "WHEN doc_id % 4 <> 0 AND doc_id % 9 = 0 THEN 'stale' " +
        "ELSE lang END AS lang, source " +
        "FROM documents WHERE NOT (doc_id % 4 = 0 AND lang = 'en') " +
        "UNION ALL " +
        "SELECT -doc_id - 1 AS doc_id, lang, 'ins' AS source " +
        "FROM documents WHERE doc_id % 6 = 0 AND lang IN ('en', 'de')"),

    // v2 = the first two appends exactly; v4 (latest) = all three
    // splits minus the deleted ids
    "x_manifest_timetravel" ->
      ("SELECT doc_id, lang, source, CAST(2 AS BIGINT) AS ver " +
        "FROM documents WHERE doc_id % 3 IN (0, 1) " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, CAST(4 AS BIGINT) AS ver " +
        "FROM documents WHERE doc_id % 7 <> 0"),

    // deleteWhere ran against the first two splits only; the racing
    // third-split append post-dates the victim scan, so its rows all
    // survive — including doc_id % 5 = 0
    "x_manifest_delete" ->
      ("SELECT doc_id, lang, source FROM documents " +
        "WHERE (doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0) " +
        "OR doc_id % 3 = 2"),

    // the MoR deletes hit the first two splits (%5 then %7, DV'd, no
    // rewrite); the third split appended after them survives whole
    "x_manifest_delete_mor" ->
      ("SELECT doc_id, lang, source FROM documents " +
        "WHERE (doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0 " +
        "AND doc_id % 7 <> 0) OR doc_id % 3 = 2"),

    // each replaced band keeps only its reloaded (even-id, recolored)
    // rows; everything outside the bands is untouched
    "x_manifest_replace_where" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id >= 100 AND doc_id < 200 THEN 'xx' " +
        "WHEN doc_id >= 300 AND doc_id < 400 THEN 'yy' " +
        "ELSE lang END AS lang, source FROM documents " +
        "WHERE doc_id < 100 OR (doc_id >= 200 AND doc_id < 300) " +
        "OR doc_id >= 400 OR doc_id % 2 = 0"),

    // the update touched only the first two splits; the racing
    // third-split append post-dates the match scan and stays original
    "x_manifest_update" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id % 3 IN (0, 1) AND doc_id % 7 = 0 " +
        "THEN 'xx' ELSE lang END AS lang, source, " +
        "CASE WHEN doc_id % 3 IN (0, 1) AND doc_id % 7 = 0 " +
        "THEN n_chars + 1000 ELSE n_chars END AS n_chars " +
        "FROM documents"),

    // corpus splits 1+2 ∪ racing split-0 non-update rows ∪ the whole
    // update set = every document exactly once; %4=0 rows carry the
    // upserted values and the merged rev column, everyone else NULL
    "x_manifest_upsert" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id % 4 = 0 THEN 'upserted' ELSE lang END AS lang, " +
        "source, " +
        "CASE WHEN doc_id % 4 = 0 THEN CAST(2 AS BIGINT) END AS rev " +
        "FROM documents"),

    // the pruned probes minus the deleted band, with the updated
    // band's lang rewritten — pruning must be invisible to the result
    // (the IN probe includes deleted id 45, which must be absent)
    "x_manifest_prune" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id >= 70 AND doc_id < 80 THEN 'xx' ELSE lang END AS lang, " +
        "source, n_chars, 'range' AS probe FROM documents " +
        "WHERE doc_id >= 20 AND doc_id < 120 " +
        "AND NOT (doc_id >= 40 AND doc_id < 60) " +
        "UNION ALL " +
        "SELECT doc_id, " +
        "CASE WHEN doc_id >= 70 AND doc_id < 80 THEN 'xx' ELSE lang END, " +
        "source, n_chars, 'in' FROM documents " +
        "WHERE doc_id IN (5, 45, 75, 130, 222) " +
        "AND NOT (doc_id >= 40 AND doc_id < 60)"),

    // the head view excludes the deleted band; the v1 pin (both the
    // registered view AND the provider's versionAsOf option path)
    // still serves it — SQL-side snapshot isolation + time travel
    "x_manifest_sql" ->
      ("SELECT doc_id, lang, source, n_chars, 'head' AS ver " +
        "FROM documents " +
        "WHERE ((doc_id >= 30 AND doc_id < 120) OR doc_id = 7) " +
        "AND NOT (doc_id >= 40 AND doc_id < 60) " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, n_chars, 'v1' AS ver " +
        "FROM documents WHERE doc_id >= 40 AND doc_id < 60 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, n_chars, 'v1tvf' AS ver " +
        "FROM documents WHERE doc_id >= 40 AND doc_id < 60 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, n_chars, 'v1sql' AS ver " +
        "FROM documents WHERE doc_id >= 40 AND doc_id < 60 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, n_chars, 'v1opt' AS ver " +
        "FROM documents WHERE doc_id >= 40 AND doc_id < 60 " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, n_chars, 'v2' AS ver " +
        "FROM documents " +
        "WHERE ((doc_id >= 30 AND doc_id < 120) OR doc_id = 7) " +
        "AND NOT (doc_id >= 40 AND doc_id < 60) " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, n_chars, 'v2sql' AS ver " +
        "FROM documents WHERE doc_id >= 40 AND doc_id < 60"),

    // bloom-pruned probes: the merge rewrote three scattered ids'
    // lang, the point delete removed id 40 (absent from the IN probe)
    "x_manifest_bloom" ->
      ("SELECT doc_id, " +
        "CASE WHEN doc_id IN (7, 21, 35) THEN 'merged' ELSE lang END AS lang, " +
        "source, 'in' AS probe FROM documents " +
        "WHERE doc_id IN (7, 13, 21, 35, 103) " +
        "UNION ALL " +
        "SELECT doc_id, lang, source, 'point' FROM documents " +
        "WHERE doc_id = 57"),

    "x_manifest_metacount" ->
      ("SELECT (SELECT count(*) FROM documents) AS n_total, " +
        "(SELECT count(*) FROM documents " +
        "WHERE doc_id >= 100 AND doc_id < 300) AS n_range, " +
        "(SELECT count(*) FROM documents WHERE doc_id = 7) AS n_point, " +
        "(SELECT min(doc_id) FROM documents) AS min_doc, " +
        "(SELECT max(doc_id) FROM documents) AS max_doc"),

    // replays the batch split: rows/chars over ALL docs (lossless
    // across the schema seam), the evolved-column count/sum over
    // batch 2 only (batch-1 rows must read as NULL, so they fall
    // out of count(col) exactly like the CASE here)
    "x_source_evolved" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "count(CASE WHEN doc_id % 2 <> 0 THEN 1 END) AS n_evolved, " +
        "CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN " +
        "len(string_split_regex(lower(text), '\\s+')) END) AS BIGINT) AS sum_toks " +
        "FROM documents GROUP BY 1"),

    // same replay as x_source_evolved — the manifest's recorded-schema
    // read and the mid-chain compaction must both be invisible to the
    // aggregate
    "x_manifest_evolved" ->
      ("SELECT source, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "count(CASE WHEN doc_id % 2 <> 0 THEN 1 END) AS n_evolved, " +
        "CAST(sum(CASE WHEN doc_id % 2 <> 0 THEN " +
        "len(string_split_regex(lower(text), '\\s+')) END) AS BIGINT) AS sum_toks " +
        "FROM documents GROUP BY 1"),

    "x_multimodal_meta" ->
      ("SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS checksum, " +
        // coalesce mirrors the Spark side's NULL-text → empty-payload guard
        "CAST(64 + CAST('0x' || substr(md5(coalesce(text, '')), 1, 4) AS BIGINT) % 960 AS INTEGER) AS width, " +
        "CAST(64 + CAST('0x' || substr(md5(coalesce(text, '')), 5, 4) AS BIGINT) % 960 AS INTEGER) AS height " +
        "FROM documents"),

    // replays the md5-derived stub feature math (4 hex chars per
    // dim → [-1,1) on an exact 1e-3 grid); dim cast to INTEGER to
    // match Spark's int
    "x_multimodal_features" ->
      ("WITH h AS (SELECT doc_id, md5(text) AS hex FROM documents) " +
        "SELECT doc_id, CAST(d AS INTEGER) AS dim, " +
        "(CAST('0x' || substr(hex, CAST(4*d+1 AS BIGINT), 4) AS BIGINT) % 2000 - 1000) / 1000.0 AS feat " +
        s"FROM h, unnest(range(0, $MM_FEAT_DIMS)) AS u(d)"),

    // VARCHAR slicing here equals the Spark side's byte slicing
    // because the fixture text is pure ASCII (octet_length = length
    // on every row at every SF — asserted in ExtensionsSpec); empty
    // payloads still emit one zero-length frame on both sides
    "x_multimodal_frames" ->
      ("WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents) " +
        "SELECT doc_id, CAST(f AS INTEGER) AS frame_idx, " +
        s"CAST(least($MM_FRAME_BYTES, n - f*$MM_FRAME_BYTES) AS INTEGER) AS frame_len, " +
        s"md5(substring(text, CAST(f*$MM_FRAME_BYTES+1 AS BIGINT), $MM_FRAME_BYTES)) AS frame_md5 " +
        "FROM d, unnest(range(0, greatest(1, " +
        s"CAST(ceil(n/$MM_FRAME_BYTES.0) AS BIGINT)))) AS u(f)"),

    // real-PNG rows (doc_id % 5 = 0): true pixel dims are pure
    // functions of doc_id — the oracle predicts them WITHOUT seeing
    // the payload, so only a genuine ImageIO parse matches; opaque
    // rows replay the md5 stub math
    "x_multimodal_decode" ->
      (s"SELECT doc_id, CAST(8 + doc_id % 7 AS INTEGER) AS width, " +
        "CAST(5 + doc_id % 11 AS INTEGER) AS height " +
        s"FROM documents WHERE doc_id < $MM_DECODE_DOCS AND doc_id % 5 = 0 " +
        "UNION ALL " +
        "SELECT doc_id, " +
        // coalesce mirrors the Spark side's NULL-text → empty-payload guard
        "CAST(64 + CAST('0x' || substr(md5(coalesce(text, '')), 1, 4) AS BIGINT) % 960 AS INTEGER) AS width, " +
        "CAST(64 + CAST('0x' || substr(md5(coalesce(text, '')), 5, 4) AS BIGINT) % 960 AS INTEGER) AS height " +
        s"FROM documents WHERE doc_id < $MM_DECODE_DOCS AND doc_id % 5 <> 0"),

    // the skew twins' oracles are the PLAIN aggregation/join — the
    // salted plans must be result-identical to the unsalted ones
    "x_bloom_join" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, " +
        "o_totalprice, o_orderstatus " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        s"WHERE o_totalprice > $SETOPS_CUTOFF"),

    "x_skew_agg" ->
      (s"SELECT $skewKeySql AS skew_user, count(*) AS n_rows, " +
        "sum(value) AS sum_value, " +
        "min(value) AS min_value, max(value) AS max_value " +
        "FROM events GROUP BY 1"),

    "x_skew_join" ->
      (s"WITH e AS (SELECT event_id, $skewKeySql AS user_id, value " +
        "FROM events WHERE event_type = 'click') " +
        "SELECT e.event_id, e.user_id, c.c_name, e.value FROM e " +
        "JOIN customer c ON c.c_custkey = e.user_id"),

    // the oracle aggregates the raw events under the same date
    // restriction the pruned layout read applies
    "x_partition_prune" ->
      ("SELECT CAST(ts AS DATE) AS event_date, event_type, " +
        "count(*) AS n, sum(value) AS sum_value FROM events " +
        s"WHERE CAST(ts AS DATE) BETWEEN DATE '$PRUNE_FROM' AND DATE '$PRUNE_TO' " +
        "GROUP BY 1, 2"),

    // the oracle aggregates the raw events under the same 2-D
    // rectangle predicate the z-ordered layout read applies
    // (day_idx d = date 2024-01-01 + d days)
    "x_zorder_prune" ->
      ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value " +
        "FROM events " +
        s"WHERE user_id BETWEEN $ZORDER_USER_LO AND $ZORDER_USER_HI " +
        s"AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' + $ZORDER_DAY_LO " +
        s"AND DATE '2024-01-01' + $ZORDER_DAY_HI " +
        "GROUP BY 1"),

    // the bloom-indexed layout is a physical re-materialization —
    // the oracle filters the raw table
    "x_bloom_prune" ->
      ("SELECT event_id, user_id, event_type, value " +
        s"FROM events WHERE event_id = $BLOOM_IDX_EVENT"),

    // same seed ⇒ byte-identical PNG ⇒ identical aHash ⇒ dist 0;
    // different seeds sit ~32 bits apart, far above the gate — the
    // pair set is pure doc_id arithmetic
    "x_multimodal_phash" ->
      (s"WITH d AS (SELECT doc_id FROM documents WHERE doc_id < $MM_PHASH_DOCS) " +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(0 AS BIGINT) AS dist " +
        "FROM d a JOIN d b ON a.doc_id < b.doc_id " +
        s"AND a.doc_id % $MM_PHASH_SEEDS = b.doc_id % $MM_PHASH_SEEDS")
  )
}
