package graft.streaming

import graft.functions.Text
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** Stateful streaming operators beyond windowed aggregation:
  * first-occurrence dedup and custom per-key state via
  * `flatMapGroupsWithState`.
  *
  * Scale notes: streaming state that only grows is a slow-motion OOM
  * on a real 100 TB stream. [[streamingDedup]] keeps global
  * (unbounded) fingerprint state because its contract is exact
  * first-occurrence dedup — identical output to the batch
  * [[graft.operators.Dedup.exactDedup]]; the state entry is one
  * 32-hex-char fingerprint per distinct document, tiny relative to
  * the text it deduplicates. [[streamingDedupBounded]] is the
  * bounded-state variant (watermark horizon, documented recall
  * trade). The per-user totals carry a processing-time timeout so
  * idle keys are evicted.
  */
object StreamingOps {

  private def docsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // probe the physical schema from the footer (streaming sources
    // need one up front) rather than pinning a hand-written copy —
    // the same fixture-drift lesson as the events stream
    val physSchema =
      graft.sources.Tables.parquet(spark,
        graft.sources.Tables.path(sfDir, "documents")).schema
    spark.readStream.schema(physSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
  }

  private def runToTable(df: DataFrame, queryName: String): DataFrame =
    graft.ScopedShufflePartitions(df.sparkSession) {
      val q = df.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      df.sparkSession.table(queryName)
    }

  /** Streaming exact dedup over the documents stream: emits the first
    * occurrence of each content fingerprint (md5 of normalized text).
    * Append-mode stateful dedup — the streaming twin of
    * [[graft.operators.Dedup.exactDedup]], with identical global
    * first-occurrence semantics (no horizon: a duplicate arriving a
    * year later is still suppressed). State grows with the number of
    * DISTINCT fingerprints — one 16-byte hash per unique document;
    * when that is too much, use [[streamingDedupBounded]]. */
  def streamingDedup(spark: SparkSession, sfDir: String,
                     queryName: String = "stream_dedup"): DataFrame =
    runToTable(
      docsStream(spark, sfDir)
        .select(F.col("doc_id"), Text.fingerprint(F.col("text")).as("fp"))
        .dropDuplicates("fp"),
      queryName)

  /** Bounded-state streaming dedup: the ingest timestamp (derived
    * deterministically from arrival order here; wall-clock in
    * production) carries a watermark and
    * `dropDuplicatesWithinWatermark` drops fingerprint entries once
    * the watermark passes them — duplicates arriving farther apart
    * than the horizon are BOTH emitted, the documented trade for
    * state bounded by the horizon's arrival rate. The synthetic
    * ingest time is offset by +1s so the first row does not coincide
    * with Spark's initial (epoch) watermark and get dropped as late. */
  def streamingDedupBounded(spark: SparkSession, sfDir: String,
                            horizon: String = "1 hour",
                            queryName: String = "stream_dedup_bounded"): DataFrame =
    runToTable(
      docsStream(spark, sfDir)
        .select(F.col("doc_id"), Text.fingerprint(F.col("text")).as("fp"),
          F.timestamp_seconds(F.col("doc_id") + 1).as("ingest_ts"))
        .withWatermark("ingest_ts", horizon)
        .dropDuplicatesWithinWatermark("fp")
        .drop("ingest_ts"),
      queryName)

  /** Exactly-once streaming parquet sink via `foreachBatch`: each
    * micro-batch of the deduplicated documents stream lands in its
    * own `batch_id=<n>` partition directory with `overwrite` mode, so
    * a replayed batch (failure/retry — Structured Streaming replays
    * the SAME batch id with the SAME data) overwrites its own output
    * instead of appending duplicates. This idempotent-write pattern
    * is the standard exactly-once contract for file sinks; the
    * batch-id partitioning also gives downstream consumers an
    * incremental-load key. Returns the reassembled output read back
    * from `outDir`. */
  def streamingDedupToParquet(spark: SparkSession, sfDir: String,
                              outDir: String): DataFrame = {
    val deduped = docsStream(spark, sfDir)
      .select(F.col("doc_id"), Text.fingerprint(F.col("text")).as("fp"))
      .dropDuplicates("fp")
    graft.ScopedShufflePartitions(spark) {
      val q = deduped.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
          (): Unit
        }
        .option("checkpointLocation", s"$outDir/_checkpoint")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(s"$outDir/batch_id=*")
  }

  /** Per-query roll-up of the progress stream: input volume, rows the
    * watermark silently discarded, and the state footprint. */
  final case class StreamObservation(queryName: String,
                                     numInputRows: Long,
                                     numRowsDroppedByWatermark: Long,
                                     stateRows: Long,
                                     stateMemoryBytes: Long,
                                     batches: Long)

  /** Late-data / state observability seam: run `body` (which may
    * start any number of streaming queries) under a
    * `StreamingQueryListener` and return its result plus one
    * [[StreamObservation]] per query name.
    *
    * A 100-TB stream without drop accounting loses data silently:
    * every watermark-bounded operator (windowed aggregation, bounded
    * dedup, stream-stream joins) discards rows older than the
    * watermark WITHOUT any trace in the output. The listener surfaces
    * `numRowsDroppedByWatermark` (summed across batches and stateful
    * operators), the state row count / memory of the LAST progress
    * (the standing footprint an operator would alert on), and input
    * row totals — the numbers a production deployment exports to its
    * metrics sink from this same listener seam.
    *
    * Listener events are posted asynchronously; the seam waits (up to
    * `drainMillis`) until every query STARTED inside `body` has
    * posted its termination event, so by return the progress roll-up
    * is complete — StreamingSpec pins an EXACT planted late-row
    * count through it. */
  def observeStreams[T](spark: SparkSession, drainMillis: Long = 30000)
                       (body: => T): (T, Map[String, StreamObservation]) = {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryProgress
    val started = new ConcurrentLinkedQueue[java.util.UUID]()
    val ended = new ConcurrentLinkedQueue[java.util.UUID]()
    val progresses = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.add(e.id)
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progresses.add(e.progress)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        ended.add(e.id)
    }
    spark.streams.addListener(listener)
    val result =
      try {
        val r = body
        // drain: every query started UNDER this listener must have
        // terminated (events for a query are posted in order, so
        // termination implies its progress events are already in).
        // Scope both sides to ids seen in onQueryStarted: a query
        // started BEFORE the listener attached that terminates during
        // body posts an ended id that was never in started — comparing
        // raw sets would spin the full deadline and then fail even
        // though our own queries drained fine.
        val deadline = System.nanoTime() + drainMillis * 1000000L
        import scala.jdk.CollectionConverters._
        while (!started.asScala.toSet.subsetOf(ended.asScala.toSet) &&
               System.nanoTime() < deadline) Thread.sleep(20)
        require(started.asScala.toSet.subsetOf(ended.asScala.toSet),
          "streaming listener events did not drain within the deadline")
        r
      } finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    // scope the roll-up to queries started under the listener —
    // progress events from unrelated concurrent queries (one started
    // before attach, a foreign stream on the shared session) must not
    // be swept into the observation map
    val startedIds = started.asScala.toSet
    // group by the query ID, not the name: unnamed queries have a
    // null name, and two same-named queries (a restart inside body,
    // parallel per-source queries) would otherwise merge into one
    // bogus roll-up with interleaved batch ids. The returned map is
    // keyed by name where one exists and is unique; collisions and
    // nameless queries fall back to "<name>#<id>" / the id.
    val byId = progresses.asScala.toSeq
      .filter(p => startedIds.contains(p.id)).groupBy(_.id)
    val nameCounts = byId.values
      .flatMap(ps => Option(ps.head.name)).groupBy(identity)
      .map { case (n, c) => n -> c.size }
    val obs = byId.map { case (id, ps) =>
      val ordered = ps.sortBy(_.batchId)
      val last = ordered.last
      val name = Option(last.name)
      val key = name match {
        case Some(n) if nameCounts(n) == 1 => n
        case Some(n) => s"$n#$id"
        case None => id.toString
      }
      key -> StreamObservation(
        queryName = key,
        numInputRows = ordered.map(_.numInputRows).sum,
        numRowsDroppedByWatermark = ordered
          .flatMap(_.stateOperators.toSeq)
          .map(_.numRowsDroppedByWatermark).sum,
        stateRows = last.stateOperators.toSeq.map(_.numRowsTotal).sum,
        stateMemoryBytes =
          last.stateOperators.toSeq.map(_.memoryUsedBytes).sum,
        batches = ordered.map(_.batchId).distinct.size.toLong)
    }
    (result, obs)
  }

  /** Disk-backed streaming state (the 100-TB configuration): run
    * `body` with the session's state-store provider switched to
    * RocksDB, restoring the prior setting after. The default
    * HDFS-backed provider keeps every key's state ON-HEAP in the
    * executors — at real stream volumes (billions of keys across
    * dedup fingerprints / user sessions) that is a slow-motion OOM;
    * RocksDB spills state to local disk with bounded heap and is the
    * provider a production deployment of ANY stateful operator here
    * ([[streamingDedup]], [[streamingUserTotals]], the windowed
    * aggregations) would pin in its session conf. The conf is read
    * per-QUERY at start, so scoping it around the query launch is a
    * complete seam; results must be IDENTICAL under either provider
    * (state storage is an executor-local concern, not a semantics
    * one) — StreamingSpec pins exactly that. */
  def withRocksDbStateStore[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Running per-user totals carried in custom state. */
  final case class UserTotals(user_id: Long, n_events: Long, sum_value: Double)

  /** The stateful transform behind [[streamingUserTotals]], exposed
    * so tests can drive it with a multi-batch source (the timeout
    * branch only fires in a batch AFTER the one that set it). */
  def userTotalsTransform(events: org.apache.spark.sql.Dataset[(Long, Double)],
                          idleTimeout: String)
      : org.apache.spark.sql.Dataset[UserTotals] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), UserTotals](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            // idle-key eviction: drop the totals, emit nothing
            state.remove()
            Iterator.empty
          } else {
            val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
            var n = n0; var s = s0
            rows.foreach { case (_, v) => n += 1; s += v }
            state.update((n, s))
            state.setTimeoutDuration(idleTimeout)
            Iterator.single(UserTotals(user, n, s))
          }
      }
  }

  /** Custom keyed state via `flatMapGroupsWithState`: maintains a
    * running (count, sum) per user across micro-batches and emits the
    * updated totals whenever the user appears in a batch. This is the
    * template for state Spark's built-ins can't express (per-key
    * models, decaying counters, custom session logic).
    *
    * State is bounded by a processing-time timeout: a user idle for
    * `idleTimeout` has their totals evicted (and nothing emitted —
    * eviction is a state-size mechanism, not an output). At 100 TB
    * stream scale this is what keeps the state store from
    * accumulating every user ever seen. */
  def streamingUserTotals(spark: SparkSession, sfDir: String,
                          queryName: String = "stream_user_totals",
                          idleTimeout: String = "1 hour"): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // probe the physical schema from the file footer instead of
    // pinning one (ts has shipped as both int64 nanos and
    // TIMESTAMP(MICROS)); ts itself is unused here, but the stream
    // schema must still match what's on disk
    val physSchema =
      graft.sources.Tables.parquet(spark,
        graft.sources.Tables.path(sfDir, "events")).schema

    val perUser = userTotalsTransform(
      spark.readStream.schema(physSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
        .select(F.col("user_id"), F.col("value"))
        .as[(Long, Double)],
      idleTimeout)

    // single-batch trigger, NOT processAllAvailable(): with
    // ProcessingTimeTimeout, FlatMapGroupsWithStateExec reports
    // shouldRunAnotherBatch = true on every batch (timeouts can fire
    // at any processing time), so the default trigger keeps
    // constructing no-data micro-batches and processAllAvailable
    // never observes a quiescent stream. The single-batch executor
    // processes everything available and terminates deterministically;
    // a production deployment uses a continuous trigger so the
    // timeout batches actually fire.
    graft.ScopedShufflePartitions(spark) {
      val q = perUser.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      try q.awaitTermination() finally q.stop()
      spark.table(queryName)
    }
  }

  /** Streaming ingest into the standing LSH signature store — the
    * meeting point of the exactly-once sink machinery and the
    * generation commit protocol: each micro-batch near-dedups against
    * the store-so-far and appends its survivors' signatures as
    * generation `batchId` through
    * [[graft.operators.SignatureStore.ingestBatch]]'s idempotent
    * commit (the generation directory is the commit record; a
    * replayed batch — same id, same data, Structured Streaming's
    * replay contract — finds its generation already published and
    * does nothing, so the store is byte-identical under replay;
    * StreamingSpec pins exactly that).
    *
    * `foreachBatch` runs batches sequentially, which both satisfies
    * the store's single-writer contract and makes the probe set
    * deterministic: batch b always deduplicates against generations
    * < `baseGen` + b. `baseGen` is fixed at sink creation — pass 0
    * for a fresh store, `latestGeneration + 1` when streaming INTO a
    * store that already has generations (a raw batchId would collide
    * with a committed generation there, and the idempotent commit
    * would silently treat the micro-batch as a replay and drop it).
    * Returns the final store membership as (idCol, batch) — batch
    * being the admitting generation, read straight from the store's
    * partition column. */
  def streamingNeardupStore(spark: SparkSession, batchesDir: String,
                            storeRoot: String, baseGen: Long,
                            idCol: String,
                            textCol: String, k: Int, bands: Int,
                            threshold: Double,
                            terms: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val physSchema = spark.read.parquet(batchesDir).schema
    val stream = spark.readStream.schema(physSchema)
      .option("maxFilesPerTrigger", "1") // real multi-batch execution
      .parquet(batchesDir)
    graft.ScopedShufflePartitions(spark) {
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.operators.SignatureStore.ingestBatch(spark, storeRoot,
            baseGen + id, batch, idCol, textCol, k, bands, threshold, terms)
          (): Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    graft.operators.SignatureStore.signaturesWithGen(spark, storeRoot)
      .select(F.col(idCol), F.col("gen").cast("long").as("batch"))
      .distinct()
  }

  /** Streaming ingest into the standing IVF index — the vector twin
    * of [[streamingNeardupStore]]: each micro-batch of vectors is
    * assigned against the STORED centroids and committed as
    * generation `baseGen + batchId` through the idempotent
    * atomic-rename protocol ([[graft.operators.IvfStore.ingestBatch]]
    * — a replayed batch leaves the store byte-identical). `baseGen`
    * is fixed at sink creation (pass latestGeneration+1 of the
    * initialized store) so generation numbers are deterministic
    * across replays. Returns the loaded post-stream index. */
  def streamingIvfIngest(spark: SparkSession, batchesDir: String,
                         storeRoot: String, baseGen: Long,
                         idCol: String, vecCol: String): graft.operators.IvfIndex.Index = {
    val physSchema = spark.read.parquet(batchesDir).schema
    val stream = spark.readStream.schema(physSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(batchesDir)
    graft.ScopedShufflePartitions(spark) {
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.operators.IvfStore.ingestBatch(spark, storeRoot,
            baseGen + id, batch, idCol, vecCol)
          (): Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    graft.operators.IvfStore.load(spark, storeRoot, idCol, vecCol)
  }

  /** Exactly-once streaming append into a [[graft.operators
    * .ManifestTable]]: each micro-batch commits through
    * `appendBatch`, whose `#batch:<id>` marker publishes atomically
    * WITH the file list — a replayed batch finds its marker and
    * writes nothing, so the table never double-counts under
    * failure/retry (the manifest twin of the gen-store sinks).
    * Returns the table's rows after the stream drains. */
  def streamingManifestAppend(spark: SparkSession, batchesDir: String,
                              root: String): DataFrame = {
    graft.operators.ManifestTable.init(root)
    val physSchema = spark.read.parquet(batchesDir).schema
    val stream = spark.readStream.schema(physSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(batchesDir)
    graft.ScopedShufflePartitions(spark) {
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.operators.ManifestTable.appendBatch(spark, root, id, batch)
          (): Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    graft.operators.ManifestTable.read(spark, root)
  }

  /** Exactly-once streaming MERGE into a [[graft.operators
    * .ManifestTable]] — the missing bridge between the CDC stack and
    * the manifest stack: each micro-batch of whole-row updates lands
    * through `upsertBatch` (replace-by-id or insert), whose
    * `#batch:<id>` marker publishes atomically WITH the merge's
    * file-list change — a replayed micro-batch commits NOTHING, so a
    * CDC feed applies exactly once under any failure/retry. The table
    * must exist (seed it with `init` + `append`); returns its rows
    * after the stream drains. */
  def streamingManifestUpsert(spark: SparkSession, batchesDir: String,
                              root: String, idCol: String): DataFrame = {
    val physSchema = spark.read.parquet(batchesDir).schema
    val stream = spark.readStream.schema(physSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(batchesDir)
    graft.ScopedShufflePartitions(spark) {
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          graft.operators.ManifestTable.upsertBatch(spark, root, id,
            idCol, batch)
          (): Unit
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    graft.operators.ManifestTable.read(spark, root)
  }

  /** Streaming CDC apply — the Delta-streaming-MERGE shape without a
    * table format: an I/U/D change feed arrives in micro-batches and
    * folds into a keyed snapshot with per-key LAST-WRITER-WINS BY
    * VERSION. Versioned state (each row carries op + ver, the base
    * snapshot seeds at ver 0) is what makes batch boundaries
    * irrelevant: the per-key winner under (ver desc, op desc) is an
    * associative max, so ANY split or ORDER of the feed across
    * micro-batches converges to the same state —
    * [[graft.operators.Writes.cdcApply]] over the whole feed at once
    * (the equivalence StreamingSpec pins).
    *
    * Exactly-once: each batch READS state_{id−1} and OVERWRITES
    * state_{id} — a replayed batch (same id, same data) re-reads its
    * intact input state and rewrites its own output, the same
    * idempotent-write contract as the batch-dir parquet sink above.
    * Full-state rewrite per micro-batch is the parquet-state
    * compromise (a production deployment points this at a
    * transactional table format and keeps the merge); superseded
    * state_i dirs are the vacuum surface. */
  def streamingCdcApply(spark: SparkSession, base: DataFrame,
                        changesDir: String, pk: Seq[String],
                        opCol: String, verCol: String,
                        stateDir: String): DataFrame = {
    val baseCols = base.columns.toIndexedSeq
    base.withColumn(opCol, F.lit("U")).withColumn(verCol, F.lit(0L))
      .write.mode("overwrite").parquet(s"$stateDir/state_-1")
    val physSchema = spark.read.parquet(changesDir).schema
    val stream = spark.readStream.schema(physSchema)
      .option("maxFilesPerTrigger", "1") // real multi-batch execution
      .parquet(changesDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pk.map(F.col): _*)
      .orderBy(F.col(verCol).desc, F.col(opCol).desc)
    var lastBatch = -1L
    graft.ScopedShufflePartitions(spark) {
      val q = stream.writeStream
        .outputMode("update")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val state = spark.read.parquet(s"$stateDir/state_${id - 1}")
          state.unionByName(batch.select(state.columns.toIndexedSeq.map(F.col): _*))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") === 1).drop("__rn")
            .write.mode("overwrite").parquet(s"$stateDir/state_$id")
          lastBatch = math.max(lastBatch, id)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    spark.read.parquet(s"$stateDir/state_$lastBatch")
      .filter(F.col(opCol) =!= "D")
      .select(baseCols.map(F.col): _*)
  }
}
