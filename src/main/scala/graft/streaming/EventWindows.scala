package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** Windowed event aggregation (north-star extension, SURVEY §2.7):
  * tumbling / sliding / session windows over the `events` table, each
  * with a batch implementation (oracle-comparable) and a Structured
  * Streaming twin behind the same column logic.
  *
  * Scale: one shuffle on (window, event_type) with map-side partial
  * aggregation; watermarking bounds streaming state. Session windows
  * shuffle once on user_id.
  */
object EventWindows {

  /** Batch tumbling window: count + sum(value) per (hour, type).
    * Output window start is TIMESTAMP_NTZ at second precision for
    * oracle portability. */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(F.window(F.col("ts"), "1 hour").as("w"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"), F.sum("value").as("sum_value"))
      .select(F.col("w.start").cast("timestamp_ntz").as("w_start"),
        F.col("event_type"), F.col("n"), F.col("sum_value"))

  /** Batch sliding window: 1-hour width, 30-minute slide — each event
    * lands in exactly two windows. */
  def slidingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(F.window(F.col("ts"), "1 hour", "30 minutes").as("w"),
        F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"), F.sum("value").as("sum_value"))
      .select(F.col("w.start").cast("timestamp_ntz").as("w_start"),
        F.col("event_type"), F.col("n"), F.col("sum_value"))

  /** Batch session windows per user: sessions close after `gap` of
    * inactivity. Session start is truncated to seconds for oracle
    * portability (gaps-and-islands in ANSI SQL reproduces this
    * exactly; sub-second session boundaries would compare at
    * different native precisions). */
  def sessions(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    events
      .groupBy(F.session_window(F.col("ts"), gap).as("w"), F.col("user_id"))
      .agg(F.count(F.lit(1)).as("n_events"), F.sum("value").as("sum_value"))
      .select(F.col("user_id"),
        F.date_trunc("second", F.col("w.start")).cast("timestamp_ntz").as("session_start"),
        F.col("n_events"), F.col("sum_value"))

  /** Gaps-and-islands formulation of [[sessions]] — same result, one
    * window sort on user_id instead of the session_window operator's
    * merge pass. Useful to cross-check and as a fallback plan shape. */
  def sessionsGai(events: DataFrame, gapMinutes: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("__prev", F.lag("ts", 1).over(byUser))
      .withColumn("__new", F.when(F.col("__prev").isNull ||
        F.unix_micros(F.col("ts").cast("timestamp")) -
          F.unix_micros(F.col("__prev").cast("timestamp")) >= gapMinutes * 60000000L, 1)
        .otherwise(0))
      .withColumn("__sid", F.sum("__new").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "__sid")
      .agg(F.count(F.lit(1)).as("n_events"), F.sum("value").as("sum_value"),
        F.date_trunc("second", F.min("ts")).cast("timestamp_ntz").as("session_start"))
      .select("user_id", "session_start", "n_events", "sum_value")
  }

  /** Structured Streaming twin of [[slidingHourly]] — same 1h/30min
    * windows, watermark-bounded state, memory sink drained to a frame
    * so the batch oracle validates the streaming path too. */
  def streamingSlidingHourly(spark: SparkSession, sfDir: String,
                             queryName: String = "stream_sliding"): DataFrame =
    runStreamingWindow(spark, sfDir, queryName,
      F.window(F.col("ts"), "1 hour", "30 minutes"))

  /** Structured Streaming twin of [[tumblingHourly]]: reads the same
    * parquet directory as a stream (one file per micro-batch), applies
    * a watermark, and aggregates into an in-memory complete-mode sink.
    * Returns the final result frame after the stream drains — so the
    * same DuckDB oracle validates the streaming path.
    *
    * The watermark bounds state at `10 minutes` past the max seen
    * event time — on an unbounded production stream this is what
    * makes the aggregation memory-safe. */
  def streamingTumblingHourly(spark: SparkSession, sfDir: String,
                              queryName: String = "stream_tumbling"): DataFrame =
    runStreamingWindow(spark, sfDir, queryName, F.window(F.col("ts"), "1 hour"))

  /** PRODUCTION-emission twin of [[streamingTumblingHourly]]: append
    * mode — each hourly window is emitted exactly once, when the
    * watermark proves no more of its events can arrive (watermark ≥
    * window end). Windows ending within the watermark delay of the
    * stream's final event are still open when a finite fixture
    * drains and are NOT emitted — production behavior; the oracle
    * restricts the batch aggregation to watermark-closeable windows. */
  def streamingTumblingAppend(spark: SparkSession, sfDir: String,
                              queryName: String = "stream_tumbling_append"): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(F.window(F.col("ts"), "1 hour").as("w"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"), F.sum("value").as("sum_value"))
      .select(F.col("w.start").cast("timestamp_ntz").as("w_start"),
        F.col("event_type"), F.col("n"), F.col("sum_value"))
    runToTable(agg, queryName, mode = "append")
  }

  /** Structured Streaming twin of [[sessions]]: `session_window`
    * over the event stream, watermark-bounded session state,
    * complete-mode memory sink so the batch oracle validates the
    * merged sessions. On a production stream append mode + the
    * watermark emits each session once it can no longer grow; the
    * complete sink here is what lets a finite fixture drain to the
    * exact batch result. */
  def streamingSessions(spark: SparkSession, sfDir: String,
                        gap: String = "10 minutes",
                        queryName: String = "stream_session"): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(F.session_window(F.col("ts"), gap).as("w"), F.col("user_id"))
      .agg(F.count(F.lit(1)).as("n_events"), F.sum("value").as("sum_value"))
      .select(F.col("user_id"),
        F.date_trunc("second", F.col("w.start")).cast("timestamp_ntz")
          .as("session_start"),
        F.col("n_events"), F.col("sum_value"))
    runToTable(agg, queryName)
  }

  /** PRODUCTION-emission twin of [[streamingSessions]]: append mode.
    * Each session is emitted exactly ONCE, when the watermark proves
    * it can no longer grow (watermark ≥ session end = last event +
    * gap) — the shape an unbounded pipeline runs, where complete mode
    * would re-emit the whole result every trigger and hold it all in
    * the sink forever.
    *
    * On a finite fixture the final watermark rests at max(ts) − the
    * watermark delay, so sessions ending within `gap + delay` of the
    * stream's last event are still open when the stream drains and
    * are NOT emitted — exactly what production would do (their
    * no-growth proof hasn't arrived yet). The oracle is the
    * gaps-and-islands SQL restricted to watermark-closeable sessions. */
  def streamingSessionsAppend(spark: SparkSession, sfDir: String,
                              gap: String = "10 minutes",
                              queryName: String = "stream_session_append"): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(F.session_window(F.col("ts"), gap).as("w"), F.col("user_id"))
      .agg(F.count(F.lit(1)).as("n_events"), F.sum("value").as("sum_value"))
      .select(F.col("user_id"),
        F.date_trunc("second", F.col("w.start")).cast("timestamp_ntz")
          .as("session_start"),
        F.col("n_events"), F.col("sum_value"))
    runToTable(agg, queryName, mode = "append")
  }

  /** Structured Streaming stream-stream INTERVAL JOIN: each click
    * joined to the same user's purchases in the 2 hours before it
    * (inclusive both ends). Both sides are watermarked and the join
    * condition bounds each side's event time against the other, so
    * Spark evicts join state as the watermark advances — the
    * memory-safety contract for an unbounded production stream. Inner
    * join in append mode: every match is emitted exactly once, and a
    * finite fixture drains to the identical batch-join result the
    * oracle computes.
    *
    * `joinType` "left_outer" additionally emits each matchless click
    * once — with NULL purchase columns — as soon as the watermark
    * proves no future purchase can join it (a purchase would have to
    * arrive at-or-before the click's own timestamp). Clicks near the end
    * of a finite stream whose no-match proof never arrives are NOT
    * emitted: on an unbounded production stream the proof always
    * eventually comes, which is why the outer variant stays
    * memory-safe. */
  def streamingIntervalJoin(spark: SparkSession, sfDir: String,
                            queryName: String = "stream_join",
                            joinType: String = "inner"): DataFrame = {
    val clicks = eventsStream(spark, sfDir)
      .filter(F.col("event_type") === "click")
      .select(F.col("event_id").as("click_id"), F.col("user_id"),
        F.col("ts").as("click_ts"))
    val purchases = eventsStream(spark, sfDir)
      .filter(F.col("event_type") === "purchase")
      .select(F.col("event_id").as("purchase_id"),
        F.col("user_id").as("__p_user"), F.col("ts").as("purchase_ts"),
        F.col("value").as("p_value"))
    val joined = clicks.join(purchases,
        F.col("user_id") === F.col("__p_user") &&
        F.col("purchase_ts") >= F.col("click_ts") - F.expr("INTERVAL 2 HOURS") &&
        F.col("purchase_ts") <= F.col("click_ts"),
        joinType)
      .select(F.col("click_id"), F.col("user_id"),
        F.col("click_ts").cast("timestamp_ntz").as("click_ts"),
        F.col("purchase_id"),
        F.col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        F.col("p_value"))
    runToTable(joined, queryName, mode = "append")
  }

  /** Stream-static enrichment: the streaming events feed joined to a
    * STATIC dimension table (customer) — the canonical "enrich the
    * firehose with reference data" shape. Unlike a stream-stream
    * join, the static side holds NO streaming state: Spark re-plans
    * it per micro-batch (broadcast for a declared dim), so state size
    * is exactly the aggregation's, independent of dim size or stream
    * length. Sums in decimal for cross-engine exactness. */
  def streamingEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.sources.Tables.scan(spark, sfDir, "customer")
      .select(F.col("c_custkey").as("user_id"), F.col("c_mktsegment"))
    val enriched = eventsStream(spark, sfDir)
      .filter(F.col("event_type") === "purchase")
      .join(dim, Seq("user_id")) // static side: no join state
      .groupBy("c_mktsegment")
      .agg(F.count(F.lit(1)).as("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
    runToTable(enriched, "graft_stream_enrich")
  }

  /** Watermarked event stream shared by the streaming twins: parquet
    * file stream of the events table, 10-minute watermark. The
    * physical schema is NOT hardcoded — a streaming source must be
    * given a schema up front, so probe it with a one-time batch read
    * of the same file and let the ts transform adapt to whatever
    * encoding the footer declares (int64 nanos vs TIMESTAMP(MICROS);
    * a pinned schema here once silently compressed 30 days of µs
    * events into 43 minutes by dividing them as if they were nanos —
    * plausible wrong answers, no error). */
  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsPath = Tables.path(sfDir, "events")
    val physSchema = Tables.parquet(spark, eventsPath).schema
    val tsPhys = physSchema("ts").dataType
    // the file-stream source requires a directory: stream the SF dir
    // with a glob pinned to the events table
    spark.readStream.schema(physSchema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
      // watermark/window state keys on TimestampType as before; under
      // the pinned-UTC sessions the NTZ→TS cast preserves the instant
      .withColumn("ts",
        graft.functions.Dates.adaptiveTsToNtz(F.col("ts"), tsPhys)
          .cast("timestamp"))
      .withWatermark("ts", "10 minutes")
  }

  private def runToTable(agg: DataFrame, queryName: String,
                         mode: String = "complete"): DataFrame =
    graft.ScopedShufflePartitions(agg.sparkSession) {
      val q = agg.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      agg.sparkSession.table(queryName)
    }

  /** Shared streaming scaffold for the time-window twins: windowed
    * count/sum over [[eventsStream]], complete-mode memory sink
    * drained synchronously. */
  private def runStreamingWindow(spark: SparkSession, sfDir: String,
                                 queryName: String, windowCol: org.apache.spark.sql.Column): DataFrame = {
    val agg = eventsStream(spark, sfDir)
      .groupBy(windowCol.as("w"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"), F.sum("value").as("sum_value"))
      .select(F.col("w.start").cast("timestamp_ntz").as("w_start"),
        F.col("event_type"), F.col("n"), F.col("sum_value"))
    runToTable(agg, queryName)
  }
}
