package perfbench

import java.time.LocalDateTime

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import graft.api.Graft
import graft.operators.ManifestTable
import graft.operators.ManifestTable.{MergeDelete, MergeUpdate, WhenMatched,
  WhenNotMatched, sourceCol}
import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Writes beside reads on manifest tables that grow through the run:
  * ledgered CDC batches (append, upsert, merge, merge-on-read delete,
  * replays that must be no-ops), pruned reads, time travel, the change
  * feed, SQL over a registered manifest, a streaming sink into a
  * second table, and maintenance on a fixed op cadence. */
final class TableLifecycle(a: Args, rec: Recorder) extends Workload {
  private val initRows = Args.extra(a).get("init_rows").asLong
  private var ops: IndexedSeq[JsonNode] = IndexedSeq.empty
  private var root = ""
  private var eventsRoot = ""
  private var events: MemoryStream[(Long, LocalDateTime, Long, String, Double)] = _
  private var query: StreamingQuery = _
  private var eventRows: Map[Long, (Long, LocalDateTime, Long, String, Double)] = Map.empty
  private var head = -1
  private var floor = 0
  private val reads = ArrayBuffer.empty[Map[String, Any]]
  private val offered = ArrayBuffer.empty[JsonNode]

  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampNTZType),
    StructField("o_orderpriority", StringType)))
  private val cols = orderSchema.fieldNames.toSeq

  private def rootOf(rep: Int) = s"${a.work}/tables/r$rep"

  def setup(spark: SparkSession, rep: Int): Unit = {
    root = s"${rootOf(rep)}/orders"
    eventsRoot = s"${rootOf(rep)}/events"
    ManifestTable.init(root, Seq("o_orderkey", "o_custkey"), Seq("o_orderkey"))
    head = ManifestTable.append(spark, root,
      spark.read.parquet(s"${a.base}/orders.parquet")
        .filter(F.col("o_orderkey") < initRows)).version
    floor = head
    reads.clear()
    offered.clear()
    ManifestTable.init(eventsRoot, Seq("event_id"))
    Graft(spark, a.base).registerManifest("orders_live", root)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    events = MemoryStream[(Long, LocalDateTime, Long, String, Double)]
    query = events.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .writeStream.format("graft-manifest").option("path", eventsRoot)
      .option("statCols", "event_id")
      .option("checkpointLocation", s"${rootOf(rep)}/events_ckpt")
      .outputMode("append").start()
  }

  def teardown(spark: SparkSession): Unit = {
    query.stop()
    spark.catalog.dropTempView("orders_live")
  }

  def prepare(spark: SparkSession, in: IndexedSeq[JsonNode]): Unit = {
    ops = in
    eventRows = spark.read.parquet(s"${a.base}/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect().map(r => r.getLong(0) -> ((r.getLong(0),
        r.getAs[LocalDateTime](1), r.getLong(2), r.getString(3),
        r.getDouble(4)))).toMap
  }

  /** The first cycle, run on the first set-up's own tables. */
  override def warmOps: Seq[JsonNode] =
    ops.take(ops.indexWhere(_.get("cycle").asBoolean, 1))

  def nominalCycleS: Double = 6.8

  def timedOps: Iterator[JsonNode] = ops.iterator

  override def opClass(op: JsonNode): String = op.get("t").asText match {
    case "append" | "upsert" | "merge" | "delete_mor" | "replay" => "commit"
    case "read_where" | "read_version" | "changes" | "sql" => "read"
    case "stream" => "stream"
    case _ => "maintenance"
  }

  private def orderRow(j: JsonNode): Row = Row(
    j.get("o_orderkey").asLong, j.get("o_custkey").asLong,
    j.get("o_orderstatus").asText, j.get("o_totalprice").asDouble,
    LocalDateTime.parse(j.get("o_orderdate").asText + "T00:00:00"),
    j.get("o_orderpriority").asText)

  private def batch(spark: SparkSession, op: JsonNode): DataFrame = {
    val rows = op.get("rows").elements().asScala.toSeq
    if (op.get("t").asText == "merge")
      spark.createDataFrame(rows.map(j => Row.fromSeq(orderRow(j).toSeq :+
        j.get("op").asText)).asJava,
        orderSchema.add(StructField("op", StringType)))
    else spark.createDataFrame(rows.map(orderRow).asJava, orderSchema)
  }

  /** The ledgered writer call of a batch op (also what a replay re-runs). */
  private def write(spark: SparkSession, op: JsonNode): Int = {
    val id = op.get("batch").asLong
    op.get("t").asText match {
      case "append" =>
        ManifestTable.appendBatch(spark, root, id, batch(spark, op)).version
      case "upsert" =>
        ManifestTable.upsertBatch(spark, root, id, "o_orderkey",
          batch(spark, op)).snapshot.version
      case "merge" =>
        ManifestTable.mergeInto(spark, root, Seq("o_orderkey"),
          batch(spark, op), Seq(F.col("o_orderkey")),
          matched = Seq(
            WhenMatched(Some(sourceCol("op") === "D"), MergeDelete),
            WhenMatched(None, MergeUpdate(cols.filter(_ != "o_orderkey")
              .map(c => c -> sourceCol(c)).toMap))),
          notMatched = Seq(WhenNotMatched(Some(sourceCol("op") =!= "D"),
            cols.map(c => c -> sourceCol(c)).toMap)),
          batchId = Some(id)).snapshot.version
    }
  }

  private def frame(build: => DataFrame): Seq[Row] = {
    val df = rec.span("api.build")(build)
    if (rec.on) rec.span("plans.force")(df.queryExecution.executedPlan)
    rec.span("exec.collect")(df.collect().toSeq)
  }

  private def readRows(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map(Main.plain))

  def run(spark: SparkSession, op: JsonNode): Map[String, Any] = {
    val t = op.get("t").asText
    val before = head
    val info: Map[String, Any] = t match {
      case "append" | "upsert" | "merge" =>
        offered += op
        head = rec.span(s"operators.manifest.commit.$t")(write(spark, op))
        Map.empty
      case "replay" =>
        val orig = ops(op.get("of").asInt)
        head = rec.span("operators.manifest.commit.replay")(write(spark, orig))
        Map("of" -> orig.get("id").asInt)
      case "delete_mor" =>
        import spark.implicits._
        val ids = op.get("ids").elements().asScala.map(_.asLong).toSeq
        head = rec.span("operators.manifest.commit.delete_mor")(
          ManifestTable.deleteIdsMoR(spark, root, "o_orderkey",
            ids.toDF("id")).snapshot.version)
        Map.empty
      case "read_where" =>
        val (lo, hi) = (op.get("lo").asLong, op.get("hi").asLong)
        val rows = frame(ManifestTable.readWhere(spark, root,
          F.col("o_orderkey").between(lo, hi)))
        reads += Map("id" -> op.get("id").asInt, "version" -> head,
          "rows" -> readRows(rows))
        Map("rows" -> rows.size)
      case "read_version" =>
        val v = math.max(floor, head - op.get("back").asInt)
        val rows = frame(ManifestTable.readVersion(spark, root, v)
          .agg(F.count(F.lit(1)), F.sum("o_orderkey"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))))
        reads += Map("id" -> op.get("id").asInt, "version" -> v,
          "rows" -> readRows(rows))
        Map("version" -> v)
      case "changes" =>
        val from = math.max(floor, head - op.get("span").asInt)
        val rows = frame(ManifestTable.changes(spark, root, from, head)
          .select((cols :+ "_change_type").map(F.col): _*))
        reads += Map("id" -> op.get("id").asInt, "from" -> from,
          "version" -> head, "rows" -> readRows(rows))
        Map("rows" -> rows.size)
      case "sql" =>
        val (lo, hi) = (op.get("lo").asLong, op.get("hi").asLong)
        rec.span("catalog.register")(
          Graft(spark, a.base).registerManifest("orders_live", root))
        val rows = frame(spark.sql("SELECT count(*) AS n, sum(o_orderkey) " +
          "AS sk, min(o_totalprice) AS mn FROM orders_live WHERE o_orderkey " +
          s"BETWEEN $lo AND $hi"))
        reads += Map("id" -> op.get("id").asInt, "version" -> head,
          "lo" -> lo, "hi" -> hi, "rows" -> readRows(rows))
        Map("rows" -> rows.size)
      case "stream" =>
        offered += op
        val ids = op.get("events").elements().asScala.map(_.asLong).toSeq
        rec.span("streaming.batch") {
          events.addData(ids.map(eventRows))
          query.processAllAvailable()
        }
        Map("events" -> ids.size, "run_id" -> query.runId.toString)
      case "compact" =>
        head = rec.span("operators.manifest.maint.compact")(
          ManifestTable.compact(spark, root, 1L << 20,
            clusterBy = Seq("o_orderkey")).version)
        Map.empty
      case "fold_deletes" =>
        head = rec.span("operators.manifest.maint.fold_deletes")(
          ManifestTable.foldDeletes(spark, root, 1L << 20).version)
        Map.empty
      case "expire" =>
        val n = rec.span("operators.manifest.maint.expire")(
          ManifestTable.expireManifests(root, keepLast = 5).size)
        Map("removed" -> n)
      case "vacuum" =>
        val n = rec.span("operators.manifest.maint.vacuum")(
          ManifestTable.vacuum(root, orphanGraceMillis = 0L).size)
        floor = head
        Map("removed" -> n)
    }
    info ++ Map("before" -> before, "version" -> head)
  }

  private def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
    else f.length

  override def endWindow(spark: SparkSession): Map[String, Any] = {
    query.stop()
    val snap = ManifestTable.latest(root).get
    val headBytes = snap.files.map(f => new java.io.File(s"$root/$f").length).sum
    // space amplification: bytes under the table roots over the live
    // rows written once as plain parquet
    val plain = s"${a.work}/plain"
    ManifestTable.read(spark, root).coalesce(1).write.parquet(s"$plain/orders")
    ManifestTable.read(spark, eventsRoot).coalesce(1).write.parquet(s"$plain/events")
    // the rows the window handed to writers, as plain parquet: the
    // denominator of write amplification
    val batches = offered.filter(_.has("rows"))
    if (batches.nonEmpty)
      batches.map(b => batch(spark, b).select(cols.map(F.col): _*))
        .reduce(_ unionByName _).coalesce(1).write.parquet(s"$plain/offered_orders")
    import spark.implicits._
    val evIds = offered.filter(_.has("events"))
      .flatMap(_.get("events").elements().asScala.map(_.asLong))
    if (evIds.nonEmpty)
      evIds.map(eventRows).toSeq.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.parquet(s"$plain/offered_events")
    def parquetBytes(d: String): Long = {
      val dir = new java.io.File(d)
      Option(dir.listFiles).map(_.filter(_.getName.endsWith(".parquet"))
        .map(_.length).sum).getOrElse(0L)
    }
    Map("files_live" -> snap.files.size, "head_bytes" -> headBytes,
      "table_bytes" -> (du(new java.io.File(root)) +
        du(new java.io.File(eventsRoot))),
      "live_plain_bytes" -> (parquetBytes(s"$plain/orders") +
        parquetBytes(s"$plain/events")),
      "offered_plain_bytes" -> (parquetBytes(s"$plain/offered_orders") +
        parquetBytes(s"$plain/offered_events")),
      "head" -> head, "floor" -> floor)
  }

  /** Re-open both tables from their roots in a fresh session and dump
    * the head, sampled readable versions and the change feed for the
    * model comparison. */
  def check(spark: SparkSession): (SparkSession, Map[String, Any]) = {
    Main.stop(spark)
    val fresh = Main.session(a)
    val dir = s"${a.work}/check"
    def dump(df: DataFrame, name: String): String = {
      df.select(cols.map(F.col) ++ df.columns.filter(_ == "_change_type")
        .map(F.col): _*).coalesce(1).write.parquet(s"$dir/$name")
      s"$dir/$name"
    }
    val h = ManifestTable.latest(root).get.version
    val versions = Seq(floor, (floor + h) / 2, h - 1).filter(v =>
      v >= floor && v < h).distinct
    val out = Map(
      "head" -> Map("version" -> h,
        "path" -> dump(ManifestTable.read(fresh, root), "head")),
      "versions" -> versions.map(v => Map("version" -> v,
        "path" -> dump(ManifestTable.readVersion(fresh, root, v), s"v$v"))),
      "changes" -> (if (floor < h) Seq(Map("from" -> floor, "to" -> h,
        "path" -> dump(ManifestTable.changes(fresh, root, floor, h),
          "changes"))) else Seq.empty),
      "events_head" -> {
        ManifestTable.read(fresh, eventsRoot).select("event_id").coalesce(1)
          .write.parquet(s"$dir/events")
        s"$dir/events"
      },
      "reads" -> reads.toSeq)
    (fresh, out)
  }
}
