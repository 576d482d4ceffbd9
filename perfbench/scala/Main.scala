package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.Drain
import org.apache.spark.sql.{Row, SparkSession}

/** Command-line settings handed over by `run.py`. */
final case class Args(workload: String, inputs: String, base: String,
                      work: String, out: String, seconds: Double,
                      trace: Boolean, cores: Int, setups: Int, seed: Long)

object Args {
  /** `<inputs>.extra.json`: initial table sizes and self-queries. */
  def extra(a: Args): JsonNode =
    Main.json.readTree(new java.io.File(a.inputs + ".extra.json"))

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("base"), m("work"), m("out"),
      m("seconds").toDouble, m("trace") == "1", m("cores").toInt,
      m("setups").toInt, m("seed").toLong)
  }
}

/** One workload: set-up (timed as `setup_s`), a stream of ops run in a
  * closed loop by one client thread, and untimed output checks. */
trait Workload {
  def setup(spark: SparkSession, rep: Int): Unit
  /** Undo `setup` so the next repetition pays the full set-up again. */
  def teardown(spark: SparkSession): Unit
  /** Load the run's inputs into driver memory (untimed, after the first
    * set-up). */
  def prepare(spark: SparkSession, ops: IndexedSeq[JsonNode]): Unit
  /** Untimed ops run on the first set-up, before the later ones. */
  def warmOps: Seq[JsonNode] = Seq.empty
  def timedOps: Iterator[JsonNode]
  /** One op cycle's length on the reference machine (4 vCPUs): the
    * window runs `round(--seconds / nominalCycleS)` whole cycles. */
  def nominalCycleS: Double
  def opClass(op: JsonNode): String = op.get("t").asText
  /** Runs one op; returns facts the checks and metrics need. */
  def run(spark: SparkSession, op: JsonNode): Map[String, Any]
  /** After the timed window, before the checks. */
  def endWindow(spark: SparkSession): Map[String, Any] = Map.empty
  /** Untimed output checks; may replace the session (returned). */
  def check(spark: SparkSession): (SparkSession, Map[String, Any])
}

final case class OpRec(id: Int, t: String, cls: String, startMs: Double,
                       endMs: Double, ok: Boolean, err: String,
                       info: Map[String, Any], fs: Map[String, Long])

object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(a: Args): SparkSession = {
    val b = graft.api.Metastore.configure(SparkSession.builder()
      .master(s"local[${a.cores}]"))
      .withExtensions(new graft.plans.GraftSparkExtensions)
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** JSON-friendly form of a Spark value. Timestamps travel as epoch
    * microseconds so both sides canonicalise them identically. */
  def plain(v: Any): Any = v match {
    case null => null
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      Map("ts_us" -> (i.getEpochSecond * 1000000L + i.getNano / 1000))
    case t: java.sql.Timestamp =>
      Map("ts_us" -> (t.getTime / 1000 * 1000000L + t.getNanos / 1000))
    case t: java.time.Instant =>
      Map("ts_us" -> (t.getEpochSecond * 1000000L + t.getNano / 1000))
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case f: Float => plain(f.toDouble)
    case b: java.math.BigDecimal => b.doubleValue
    case s: scala.collection.Seq[_] => s.map(plain).toSeq
    case r: Row => r.toSeq.map(plain)
    case other => other
  }

  def rowsJson(cols: Seq[String], rows: Seq[Row]): Map[String, Any] =
    Map("cols" -> cols, "rows" -> rows.map(r => r.toSeq.map(plain)))

  private def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }

  private def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def codegen: Map[String, Long] = Map(
    "compiles" -> org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount,
    "ns" -> org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val rec = new Recorder(a.trace)
    val wl: Workload = a.workload match {
      case "record_reads" => new RecordReads(a, rec)
      case "table_lifecycle" => new TableLifecycle(a, rec)
      case "curation_batch" => new CurationBatch(a, rec)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val ops: IndexedSeq[JsonNode] = {
      val src = scala.io.Source.fromFile(a.inputs)
      try src.getLines().map(l => json.readTree(l)).toIndexedSeq
      finally src.close()
    }

    // ---- set-up, repeated: the median is the reported setup_s
    val setups = ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    val warm = ArrayBuffer.empty[JsonNode]
    for (rep <- 0 until a.setups) {
      if (spark != null) {
        wl.teardown(spark)
        stop(spark)
      }
      val t0 = System.nanoTime()
      spark = rec.span("catalog.session")(session(a))
      val t1 = System.nanoTime()
      rec.sc = Some(spark.sparkContext)
      spark.sparkContext.setJobGroup("setup", "setup")
      rec.span("catalog.register")(wl.setup(spark, rep))
      spark.sparkContext.clearJobGroup()
      val t2 = System.nanoTime()
      setups += Map("session_s" -> (t1 - t0) / 1e9,
        "register_s" -> (t2 - t1) / 1e9, "setup_s" -> (t2 - t0) / 1e9)
      if (rep == 0) {
        // untimed: load the inputs, then run the warm-up ops on the first
        // set-up, so the later set-ups and the window run warm code
        spark.sparkContext.setJobGroup("warm-up", "warm-up")
        wl.prepare(spark, ops)
        warm ++= wl.warmOps
        warm.foreach(op => Try(wl.run(spark, op)).failed.foreach(e =>
          System.err.println(s"warm-up op ${op.get("id")} failed: $e")))
        spark.sparkContext.clearJobGroup()
      }
    }
    val sc = spark.sparkContext

    // ---- the traced run's counters; the canary proves the FS counter
    // sees a known parquet read before any number is trusted
    val jobs = new JobListener
    val plans = new PlanListener
    if (a.trace) {
      val before = CountingLocalFileSystem.opens.get
      spark.read.parquet(s"${a.base}/nation.parquet").collect()
      if (CountingLocalFileSystem.opens.get == before) {
        System.err.println("traced run: the counting filesystem saw no " +
          "open on a known parquet read")
        sys.exit(3)
      }
      sc.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    }

    val spanMark = rec.spans.size

    // ---- timed window: closed loop, one client
    val load0 = loadAvg
    val (gcN0, gcMs0) = gcTotals
    val fs0 = CountingLocalFileSystem.snapshot()
    val cg0 = codegen
    val records = ArrayBuffer.empty[OpRec]
    // a fixed number of whole op cycles, sized by --seconds: every run
    // times the same ops in the same mix, so percentiles rank the same
    // number of samples and only speed varies between runs
    val cycles = math.max(1, math.round(a.seconds / wl.nominalCycleS).toInt)
    val it = wl.timedOps.buffered
    def cycleStart(op: JsonNode) = op.has("cycle") && op.get("cycle").asBoolean
    var started = 0
    val w0 = System.nanoTime()
    while (it.hasNext && !(cycleStart(it.head) && started == cycles)) {
      val op = it.next()
      if (cycleStart(op)) started += 1
      val id = op.get("id").asInt
      val t = op.get("t").asText
      sc.setJobGroup(s"op-$id", t)
      rec.op = id
      val f0 = if (a.trace) CountingLocalFileSystem.snapshot() else Map.empty[String, Long]
      val s0 = System.nanoTime()
      val r = Try(rec.span(s"op.$t")(wl.run(spark, op)))
      val s1 = System.nanoTime()
      val f1 = if (a.trace) CountingLocalFileSystem.snapshot() else Map.empty[String, Long]
      rec.op = -1
      sc.clearJobGroup()
      r match {
        case Failure(e) =>
          System.err.println(s"op $id ($t) failed: $e")
          e.printStackTrace()
        case _ =>
      }
      records += OpRec(id, t, wl.opClass(op), Clock.ms(s0), Clock.ms(s1),
        r.isSuccess, r.failed.map(_.toString).getOrElse(""),
        r.getOrElse(Map.empty),
        f1.map { case (k, v) => k -> (v - f0(k)) })
    }
    val w1 = System.nanoTime()
    val fs1 = CountingLocalFileSystem.snapshot()
    val cg1 = codegen
    val (gcN1, gcMs1) = gcTotals
    val load1 = loadAvg
    // driver heap retained once the window's garbage is collected; the
    // pauses let Spark's context cleaner drop what the first GCs orphan
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    sc.setJobGroup("end-window", "end-window")
    val endInfo = wl.endWindow(spark)
    sc.clearJobGroup()
    if (a.trace) Drain(sc)

    // only Spark work submitted inside the window counts
    val (wStart, wEnd) = (Clock.ms(w0), Clock.ms(w1))
    def inWindow(t: Double) = t >= wStart && t <= wEnd
    val traceOut: Map[String, Any] =
      if (!a.trace) Map.empty
      else Map(
        "spans" -> rec.spans.drop(spanMark).map(s => Map("id" -> s.id,
          "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs)).toSeq,
        "jobs" -> jobs.jobs.synchronized(jobs.jobs.toSeq)
          .filter(j => inWindow(j.submitMs.toDouble)).map(j =>
          Map("id" -> j.id, "group" -> j.group, "span" -> j.span,
            "submit_ms" -> j.submitMs, "end_ms" -> j.endMs, "stages" -> j.stages,
            "tasks" -> j.tasks, "cpu_ns" -> j.cpuNs,
            "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite,
            "input_bytes" -> j.inputBytes, "ok" -> j.ok)),
        "queries" -> plans.queries.synchronized(plans.queries.toSeq)
          .filter(q => q.phases.values.map(_._1).minOption
            .exists(t => inWindow(t.toDouble)))
          .map(q => Map("end_ms" -> q.endMs, "exchanges" -> q.exchanges,
            "ok" -> q.ok, "phases" -> q.phases.map { case (k, (s, e)) =>
              k -> Seq(s, e) })),
        "fs" -> fs1.map { case (k, v) => k -> (v - fs0(k)) },
        "codegen" -> cg1.map { case (k, v) => k -> (v - cg0(k)) })

    // ---- untimed output checks
    sc.setJobGroup("check", "check")
    val (finalSpark, checks) = wl.check(spark)
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed,
      "setups" -> setups.toSeq,
      "window" -> Map("start_ms" -> Clock.ms(w0), "end_ms" -> Clock.ms(w1),
        "elapsed_s" -> (w1 - w0) / 1e9, "cycles" -> started),
      "warm_ops" -> warm.size,
      "ops" -> records.map(o => Map("id" -> o.id, "t" -> o.t, "cls" -> o.cls,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs, "ok" -> o.ok,
        "err" -> o.err, "info" -> o.info, "fs" -> o.fs)).toSeq,
      "heap_retained_mb" -> heapMb,
      "end" -> endInfo,
      "noise" -> Map("load_avg_start" -> load0, "load_avg_end" -> load1,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "master" -> s"local[${a.cores}]",
        "shuffle_partitions" -> a.cores,
        "gc_count" -> (gcN1 - gcN0), "gc_ms" -> (gcMs1 - gcMs0),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION, "seed" -> a.seed,
        "trace" -> a.trace),
      "trace" -> traceOut,
      "checks" -> checks)
    val out = new java.io.File(a.out)
    json.writeValue(out, result)
    stop(finalSpark)
  }
}
