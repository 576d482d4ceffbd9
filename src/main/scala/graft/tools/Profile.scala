package graft.tools
import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query profiling harness (optimization guide §1): runs named
  * SparkEntry queries through the noop sink with a listener that
  * splits wall time into cluster work (task time / cores) vs
  * driver/latency overhead (job count × per-job fixed cost).
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query> [query ...]
  * Env: SPARK_GRAFT_CPUS (default 32, matching the bench box).
  */
object Profile {
  private class Agg extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong   // scheduler-visible task wall
    val cpuMs = new AtomicLong    // executor cpu
    val gcMs = new AtomicLong
    val shufR = new AtomicLong
    val shufW = new AtomicLong
    val input = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        gcMs.addAndGet(m.jvmGCTime)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
      ()
    }
    def reset(): Unit = {
      Seq(taskMs, cpuMs, gcMs, shufR, shufW, input).foreach(_.set(0L))
      jobs.set(0); stages.set(0); tasks.set(0)
    }
  }

  /** Per-job trace: callsite + wall of every job of one measured run
    * (SPARK_GRAFT_PROFILE_TRACE=1). */
  private class Trace extends SparkListener {
    case class J(id: Int, t0: Long, site: String)
    val open = new java.util.concurrent.ConcurrentHashMap[Int, J]
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(J, Long)]
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]
    @volatile var on = false
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execDesc.put(s.executionId,
          s.description.linesIterator.nextOption().getOrElse("").take(90)); ()
      case _ => ()
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = if (on) {
      // first graft frame of the job's call stack — which operator
      // launched this action
      val site = j.stageInfos.headOption.map(_.details).flatMap(d =>
        d.split('\n').find(l => l.contains("graft.") &&
          !l.contains("graft.tools."))).getOrElse {
        // no graft frame: show the top non-reflective frames so the
        // job is still attributable (Dataset actions, AQE stages, ...)
        val eid = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        eid.flatMap(id => Option(execDesc.get(id.toLong)))
          .map(d => s"[sql exec] $d").getOrElse("?")
      }.trim
      open.put(j.jobId, J(j.jobId, System.nanoTime(), site)); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
      val j = open.remove(e.jobId)
      if (j != null) { done.add((j, System.nanoTime())); () }
    }
    def dump(): Unit = {
      import scala.jdk.CollectionConverters._
      val js = done.asScala.toSeq.sortBy(_._1.id)
      js.foreach { case (j, t1) =>
        println(f"  job ${j.id}%4d ${(t1 - j.t0) / 1e3}%9.0f us  ${j.site}")
      }
      // rollup by callsite
      println("  -- by callsite --")
      js.groupBy(_._1.site).toSeq
        .map { case (s, l) => (s, l.size, l.map(x => x._2 - x._1.t0).sum / 1e6) }
        .sortBy(-_._3)
        .foreach { case (s, n, ms) => println(f"  $ms%8.0f ms  n=$n%-3d $s") }
      done.clear()
    }
  }

  def main(a: Array[String]): Unit = {
    val sfDir = a.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.api.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val agg = new Agg
    spark.sparkContext.addSparkListener(agg)
    val trace = new Trace
    val traceOn = sys.env.get("SPARK_GRAFT_PROFILE_TRACE").contains("1")
    if (traceOn) spark.sparkContext.addSparkListener(trace)
    println(f"${"query"}%-28s ${"wall_s"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"taskS"}%8s ${"cpuS"}%8s ${"gcS"}%6s ${"shufMB"}%7s ${"inMB"}%7s ${"par"}%5s")
    for (name <- a.drop(1)) {
      val fn = graft.SparkEntry.queries(name)
      // warm once, measure second (bench methodology: steady state)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.graftbridge.drainListeners(spark.sparkContext)
      agg.reset()
      trace.on = traceOn
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener is async; let final task events land
      org.apache.spark.sql.graftbridge.drainListeners(spark.sparkContext)
      trace.on = false
      if (traceOn) trace.dump()
      val taskS = agg.taskMs.get / 1e3
      println(f"$name%-28s $wall%7.2f ${agg.jobs.get}%5d ${agg.stages.get}%5d ${agg.tasks.get}%6d $taskS%8.2f ${agg.cpuMs.get / 1e3}%8.2f ${agg.gcMs.get / 1e3}%6.2f ${(agg.shufR.get + agg.shufW.get) / 1e6}%7.1f ${agg.input.get / 1e6}%7.1f ${taskS / wall}%5.1f")
    }
    spark.stop()
  }
}
