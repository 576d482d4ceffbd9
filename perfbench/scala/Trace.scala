package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream,
  FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock base shared by spans and Spark's event times: spans are
  * timed with `nanoTime` and converted to epoch milliseconds (with a
  * fraction), so they line up with listener timestamps. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def ms(ns: Long): Double = anchorMs + (ns - anchorNs) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startMs: Double, endMs: Double)

/** In-memory span recorder for the traced run. Spans nest on the one
  * client thread; each span's id rides the thread's Spark local
  * properties, so a job the span submits is attributed to it exactly.
  * With tracing off every call is a plain pass-through. */
final class Recorder(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1
  var sc: Option[SparkContext] = None

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.foreach(_.setLocalProperty(Recorder.SpanKey, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.foreach(_.setLocalProperty(Recorder.SpanKey,
          stack.headOption.map(_.toString).orNull))
        spans += Span(id, name, parent, op, Clock.ms(t0), Clock.ms(t1))
      }
    }
}

object Recorder {
  val SpanKey = "perfbench.span"
}

/** Per-job record from the listener bus. */
final case class JobRec(id: Int, group: String, span: Int, submitMs: Long,
                        var endMs: Long = -1L, stages: Int = 0,
                        var tasks: Int = 0, var cpuNs: Long = 0L,
                        var shuffleRead: Long = 0L,
                        var shuffleWrite: Long = 0L,
                        var inputBytes: Long = 0L, var ok: Boolean = true)

/** Jobs, stages and tasks, tagged with the job group and span id the
  * submitting thread carried. */
final class JobListener extends SparkListener {
  val jobs = ArrayBuffer.empty[JobRec]
  private val byJob = scala.collection.mutable.Map.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val rec = JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
      prop(Recorder.SpanKey).map(_.toInt).getOrElse(-1), e.time,
      stages = e.stageIds.size)
    jobs += rec
    byJob(e.jobId) = rec
    e.stageIds.foreach(s => stageJob(s) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.get(e.jobId).foreach { r =>
      r.endMs = e.time
      r.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        r.cpuNs += m.executorCpuTime
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }
}

/** One executed query's planning phases (`QueryExecution.tracker`) and
  * executed-plan shape. */
final case class QueryRec(endMs: Double, phases: Map[String, (Long, Long)],
                          exchanges: Int, ok: Boolean)

final class PlanListener extends QueryExecutionListener {
  val queries = ArrayBuffer.empty[QueryRec]

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs, v.endTimeMs)
    }
    val ex = scala.util.Try(PlanShape.exchanges(qe.executedPlan)).getOrElse(0)
    synchronized { queries += QueryRec(Clock.nowMs, phases, ex, ok) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe, ok = false)
}

object PlanShape extends AdaptiveSparkPlanHelper {
  def exchanges(p: org.apache.spark.sql.execution.SparkPlan): Int =
    collectWithSubqueries(p) { case e: Exchange => e }.size
}

/** Counting local filesystem: registered for `file:` (through a
  * `core-site.xml` on the traced run's classpath), it counts the
  * logical calls the program makes and the bytes through its streams.
  * It is Hadoop's own `LocalFileSystem` (a checksummed
  * `FilterFileSystem` over the raw local FS), so behaviour is
  * unchanged. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet()
    new FSDataInputStream(new CountingIn(super.open(f, bufferSize)))
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    val out = super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
    new FSDataOutputStream(new CountingOut(out), null)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet()
    super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    status.incrementAndGet()
    super.getFileStatus(f)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet()
    super.delete(f, recursive)
  }
}

object CountingLocalFileSystem {
  val opens, creates, lists, status, renames, deletes = new AtomicLong()
  val bytesRead, bytesWritten = new AtomicLong()

  def snapshot(): Map[String, Long] = Map(
    "fs_opens" -> opens.get, "fs_creates" -> creates.get,
    "fs_lists" -> lists.get, "fs_status" -> status.get,
    "fs_renames" -> renames.get, "fs_deletes" -> deletes.get,
    "bytes_read" -> bytesRead.get, "bytes_written" -> bytesWritten.get)

  private final class CountingIn(in: FSDataInputStream) extends FSInputStream {
    override def read(): Int = {
      val b = in.read()
      if (b >= 0) bytesRead.incrementAndGet()
      b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(b, off, len)
      if (n > 0) bytesRead.addAndGet(n)
      n
    }
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(pos, b, off, len)
      if (n > 0) bytesRead.addAndGet(n)
      n
    }
    override def readFully(pos: Long, b: Array[Byte], off: Int,
                           len: Int): Unit = {
      in.readFully(pos, b, off, len)
      bytesRead.addAndGet(len)
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean =
      in.seekToNewSource(targetPos)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }

  private final class CountingOut(out: FSDataOutputStream)
      extends java.io.OutputStream {
    override def write(b: Int): Unit = {
      out.write(b)
      bytesWritten.incrementAndGet()
    }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      out.write(b, off, len)
      bytesWritten.addAndGet(len)
    }
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
  }
}
