package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, graftbridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType,
  ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.{CollectionAccumulator, sketch}

/** WRITE-FUSED per-file Bloom builder (optimization guide §1.2: one
  * pass, not two): [[graft.operators.ManifestTable]] commits record a
  * per-file Bloom filter for each declared bloom column, and building
  * it used to take a SECOND Spark query over the freshly written
  * parquet (scan → groupBy(input_file_name) → UDAF → collect — three
  * driver jobs per commit under AQE, and at 100 TB a full re-read of
  * the projected key column). The tap builds the same filters DURING
  * the write job instead: each bloom column of the written projection
  * is wrapped in a pass-through [[BloomTapValue]] expression that
  * feeds every value it emits into a per-task filter, flushed to a
  * [[CollectionAccumulator]] keyed by partition id on task
  * completion.
  *
  * The partition id IS the file identity for this write shape:
  * [[graft.operators.ManifestTable.writeData]] writes an un-bucketed,
  * un-partitioned parquet directory, where Spark's file naming is
  * `part-<partitionId>%05d-<jobId>-c<n>.parquet` and each task writes
  * exactly one file (`maxRecordsPerFile` splits are the one
  * exception, so [[BloomWriteTap.install]] refuses when that conf is
  * set). [[BloomWriteTap.harvest]] re-derives the mapping from the
  * written file names and answers None on ANY inconsistency —
  * unparsable name, a split file, an update with no matching file, a
  * file missing a tapped column — and the caller then falls back to
  * the original aggregate job: the tap is only ever an optimization,
  * the read-back aggregate remains the reference implementation
  * (parity pinned in ManifestStatsSpec).
  *
  * LOCAL FRAMES: a frame built from driver rows (`createDataFrame`,
  * `Seq(...).toDF`) optimizes to a `LocalRelation`, and the optimizer
  * folds a projection over one into new driver-side rows — the tap
  * would fire during planning and the write job would carry none.
  * [[BloomWriteTap.install]] therefore taps such a frame through its
  * own RDD (a plain leaf with the partitions its plan writes, so the
  * same files), so a local append stays one job with every file bloomed;
  * ManifestStatsSpec fails if it falls back to the aggregate.
  *
  * Filter semantics mirror [[graft.operators.ManifestStats]]'s
  * KeyBloomAgg exactly: integral keys put as longs, strings as their
  * UTF-8 bytes (`putBinary` ≡ `putString`), nulls skipped, and an
  * approximate new-key count rides along so the caller can DROP an
  * overfull filter (count > capacity) instead of recording a
  * saturated, prune-less one. Task retries/speculation merge by
  * bloom-OR + max(count) — same-partition attempts see the same rows,
  * so the merge is idempotent. */
final class BloomWriteTap private (
    val frame: DataFrame,
    cols: Seq[String],
    acc: CollectionAccumulator[(Int, String, Array[Byte], Long)]) {

  private def partIndexOf(rel: String): Option[Int] = {
    val name = rel.substring(rel.lastIndexOf('/') + 1)
    val m = BloomWriteTap.PartName.findFirstMatchIn(name)
    m.map(_.group(1).toInt)
  }

  private def mergeUpd(a: (Array[Byte], Long),
                       b: (Array[Byte], Long)): (Array[Byte], Long) = {
    val fa = sketch.BloomFilter.readFrom(new ByteArrayInputStream(a._1))
    fa.mergeInPlace(
      sketch.BloomFilter.readFrom(new ByteArrayInputStream(b._1)))
    val bos = new ByteArrayOutputStream()
    fa.writeTo(bos)
    (bos.toByteArray, math.max(a._2, b._2))
  }

  /** relpath → column → (serialized filter, approx new-key count),
    * from the accumulator + the written file names. None = the
    * partition→file bijection does not hold (caller must fall back to
    * the aggregate job). Files with no update (0-row files) are
    * simply absent — the caller cross-checks against footer row
    * counts. */
  def harvest(relFiles: Seq[String])
      : Option[Map[String, Map[String, (Array[Byte], Long)]]] = {
    import scala.jdk.CollectionConverters._
    val updates = acc.value.asScala.toList
    if (updates.isEmpty) return Some(Map.empty)
    val idx: Seq[(String, Option[Int])] =
      relFiles.map(f => f -> partIndexOf(f))
    if (idx.exists(_._2.isEmpty)) return None // unparsable writer name
    val byIdx = idx.map { case (f, i) => (i.get, f) }
    if (byIdx.map(_._1).distinct.size != byIdx.size) return None // split files
    val fileOf = byIdx.toMap
    val merged = updates.groupBy(u => (u._1, u._2)).map {
      case ((pid, col), us) =>
        (pid, col) -> us.map(u => (u._3, u._4)).reduce(mergeUpd)
    }
    if (!merged.keysIterator.forall(k => fileOf.contains(k._1)))
      return None // an update with no matching written file
    val perFile = merged.toSeq
      .groupBy { case ((pid, _), _) => fileOf(pid) }
      .map { case (f, es) =>
        f -> es.map { case ((_, col), v) => col -> v }.toMap
      }
    // every tapped file must carry every tapped column — a partial
    // flush would under-record and silently weaken pruning
    if (!perFile.valuesIterator.forall(_.keySet == cols.toSet)) return None
    Some(perFile)
  }
}

object BloomWriteTap {
  private val PartName = "^part-(\\d+)-".r

  private def supported(dt: DataType): Boolean =
    graft.operators.ManifestStats.isBloomSupported(dt)

  /** Wrap `df`'s eligible bloom columns with tap expressions. None =
    * nothing to tap (no eligible column) or the one-file-per-task
    * mapping cannot be trusted (`maxRecordsPerFile` set) — the caller
    * writes `df` unchanged and keeps the aggregate path. */
  def install(df: DataFrame, bloomCols: Seq[String],
              capacity: Long): Option[BloomWriteTap] = {
    val spark = df.sparkSession
    if (spark.conf.get("spark.sql.files.maxRecordsPerFile", "0") != "0")
      return None
    val eligible = bloomCols.filter(df.columns.contains)
      .filter(c => supported(df.schema(c).dataType))
    if (eligible.isEmpty) return None
    // LOCAL FRAMES (class doc): any plan over local rows only is tapped
    // through its own RDD — read off the analyzed plan, which is at
    // hand; optimizing here would cost every write a second pass
    val src =
      if (!df.queryExecution.analyzed.collectLeaves()
            .forall(_.isInstanceOf[LocalRelation])) df
      else graftbridge.fromInternalRdd(spark, df.queryExecution.toRdd,
        df.schema)
    val acc = spark.sparkContext
      .collectionAccumulator[(Int, String, Array[Byte], Long)](
        "graft.bloomWriteTap")
    val cols = src.columns.toSeq.map { c =>
      if (eligible.contains(c))
        graftbridge.toColumn(BloomTapValue(
          graftbridge.toExpression(src(c)),
          new BloomTapSink(c, capacity, acc))).as(c)
      else src(c)
    }
    Some(new BloomWriteTap(src.select(cols: _*), eligible, acc))
  }
}

/** The per-task filter state behind one tapped column. Serialized
  * into the task binary with the expression; every task deserializes
  * its OWN copy, so the transient fields are task-local by
  * construction (single task thread — no synchronization). The first
  * row (null or not) registers a completion listener that flushes
  * (partitionId, col, filterBytes, newKeys) to the accumulator;
  * updates only ship with successful tasks, and duplicates merge
  * idempotently on the driver ([[BloomWriteTap.harvest]]). */
private[graft] final class BloomTapSink(
    col: String, capacity: Long,
    acc: CollectionAccumulator[(Int, String, Array[Byte], Long)])
  extends Serializable {

  @transient private var bloom: sketch.BloomFilter = _
  @transient private var newKeys: Long = 0L

  private def ensure(): sketch.BloomFilter = {
    if (bloom == null) {
      bloom = sketch.BloomFilter.create(capacity,
        graft.operators.ManifestStats.BloomFpp)
      newKeys = 0L
      val tc = TaskContext.get()
      if (tc != null) {
        val pid = tc.partitionId()
        tc.addTaskCompletionListener[Unit] { _ =>
          val bos = new ByteArrayOutputStream()
          bloom.writeTo(bos)
          acc.add((pid, col, bos.toByteArray, newKeys))
        }
      }
    }
    bloom
  }

  def touch(): Unit = { ensure(); () }

  def addLong(v: Long): Unit = {
    val b = ensure()
    if (!b.mightContainLong(v)) { b.putLong(v); newKeys += 1 }
    ()
  }

  def addString(v: UTF8String): Unit = {
    val b = ensure()
    val bytes = v.getBytes
    if (!b.mightContainBinary(bytes)) { b.putBinary(bytes); newKeys += 1 }
    ()
  }
}

/** Pass-through expression feeding every value of `child` into
  * `sink` — the write-job hook [[BloomWriteTap]] installs. Returns
  * the child value unchanged (same type, same nullability), stays
  * inside whole-stage codegen (one reference object + a primitive
  * call per row), and is marked non-deterministic so no rule
  * duplicates or reorders the side effect. Null rows `touch()` the
  * sink so an all-null file still records its (empty) filter, exactly
  * like the aggregate it replaces. */
case class BloomTapValue(child: Expression, sink: BloomTapSink)
  extends UnaryExpression {

  override def nullable: Boolean = child.nullable
  override def dataType: DataType = child.dataType
  // the side effect must not be duplicated/reordered/folded
  override lazy val deterministic: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | LongType | IntegerType | ShortType | ByteType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(
            s"bloom tap supports string and integral keys, got " +
              other.catalogString)
    }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    v match {
      case null => sink.touch()
      case s: UTF8String => sink.addString(s)
      case l: java.lang.Long => sink.addLong(l)
      case i: java.lang.Integer => sink.addLong(i.toLong)
      case s: java.lang.Short => sink.addLong(s.toLong)
      case b: java.lang.Byte => sink.addLong(b.toLong)
      case other => throw new IllegalStateException(
        s"unsupported bloom tap value $other")
    }
    v
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val sinkRef = ctx.addReferenceObj("graftBloomTapSink", sink,
      classOf[BloomTapSink].getName)
    val childGen = child.genCode(ctx)
    val observe = child.dataType match {
      case StringType => s"$sinkRef.addString(${childGen.value});"
      case _ => s"$sinkRef.addLong((long) ${childGen.value});"
    }
    ev.copy(
      code = code"""
        ${childGen.code}
        if (${childGen.isNull}) { $sinkRef.touch(); } else { $observe }""",
      isNull = childGen.isNull,
      value = childGen.value)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}
