package graft.operators

import org.apache.spark.sql.{Column, DataFrame, graftbridge, functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, Literal}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType,
  LongType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused local-checkpoint pins (optimization guide §1.2 — don't pay
  * two driver actions for one pass): `Dataset.localCheckpoint(eager)`
  * materializes the frame with an internal full count and throws the
  * number away, and callers that need a count (total, conditional, or
  * per-key) then pay a SECOND action over rows they just pinned. The
  * helpers here mark the frame's RDD for local checkpointing and
  * materialize it with ONE job that also computes the caller's
  * number.
  *
  * WHAT A PINNED FRAME CARRIES: a leaf over the checkpointed RDD
  * (like `localCheckpoint`'s) whose logical plan reports the frame's
  * EXACT row count as statistics — row count plus a size estimate
  * from the schema's per-row width — so the planner broadcasts a
  * small pin instead of sort-merging against it (a pin without
  * statistics sizes as `spark.sql.defaultSizeInBytes`, i.e. never
  * broadcast). It carries NO output partitioning and no ordering:
  * whatever shuffle produced the rows is forgotten, so a join or
  * aggregate over a pinned frame re-partitions it like any other
  * leaf.
  *
  * Executor-memory pins only — operators offering a RELIABLE
  * checkpoint mode keep `Dataset.checkpoint` there (fault tolerance
  * is that seam's point, not action count). */
private[graft] object Pin {

  private type Rdd = org.apache.spark.rdd.RDD[InternalRow]

  /** The open [[scoped]] blocks of each thread, innermost first. */
  private val scopes = new ThreadLocal[List[scala.collection.mutable.Buffer[Rdd]]] {
    override def initialValue(): List[scala.collection.mutable.Buffer[Rdd]] = Nil
  }

  /** Run `body`, then RELEASE every frame this thread pinned inside it:
    * the pinned blocks leave executor memory when `body` ends, however
    * it ends, instead of whenever the RDD is garbage-collected. For a
    * body none of whose pinned frames outlive it (a writer returning
    * only its committed snapshot). Scopes nest; a pin belongs to the
    * innermost one. */
  def scoped[T](body: => T): T = {
    val mine = scala.collection.mutable.ArrayBuffer.empty[Rdd]
    scopes.set(mine :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      mine.foreach(_.unpersist(blocking = false))
    }
  }

  private def pinnedRdd(df: DataFrame): Rdd = {
    // rows are reused buffers — copy before caching, exactly as
    // Dataset.localCheckpoint does
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    scopes.get.headOption.foreach(_ += rdd)
    rdd
  }

  private def wrap(df: DataFrame, rdd: Rdd, rows: Long): DataFrame =
    graftbridge.pinnedFrame(df.sparkSession, rdd, df.schema, rows)

  /** One job over the pinned rows: per partition, the row count plus
    * `f`'s partial result; returns the pinned frame, the total row
    * count and the partials. */
  private def pinWith[P: scala.reflect.ClassTag](df: DataFrame)(
      f: Iterator[InternalRow] => P): (DataFrame, Long, Array[P]) = {
    val rdd = pinnedRdd(df)
    val parts = rdd.mapPartitions { it =>
      var c = 0L
      val counted = it.map { r => c += 1; r }
      val p = f(counted)
      while (counted.hasNext) counted.next()
      Iterator.single((c, p))
    }.collect()
    val n = parts.map(_._1).sum
    (wrap(df, rdd, n), n, parts.map(_._2))
  }

  /** localCheckpoint(eager) + row count, one job. */
  def count(df: DataFrame): (DataFrame, Long) = {
    val (pinned, n, _) = pinWith(df)(_ => ())
    (pinned, n)
  }

  /** localCheckpoint(eager) + count of TRUE values of a boolean
    * column, one job. */
  def countWhere(df: DataFrame, boolCol: String): (DataFrame, Long) = {
    val idx = df.schema.fieldIndex(boolCol)
    val (pinned, _, parts) = pinWith(df) { it =>
      var c = 0L
      it.foreach(r => if (!r.isNullAt(idx) && r.getBoolean(idx)) c += 1)
      c
    }
    (pinned, parts.sum)
  }

  /** localCheckpoint(eager) + per-key row counts of a string column,
    * one job. Keys are collected to the driver — callers use this for
    * FILE-grained counts (bounded by the table's file count), never
    * data-grained ones. Null keys are not counted. */
  def countByKey(df: DataFrame, keyCol: String)
      : (DataFrame, Map[String, Long]) = {
    val idx = df.schema.fieldIndex(keyCol)
    val (pinned, _, parts) = pinWith(df) { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { r =>
        if (!r.isNullAt(idx)) {
          val k = r.getUTF8String(idx).toString
          m.update(k, m.getOrElse(k, 0L) + 1L)
        }
      }
      m.toMap
    }
    val merged = parts.foldLeft(Map.empty[String, Long]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0L) + v) }
    }
    (pinned, merged)
  }

  /** Key types whose Catalyst values group under JVM equality exactly
    * as Spark's grouping and join equality does: integral, date and
    * timestamp values, and binary-collated strings. Floating keys
    * (−0.0 vs 0.0, NaN), binary keys (array identity) and collated
    * strings keep the Spark-side path. */
  private[graft] def driverKeyable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case s: StringType => s.collationId == StringType.collationId
    case _ => false
  }

  /** What [[keySet]] returns. `rows` counts every row of the pinned
    * `frame`, `keyedRows` the rows whose key columns are ALL non-null;
    * `keys` maps each distinct all-non-null key tuple (Catalyst
    * internal values, in key-column order) to its row count — None
    * when the key types are not [[driverKeyable]] or there are more
    * than the caller's `maxKeys` distinct tuples (not driver-sized:
    * the caller keeps its Spark-side distinct and range prune). */
  final case class KeySet(frame: DataFrame, rows: Long, keyedRows: Long,
                          keySchema: StructType,
                          keys: Option[Map[Seq[Any], Long]]) {

    /** The distinct key tuples held by at least `minRows` rows, as a
      * local frame with columns `names` — a LocalRelation, whose
      * exact size lets the planner broadcast it. */
    def keysFrame(names: Seq[String], minRows: Long = 1L): Option[DataFrame] =
      keys.map { m =>
        graftbridge.localFrame(frame.sparkSession,
          StructType(keySchema.fields.zip(names).map { case (f, n) =>
            f.copy(name = n, nullable = false)
          }),
          m.collect { case (k, c) if c >= minRows =>
            new GenericInternalRow(k.toArray): InternalRow
          }.toSeq)
      }

    private def values(i: Int): Seq[Column] = {
      val dt = keySchema(i).dataType
      keys.get.keys.map(_(i)).toSeq.distinct
        .map(v => graftbridge.toColumn(Literal(v, dt)))
    }

    /** `col IN (every distinct value of key component i)` — the
      * per-file prune (bounds + Blooms answer it key by key); None
      * when the keys are not driver-sized or there are none. */
    def inList(i: Int, col: String): Option[Column] =
      keys.filter(_.nonEmpty).map(_ => F.col(col).isin(values(i): _*))

    /** Row-level membership of `col` in a driver-sized ONE-column key
      * set: TRUE or FALSE, never NULL (a NULL `col` is not a member) —
      * the semi/anti-join against the keys as a filter, with no join,
      * broadcast or shuffle. None when the keys are not driver-sized. */
    def member(col: String): Option[Column] = keys.map { m =>
      require(keySchema.size == 1, "member takes a one-column key set")
      if (m.isEmpty) F.lit(false)
      else F.coalesce(F.col(col).isin(values(0): _*), F.lit(false))
    }
  }

  /** localCheckpoint(eager) + the KEY-SET ENVELOPE of `keyCols`, one
    * job: row count, all-non-null-key row count and, when
    * driver-sized, each distinct key tuple with its row count. The
    * ledgered writers' single pass over their input — the counts,
    * duplicate-key checks and IN-list prunes that used to be three
    * separate queries over the rows just pinned. */
  def keySet(df: DataFrame, keyCols: Seq[String], maxKeys: Int): KeySet = {
    val idx = keyCols.map(df.schema.fieldIndex)
    val keySchema = StructType(idx.map(df.schema.fields(_)))
    val types = keySchema.fields.map(_.dataType).toSeq
    val collect = types.forall(driverKeyable)
    val (pinned, n, parts) = pinWith(df) { it =>
      var keyed = 0L
      var m = if (collect) scala.collection.mutable.HashMap.empty[Seq[Any], Long]
              else null
      it.foreach { r =>
        if (idx.forall(!r.isNullAt(_))) {
          keyed += 1
          if (m != null) {
            val k = idx.zip(types).map { case (i, dt) =>
              r.get(i, dt) match {
                case s: UTF8String => s.clone()
                case v => v
              }
            }
            m.update(k, m.getOrElse(k, 0L) + 1L)
            if (m.size > maxKeys) m = null // not driver-sized: stop
          }
        }
      }
      (keyed, Option(m).map(_.toMap))
    }
    val keys =
      if (!collect || parts.exists(_._2.isEmpty)) None
      else {
        val merged = parts.flatMap(_._2).foldLeft(Map.empty[Seq[Any], Long]) {
          (acc, m) => m.foldLeft(acc) { case (a, (k, c)) =>
            a.updated(k, a.getOrElse(k, 0L) + c)
          }
        }
        Some(merged).filter(_.size <= maxKeys)
      }
    KeySet(pinned, n, parts.map(_._1).sum, keySchema, keys)
  }
}
