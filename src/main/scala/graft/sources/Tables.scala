package graft.sources

import graft.schema.Catalog
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.StructType

/** Table scans (SURVEY §2.1 S1): SELECT the declared fields, aliased
  * from their physical columns, FROM the model's table
  * (`model.php:1138-1173` + `meta.php:150-177`).
  *
  * The projection is declarative, so Catalyst pushes column pruning
  * and any later filters into the parquet reader (check
  * `PushedFilters`/`ReadSchema` in .explain). No casts are applied on
  * scan — declared types mirror storage, keeping the scan zero-copy
  * and schema-identical to the oracle's view of the same files.
  *
  * Base-file reads go through [[parquet]], which infers a file's
  * schema once and reuses it while the file keeps its identity:
  * length + modification time + the session's parquet-inference
  * settings (`InferenceConfs`). A directory or a missing path is
  * read exactly as `spark.read.parquet(path)` reads it (listing,
  * inference and Spark's own `PATH_NOT_FOUND` error included).
  */
object Tables {

  /** Session settings that change what parquet schema inference
    * returns for the same bytes; part of a cached schema's identity. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  private final case class FileIdentity(
      length: Long, modified: Long, confs: Seq[Option[String]])

  // qualified file path -> (identity it was inferred under, schema);
  // at most one entry per path, replaced when the identity changes
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (FileIdentity, StructType)]()

  /** `spark.read.parquet(path)`, without the schema-inference job for
    * a single file whose identity is unchanged since its last read.
    * Every call still builds a fresh relation (fresh attribute ids)
    * and lists the file; only the footer job is skipped. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    status.filter(_.isFile) match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val id = FileIdentity(st.getLen, st.getModificationTime,
          InferenceConfs.map(spark.conf.getOption))
        val key = st.getPath.toString
        val schema = Option(schemas.get(key)) match {
          case Some((`id`, cached)) => cached
          case _ =>
            val inferred = spark.read.parquet(path).schema
            schemas.put(key, (id, inferred))
            inferred
        }
        spark.read.schema(schema).parquet(path)
    }
  }

  /** Physical path of a table under a scale-factor directory. */
  def path(sfDir: String, table: String): String = s"$sfDir/$table.parquet"

  /** S1: full declared-field scan with physical→logical aliasing.
    * Fields with a `readExpr` get their storage→logical transform
    * applied inline (still one pruned parquet scan). */
  def scan(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    // a TIMESTAMP(NANOS)-encoded file is only readable in Spark 4 as
    // int64 under this legacy flag; harmless for µs/ms encodings
    // (they load as their natural timestamp types). Runtime-settable,
    // idempotent.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val t = Catalog(table)
    val raw = parquet(spark, path(sfDir, t.storageName))
    raw.select(t.fields.map { f =>
      val base = F.col(f.physical)
      val phys = raw.schema(f.physical).dataType
      // readExpr sees the type the file ACTUALLY loaded as, so the
      // storage→logical transform adapts to the writer's encoding;
      // declared-timestamp fields WITHOUT a readExpr self-heal too —
      // if the fixture ever ships them as int64 epoch-nanos (the
      // encoding events.ts once used) the scan decodes instead of
      // surfacing longs into every downstream date expression
      val read = f.readExpr.map(fn => fn(base, phys)).getOrElse(
        f.ftype match {
          case _: graft.schema.FTimestamp
              if phys == org.apache.spark.sql.types.LongType =>
            graft.functions.Dates.adaptiveTsToNtz(base, phys)
          case _ => base
        })
      read.alias(f.name)
    }: _*)
  }

  /** Scan with computed alias columns materialized
    * (`model.php:199-206`): each alias is appended as a named column
    * over the declared projection. */
  def scanWithAliases(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val t = Catalog(table)
    t.aliases.foldLeft(scan(spark, sfDir, table)) {
      case (df, (name, expr)) => df.withColumn(name, expr(F.col(name)))
    }
  }

  /** Bucketed materialization for co-located joins (scale path): two
    * tables bucketed+sorted on their join key with the same bucket
    * count sort-merge-join WITHOUT a shuffle — at 100 TB this turns
    * every repeated fact↔fact join on the declared keys into a local
    * merge. Requires saveAsTable (bucket metadata lives in the
    * catalog). */
  def writeBucketed(df: DataFrame, catalogTable: String, key: String,
                    buckets: Int): Unit = {
    val spark = df.sparkSession
    // idempotent across SESSIONS, not just runs: the in-memory catalog
    // of a fresh session has no record of a previous session's managed
    // table, so a stale warehouse directory alone makes saveAsTable
    // throw LOCATION_ALREADY_EXISTS — drop the entry AND clear the dir
    spark.sql(s"DROP TABLE IF EXISTS `$catalogTable`")
    // resolve the managed-table location through the session catalog
    // (honors the current database and qualified names) instead of
    // guessing <warehouse>/<name> — the guess misses under `USE db`
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(catalogTable)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(catalogTable)
  }
}
