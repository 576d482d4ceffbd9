package graft.plans

import graft.schema.Catalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.{functions => F}

/** SQL surface for graft's native expressions and catalog-driven
  * planning rules.
  *
  * Two registration paths:
  *  - [[GraftFunctions.register]] — runtime registration into an
  *    existing session's function registry (tests, notebooks).
  *  - [[GraftSparkExtensions]] — `SparkSessionExtensions` injection for
  *    `spark.sql.extensions=graft.plans.GraftSparkExtensions` /
  *    `SparkSession.builder().withExtensions(...)` (production: every
  *    session gets the functions + rules at build time).
  */
object GraftFunctions {

  private val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product" -> (exprs => DotProduct(exprs(0), exprs(1))),
    "rolling_hash" -> (exprs => RollingHash(exprs(0)))
  )

  /** A TVF argument that must be a constant, evaluated at resolution
    * time (the argument names a TABLE, not a per-row value). */
  private def constArg(e: Expression, fn: String, what: String): Any = {
    require(e.foldable, s"$fn's $what argument must be a constant")
    val v = e.eval()
    require(v != null, s"$fn's $what argument must not be NULL")
    v
  }

  /** A manifest-table TVF target: a PATH (anything with a '/') or —
    * for catalog users who never handled the root — a session-catalog
    * `USING graft-manifest` TABLE NAME (`'db.t'` / `'t'`), resolved
    * to its root. A slash-less string that names no manifest table
    * refuses with both interpretations spelled out. */
  private def rootOfArg(spark: SparkSession, arg: String,
                        fn: String): String = {
    if (arg.contains("/")) return arg
    val parts = scala.util.Try(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseMultipartIdentifier(arg)).getOrElse(Seq(arg))
    graft.sources.ManifestSql.sessionIdentOf(parts)
      .flatMap(i => scala.util.Try(
        graft.sources.ManifestSql.manifestEntryOf(spark, i)).toOption.flatten)
      .map(graft.sources.ManifestSql.rootOfEntry)
      .getOrElse(throw new IllegalArgumentException(
        s"$fn: '$arg' has no '/' (so it is not a path) and names no " +
          "session-catalog `USING graft-manifest` table — pass the " +
          "table root path, or register the table first"))
  }

  /** Table-valued functions — the path-addressed SQL surface (the
    * ``delta.`path``` idea, as TVFs so no catalog object is needed):
    *  - `graft_manifest('<root>'[, versionAsOf])` — a manifest table
    *    read straight from its root: the same snapshot-pinned pruned
    *    FileIndex relation a registration serves (one builder call
    *    per analysis, pinning the then-current head — or the named
    *    version for ad-hoc SQL time travel);
    *  - `graft_history('<root>')` — the table's version history from
    *    metadata alone (file/row counts, deltas, ledger state; zero
    *    data I/O).
    * Builders run at resolution time on the driver and return the
    * relation's analyzed plan — re-analysis is idempotent on a
    * resolved [[org.apache.spark.sql.execution.datasources.LogicalRelation]]. */
  private val tableFunctions: Seq[(String,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    "graft_manifest" -> (exprs => {
      require(exprs.nonEmpty && exprs.size <= 2,
        "usage: graft_manifest('<root or table name>'[, versionAsOf])")
      val spark = SparkSession.active
      val root = rootOfArg(spark,
        constArg(exprs(0), "graft_manifest", "root").toString,
        "graft_manifest")
      val ver = exprs.drop(1).headOption.map(e =>
        constArg(e, "graft_manifest", "versionAsOf").toString.toInt)
      graft.sources.ManifestSql.relation(spark, root, ver)
        .queryExecution.analyzed
    }),
    "graft_history" -> (exprs => {
      require(exprs.size == 1, "usage: graft_history('<root or table name>')")
      val spark = SparkSession.active
      val root = rootOfArg(spark,
        constArg(exprs(0), "graft_history", "root").toString,
        "graft_history")
      graft.operators.ManifestTable.history(spark, root)
        .queryExecution.analyzed
    }),
    // the per-file stats dashboard: one row per (file, declared stat
    // column) with the recorded bounds/null counts, plus file-level
    // rows/bytes/bloom — how an operator SEES pruning quality
    // (overlapping bands = cluster it; missing blooms = raise the
    // capacity). Metadata-scale: O(files × statCols) driver rows,
    // zero data I/O.
    "graft_files" -> (exprs => {
      require(exprs.size == 1, "usage: graft_files('<root or table name>')")
      val spark = SparkSession.active
      val root = rootOfArg(spark,
        constArg(exprs(0), "graft_files", "root").toString,
        "graft_files")
      val snap = graft.operators.ManifestTable.latest(root).getOrElse(
        throw new IllegalStateException(s"no manifest at $root"))
      val rows = snap.files.flatMap { f =>
        snap.stats.get(f) match {
          case None => Seq(org.apache.spark.sql.Row(
            f, null, null, false, null, null, null, null))
          case Some(payload) =>
            val fs = graft.operators.ManifestStats.decodeCached(payload)
            val bytes: java.lang.Long = if (fs.bytes >= 0) fs.bytes else null
            if (fs.cols.isEmpty)
              Seq(org.apache.spark.sql.Row(f, fs.rows, bytes,
                fs.bloomRef.isDefined, null, null, null, null))
            else fs.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
              org.apache.spark.sql.Row(f, fs.rows, bytes,
                fs.bloomRef.isDefined, c,
                cs.bounds.map(_._1).orNull, cs.bounds.map(_._2).orNull,
                cs.nulls)
            }
        }
      }
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("file", StringType, nullable = false),
        StructField("rows", LongType), StructField("bytes", LongType),
        StructField("bloom", BooleanType, nullable = false),
        StructField("col", StringType), StructField("min", StringType),
        StructField("max", StringType), StructField("nulls", LongType)))
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        schema).queryExecution.analyzed
    }),
    // ANN search over a STANDING IVF store from pure SQL — the one
    // extension family a SQL-only user couldn't reach (dedup/text/
    // layout all have SQL twins): top-k cosine neighbors for every
    // row of a QUERIES table against the persisted index (centroids
    // + generation-committed assignments), never touching the raw
    // vector source. (id, vector) column names are inferred from the
    // stored centroids schema — the one array<float> column is the
    // vector — so the caller passes only the store root, a queries
    // table whose columns match, k, and nprobe. Work scales as
    // queries × (nprobe/k_cells) × corpus — the same bounded probe
    // as the Scala path, which this IS (IvfIndex.topK).
    "graft_ann_topk" -> (exprs => {
      require(exprs.size >= 3 && exprs.size <= 4,
        "usage: graft_ann_topk('<ivf store root>', " +
          "'<queries table>' | array(<query vector>), k[, nprobe])")
      val spark = SparkSession.active
      val root = constArg(exprs(0), "graft_ann_topk", "root").toString
      val k = constArg(exprs(2), "graft_ann_topk", "k").toString.toInt
      val nprobe = exprs.drop(3).headOption
        .map(e => constArg(e, "graft_ann_topk", "nprobe").toString.toInt)
        .getOrElse(1)
      import org.apache.spark.sql.types.{ArrayType, FloatType,
        NumericType}
      val centSchema =
        spark.read.parquet(s"$root/centroids").schema.fields
      val (vecFields, idFields) = centSchema.partition(_.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
      require(vecFields.length == 1 && idFields.length == 1,
        s"graft_ann_topk: $root/centroids must carry exactly one " +
          "array<float> vector column and one id column; got " +
          centSchema.map(f => s"${f.name}:${f.dataType.simpleString}")
            .mkString(", "))
      // the queries: a registered table NAME, or an INLINE array
      // literal (one query vector, served as query_id 0) — the
      // ad-hoc probe shape that needs no temp view
      val queries = exprs(1).dataType match {
        case ArrayType(_: NumericType, _) =>
          val arr = constArg(exprs(1), "graft_ann_topk", "query vector")
            .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          val elem = exprs(1).dataType.asInstanceOf[ArrayType].elementType
          val floats: Seq[Float] = arr.toSeq[Any](elem).map {
            case null => throw new IllegalArgumentException(
              "graft_ann_topk: the inline query vector must not " +
                "contain NULLs")
            case n: java.lang.Number => n.floatValue()
            case d: org.apache.spark.sql.types.Decimal => d.toFloat
            case other => throw new IllegalArgumentException(
              s"graft_ann_topk: non-numeric vector element $other")
          }
          spark.range(1).select(
            F.lit(0L).cast(idFields.head.dataType)
              .as(idFields.head.name),
            F.typedlit(floats).as(vecFields.head.name))
        case _ =>
          spark.table(
            constArg(exprs(1), "graft_ann_topk", "queries").toString)
      }
      val idx = graft.operators.IvfStore.load(spark, root,
        idFields.head.name, vecFields.head.name)
      graft.operators.IvfIndex
        .topK(idx, queries, k, nprobe)
        .queryExecution.analyzed
    }),
    // the change feed as a TVF (the table_changes idea): row-level
    // inserts/deletes between two versions, straight from the
    // manifest file diff — batch cost scales with the changed files
    "graft_changes" -> (exprs => {
      require(exprs.size == 3,
        "usage: graft_changes('<root or table name>', fromVersion, toVersion)")
      val spark = SparkSession.active
      val root = rootOfArg(spark,
        constArg(exprs(0), "graft_changes", "root").toString,
        "graft_changes")
      val from = constArg(exprs(1), "graft_changes", "fromVersion")
        .toString.toInt
      val to = constArg(exprs(2), "graft_changes", "toVersion")
        .toString.toInt
      graft.operators.ManifestTable.changes(spark, root, from, to)
        .queryExecution.analyzed
    })
  )

  def register(spark: SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
    tableFunctions.foreach { case (name, builder) =>
      spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
  }

  private[plans] def inject(e: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotProduct].getName, name), builder))
    }
    tableFunctions.foreach { case (name, builder) =>
      e.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotProduct].getName, name), builder))
    }
    e.injectPostHocResolutionRule(BroadcastFixedDims)
    // the read half of every GraftTable (catalog names, path reads) —
    // MUST precede ManifestSqlDml in this batch (post-hoc rules run
    // once, in injection order), so DML targets arrive in V1 shape
    e.injectPostHocResolutionRule(GraftDsv2Reads)
    // row-level DML (DELETE FROM / UPDATE / MERGE INTO) on manifest
    // tables: fully resolved by the stock analyzer, rejected only at
    // checkAnalysis for non-v2 targets — rewritten here first
    e.injectPostHocResolutionRule(ManifestSqlDml.apply)
    // maintenance DDL (GRAFT COMPACT/VACUUM/EXPIRE/MAINTAIN/MOR/FOLD);
    // everything else delegates verbatim
    e.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
  }
}

/** Catalyst rule: joins against a catalog-declared fixed-cardinality
  * dimension (`TableDef.broadcastDim` — region, nation) get a
  * BROADCAST join hint stamped on that side, so every SQL user of the
  * registered views gets the broadcast plan the schema guarantees is
  * safe — no per-query hints, no reliance on size estimation (which
  * can't see through views at 100 TB fact scale, and which a
  * conservative `autoBroadcastJoinThreshold=-1` deployment disables
  * entirely).
  *
  * Runs post-hoc in the analyzer (aliases are erased before the
  * optimizer's own batches, so the table identity only exists here).
  * Idempotent: only joins with no existing hint are touched, so the
  * analyzer's fixed-point loop terminates and user-written hints
  * always win. DataFrame-API reads don't produce aliased scans and
  * are untouched — the explicit `broadcast()` calls in [[graft.operators.Joins]]
  * remain the API-side contract. */
case class BroadcastFixedDims(spark: SparkSession) extends Rule[LogicalPlan] {

  @annotation.tailrec
  private def dimLeaf(p: LogicalPlan): Boolean = p match {
    case s @ SubqueryAlias(id, child) =>
      // the NAME alone is spoofable (a CTE or user alias called
      // "nation" over a fact table must NOT broadcast): require the
      // aliased subtree to still expose every declared column of the
      // dim — an alias point sits over the full view, so a genuine
      // dim always passes and a name-collision over another relation
      // does not
      (Catalog.broadcastDims.contains(id.name) && {
        val declared = Catalog(id.name).fields.map(_.name).toSet
        declared.subsetOf(s.output.map(_.name).toSet)
      }) || dimLeaf(child)
    case Project(_, child) => dimLeaf(child)
    case Filter(_, child) => dimLeaf(child)
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case j: Join if j.resolved && j.hint == JoinHint.NONE &&
          (dimLeaf(j.left) || dimLeaf(j.right)) =>
        val hintOf = (side: LogicalPlan) =>
          if (dimLeaf(side)) Some(HintInfo(strategy = Some(BROADCAST))) else None
        j.copy(hint = JoinHint(hintOf(j.left), hintOf(j.right)))
    }
}

/** The graft session extensions: native functions and TVFs, the
  * `GRAFT …` parser, and three post-hoc rules (BroadcastFixedDims, the
  * read swap GraftDsv2Reads of every [[graft.catalog.GraftTable]] —
  * catalog names and path reads alike — and row-level DML
  * ManifestSqlDml). Catalog names of manifest tables resolve through
  * [[graft.catalog.GraftCatalog]], which a session binds as
  * `spark_catalog` by conf, not through these extensions
  * ([[graft.api.Sessions.local]] sets both). */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = GraftFunctions.inject(e)
}
