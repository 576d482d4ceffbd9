package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParameterContext,
  ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType,
  StructType}

import graft.operators.ManifestTable

/** Maintenance DDL for manifest tables — the `injectParser` seam (the
  * Delta-SQL-parser pattern): a thin wrapper that owns a four-statement
  * grammar and DELEGATES everything else, byte for byte, to the
  * session parser it wraps.
  *
  * {{{
  *   GRAFT COMPACT {'<root>'|TABLE <name>} [TARGET <bytes>] [CLUSTER BY c1[, c2…]]
  *   GRAFT VACUUM {'<root>'|TABLE <name>} [RETAIN <n> HOURS]
  *   GRAFT EXPIRE {'<root>'|TABLE <name>} KEEP <k>
  *   GRAFT MAINTAIN {'<root>'|TABLE <name>} [TARGET <bytes>] [CLUSTER BY c1[, c2…]]
  *   GRAFT MOR {'<root>'|TABLE <name>} {ON|OFF}
  *   GRAFT FOLD {'<root>'|TABLE <name>} [TARGET <bytes>]
  * }}}
  *
  * The target is a path literal, or — for catalog users who never
  * handled the root — `TABLE db.t`, resolved at run time through the
  * same manifest detection the ALTER path uses ([[GraftSqlParser
  * .manifestIdentOf]]); a non-manifest name refuses with the path
  * form suggested.
  *
  * Each statement is a runnable command over the corresponding
  * [[ManifestTable]] op and RETURNS its report as rows (files after
  * compaction, swept count, expired versions…), so an operator can
  * run table upkeep from any SQL-only surface — a scheduler, a JDBC
  * console — without the Scala API. The trigger word is the first
  * token being `GRAFT`, which no ANSI statement starts with, so the
  * wrapper never shadows standard SQL; a malformed GRAFT statement
  * fails with the usage line rather than falling through to a
  * confusing ANSI parse error. */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
  extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    parseGraft(sqlText).getOrElse(
      rewriteManifestSql(session, delegate.parsePlan(sqlText)))

  // parameterized spark.sql(text, args) must keep its binding — only
  // intercept our grammar (which has no parameters), else delegate the
  // PARAMETERIZED entry point, not parsePlan
  override def parsePlanWithParameters(sqlText: String,
                                       ctx: ParameterContext): LogicalPlan =
    parseGraft(sqlText).getOrElse(rewriteManifestSql(session,
      delegate.parsePlanWithParameters(sqlText, ctx)))

  // view bodies re-parse through THIS entry point (SessionCatalog →
  // parseQuery): a persistent view over `… VERSION AS OF n` must get
  // the same time-travel re-route at read time as its CREATE did
  override def parseQuery(sqlText: String): LogicalPlan =
    rewriteManifestSql(session, delegate.parseQuery(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  private val DefaultTargetBytes = 128L * 1024 * 1024

  /** The table a GRAFT maintenance statement addresses: a path
    * literal (`'<root>'`) or — for catalog users who never handled
    * the root — a session-catalog identifier (`TABLE db.t`),
    * resolved through the SAME manifest detection the ALTER and
    * time-travel paths use. Name resolution happens at RUN time
    * (the command may be planned ahead of execution); the multipart
    * parse happens at parse time, so a malformed identifier fails
    * with the usage line. */
  private[plans] sealed trait TableRef {
    def rootIn(session: SparkSession): String
    def display: String
  }
  private[plans] final case class PathRef(root: String) extends TableRef {
    override def rootIn(session: SparkSession): String = root
    override def display: String = root
  }
  private[plans] final case class NameRef(parts: Seq[String], raw: String)
    extends TableRef {
    override def rootIn(session: SparkSession): String = {
      val ident = manifestIdentOf(session, parts).getOrElse(
        throw new IllegalArgumentException(
          s"GRAFT maintenance by name needs a session-catalog " +
            s"`USING graft-manifest` table; '$raw' is not one — for " +
            "temp views or unregistered tables address the root " +
            "path: GRAFT … '<root>'"))
      manifestRootOf(session, ident)
    }
    override def display: String = raw
  }

  // '<root>' with '' as the escaped quote (standard SQL string), OR
  // TABLE <identifier> (optionally backtick-quoted parts; no
  // whitespace/semicolons inside — parseMultipartIdentifier validates
  // the rest)
  private val TargetRe = """(?:'((?:[^']|'')*)'|TABLE\s+([^\s;']+))"""
  private val CompactRe =
    ("""(?is)^\s*GRAFT\s+COMPACT\s+""" + TargetRe +
      """(?:\s+TARGET\s+(\d+))?(?:\s+CLUSTER\s+BY\s+([\w\s,]+?))?\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^\s*GRAFT\s+VACUUM\s+""" + TargetRe +
      """(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*$""").r
  private val ExpireRe =
    ("""(?is)^\s*GRAFT\s+EXPIRE\s+""" + TargetRe +
      """\s+KEEP\s+(\d+)\s*;?\s*$""").r
  private val MaintainRe =
    ("""(?is)^\s*GRAFT\s+MAINTAIN\s+""" + TargetRe +
      """(?:\s+TARGET\s+(\d+))?(?:\s+CLUSTER\s+BY\s+([\w\s,]+?))?\s*;?\s*$""").r
  private val MorRe =
    ("""(?is)^\s*GRAFT\s+MOR\s+""" + TargetRe +
      """\s+(ON|OFF)\s*;?\s*$""").r
  private val FoldRe =
    ("""(?is)^\s*GRAFT\s+FOLD\s+""" + TargetRe +
      """(?:\s+TARGET\s+(\d+))?\s*;?\s*$""").r

  private def unquote(s: String): String = s.replace("''", "'")
  private def cols(s: String): Seq[String] =
    Option(s).toSeq.flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))

  private def refOf(root: String, ident: String): TableRef =
    if (root != null) PathRef(unquote(root))
    else NameRef(org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseMultipartIdentifier(ident), ident)

  private[plans] def parseGraft(sqlText: String): Option[LogicalPlan] = {
    if (!sqlText.trim.toUpperCase(java.util.Locale.ROOT)
      .startsWith("GRAFT")) return None
    sqlText match {
      case CompactRe(root, ident, target, by) =>
        Some(GraftCompactCommand(refOf(root, ident),
          Option(target).map(_.toLong).getOrElse(DefaultTargetBytes),
          cols(by)))
      case VacuumRe(root, ident, hours) =>
        Some(GraftVacuumCommand(refOf(root, ident),
          Option(hours).map(_.toLong * 3600 * 1000)
            .getOrElse(24L * 3600 * 1000)))
      case ExpireRe(root, ident, keep) =>
        Some(GraftExpireCommand(refOf(root, ident), keep.toInt))
      case MaintainRe(root, ident, target, by) =>
        Some(GraftMaintainCommand(refOf(root, ident),
          Option(target).map(_.toLong).getOrElse(DefaultTargetBytes),
          cols(by)))
      case MorRe(root, ident, mode) =>
        Some(GraftMorCommand(refOf(root, ident),
          mode.equalsIgnoreCase("ON")))
      case FoldRe(root, ident, target) =>
        Some(GraftFoldCommand(refOf(root, ident),
          Option(target).map(_.toLong).getOrElse(DefaultTargetBytes)))
      case _ => throw new IllegalArgumentException(
        "malformed GRAFT statement — usage:\n" +
          "  GRAFT COMPACT {'<root>'|TABLE <name>} [TARGET <bytes>] [CLUSTER BY c1[, c2…]]\n" +
          "  GRAFT VACUUM {'<root>'|TABLE <name>} [RETAIN <n> HOURS]\n" +
          "  GRAFT EXPIRE {'<root>'|TABLE <name>} KEEP <k>\n" +
          "  GRAFT MAINTAIN {'<root>'|TABLE <name>} [TARGET <bytes>] [CLUSTER BY c1[, c2…]]\n" +
          "  GRAFT MOR {'<root>'|TABLE <name>} {ON|OFF}\n" +
          "  GRAFT FOLD {'<root>'|TABLE <name>} [TARGET <bytes>]")
    }
  }

  /** `ALTER TABLE t RENAME COLUMN a TO b` / `ALTER TABLE t DROP
    * COLUMN[S] [IF EXISTS] …` re-routed to the manifest schema
    * ledger when `t` is a session-catalog `graft-manifest` table.
    * This MUST happen at parse time: the statements are v2-only, so
    * `ResolveSessionCatalog` throws `unsupportedTableOperationError`
    * for a V1 target DURING resolution — no injected resolution or
    * post-hoc rule ever sees the plan. Non-manifest targets (and any
    * lookup failure) pass through untouched and keep the stock
    * behavior. Top-level columns only — nested paths refuse with the
    * reason named. */
  /** The session-catalog identifier behind a multipart name IFF it
    * names a `graft-manifest` table (temp views and lookup failures
    * return None → stock behavior). */
  private def manifestIdentOf(session: SparkSession,
                              multipart: Seq[String])
      : Option[TableIdentifier] = {
    val ident = graft.sources.ManifestSql.sessionIdentOf(multipart)
      .getOrElse(return None)
    // a LOOKUP MISS is the ordinary non-manifest case → stock
    // behavior; an INFRASTRUCTURE failure (metastore down mid-parse)
    // must not silently disengage the rewrite — the statement would
    // then die with the confusing stock v2-only error — so it is
    // logged loudly before falling through (the statement re-touches
    // the catalog at resolution and surfaces the real failure there)
    val isManifest =
      try graft.sources.ManifestSql.manifestEntryOf(session, ident).isDefined
      catch {
        case scala.util.control.NonFatal(t) =>
          graft.util.Log.warn(
            s"catalog lookup of ${ident.quotedString} failed during " +
              s"parse-time manifest detection (${t.getClass.getName}: " +
              s"${t.getMessage}); falling through to stock behavior — " +
              "if this IS a manifest table, the statement may fail " +
              "with a v2-only error instead of the manifest path")
          false
      }
    if (isManifest) Some(ident) else None
  }

  private def manifestRootOf(session: SparkSession,
                             ident: TableIdentifier): String =
    graft.sources.ManifestSql.rootOfEntry(
      session.sessionState.catalog.getTableMetadata(ident))

  private def rewriteManifestSql(session: SparkSession,
                                 plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
      UnresolvedFieldName, UnresolvedRelation, UnresolvedTable}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.{DropColumns,
      RenameColumn}
    def topLevel(name: Seq[String], verb: String): String = name match {
      case Seq(col) => col
      case nested => throw new UnsupportedOperationException(
        s"manifest $verb renames/drops top-level columns only; " +
          s"'${nested.mkString(".")}' is nested")
    }
    val altered = plan match {
      case RenameColumn(u: UnresolvedTable, UnresolvedFieldName(name),
          newName) =>
        manifestIdentOf(session, u.multipartIdentifier)
          .map(ident => ManifestSqlAlter.RenameColumnCommand(
            ident, topLevel(name, "RENAME COLUMN"), newName): LogicalPlan)
          .getOrElse(plan)
      case DropColumns(u: UnresolvedTable, cols, ifExists) =>
        manifestIdentOf(session, u.multipartIdentifier).map { ident =>
          val names = cols.map {
            case UnresolvedFieldName(name) =>
              topLevel(name, "DROP COLUMN")
            case other => throw new IllegalStateException(
              s"unexpected field shape in DROP COLUMN: $other")
          }
          ManifestSqlAlter.DropColumnsCommand(ident, names,
            ifExists): LogicalPlan
        }.getOrElse(plan)
      // ALTER COLUMN … TYPE — v2-only like RENAME/DROP COLUMN, so
      // the re-route must happen at parse time too. ONLY the pure
      // type-change shape routes to the ledger widen; any other spec
      // (comment, position, nullability, default) passes through to
      // the stock (refusing) path rather than being half-applied.
      case ac: org.apache.spark.sql.catalyst.plans.logical.AlterColumns
          if ac.table.isInstanceOf[UnresolvedTable] &&
            ac.specs.forall(s => s.newDataType.isDefined &&
              s.newNullability.isEmpty && s.newComment.isEmpty &&
              s.newPosition.isEmpty && s.newDefaultExpression.isEmpty &&
              !s.dropDefault) =>
        val u = ac.table.asInstanceOf[UnresolvedTable]
        manifestIdentOf(session, u.multipartIdentifier).map { ident =>
          require(ac.specs.size == 1,
            "manifest ALTER COLUMN TYPE changes one column per " +
              "statement")
          val spec = ac.specs.head
          val col = spec.column match {
            case UnresolvedFieldName(name) =>
              topLevel(name, "ALTER COLUMN")
            case other => throw new IllegalStateException(
              s"unexpected field shape in ALTER COLUMN: $other")
          }
          ManifestSqlAlter.WidenColumnCommand(ident, col,
            spec.newDataType.get): LogicalPlan
        }.getOrElse(plan)
      case other => other
    }
    // `FROM t VERSION AS OF n` / `TIMESTAMP AS OF ts` on a manifest
    // catalog table, anywhere in the query: v2-only syntax (the V1
    // resolution path throws), re-routed to the graft_manifest TVF —
    // the same pinned pruned relation the option path serves.
    // TIMESTAMP AS OF resolves by COMMIT TIME (manifest publish
    // mtime, the Delta convention) to the latest version at or
    // before it, computed now — the statement executes immediately
    // after parsing. Non-manifest relations pass through untouched.
    altered.transformUpWithSubqueries {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
        manifestIdentOf(session, u.multipartIdentifier).map { ident =>
          val root = manifestRootOf(session, ident)
          val version = (ver, ts) match {
            case (Some(v), _) =>
              scala.util.Try(v.trim.toInt).getOrElse(
                throw new IllegalArgumentException(
                  s"VERSION AS OF on ${ident.quotedString} takes an " +
                    s"integer manifest version; got '$v'"))
            case (None, Some(Literal(s, org.apache.spark.sql.types
                .StringType))) =>
              val text = s.toString
              // interpret the literal in the SESSION timezone, like
              // every other timestamp in the query (Timestamp/Date
              // .valueOf parse the LOCAL datetime fields; going
              // through LocalDateTime strips the JVM default zone
              // they'd otherwise bake in)
              val zone = java.time.ZoneId.of(
                session.sessionState.conf.sessionLocalTimeZone)
              val millis = scala.util.Try(
                java.sql.Timestamp.valueOf(text).toLocalDateTime).orElse(
                scala.util.Try(
                  java.sql.Date.valueOf(text).toLocalDate.atStartOfDay()))
                .map(_.atZone(zone).toInstant.toEpochMilli)
                .getOrElse(throw new IllegalArgumentException(
                  s"TIMESTAMP AS OF: cannot parse '$text' — use " +
                    "'yyyy-MM-dd[ HH:mm:ss[.f]]'"))
              ManifestTable.versionAt(root, millis).getOrElse(
                throw new IllegalArgumentException(
                  s"TIMESTAMP AS OF '$s' predates every surviving " +
                    s"version of ${ident.quotedString}"))
            case (None, Some(other)) =>
              throw new UnsupportedOperationException(
                "TIMESTAMP AS OF on a manifest table takes a literal " +
                  s"'yyyy-MM-dd HH:mm:ss[.f]' string; got ${other.sql}")
            case (None, None) => throw new IllegalStateException(
              s"time travel with neither version nor timestamp: $tt")
          }
          // emit the pinned pruned relation DIRECTLY (what the
          // graft_manifest TVF builds) rather than a call to the
          // TVF: the TVF is a session-temporary function, and a
          // PERSISTENT view body may not reference temp objects —
          // the relation plan has no such reference, so views over
          // the syntax create and re-read cleanly (each re-parse
          // re-pins, like every other registration-free read). The
          // SubqueryAlias keeps the FULL multipart identifier as the
          // qualifier, so both `SELECT t.c FROM t VERSION AS OF n`
          // and the database-qualified `SELECT db.t.c FROM db.t
          // VERSION AS OF n` resolve like the stock syntax would.
          org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
            ident.database.toSeq :+ ident.table,
            graft.sources.ManifestSql.relation(session, root,
              Some(version)).queryExecution.analyzed): LogicalPlan
        }.getOrElse(tt)
    }
  }

  case class GraftCompactCommand(target: TableRef, targetBytes: Long,
                                 clusterBy: Seq[String])
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("version", IntegerType, nullable = false)(),
      AttributeReference("files", LongType, nullable = false)())
    override def run(session: SparkSession): Seq[Row] = {
      val root = target.rootIn(session)
      val snap = ManifestTable.compact(session, root, targetBytes,
        clusterBy = clusterBy)
      session.catalog.refreshByPath(root)
      Seq(Row(snap.version, snap.files.size.toLong))
    }
  }

  case class GraftVacuumCommand(target: TableRef, graceMillis: Long)
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("swept_files", LongType, nullable = false)())
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(ManifestTable.vacuum(target.rootIn(session),
        graceMillis).size.toLong))
  }

  case class GraftExpireCommand(target: TableRef, keep: Int)
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("expired_versions", LongType, nullable = false)())
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(ManifestTable.expireManifests(target.rootIn(session),
        keep).size.toLong))
  }

  /** `GRAFT MOR <t> ON|OFF` — declare (or revoke) merge-on-read
    * deletes: with the flag on, SQL `DELETE FROM` records deletion
    * vectors instead of rewriting victim files
    * ([[ManifestTable.setMorDeletes]]). */
  case class GraftMorCommand(target: TableRef, on: Boolean)
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("version", LongType, nullable = false)())
    override def run(session: SparkSession): Seq[Row] =
      Seq(Row(ManifestTable.setMorDeletes(target.rootIn(session), on)
        .version.toLong))
  }

  /** `GRAFT FOLD <t> [TARGET <bytes>]` — rewrite ONLY the files
    * carrying a deletion vector (the physical-erase completion of a
    * merge-on-read delete): [[ManifestTable.foldDeletes]]. Zero-cost
    * no-op on a DV-free table. Returns the head version (unchanged
    * when nothing folded). */
  case class GraftFoldCommand(target: TableRef, targetBytes: Long)
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("version", LongType, nullable = false)())
    override def run(session: SparkSession): Seq[Row] = {
      val root = target.rootIn(session)
      val snap = ManifestTable.foldDeletes(session, root, targetBytes)
      session.catalog.refreshByPath(root)
      Seq(Row(snap.version.toLong))
    }
  }

  case class GraftMaintainCommand(target: TableRef, targetBytes: Long,
                                  clusterBy: Seq[String])
    extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("version", IntegerType, nullable = false)(),
      AttributeReference("files", LongType, nullable = false)(),
      AttributeReference("compacted", BooleanType, nullable = false)(),
      AttributeReference("expired_versions", LongType, nullable = false)(),
      AttributeReference("swept_files", LongType, nullable = false)())
    override def run(session: SparkSession): Seq[Row] = {
      val root = target.rootIn(session)
      val m = ManifestTable.maintain(session, root, targetBytes,
        clusterBy = clusterBy)
      session.catalog.refreshByPath(root)
      Seq(Row(m.snapshot.version, m.snapshot.files.size.toLong,
        m.compacted, m.expired.size.toLong, m.vacuumed.size.toLong))
    }
  }
}
