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
  * Delta-SQL-parser pattern): a thin wrapper that owns the `GRAFT …`
  * grammar and DELEGATES everything else, byte for byte and plan for
  * plan, to the session parser it wraps. It rewrites no other
  * statement: ALTER, time travel and every other verb on a manifest
  * table resolve through [[graft.catalog.GraftCatalog]]. In a session
  * bound to another `spark_catalog`, the delegated statements pass
  * [[ForeignCatalogGuard]], which refuses the manifest verbs that
  * session's V1 path cannot serve, with the fix named.
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
  * handled the root — `TABLE db.t`, resolved at run time to its
  * `USING graft-manifest` entry; a non-manifest name refuses with the
  * path form suggested.
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
      ForeignCatalogGuard.checked(session, delegate.parsePlan(sqlText)))

  // parameterized spark.sql(text, args) must keep its binding — only
  // intercept our grammar (which has no parameters), else delegate the
  // PARAMETERIZED entry point, not parsePlan
  override def parsePlanWithParameters(sqlText: String,
                                       ctx: ParameterContext): LogicalPlan =
    parseGraft(sqlText).getOrElse(ForeignCatalogGuard.checked(session,
      delegate.parsePlanWithParameters(sqlText, ctx)))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
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
    * the root — a session-catalog identifier (`TABLE db.t`) naming a
    * `USING graft-manifest` entry. Name resolution happens at RUN
    * time (the command may be planned ahead of execution); the
    * multipart parse happens at parse time, so a malformed identifier
    * fails with the usage line. */
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
    override def rootIn(session: SparkSession): String =
      graft.sources.ManifestSql.sessionIdentOf(parts)
        .flatMap(graft.sources.ManifestSql.manifestEntryOf(session, _))
        .map(graft.sources.ManifestSql.rootOfEntry)
        .getOrElse(throw new IllegalArgumentException(
          s"GRAFT maintenance by name needs a session-catalog " +
            s"`USING graft-manifest` table; '$raw' is not one — for " +
            "temp views or unregistered tables address the root " +
            "path: GRAFT … '<root>'"))
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
