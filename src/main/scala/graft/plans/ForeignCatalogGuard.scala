package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel,
  UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, AlterColumns,
  DropColumns, LogicalPlan, RenameColumn, ReplaceColumns, TruncateTable}

import graft.catalog.GraftCatalog
import graft.sources.ManifestSql

/** The statements a session bound to ANOTHER `spark_catalog` cannot
  * run on a `USING graft-manifest` entry — `TRUNCATE TABLE`, every
  * column ALTER (add, replace, rename, drop, alter) and `VERSION AS OF`
  * / `TIMESTAMP AS OF` time travel — refused with the fix named. The
  * check runs on the parsed statement ([[GraftSqlParser]] calls it):
  * Spark's V1 path would otherwise fail them during resolution, or at
  * run time, with its own external-table messages, or turn a column
  * change into a catalog-only edit the manifest never sees. A
  * graft-catalog session returns at once (its [[GraftCatalog]] serves
  * every one of them). */
private[plans] object ForeignCatalogGuard {

  def checked(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    def refuse(target: LogicalPlan, verb: String): Unit = (target match {
      case u: UnresolvedTable => ManifestSql.sessionIdentOf(u.multipartIdentifier)
      case u: UnresolvedRelation => ManifestSql.sessionIdentOf(u.multipartIdentifier)
      case _ => None
    }).flatMap(ManifestSql.manifestEntryOf(spark, _)).foreach { entry =>
      throw new UnsupportedOperationException(s"$verb on the graft-manifest " +
        s"table ${entry.identifier.quotedString} needs graft's catalog: set " +
        s"${GraftCatalog.SessionCatalogKey}=graft.catalog.GraftCatalog " +
        "(Sessions.local and GraftCatalog.install do)")
    }
    if (!GraftCatalog.isSessionCatalog(spark)) plan.foreach {
      case t: TruncateTable => refuse(t.table, "TRUNCATE TABLE")
      case a @ (_: AddColumns | _: ReplaceColumns | _: DropColumns |
                _: RenameColumn | _: AlterColumns) =>
        refuse(a.children.head, "ALTER TABLE (column change)")
      case t: RelationTimeTravel => refuse(t.relation, "time travel")
      case _ => ()
    }
    plan
  }
}
