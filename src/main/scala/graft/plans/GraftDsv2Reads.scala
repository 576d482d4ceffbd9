package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.catalog.GraftTable

/** The READ half of every [[GraftTable]] — a catalog name
  * ([[graft.catalog.GraftCatalog]]) or a path read
  * ([[graft.sources.ManifestSource]]): every analyzed
  * `DataSourceV2Relation` over one is replaced with the SAME pruned,
  * snapshot-pinned V1 relation a temp view serves
  * ([[graft.sources.ManifestSql.relation]] — the table pins it once
  * per analysis), output attributes re-aliased under the v2
  * relation's exprIds so parent operators keep resolving. This is
  * the public DeltaAnalysis pattern: the v2 catalog owns identity,
  * time travel, ALTER, and the write builder, while ONE scan
  * implementation (stats pruning, Bloom skipping, vectorized parquet
  * exec) serves every front door — a second DSv2 reader would
  * duplicate all of it.
  *
  * Scope notes:
  *  - every relation inside the swapped plan carries a catalog
  *    name's entry, as a V1-resolved table's would:
  *    `spark.catalog.refreshTable` walks the resolved plan and reads
  *    `catalogTable.get` on each `LogicalRelation` leaf;
  *  - runs before [[ManifestSqlDml]] in the injected post-hoc batch,
  *    so DELETE/UPDATE/MERGE targets arrive already in V1 shape and
  *    are served through the ledgered writers — row-level DML works
  *    on `db.t` without `SupportsRowLevelOperations`;
  *  - `V2WriteCommand.table` is NOT a plan child, so INSERT targets
  *    are never rewritten here — they plan through the table's own
  *    `V1Write` fallback;
  *  - subquery plans are rewritten recursively (a membership
  *    subquery may read a `graft.…` relation). */
case class GraftDsv2Reads(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    rewrite(plan, scala.collection.mutable.Set.empty)

  /** `used` tracks tables already swapped in THIS plan tree: the
    * analyzer's per-query relation cache serves ONE [[GraftTable]]
    * instance to both branches of a self-join, so a repeat occurrence
    * takes [[GraftTable.freshRelation]] (same snapshot pin, fresh
    * exprIds) — two branches sharing V1 attributes is the shape
    * DeduplicateRelations normally eliminates, but that rule has
    * already run by post-hoc time. */
  private def rewrite(plan: LogicalPlan,
                      used: scala.collection.mutable.Set[GraftTable])
      : LogicalPlan = {
    val swapped = plan.resolveOperatorsUp {
      case r @ DataSourceV2Relation(t: GraftTable, _, _, _, _, _) =>
        val read =
          (if (used.add(t)) t.relation else t.freshRelation)
            .queryExecution.analyzed
        val v1 = t.entry.fold(read)(e => read.transformUp {
          case lr: LogicalRelation if lr.catalogTable.isEmpty =>
            lr.copy(catalogTable = Some(e))
        })
        val resolver = spark.sessionState.conf.resolver
        val srcs = r.output.map(out =>
          v1.output.find(a => resolver(a.name, out.name))
            .getOrElse(throw new IllegalStateException(
              s"column '${out.name}' of ${t.name()} is missing from " +
                s"the manifest relation at ${t.root} — re-resolve the " +
                "table (the recorded schema moved under this plan)")))
        v1 match {
          // a bare relation takes the v2 attributes themselves, so a
          // temp view over a path read stays insertable
          case lr: LogicalRelation if srcs == lr.output &&
              r.output.map(_.dataType) == lr.output.map(_.dataType) =>
            lr.copy(output = r.output)
          case _ => Project(r.output.zip(srcs).map { case (out, src) =>
            Alias(src, out.name)(exprId = out.exprId,
              qualifier = out.qualifier)
          }, v1)
        }
    }
    swapped.resolveExpressions {
      case sq: SubqueryExpression
          if sq.plan.exists {
            case DataSourceV2Relation(_: GraftTable, _, _, _, _, _) => true
            case _ => false
          } => sq.withNewPlan(rewrite(sq.plan, used))
    }
  }
}
