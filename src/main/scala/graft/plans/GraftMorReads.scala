package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.sources.ManifestSql

/** PATH reads through the provider
  * (`spark.read.format("graft-manifest").option("path", root)`) read
  * as every other door does: the provider's relation is a bare pruned
  * parquet relation — when its pinned snapshot carries DELETION
  * VECTORS or a rename chain, this rule swaps in the shaped plan
  * ([[ManifestSql.shapedPathRead]]: the one scan builder's overlay —
  * anti-join on parquet row position — and rename coalesce, output
  * re-aliased under the original exprIds) so deleted rows never
  * surface and renamed columns carry their old files' values. Every
  * other read needs no rule: the Scala reads, the writers' scans,
  * catalog names, temp views and the TVF all plan through
  * [[ManifestSql.scan]], which shapes at construction and tags its
  * relation, so this rule never wraps them a second time.
  *
  * Runs LAST in the injected post-hoc batch — the DML rule before it
  * must see its raw relation targets. Uses `transformUp` (not
  * `resolveOperatorsUp`): a reused DataFrame's plan arrives inside an
  * analyzed-marked subtree that the resolve-variants skip.
  * Idempotence comes from [[ManifestSql.DvOverlaidAt]] instead:
  * every manifest relation inside an overlay plan (and every one
  * [[ManifestSql.scan]] builds) carries the pin version its
  * overlay covers, so re-runs and re-analyses of reused plans never
  * double-wrap — while a pin that MOVED since (a temp view after
  * `REFRESH TABLE` or its own DML) is overlaid with its new deletion
  * vectors. Construction recursion is cut by the
  * [[ManifestSql.underConstruction]] thread guard. */
case class GraftMorReads(spark: SparkSession) extends Rule[LogicalPlan] {

  private def needsShape(lr: LogicalRelation): Boolean =
    ManifestSql.indexOf(lr).exists(idx =>
      !lr.getTagValue(ManifestSql.DvOverlaidAt)
        .contains(idx.pinnedSnapshot.version) && (idx.pinnedHasDv ||
        graft.operators.ManifestTable.colmapOfSnap(idx.pinnedSnapshot).nonEmpty))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (ManifestSql.underConstruction) plan
    else plan.transformUpWithSubqueries {
      case lr: LogicalRelation if needsShape(lr) =>
        val idx = ManifestSql.indexOf(lr).get
        // the version BEFORE the overlay reads the pin: a refresh in
        // between only makes the next analysis overlay again
        val version = idx.pinnedSnapshot.version
        val swapped = ManifestSql.shapedPathRead(spark, idx, lr.relation, lr)
        // tag every relation inside the overlay (including the fresh
        // copy of this one) — reused plans re-enter this rule via
        // transformUp, and the tag is what stops a second wrap
        swapped.foreach {
          case inner: LogicalRelation =>
            inner.setTagValue(ManifestSql.DvOverlaidAt, version)
          case _ => ()
        }
        lr.setTagValue(ManifestSql.DvOverlaidAt, version)
        swapped
    }
}
