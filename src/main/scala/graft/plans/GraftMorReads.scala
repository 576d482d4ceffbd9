package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.sources.ManifestSql

/** MERGE-ON-READ read correctness for PATH reads through the
  * provider (`spark.read.format("graft-manifest").option("path",
  * root)`): the provider's relation is a bare pruned parquet relation
  * — when its pinned snapshot carries DELETION VECTORS, this rule
  * swaps in the DV-overlaid plan ([[ManifestSql.dvOverlayFor]]: scan
  * + anti-join on parquet row position, output re-aliased under the
  * original exprIds) so deleted rows never surface. Every other door
  * needs no rule: catalog names and temp views read
  * [[ManifestSql.relation]], which applies the overlay at
  * construction, and the Scala reads overlay inside
  * `ManifestTable.readSnapshot`.
  *
  * Runs LAST in the injected post-hoc batch — the DML rule before it
  * must see its raw relation targets. Uses `transformUp` (not
  * `resolveOperatorsUp`): a reused DataFrame's plan arrives inside an
  * analyzed-marked subtree that the resolve-variants skip.
  * Idempotence comes from [[ManifestSql.DvOverlaidAt]] instead:
  * every manifest relation inside an overlay plan (and every one
  * [[ManifestSql.relation]] builds) carries the pin version its
  * overlay covers, so re-runs and re-analyses of reused plans never
  * double-wrap — while a pin that MOVED since (a temp view after
  * `REFRESH TABLE` or its own DML) is overlaid with its new deletion
  * vectors. Construction recursion is cut by the
  * [[ManifestSql.underConstruction]] thread guard. */
case class GraftMorReads(spark: SparkSession) extends Rule[LogicalPlan] {

  private def needsOverlay(lr: LogicalRelation): Boolean =
    ManifestSql.indexOf(lr).exists(idx => idx.pinnedHasDv &&
      !lr.getTagValue(ManifestSql.DvOverlaidAt)
        .contains(idx.pinnedSnapshot.version))

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (ManifestSql.underConstruction) plan
    else plan.transformUpWithSubqueries {
      case lr: LogicalRelation if needsOverlay(lr) =>
        val idx = ManifestSql.indexOf(lr).get
        // the version BEFORE the overlay reads the pin: a refresh in
        // between only makes the next analysis overlay again
        val version = idx.pinnedSnapshot.version
        val swapped = ManifestSql.dvOverlayFor(spark, idx, lr.relation, lr)
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
