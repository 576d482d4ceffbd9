package graft.plans

import org.apache.spark.sql.{Row, SaveMode, SparkSession, graftbridge}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand

import graft.operators.ManifestTable
import graft.sources.ManifestSql

/** Route SQL inserts on CATALOG-registered manifest tables through
  * the ledgered commit protocol.
  *
  * The temp-view front door needs no rule: its relation implements
  * `InsertableRelation`, and Spark's own `DataSourceAnalysis` matches
  * that case first. The PERSISTENT catalog path loses the mixin —
  * `FindDataSourceTable` merges catalog options into the relation via
  * the case-class `copy`, which reconstructs the BASE
  * `HadoopFsRelation` — so those inserts analyze into
  * `InsertIntoHadoopFsRelationCommand` (a raw file write into the
  * table root). This rule runs as a custom post-hoc resolution rule
  * (after `DataSourceAnalysis`, same batch) and rewrites any such
  * command whose file index is a [[ManifestSql.ManifestFileIndex]]
  * into [[ManifestInsertCommand]]. Sessions built WITHOUT the graft
  * extensions never reach the raw write either: the relation's
  * guarded file format refuses `prepareWrite` loudly. */
case class ManifestSqlInserts(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case c: InsertIntoHadoopFsRelationCommand
          if c.fileIndex.exists(_.isInstanceOf[ManifestSql.ManifestFileIndex]) =>
        val idx = c.fileIndex.get.asInstanceOf[ManifestSql.ManifestFileIndex]
        require(c.staticPartitions.isEmpty && c.bucketSpec.isEmpty &&
          !c.ifPartitionNotExists,
          "manifest tables accept plain INSERT INTO / INSERT OVERWRITE " +
            "only — partitioned/bucketed insert shapes have no manifest " +
            "equivalent")
        // versionAsOf (time-travel) registrations are refused inside
        // ManifestSql.sqlInsert, the one owner of the write guards
        ManifestInsertCommand(idx.root, c.query,
          c.mode == SaveMode.Overwrite, c.outputColumnNames, idx)
    }
}

/** The ledgered-commit execution of a SQL insert on a manifest table
  * — a thin shell over [[ManifestSql.sqlInsert]] (the registration's
  * head guard and pin move around [[ManifestSql.sqlWrite]], the one
  * whole-table write owner), shared with the temp-view
  * `InsertableRelation` path. */
case class ManifestInsertCommand(root: String, query: LogicalPlan,
                                 overwrite: Boolean,
                                 outputColumnNames: Seq[String],
                                 index: ManifestSql.ManifestFileIndex)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)
  override def run(session: SparkSession): Seq[Row] = {
    ManifestSql.sqlInsert(session,
      index, graftbridge.ofRows(session, query), overwrite,
      outputColumnNames)
    Seq.empty
  }
}
