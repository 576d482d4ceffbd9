package graft.api

import org.apache.spark.sql.SparkSession

/** The one local-session recipe for the repository's mains and test
  * suites: `local[cores]` with `cores` shuffle partitions, the graft
  * session extensions, the catalog [[Metastore.configure]] picks with
  * [[graft.catalog.GraftCatalog]] bound as `spark_catalog` (and as the
  * `graft` alias) so manifest catalog entries resolve through it, UTC
  * session time, AQE on, NANOS parquet timestamps read as longs (the
  * base-table fixtures have shipped both NANOS and MICROS), no UI.
  * Returns the JVM's session (`getOrCreate`); log levels and any
  * runtime conf changes stay with the caller. */
object Sessions {
  def local(cores: Int): SparkSession =
    Metastore.configure(SparkSession.builder().master(s"local[$cores]"))
      .withExtensions(new graft.plans.GraftSparkExtensions)
      .config(graft.catalog.GraftCatalog.SessionCatalogKey,
        classOf[graft.catalog.GraftCatalog].getName)
      .config(graft.catalog.GraftCatalog.ConfKey,
        classOf[graft.catalog.GraftCatalog].getName)
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
