package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main and the test suite run on:
  * `local[cpus]` with `cpus` shuffle partitions, UTC, nanos-as-long
  * parquet timestamps, non-ANSI casts, the graft planner extensions, the
  * `SnapCatalog` with storage-partitioned (v2 bucketing) joins, and no UI.
  * Returns the JVM's existing session if one is already running. Callers
  * set their own log level.
  */
object Session {
  def local(cpus: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.SnapCatalog")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.sql.warehouse.dir", "target/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
