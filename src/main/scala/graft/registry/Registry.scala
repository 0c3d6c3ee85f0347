package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine query: a Spark DataFrame program over the testdata
  * tables plus (where SQL-expressible) the equivalent ANSI SQL the DuckDB
  * oracle runs on the same parquet — the driver hash-compares the two
  * (column names sorted, values hashed), so every aliased column must match
  * name-for-name and value-for-value.
  *
  * Determinism conventions (so a hash compare is even possible):
  *  - aggregate sums/avgs route through `CAST(x AS DECIMAL(38,6))` — exact,
  *    order-independent arithmetic — then cast back to double;
  *  - per-row doubles mirror the oracle's expression tree exactly (same
  *    IEEE-754 ops in the same association order -> bit-identical results);
  *  - min/max/count/count-distinct are order-independent already.
  *
  * `planView`: for queries whose `run` crosses a materialization boundary
  * (persist / localCheckpoint / write+read), the SAME program built with
  * [[graft.operators.Boundary.None]] — a fully lazy plan. Plan-hygiene
  * tests sweep this view, so a boundary can never hide a quadratic join
  * from PlanSpec (the values are identical by Boundary's contract).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false,
    planView: Option[(SparkSession, String) => DataFrame] = None)

object Registry {
  lazy val all: Seq[Q] =
    ParityQueries.all ++ TrainingQueries.all ++ FeaturePipeline.all ++ StageQueries.all ++
      ConnectorQueries.all

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap

  /** Where row `name` keeps its tables for dataset `d`: `tmp/<name>_<d>`
    * (`d` reduced to `[A-Za-z0-9_]`) beside the session's warehouse dir.
    * `graft.Session` puts the warehouse at `target/warehouse` of the
    * working directory, so each checkout's runs write into its own
    * `target/tmp`.
    */
  private[registry] def scratch(s: SparkSession, name: String, d: String): String = {
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val root = wh.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(wh)
      .getParent.toUri.getPath
    s"$root/tmp/${name}_${d.replaceAll("[^A-Za-z0-9]", "_")}"
  }

  /** Shared SQL fragments for oracle queries. */
  object Ora {
    /** events with integer epoch seconds / epoch days derived from the
      * nanosecond timestamp — matches the Spark side's `ts div 1e9` on the
      * nanos-as-long read exactly (pure integer floor division both sides).
      */
    val EV: String =
      "ev AS (SELECT event_id, epoch_ns(ts)//1000000000 AS epoch, " +
        "epoch_ns(ts)//86400000000000 AS day, user_id, event_type, value, props FROM events)"

    /** Exact order-independent sum: decimal accumulate, double out. */
    def DS(x: String): String = s"CAST(SUM(CAST(($x) AS DECIMAL(38,6))) AS DOUBLE)"

    /** Exact avg: decimal sum over non-null count. */
    def DA(x: String): String = s"${DS(x)} / COUNT($x)"

    /** [[DA]] with explicit microunit quantization — mirrors
      * `Scalars.davgQ`; used where the decimal cast's half-unit tie hazard
      * has actually bitten (see davgQ's scaladoc).
      */
    def DAQ(x: String): String =
      s"CAST(SUM(CAST(floor(($x) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT($x)"
  }
}
