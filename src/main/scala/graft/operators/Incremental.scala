package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-batch lifecycle: watermark reads, bounded catch-up filters,
  * append / full-refresh / keyed-upsert sinks (SURVEY.md §2.1, §2.7).
  * The maintained tables here (keyed upsert, aggregate state) commit
  * through the [[Snapshots]] pointer protocol: each commit writes the full
  * next snapshot to `v=N+1` and flips `_CURRENT`; read them with
  * [[Snapshots.readCurrent]] (or [[readAggState]]).
  *
  * The reference's mechanism is a scalar-subquery high-watermark
  * (`WHERE ts > (SELECT MAX(ts) FROM target)`,
  * stage_tranformation_queries.py:20) with a default resume epoch when the
  * target is empty (utils.py:22), strict `>` so re-runs are idempotent-ish,
  * plus DISTINCT at stage.
  */
object Incremental {

  /** The reference's default resume point for an empty target
    * (src/pipelines/utils.py:22 — 2019-05-07T00:00:00Z).
    */
  val DefaultStartEpoch = 1557187200L

  /** Two-phase watermark read: `COALESCE(MAX(col), default)` on the target.
    * One tiny job (parquet footer stats usually answer MAX without a full
    * scan); the literal then pushes down into the source scan — at 100 TB
    * this prunes whole `year,month` partitions.
    */
  def maxWatermark(target: DataFrame, c: Column, default: Long = 0L): Long = {
    val row = target.agg(max(c)).head()
    if (row.isNullAt(0)) default else row.get(0) match {
      case l: Long => l
      case i: Int => i.toLong
      case t: java.sql.Timestamp => t.getTime / 1000
      case d: Double => d.toLong
      case other => other.toString.toDouble.toLong
    }
  }

  /** First-run probe: the target table, or an empty frame of `schema` when
    * the target does not exist yet — the path-level analog of the
    * reference's exists-then-CTAS-or-INSERT catalog probe
    * (defi_events.py:90-94,137-139). Feeding the empty frame into
    * [[maxWatermark]] bootstraps the first load from the default epoch,
    * which is exactly the hole the reference's NULL scalar-subquery
    * watermark falls into on an empty target (SURVEY §7.4.8).
    */
  def readTargetOrEmpty(spark: SparkSession, path: String, schema: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(schema))
  }

  /** Strict-`>` watermark filter — the incremental slice. */
  def newerThan(source: DataFrame, c: Column, watermark: Long): DataFrame =
    source.filter(c > watermark)

  /** Bounded catch-up: at most `windowSize` units past the watermark per run
    * (reference MAX_TIMEWINDOW_DAYS=10, raw/defi_events.py:58).
    */
  def boundedCatchUp(source: DataFrame, c: Column, watermark: Long, windowSize: Long): DataFrame =
    source.filter(c > watermark && c <= watermark + windowSize)

  /** Append-sink with partition columns — the raw/stage layer write
    * (reference: df.write partitioned by year,month, raw/defi_events.py:38-45).
    */
  def appendPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(path)

  /** Full-refresh (CTAS-equivalent) sink — drop + rebuild
    * (reference: save_defi_features_datalake.py:34-53). Spark's overwrite is
    * atomic-enough per directory; no manual S3 prefix delete needed.
    */
  def overwriteTable(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** SCHEMA EVOLUTION for the maintained-table sinks: align two frames to
    * their UNION-BY-NAME schema before a keyed merge — the missing side of
    * an added column is null-backfilled, so adding a column to a 100 TB
    * maintained table is one ordinary commit (old rows read as NULL).
    * Shared columns must keep their type (`sameType`, nullability-blind):
    * a retyped column is REJECTED up front — silently coercing it would
    * corrupt every historical row at merge time. Column order: the
    * existing table's order, new columns appended.
    *
    * Note the interaction with row-wise update-wins merges: a batch that
    * OMITS an existing column null-backfills it, so rows the batch updates
    * get NULL there (the update row is the new truth — the same rule as a
    * batch that explicitly sets NULL). Producers evolving a schema should
    * keep sending every live column.
    */
  private[graft] def alignSchemas(
      existing: DataFrame, batch: DataFrame): (DataFrame, DataFrame) = {
    val e = existing.schema.map(f => f.name -> f.dataType).toMap
    val b = batch.schema.map(f => f.name -> f.dataType).toMap
    (e.keySet intersect b.keySet).foreach { c =>
      require(org.apache.spark.sql.types.DataType.equalsStructurally(
        e(c), b(c), ignoreNullability = true),
        s"incompatible schema change on column '$c': table has ${e(c).catalogString}, " +
          s"batch has ${b(c).catalogString} — retyping a maintained column is not supported")
    }
    val cols = existing.columns.toSeq ++ batch.columns.filterNot(e.contains)
    def conform(df: DataFrame, have: Map[String, org.apache.spark.sql.types.DataType]) =
      df.select(cols.map(c =>
        if (have.contains(c)) col(c)
        else lit(null).cast(b.getOrElse(c, e(c))).as(c)): _*)
    (conform(existing, e), conform(batch, b))
  }

  /** Last-writer-wins merge of `updates` into `existing` on `key`:
    * full-outer join, update row preferred, unmatched rows from both kept.
    * Schema-evolving via [[alignSchemas]]. Shared by the upsert sinks here
    * and [[graft.operators.BucketedSnapshots.upsertByKey]].
    */
  private[graft] def mergeByKey(existing0: DataFrame, updates0: DataFrame, key: String): DataFrame = {
    val (existing, updates) = alignSchemas(existing0, updates0)
    val updCols = updates.columns
    val u = updates.select(updCols.map(c => col(c).as(s"u_$c")): _*)
    // Row-wise winner, keyed on UPDATE-ROW PRESENCE (u_key non-null after
    // the full-outer), not column-wise coalesce: an update row that
    // legitimately sets a non-key column to NULL must win with that NULL,
    // not silently retain the stale existing value — the same
    // when(incomingWins) rule as [[graft.operators.Cdc.mergeSnapshots]].
    val incomingWins = col(s"u_$key").isNotNull
    existing
      .join(u, col(key) === col(s"u_$key"), "full_outer")
      .select(updCols.map(c => when(incomingWins, col(s"u_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** Keyed upsert: merge `updates` into the keyed table at `path` —
    * last-writer-wins per key, preferring the update row. This is the
    * Mongo-upsert equivalent (save_defi_features_features_db.py:28-34)
    * realized as a keyed-overwrite: full-outer on the key, update wins.
    * For a remote KV store, swap the write for `df.foreachPartition` with a
    * bulk-upsert client; the dataflow upstream is identical.
    *
    * Commit: [[Snapshots.commitWith]] — the merged snapshot lands in
    * `v=N+1`, then one atomic `_CURRENT` flip publishes it, so a crash
    * leaves `v=N` live and there is no window with no live table. The
    * writer merges only from the pointer-committed version: a
    * `_SUCCESS`-complete but never-committed snapshot is not a merge base.
    * Read with [[Snapshots.readCurrent]]; returns the committed version.
    * A big keyed table whose batches touch few keys belongs in
    * [[BucketedSnapshots.upsertByKey]], which rewrites only the touched
    * buckets.
    */
  def upsertByKey(spark: SparkSession, updates: DataFrame, path: String, key: String): Long =
    Snapshots.commitWith(spark, path, {
      case None => updates
      case Some(cur) => mergeByKey(cur, updates, key)
    })

  /** Serve-boundary schema: storage snake_case -> serve camelCase. The
    * reference renames `wallet_address` -> `walletAddress` when handing the
    * datalake features table to the serving KV store
    * (save_defi_features_features_db.py:57); this is that contract for the
    * whole row, as a single narrow projection (no per-column plan rewrites).
    */
  def toServeSchema(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(camelCase(c))).toSeq: _*)

  private[operators] def camelCase(s: String): String =
    "_([a-z0-9])".r.replaceAllIn(s, m => m.group(1).toUpperCase)

  /** Incremental aggregate-view maintenance: a persisted per-key state
    * table of MERGEABLE partials — `(keys…, _sum decimal(38,6), _cnt,
    * _min, _max)` — folded batch by batch, so a 100 TB-history rollup
    * absorbs today's slice without ever recomputing history (the
    * aggregate-table counterpart of [[Cdc.applyChanges]]; same pointer
    * commit, returns the committed version). Because decimal sums,
    * counts, and min/max are associative AND commutative, any batch
    * slicing and any arrival order converge to
    * the full-recompute state bit-for-bit — which is what lets
    * [[readAggState]]'s derived `avg` hash-match a from-scratch oracle.
    *
    * Scale shape: each batch partial-aggregates map-side to ≤|keys| rows
    * before one keyed full-outer merge against the state; history rows
    * stream through untouched. NOT idempotent under replay (a re-applied
    * batch double-counts — unlike the seq-guarded [[Cdc]] merge); feed it
    * exactly-once slices (the [[maxWatermark]] read contract) or use
    * [[aggStateApplyBatch]], whose applied-batch manifest commits
    * atomically with the data.
    */
  def aggStateApply(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      measureCol: String): Long =
    Snapshots.commitWith(spark, path, mergedAggState(batch, keyCols, measureCol))

  /** The merged-partials snapshot [[aggStateApply]] / [[aggStateApplyBatch]]
    * commit: the batch's map-side partial aggregation full-outer-merged
    * into the current state (or the partial alone on bootstrap).
    */
  private def mergedAggState(batch: DataFrame, keyCols: Seq[String], measureCol: String)(
      state: Option[DataFrame]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val part = batch.groupBy(keyCols.map(col): _*)
      .agg(
        sum(col(measureCol).cast("decimal(38,6)")).as("_sum"),
        count(col(measureCol)).as("_cnt"),
        min(col(measureCol)).as("_min"),
        max(col(measureCol)).as("_max"))
    state.fold(part) { cur =>
      val st = cur
        .select(keyCols.map(col) ++
          Seq(col("_sum").as("_s0"), col("_cnt").as("_c0"),
            col("_min").as("_m0"), col("_max").as("_x0")): _*)
      st.join(part, keyCols, "full_outer")
        .select(keyCols.map(col) ++ Seq(
          (coalesce(col("_s0"), lit(0).cast("decimal(38,6)")) +
            coalesce(col("_sum"), lit(0).cast("decimal(38,6)"))).as("_sum"),
          (coalesce(col("_c0"), lit(0L)) + coalesce(col("_cnt"), lit(0L))).as("_cnt"),
          least(col("_m0"), col("_min")).as("_min"),
          greatest(col("_x0"), col("_max")).as("_max")): _*)
    }
  }

  /** [[aggStateApply]] guarded for AT-LEAST-ONCE delivery (the streaming
    * foreachBatch contract) through [[commitOnce]]: a replayed batch id
    * is a detected no-op. Returns true iff the batch was applied.
    */
  def aggStateApplyBatch(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keyCols: Seq[String],
      measureCol: String,
      batchId: Long): Boolean =
    commitOnce(spark, path, batchId)(mergedAggState(batch, keyCols, measureCol))

  /** The applied-batch manifest inside each committed version dir. */
  private val AppliedManifest = "_applied.json"

  /** [[Snapshots.commitWith]] made exactly-once for at-least-once
    * delivery: the commit is declined when the version it merges from
    * already applied `batchId`; otherwise the applied-batch manifest is
    * written INTO `v=N+1` as the commit's `stageExtra`, so it lands with
    * the data in the one pointer flip. The replay check reads the version
    * the flip CAS-checks, so a racing commit that applies the batch first
    * aborts this one ([[CommitConflictException]]) instead of counting it
    * twice, and a `v=N+1` that carries a manifest but was never
    * pointer-committed is never consulted. Batch ids must be monotone
    * (Structured Streaming's are). Returns true iff the batch was applied.
    */
  private[graft] def commitOnce(spark: SparkSession, path: String, batchId: Long)(
      f: Option[DataFrame] => DataFrame): Boolean = {
    import org.apache.hadoop.fs.Path
    Snapshots.commitFrom(spark, path,
      cur =>
        if (cur.flatMap(c => readAppliedBatch(spark, path, c._1)).exists(_ >= batchId)) None
        else Some(f(cur.map(_._2))),
      keepVersions = 2,
      stageExtra = dir => {
        val out = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .create(new Path(dir, AppliedManifest), true)
        try out.write(s"""{"appliedThrough":$batchId}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      }).isDefined
  }

  /** The batch id committed version `version` of the table at `path`
    * applied through, if it carries a manifest ([[commitOnce]]).
    */
  private[graft] def readAppliedBatch(
      spark: SparkSession, path: String, version: Long): Option[Long] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(Snapshots.versionDir(path, version), AppliedManifest)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
        catch {
          case e: Exception => throw new java.io.IOException(
            s"corrupt applied-batch manifest $p (cause: ${e.getMessage})", e)
        } finally in.close()
      val f = node.get("appliedThrough")
      if (f == null || !f.canConvertToLong) throw new java.io.IOException(
        s"corrupt applied-batch manifest $p: ${node.toString.take(200)}")
      Some(f.asLong())
    }
  }

  /** The maintained view over [[aggStateApply]] state: exact sum (decimal
    * cast back to double), count, min, max, and the derived mean.
    */
  def readAggState(spark: SparkSession, path: String): DataFrame =
    Snapshots.readCurrent(spark, path)
      .withColumn("sum", col("_sum").cast("double"))
      .withColumn("cnt", col("_cnt"))
      .withColumn("min", col("_min"))
      .withColumn("max", col("_max"))
      .withColumn("avg", when(col("_cnt") > 0L, col("_sum").cast("double") / col("_cnt")))
      .drop("_sum", "_cnt", "_min", "_max")

}
