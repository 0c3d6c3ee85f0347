package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** METADATA TABLES over [[BucketedSnapshots]] state — the Iceberg
  * `history`/`files`/`metadata` role: the table format records rich
  * state (pointer, manifests, delete-vector sidecars, zonemap stats,
  * tags, branches) and these expose it as queryable DataFrames, so
  * "when did v=12 commit relative to retention? how many files per
  * bucket? what bounds does pruning see? what does GC hold?" are SQL
  * questions instead of by-hand file reads.
  *
  * Scale shape: all three read MANIFEST-SIZED state — lines are one per
  * bucket, stats one per (bucket, column), file listings one directory
  * listing per bucket. At 100 TB that is thousands of rows of metadata,
  * driver-assembled like every manifest resolve in the format, and
  * explicitly NOT a data scan (no parquet footer is opened).
  */
object TableMeta {

  /** One row per READABLE table version (retained, tagged, or a branch
    * head), newest first: liveness, bucket count, outstanding
    * delete-vector sidecars, the committed hash arity, and the names
    * pinning it (tags / branch heads).
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val live = BucketedSnapshots.currentVersion(spark, path)
    val tags = Snapshots.readRefs(spark, path)
    val branches = Snapshots.readBranches(spark, path)
    val rows = BucketedSnapshots.versions(spark, path).map { v =>
      val m = BucketedSnapshots.readManifest(spark, path, v)
      val dvs = BucketedSnapshots.readDvs(spark, path, v)
      (v,
        live.contains(v),
        m.size.toLong,
        dvs.valuesIterator.map(_.size).sum.toLong,
        BucketedSnapshots.readNBuckets(spark, path, v).getOrElse(0),
        (tags.collect { case (n, tv) if tv == v => n }.toSeq.sorted ++
          branches.collect { case (n, (hv, _)) if hv == v => s"branch:$n" }.toSeq.sorted)
          .mkString(","))
    }
    rows.toDF("version", "is_live", "buckets", "delete_vectors", "n_buckets", "refs")
  }

  /** One row per DATA FILE of a version (default: live): bucket, bucket
    * version, file name, bytes. The read-amplification view —
    * `files().groupBy("bucket").count()` is the "should I compact"
    * question.
    */
  def files(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val v = Snapshots.requireLive(path,
      version.orElse(BucketedSnapshots.currentVersion(spark, path)))
    require(BucketedSnapshots.versions(spark, path).contains(v),
      s"v=$v at $path is not a readable committed version")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rows = BucketedSnapshots.readManifest(spark, path, v).toSeq.sorted.flatMap {
      case (b, bv) =>
        fs.listStatus(new Path(s"$path/b=$b/v=$bv")).toSeq
          .filter { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          .map(st => (v, b, bv, st.getPath.getName, st.getLen))
    }
    rows.toDF("version", "bucket", "bucket_version", "file", "bytes")
  }

  /** One row per (bucket, stat column) of a version's zonemap sidecar
    * (default: live): the exact bounds data-skipping reads prune with.
    * `typ` is the sidecar's storage class (`l` integral / `d` double /
    * `c` decimal / `s` string (URL-safe Base64 of the UTF-8 bytes) / `n`
    * no non-null values); min/max are the sidecar strings verbatim —
    * what pruning compares, not a re-derivation.
    */
  def statsTable(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val v = Snapshots.requireLive(path,
      version.orElse(BucketedSnapshots.currentVersion(spark, path)))
    require(BucketedSnapshots.versions(spark, path).contains(v),
      s"v=$v at $path is not a readable committed version")
    val (_, stats) = BucketedSnapshots.readStats(spark, path, v)
    val rows = stats.toSeq.sortBy(_._1).flatMap { case (b, ss) =>
      ss.map(s => (v, b, s.col, s.typ.toString, s.min, s.max, s.file))
    }
    // `file` empty = the whole-bucket entry; nonEmpty = a per-file entry
    // (fragmented buckets carry both — sub-bucket skipping hints)
    rows.toDF("version", "bucket", "column", "typ", "min", "max", "file")
  }
}
