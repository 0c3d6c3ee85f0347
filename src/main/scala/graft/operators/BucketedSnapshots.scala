package graft.operators

import graft.sources.MetaFile
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Pointer-committed BUCKETED tables: [[Snapshots]]' atomic-pointer commit
  * composed with a touched-buckets-only hash-bucket layout (`b=K`,
  * `K = pmod(xxhash64(key), nBuckets)`) — graft's one bucketed keyed-merge
  * protocol, the shape a BIG keyed table needs on an object store at 100 TB:
  *
  *   path/_CURRENT                     first line = live table version,
  *                                     rest = retained committed versions
  *   path/manifest/v=N.txt             "bucket,bucketVersion" per line —
  *                                     the table AS OF version N
  *   path/b=K/v=M/part-*.parquet       immutable per-bucket snapshots
  *
  * A commit writes NEW `b=K/v=M+1` dirs for the TOUCHED buckets only,
  * writes the next manifest (touched entries updated, untouched entries
  * copied verbatim — their data dirs are REUSED, never rewritten or even
  * read beyond the merge's own touched set), then atomically replaces
  * `_CURRENT`. So:
  *
  *  - write amplification = touched buckets only (the bucketed layout's
  *    point), yet the commit is ONE atomic small-object flip (the
  *    versioned protocol's point) — no per-bucket rename windows, so no
  *    write-ahead log or roll-forward recovery;
  *  - a reader pinned at table version N resolves its manifest once and
  *    reads immutable directories — snapshot isolation across ANY number
  *    of concurrent commits within retention;
  *  - time travel = [[readSnapshot]] at any retained version;
  *  - a crash before the pointer flip leaves inert orphan bucket dirs and
  *    possibly an orphan manifest — both invisible (the pointer never
  *    referenced them) and GC'd by later commits.
  *
  * Retention: the newest `keepVersions` committed table versions (count-
  * based — crash orphans never shrink the window); bucket dirs and
  * manifests referenced by NO retained version are deleted after the
  * flip. This is the role an Iceberg/Delta metadata log plays, reduced to
  * one pointer + one manifest per version. Writers are optimistically
  * concurrent: the pointer flip CAS-checks the merge base and a losing
  * racer aborts with [[CommitConflictException]]
  * (see [[Snapshots.commitWith]]'s concurrency note).
  *
  * One mechanism each: every main commit and [[publishBranch]] end in
  * [[Snapshots.flipPointer]] (the single commit point, shared with the
  * full-snapshot format); every manifest sidecar, ref and branch file is
  * written by [[graft.sources.MetaFile.replace]] (the manifest itself is
  * claimed create-exclusively, [[claimExclusive]]); every read of bucket
  * data goes through [[readBuckets]].
  */
object BucketedSnapshots {

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run `body` under a Spark job description so the commit protocol's
    * jobs are attributable to their phases in the UI / JobStats census.
    */
  private def label[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** ONE listing of a staged `partitionBy("b")` write → bucket id ->
    * staged dir. Replaces per-bucket `fs.exists` probes (one RPC per
    * bucket on a remote store) with a single directory listing.
    */
  private def stagedBucketDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path): Map[Int, org.apache.hadoop.fs.Path] =
    if (!fs.exists(staging)) Map.empty
    else fs.listStatus(staging).iterator.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("b=")) scala.util.Try(n.stripPrefix("b=").toInt)
        .toOption.map(_ -> st.getPath)
      else None
    }.toMap

  private def manifestPath(path: String, v: Long) = s"$path/manifest/v=$v.txt"

  /** (bucket -> bucket version) of a committed table version. Header
    * lines (`#key=value`) carry table metadata — see [[readNBuckets]].
    * Line format: `b,bv` or `b,bv,dv1;dv2;...` — the optional third field
    * lists the bucket's MERGE-ON-READ delete-vector versions (see
    * [[deleteKeys]]).
    */
  private[graft] def readManifest(
      spark: SparkSession, path: String, v: Long): Map[Int, Long] = {
    manifestLines(spark, path, v).filterNot(_.startsWith("#")).map { line =>
      val parts = line.split(",", 3)
      parts(0).toInt -> parts(1).toLong
    }.toMap
  }

  /** (bucket -> delete-vector versions) of a committed table version —
    * the merge-on-read sidecars a reader must anti-join away. Buckets
    * with no sidecars are absent.
    */
  private[graft] def readDvs(
      spark: SparkSession, path: String, v: Long): Map[Int, Seq[Long]] = {
    manifestLines(spark, path, v).filterNot(_.startsWith("#")).flatMap { line =>
      line.split(",", 3) match {
        case Array(b, _, dvs) if dvs.nonEmpty =>
          Some(b.toInt -> dvs.split(";").toSeq.map(_.toLong))
        case _ => None
      }
    }.toMap
  }

  private def dvDir(path: String, b: Int, j: Long) = s"$path/b=$b/dv=$j"

  /** FOLD delete-vector sidecars into a data read: one broadcast
    * anti-join on the key column (the sidecar's only column — the join
    * key needs no out-of-band metadata). Sound on the key alone because a
    * bucket's sidecar can only name keys that hash to that bucket.
    * Broadcast is safe by construction: [[deleteKeys]]' fold threshold
    * bounds the number of outstanding sidecars per bucket, so the dv side
    * stays churn-sized while the 100 TB data side never shuffles.
    */
  private def foldDeletes(
      spark: SparkSession, path: String, data: DataFrame,
      dvs: Seq[(Int, Long)]): DataFrame =
    if (dvs.isEmpty) data
    else {
      val keys = spark.read.option("mergeSchema", "true")
        .parquet(dvs.map { case (b, j) => dvDir(path, b, j) }: _*)
      val kc = keys.schema.fieldNames.head
      data.join(broadcast(keys.select(kc).distinct()), Seq(kc), "left_anti")
    }

  private def dvPairs(dvm: Map[Int, Seq[Long]]): Seq[(Int, Long)] =
    dvm.toSeq.flatMap { case (b, ds) => ds.map(b -> _) }

  /** The manifest text: metadata headers (`#nBuckets=` arity,
    * `#bucketKey=` hash column, `#schema=` recorded table schema as a
    * single-line StructType JSON) + one `b,bv[,dv1;dv2]` line per bucket,
    * written for main and branch commits alike by [[commitManifest]].
    */
  private def manifestBody(
      arity: Option[Int], bucketKey: Option[String],
      schema: Option[StructType],
      manifest: Map[Int, Long], dvs: Map[Int, Seq[Long]]): String =
    (arity.map(n => s"#nBuckets=$n").toSeq ++
      bucketKey.map(k => s"#bucketKey=$k").toSeq ++
      schema.map(sc => s"#schema=${sc.json}").toSeq ++
      manifest.toSeq.sorted.map { case (b, bv) =>
        dvs.get(b) match {
          case Some(ds) if ds.nonEmpty => s"$b,$bv,${ds.mkString(";")}"
          case _ => s"$b,$bv"
        }
      }).mkString("\n")

  private def manifestLines(spark: SparkSession, path: String, v: Long): Seq[String] =
    MetaFile.read(spark, manifestPath(path, v))
      .getOrElse(throw new java.io.FileNotFoundException(s"no manifest ${manifestPath(path, v)}"))
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** The bucket-function arity the table was committed with (`#nBuckets=`
    * manifest header). None only for manifests written before the header
    * existed — those tables cannot point-lookup-prune and do not get the
    * arity-change guard, but read and commit normally.
    */
  private[graft] def readNBuckets(
      spark: SparkSession, path: String, v: Long): Option[Int] =
    manifestLines(spark, path, v)
      .find(_.startsWith("#nBuckets="))
      .flatMap(_.stripPrefix("#nBuckets=").toIntOption)

  /** The column the table's bucket hash is computed over (`#bucketKey=`
    * manifest header). None for pre-header manifests — those tables
    * cannot report their layout to the planner ([[readCurrentSPJ]]) but
    * read and commit normally.
    */
  private[graft] def readBucketKey(
      spark: SparkSession, path: String, v: Long): Option[String] =
    manifestLines(spark, path, v)
      .find(_.startsWith("#bucketKey="))
      .map(_.stripPrefix("#bucketKey="))

  /** The RECORDED table schema of a committed version (`#schema=`
    * header): maintained as the union-by-position-merge of every commit's
    * written schema, so a read can pass it explicitly and skip per-file
    * footer schema merging entirely — missing columns in pre-evolution
    * bucket dirs null-backfill inside the parquet reader. None for
    * pre-header manifests (those reads fall back to `mergeSchema`).
    */
  private[graft] def readTableSchema(
      spark: SparkSession, path: String, v: Long): Option[StructType] =
    manifestLines(spark, path, v)
      .find(_.startsWith("#schema="))
      .map(l => DataType.fromJson(l.stripPrefix("#schema=")).asInstanceOf[StructType])

  /** Read committed bucket dirs of version `v` with the right schema
    * strategy: the recorded `#schema=` header when present (ZERO footer
    * IO — on a never-evolved 100 TB-wide table the per-file footer merge
    * is pure waste) or the legacy `mergeSchema` footer merge for
    * pre-header tables.
    */
  private def readDirs(
      spark: SparkSession, path: String, v: Long, dirs: Seq[String]): DataFrame =
    readTableSchema(spark, path, v) match {
      case Some(sc) => spark.read.schema(sc).parquet(dirs: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(dirs: _*)
    }

  private def bucketDir(path: String, b: Int, bv: Long) = s"$path/b=$b/v=$bv"

  /** THE bucket-subset read of version `v` — every read of bucket data
    * (snapshot, change feed, range, equality and point reads, the merge's
    * pre-header existing side): the `chosen` manifest entries read with
    * [[readDirs]]' schema strategy, or only `files` inside them (per-file
    * zonemap skipping), their delete vectors folded ([[foldDeletes]]).
    * Nothing to read gives an empty frame with the table's schema.
    */
  private def readBuckets(
      spark: SparkSession, path: String, v: Long, chosen: Map[Int, Long],
      files: Option[Seq[String]] = None): DataFrame = {
    val paths = files.getOrElse(chosen.toSeq.sorted.map { case (b, bv) => bucketDir(path, b, bv) })
    if (paths.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[Row](), tableSchema(spark, path, v))
    else foldDeletes(spark, path, readDirs(spark, path, v, paths),
      dvPairs(readDvs(spark, path, v).filter { case (b, _) => chosen.contains(b) }))
  }

  /** Version `v`'s schema: the `#schema=` header, else (pre-header) the
    * footer merge over every bucket dir.
    */
  private def tableSchema(spark: SparkSession, path: String, v: Long): StructType =
    readTableSchema(spark, path, v).getOrElse(readDirs(spark, path, v,
      readManifest(spark, path, v).toSeq.map { case (b, bv) => bucketDir(path, b, bv) }).schema)

  private def nonEmptyManifest(spark: SparkSession, path: String, v: Long): Map[Int, Long] = {
    val m = readManifest(spark, path, v)
    if (m.isEmpty) throw new java.io.FileNotFoundException(
      s"bucketed snapshot v=$v at $path has an empty manifest")
    m
  }

  /** The pointer, validated against its own manifest (the bucketed layout
    * has no `v=N` data dirs for [[Snapshots.pointerState]] to check).
    */
  private def pointerState(
      spark: SparkSession, path: String): Option[(Long, Seq[Long])] =
    pinnedPointer(spark, path)._1

  /** The live table version, if any (same pointer format as [[Snapshots]]). */
  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    pointerState(spark, path).map(_._1)

  /** The live version from one pointer read — every `readCurrent*` read
    * resolves it here and reads it without a second (retention) check.
    */
  private def liveVersion(spark: SparkSession, path: String): Long =
    Snapshots.requireLive(path, currentVersion(spark, path))

  /** [[Snapshots.requireRetained]] against this layout's [[versions]]. */
  private def requireRetained(spark: SparkSession, path: String, version: Long): Unit =
    Snapshots.requireRetained(path, version, versions(spark, path))

  /** Readable committed table versions, newest first: the pointer's
    * retained history plus TAGGED versions (named refs pin a version
    * against retention — see [[tag]]), each validated by its manifest.
    */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, path)
    val retained = pointerState(spark, path).map(_._2).getOrElse(Seq.empty)
    (retained ++ Snapshots.readRefs(spark, path).values ++
      Snapshots.readBranches(spark, path).values.map(_._1)).distinct
      .filter(v => fs.exists(new Path(manifestPath(path, v))))
      .sorted.reverse
  }

  /** TAG a committed table version under a name — the reproducibility pin
    * ([[Snapshots.tag]]'s contract): the tagged version's manifest, stats
    * sidecar, and every bucket dir it references survive retention GC
    * until [[dropTag]]. Shared ref layout (`path/refs/<name>.txt`).
    */
  def tag(spark: SparkSession, path: String, name: String, version: Long,
      overwrite: Boolean = false): Unit = {
    val have = versions(spark, path)
    require(have.contains(version),
      s"cannot tag v=$version at $path: not a readable committed version " +
        s"(have: ${if (have.isEmpty) "none" else have.mkString(", ")})")
    Snapshots.writeRef(spark, path, name, version, overwrite)
    // close the check-then-write race with retention GC (see Snapshots.tag)
    if (!versions(spark, path).contains(version)) {
      dropTag(spark, path, name)
      throw new java.util.ConcurrentModificationException(
        s"tag '$name' at $path lost a race with retention GC: v=$version was " +
          "collected before the ref pinned it — re-tag a retained version")
    }
  }

  /** The version a tag pins, if it exists. */
  def tagVersion(spark: SparkSession, path: String, name: String): Option[Long] =
    Snapshots.readRefs(spark, path).get(name)

  /** All named refs of the table. */
  def listTags(spark: SparkSession, path: String): Map[String, Long] =
    Snapshots.readRefs(spark, path)

  /** Read the table exactly as the named tag pinned it. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame =
    tagVersion(spark, path, name) match {
      case Some(v) => readSnapshot(spark, path, v)
      case None => throw new java.io.FileNotFoundException(s"no ref '$name' at $path")
    }

  /** Drop a tag: its version re-enters normal retention. */
  def dropTag(spark: SparkSession, path: String, name: String): Unit =
    Snapshots.dropTag(spark, path, name)

  /** Read the table exactly as committed at `version` (must be retained). */
  def readSnapshot(spark: SparkSession, path: String, version: Long): DataFrame = {
    requireRetained(spark, path, version)
    snapshot(spark, path, version)
  }

  /** Every bucket of version `v`, which the caller has gated or pinned.
    * After an evolving commit untouched buckets still carry the old
    * schema and null-backfill ([[readDirs]]).
    */
  private def snapshot(spark: SparkSession, path: String, v: Long): DataFrame =
    readBuckets(spark, path, v, nonEmptyManifest(spark, path, v))

  /** Read the live table. */
  def readCurrent(spark: SparkSession, path: String): DataFrame =
    snapshot(spark, path, liveVersion(spark, path))

  /** Read a committed version THROUGH THE PLANNER-VISIBLE layout
    * ([[graft.sources.SnapCatalog]]): the scan reports the table's
    * `bucket(nBuckets, bucketKey)` partitioning as
    * `KeyGroupedPartitioning`, so joining two maintained tables bucketed
    * on the same key at the same arity plans with ZERO exchanges
    * (storage-partitioned join; mismatched arity falls back to normal
    * shuffles, PlanSpec-asserted both ways). Outstanding delete vectors
    * fold INSIDE THE READER (each dv-laden bucket drains its
    * sidecar-sized key set and row-filters; clean buckets keep the fully
    * vectorized columnar path) — an anti-join above the scan would hide
    * the partitioning from the planner's SPJ matching, which only looks
    * through Project/Filter. Same rows as [[readSnapshot]] always;
    * requires the `#bucketKey=` header (any r15+ commit).
    *
    * At 100 TB: every serve ⋈ feature, corpus ⋈ signature-state, or
    * feed-consume base join of co-bucketed maintained tables stops
    * shuffling EITHER side — the cost the reference's 256-way
    * `address_partition` scheme could only prune around.
    */
  def readSnapshotSPJ(spark: SparkSession, path: String, version: Long): DataFrame = {
    requireRetained(spark, path, version)
    spjTable(spark, path, s"$version")
  }

  /** Bucket-subset SPJ read (`path##version##b=...`): only the named
    * buckets' partitions are planned, still with the full
    * KeyGroupedPartitioning report and the reader-level dv fold — the
    * merge paths' existing side.
    */
  private[graft] def readSnapshotSPJBuckets(
      spark: SparkSession, path: String, version: Long,
      buckets: Seq[Int]): DataFrame =
    spjTable(spark, path, s"$version##b=${buckets.sorted.mkString(",")}")

  /** The `graft` catalog table `<absolute path>##<selector>`. */
  private def spjTable(spark: SparkSession, path: String, selector: String): DataFrame = {
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty)
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.SnapCatalog")
    // absolute path: the identifier must resolve from any working dir
    val abs = fsOf(spark, path).makeQualified(new org.apache.hadoop.fs.Path(path))
      .toUri.getPath
    spark.table(s"graft.`$abs##$selector`")
  }

  /** Diagnostic observability for the merge paths' read routing (test
    * assertions only — never a data path): merge commits whose existing
    * side planned through the SPJ catalog.
    */
  private[graft] val spjMergeReads = new java.util.concurrent.atomic.AtomicLong

  /** The delete-folded view of version `v`'s TOUCHED buckets — every
    * merge commit's existing side. Routed through the SPJ catalog
    * whenever the version carries the bucket-layout headers at this
    * commit's key/arity, so the merge's full-outer join plans with ZERO
    * exchanges on the TABLE side — only the churn-sized batch shuffles
    * (`v2.bucketing.shuffle`); pre-header tables keep the plain
    * [[readBuckets]] path. Row-identical either way.
    */
  private def mergeExistingSide(
      spark: SparkSession, path: String, v: Long, key: String, nBuckets: Int,
      existing: Map[Int, Long]): DataFrame = {
    val spjOk = readNBuckets(spark, path, v).contains(nBuckets) &&
      readBucketKey(spark, path, v).contains(key) &&
      spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean
    if (spjOk) {
      spjMergeReads.incrementAndGet()
      readSnapshotSPJBuckets(spark, path, v, existing.keys.toSeq)
    } else readBuckets(spark, path, v, existing)
  }

  /** [[readSnapshotSPJ]] on the live version. */
  def readCurrentSPJ(spark: SparkSession, path: String): DataFrame =
    spjTable(spark, path, s"${liveVersion(spark, path)}")

  /** CHANGE DATA FEED between two committed table versions, MANIFEST-
    * PRUNED: only buckets whose `(bucket -> bucketVersion)` manifest entry
    * changed between the versions are read on either side — an untouched
    * bucket's dir is literally the same directory in both versions
    * (commits REUSE untouched dirs), so it provably contributed no change
    * and costs zero bytes. This is what makes an incremental consumer of
    * a 100 TB table cheap: a daily commit touching 1% of buckets yields a
    * feed that reads 2 x 1% of the table, not 2 x 100%.
    *
    * Raw stored rows (for [[applyChanges]] tables that includes the CDC
    * meta columns — tombstoning a key surfaces as U with `_deleted`
    * true); [[readTableChangesBetween]] is the user-level view.
    */
  def readChangesBetween(
      spark: SparkSession, path: String, key: String,
      fromV: Long, toV: Long, updatePreimages: Boolean = false): DataFrame =
    prunedSides(spark, path, fromV, toV) match {
      case (from, to) => Snapshots.diffByKey(from, to, key, updatePreimages)
    }

  /** [[readChangesBetween]] on the TOMBSTONE-FILTERED view of an
    * [[applyChanges]] table: meta columns dropped, a key tombstoned
    * between the versions emits a real 'D' with its pre-delete payload —
    * the Delta-CDF-shaped feed a downstream consumer of the LIVE table
    * wants. Same manifest pruning.
    */
  def readTableChangesBetween(
      spark: SparkSession, path: String, key: String,
      fromV: Long, toV: Long, updatePreimages: Boolean = false): DataFrame =
    prunedSides(spark, path, fromV, toV) match {
      case (from, to) =>
        def live(df: DataFrame) = df.filter(!col(Cdc.DeletedMeta))
          .drop(Cdc.SeqMeta, Cdc.DeletedMeta, Cdc.RankMeta)
        Snapshots.diffByKey(live(from), live(to), key, updatePreimages)
    }

  /** The two version reads restricted to buckets whose manifest entry
    * changed (empty-schema-preserving when NOTHING changed).
    */
  private def prunedSides(
      spark: SparkSession, path: String, fromV: Long, toV: Long): (DataFrame, DataFrame) = {
    require(fromV < toV, s"change feed runs forward: fromV=$fromV, toV=$toV")
    val have = versions(spark, path)
    Seq(fromV, toV).foreach(Snapshots.requireRetained(path, _, have))
    val mFrom = readManifest(spark, path, fromV)
    val mTo = readManifest(spark, path, toV)
    val dFrom = readDvs(spark, path, fromV)
    val dTo = readDvs(spark, path, toV)
    // a bucket is touched if its data version OR its delete-vector list
    // moved — a delete-only commit changes rows without a new data dir
    val touched = (mFrom.keySet ++ mTo.keySet)
      .filter(b => mFrom.get(b) != mTo.get(b) ||
        dFrom.getOrElse(b, Nil) != dTo.getOrElse(b, Nil))
    def side(v: Long, m: Map[Int, Long]) =
      readBuckets(spark, path, v, m.filter { case (b, _) => touched.contains(b) })
    (side(fromV, mFrom), side(toV, mTo))
  }

  /** Last-writer-wins keyed upsert; returns the committed table version. */
  def upsertByKey(
      spark: SparkSession,
      updates: DataFrame,
      path: String,
      key: String,
      nBuckets: Int,
      keepVersions: Int = 2,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil): Long =
    mergeCommit(spark, updates, path, key, nBuckets, keepVersions,
      (existing, batch) => Incremental.mergeByKey(existing, batch, key),
      statsColumns, bloomColumns)

  /** Delete-aware CDC apply through the same commit — [[Cdc.applyChanges]]'
    * seq-aware merge rule on the touched buckets, one atomic flip; read the
    * live view with [[readTable]], a pinned one with [[readTableAt]].
    */
  def applyChanges(
      spark: SparkSession,
      changes: DataFrame,
      path: String,
      key: String,
      nBuckets: Int,
      seqCol: String = "seq",
      opCol: String = "op",
      keepVersions: Int = 2,
      statsColumns: Seq[String] = Nil): Long =
    mergeCommit(spark, Cdc.reduceBatch(changes, key, seqCol, opCol),
      path, key, nBuckets, keepVersions,
      (existing, batch) => Cdc.mergeSnapshots(existing, batch, key),
      statsColumns)

  /** MERGE-ON-READ KEY DELETES — the write-amplification answer for
    * scattered deletes on a 100 TB table (the `dq_erasure_sweep` / GDPR
    * pattern): instead of rewriting every touched bucket to remove a
    * handful of keys (copy-on-write, bucket-sized amplification per key),
    * each touched bucket gains a tiny KEY-DELETE SIDECAR
    * (`b=K/dv=J/` — a parquet of just the key column) referenced from the
    * manifest line (`b,bv,dv1;dv2`), committed through the normal
    * manifest + pointer flip. Readers fold sidecars with one broadcast
    * anti-join ([[foldDeletes]]); every read path folds — snapshot,
    * change feed, stats-pruned range reads, point lookups — and the fold
    * is Iceberg-v2/Delta's deletion-vector role reduced to keys.
    *
    * Bytes written per delete commit ≈ deleted keys, NOT touched-bucket
    * bytes (DeleteVectorsSpec measures the drop). The anti-join debt is
    * bounded: once a bucket's outstanding sidecar count would exceed
    * `maxDvsPerBucket`, THIS commit folds that bucket copy-on-write
    * (fresh data dir, sidecar-free entry), and [[compact]] folds every
    * sidecar-carrying bucket. Rewritten buckets always absorb their
    * sidecars ([[mergeCommit]] merges against the folded view), so a
    * deleted key re-upserted later comes back exactly once.
    *
    * Snapshot semantics are unchanged: a pinned reader of the
    * pre-delete version still sees the keys (its manifest has no sidecar
    * entry); the change feed between the versions emits real `D` rows.
    * Deleting absent keys is a no-op; null keys are ignored (bucketed
    * keys are non-null by construction). Concurrent commits touching the
    * same buckets conflict conservatively ([[CommitConflictException]] —
    * delete-vs-update races must be resolved by the caller's retry, not
    * silently interleaved). Returns the committed table version.
    */
  def deleteKeys(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      key: String,
      keepVersions: Int = 2,
      maxDvsPerBucket: Int = 4): Long = {
    require(maxDvsPerBucket >= 1, "maxDvsPerBucket must be >= 1")
    require(keys.columns.contains(key),
      s"key '$key' is not a column of the delete-key frame (have: ${keys.columns.mkString(", ")})")
    deleteKeysAt(spark, path, pinnedPointer(spark, path), keys, key,
      keepVersions, maxDvsPerBucket)
  }

  /** [[Snapshots.pinnedPointer]] validated against this layout's
    * manifests: `(state, casBase)` from ONE read of `_CURRENT`, so the
    * version a commit's inputs come from is exactly the one its pointer
    * flip CAS-checks.
    */
  private def pinnedPointer(
      spark: SparkSession, path: String): (Option[(Long, Seq[Long])], Option[Long]) =
    Snapshots.pinnedPointer(spark, path)(v =>
      fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(manifestPath(path, v))))

  /** [[deleteKeys]]' commit against a pinned pointer (see
    * [[pinnedPointer]]): `keys` may be derived from that pinned version
    * ([[pruneTombstones]]), and a concurrent commit to one of the touched
    * buckets then aborts this one instead of being overlaid.
    */
  private def deleteKeysAt(
      spark: SparkSession,
      path: String,
      pinned: (Option[(Long, Seq[Long])], Option[Long]),
      keys: DataFrame,
      key: String,
      keepVersions: Int,
      maxDvsPerBucket: Int): Long = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, path)
    val (state, casBase) = pinned
    val cur = Snapshots.requireLive(path, state.map(_._1))
    val curManifest = readManifest(spark, path, cur)
    val curDvs = readDvs(spark, path, cur)
    val nBuckets = readNBuckets(spark, path, cur).getOrElse(
      throw new IllegalStateException(
        s"table at $path has no #nBuckets header — merge-on-read deletes " +
          "need it to bucket the keys (pre-header tables: delete via a rewriting upsert)"))
    val bucketOf = pmod(xxhash64(col(key)), lit(nBuckets.toLong)).cast("int")
    val kdf = keys.select(col(key)).filter(col(key).isNotNull).distinct()
    // ONE staged partitioned write of (key, b) into a PER-WRITER staging
    // dir — the touched-bucket set falls out of the staging listing, so
    // the keys DAG runs exactly once (it used to run once for a
    // bucket-discovery collect and again for this write); keys of buckets
    // with no manifest entry can't exist and are filtered before the write
    val staging = new Path(
      path + "__vstaging_dv_" + java.util.UUID.randomUUID().toString.take(12))
    kdf.withColumn("b", bucketOf)
      .filter(col("b").isin(curManifest.keys.toSeq.map(Int.box): _*))
      .repartition(col("b"))
      .write.partitionBy("b").mode(SaveMode.Overwrite).parquet(staging.toString)
    val stagedDirs = stagedBucketDirs(fs, staging)
    // buckets that exist AND are named by a key (driver-small)
    val touched = stagedDirs.keys.toIndexedSeq.sorted
    if (touched.isEmpty) { fs.delete(staging, true); return cur }
    val foldSet = touched.filter(b =>
      curDvs.getOrElse(b, Nil).size + 1 > maxDvsPerBucket).toSet
    val appendBuckets = touched.filterNot(foldSet)
    // sidecars for the append buckets: each bucket's staged dir CLAIMS its
    // dv id create-exclusively (FileContext Rename.NONE fails on an
    // existing destination) — two concurrent deleteKeys can never clobber
    // each other's staged or placed dirs; a lost id claim retries with a
    // fresh one-past-max id, and the manifest claim below then decides
    // commit order (the loser's conflict check sees the winner's dv
    // entry). A dead run's claimed-but-unreferenced dv dir is an orphan
    // ABOVE every referenced id — invisible to readers, swept by
    // [[vacuum]]/retention once the referenced ceiling passes it.
    val newDvIds = scala.collection.mutable.Map.empty[Int, Long]
    appendBuckets.foreach { b =>
      newDvIds(b) = claimBucketDir(spark, path, b, stagedDirs(b), "dv")
    }
    // budget-exhausted buckets fold copy-on-write: existing sidecars AND
    // this commit's keys absorbed into a fresh data dir (written to a
    // per-writer sibling dir, then claimed create-exclusively). The
    // anti-join side reads the bucket's STAGED keys back (materialized
    // parquet — the upstream keys DAG never re-runs per fold; keys of
    // other buckets can't collide, same xxhash64 routes equal values to
    // equal buckets, so the bucket's own staged slice is exact)
    val newBucketVersions = foldSet.toSeq.sorted.map { b =>
      val tmp = new Path(
        path + "__vstaging_fold_" + java.util.UUID.randomUUID().toString.take(12))
      foldDeletes(spark, path,
        spark.read.parquet(bucketDir(path, b, curManifest(b))),
        curDvs.getOrElse(b, Nil).map(b -> _))
        .join(broadcast(
          spark.read.parquet(stagedDirs(b).toString).select(col(key))),
          Seq(key), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      b -> claimBucketDir(spark, path, b, tmp, "v")
    }.toMap
    fs.delete(staging, true)
    // folded buckets carry their (wider-safe) BUCKET-LEVEL zonemap stats;
    // per-file entries drop with the rewrite (file names change)
    val prevStats = readStats(spark, path, cur)._2
    val carried = newBucketVersions.keys.map(b =>
      b -> prevStats.getOrElse(b, Nil).filter(_.file.isEmpty)).toMap
    commitManifest(spark, path, state, casBase, curManifest, newBucketVersions,
      keepVersions, Nil, carried.toMap,
      dvAppend = newDvIds.toMap.map { case (b, j) => b -> Seq(j) })
  }

  /** TOMBSTONE GC for an [[applyChanges]] table ([[Cdc.pruneTombstones]]'
    * rule): once the CDC source's low-watermark guarantees every in-flight
    * change has `seq >= lowWatermark`, a tombstone with `_seq < lowWatermark`
    * can never again out-rank an arriving change, so it is dead weight.
    * The prunable keys become [[deleteKeys]] sidecars — bytes written ≈
    * pruned keys; a bucket is rewritten only where the sidecar budget folds
    * it. The key scan reads the version the commit CAS-checks, so a key a
    * concurrent commit re-inserted surfaces as a
    * [[CommitConflictException]], never as a hidden row. Live rows are never
    * pruned, and a version pinned before the prune still reads its
    * tombstones. Returns the committed table version (the live one when
    * nothing is prunable).
    */
  def pruneTombstones(spark: SparkSession, path: String, lowWatermark: Long): Long = {
    val pinned = pinnedPointer(spark, path)
    val cur = Snapshots.requireLive(path, pinned._1.map(_._1))
    val key = readBucketKey(spark, path, cur).getOrElse(
      throw new IllegalStateException(
        s"table at $path has no #bucketKey header — cannot name the tombstone keys"))
    // the pinned version needs no retention check: no third pointer read
    val dead = snapshot(spark, path, cur)
      .filter(col(Cdc.DeletedMeta) && col(Cdc.SeqMeta) < lowWatermark)
      .select(key)
    deleteKeysAt(spark, path, pinned, dead, key, keepVersions = 2, maxDvsPerBucket = 4)
  }

  /** PREDICATE DELETE — the erasure-sweep shape callers actually write
    * ("every row where `predicate`"): resolve the matching keys from the
    * live view and route them through [[deleteKeys]]' merge-on-read
    * sidecars. The key scan is one filtered read of the table (a range
    * predicate on a declared stat column can be pre-pruned by passing
    * `readCurrentWhere(...)` keys to [[deleteKeys]] directly); everything
    * committed is still just keys. On an [[applyChanges]] table the
    * predicate sees the TOMBSTONE-FILTERED live view, so it can only
    * name rows that exist.
    */
  def deleteWhere(
      spark: SparkSession,
      path: String,
      predicate: org.apache.spark.sql.Column,
      key: String,
      keepVersions: Int = 2,
      maxDvsPerBucket: Int = 4): Long = {
    val live = readCurrent(spark, path)
    val view =
      if (live.columns.contains(Cdc.DeletedMeta))
        live.filter(!col(Cdc.DeletedMeta))
          .drop(Cdc.SeqMeta, Cdc.DeletedMeta, Cdc.RankMeta)
      else live
    deleteKeys(spark, path, view.filter(predicate).select(key), key,
      keepVersions, maxDvsPerBucket)
  }

  /** Outstanding delete-vector sidecars of the live version (bucket ->
    * count) — the observability hook for "when should I [[compact]]".
    */
  def deleteVectorCounts(spark: SparkSession, path: String): Map[Int, Int] =
    currentVersion(spark, path) match {
      case Some(v) => readDvs(spark, path, v).map { case (b, ds) => b -> ds.size }
      case None => Map.empty
    }

  // ------------------------------------------------------------------
  // BRANCHES + WRITE-AUDIT-PUBLISH — the operational companion of the
  // quality gate: commits staged on a branch are INVISIBLE to main
  // readers until a fast-forward publish, so a failing audit never
  // becomes the live table
  // ------------------------------------------------------------------

  /** Create branch `name` at the live version (head = base = live). The
    * branch head is GC-pinned like a tag; [[commitToBranch]] moves it,
    * [[publishBranch]] fast-forwards main onto it.
    */
  def branch(spark: SparkSession, path: String, name: String,
      overwrite: Boolean = false): Long = {
    val cur = liveVersion(spark, path)
    Snapshots.writeBranchFile(spark, path, name, cur, cur, overwrite)
    cur
  }

  /** `(head, base)` of a branch, if it exists. */
  def branchState(spark: SparkSession, path: String, name: String): Option[(Long, Long)] =
    Snapshots.readBranches(spark, path).get(name)

  /** Read the branch head exactly as staged (the AUDIT read: run the
    * quality gate against this before [[publishBranch]]).
    */
  def readBranch(spark: SparkSession, path: String, name: String): DataFrame =
    branchState(spark, path, name) match {
      case Some((head, _)) => readSnapshot(spark, path, head)
      case None => throw new java.io.FileNotFoundException(s"no branch '$name' at $path")
    }

  /** Last-writer-wins keyed upsert COMMITTED TO A BRANCH: [[upsertByKey]]'s
    * commit with the branch head as its base — same staged bucket dirs,
    * manifest, stats and bloom sidecars — but the commit point moves the
    * branch file, NOT `_CURRENT`, so main readers never see it. Manifest
    * version numbers share the table's namespace (claimed
    * create-exclusively), so branch and main commits never collide on a
    * version id. One writer per branch (a moved head aborts with
    * [[CommitConflictException]]); main may advance freely — that
    * conflict surfaces at [[publishBranch]], not here.
    */
  def commitToBranch(
      spark: SparkSession,
      path: String,
      name: String,
      updates: DataFrame,
      key: String,
      nBuckets: Int,
      statsColumns: Seq[String] = Nil): Long =
    mergeCommit(spark, updates, path, key, nBuckets, 1,
      (existing, batch) => Incremental.mergeByKey(existing, batch, key),
      statsColumns, branch = Some(name))

  /** Delete-aware CDC apply COMMITTED TO A BRANCH — the WAP shape most
    * production loads need (daily change feeds, not LWW upserts): stage
    * the day's I/U/D batch on the branch, gate [[readTableBranch]]'s
    * live view, publish or drop. Same seq-argmax merge rule as
    * [[applyChanges]].
    */
  def applyChangesToBranch(
      spark: SparkSession,
      path: String,
      name: String,
      changes: DataFrame,
      key: String,
      nBuckets: Int,
      seqCol: String = "seq",
      opCol: String = "op",
      statsColumns: Seq[String] = Nil): Long =
    mergeCommit(spark, Cdc.reduceBatch(changes, key, seqCol, opCol),
      path, key, nBuckets, 1,
      (existing, batch) => Cdc.mergeSnapshots(existing, batch, key),
      statsColumns, branch = Some(name))

  /** Tombstone-filtered live view of a branch head on an
    * [[applyChanges]]-maintained table — the frame the quality gate
    * audits before [[publishBranch]].
    */
  def readTableBranch(spark: SparkSession, path: String, name: String): DataFrame =
    readBranch(spark, path, name).filter(!col(Cdc.DeletedMeta))
      .drop(Cdc.SeqMeta, Cdc.DeletedMeta, Cdc.RankMeta)

  /** FAST-FORWARD PUBLISH: flip `_CURRENT` to the branch head, provided
    * main still sits at the branch's base — the write-audit-publish
    * commit point. A failing audit simply never calls this (and
    * [[dropBranch]] discards the staged work); main advancing since the
    * fork aborts with [[CommitConflictException]] (re-branch and replay —
    * the staged versions are content, not position, so the caller decides
    * how to rebase). Drops the branch file on success.
    */
  def publishBranch(
      spark: SparkSession, path: String, name: String,
      keepVersions: Int = 2): Long = {
    val (head, base) = branchState(spark, path, name).getOrElse(
      throw new java.io.FileNotFoundException(s"no branch '$name' at $path"))
    val (state, casBase) = pinnedPointer(spark, path)
    val live = state.map(_._1).getOrElse(0L)
    if (live != base)
      throw new CommitConflictException(
        s"publish of branch '$name' at $path is not a fast-forward: main is at " +
          s"v=$live but the branch forked from v=$base — re-branch and replay; retry")
    val retained = (head +: state.map(_._2).getOrElse(Seq.empty)).distinct
      .sorted.reverse.take(keepVersions)
    Snapshots.flipPointer(spark, path, casBase, retained)
    Snapshots.dropBranchFile(spark, path, name)
    gc(spark, path, retained)
    head
  }

  /** Discard a branch: the staged versions become unpinned orphans the
    * next commit's GC ages out. Main is untouched.
    */
  def dropBranch(spark: SparkSession, path: String, name: String): Unit =
    Snapshots.dropBranchFile(spark, path, name)

  /** Tombstone-filtered live view of an [[applyChanges]] table. */
  def readTable(spark: SparkSession, path: String): DataFrame =
    readCurrent(spark, path).filter(!col(Cdc.DeletedMeta))
      .drop(Cdc.SeqMeta, Cdc.DeletedMeta, Cdc.RankMeta)

  /** Tombstone-filtered view as of table version `version`. */
  def readTableAt(spark: SparkSession, path: String, version: Long): DataFrame =
    readSnapshot(spark, path, version).filter(!col(Cdc.DeletedMeta))
      .drop(Cdc.SeqMeta, Cdc.DeletedMeta, Cdc.RankMeta)

  /** [[readTableAt]] through the SPJ catalog ([[readSnapshotSPJ]]): the
    * same tombstone-filtered rows, with the bucket layout reported to
    * the planner — Filter/Project preserve the KeyGroupedPartitioning,
    * so a keyed join against this view shuffles only its OTHER side
    * (`spark.sql.sources.v2.bucketing.shuffle.enabled`), never the
    * maintained table.
    */
  def readTableAtSPJ(spark: SparkSession, path: String, version: Long): DataFrame =
    readSnapshotSPJ(spark, path, version).filter(!col(Cdc.DeletedMeta))
      .drop(Cdc.SeqMeta, Cdc.DeletedMeta, Cdc.RankMeta)

  /** THE merge commit — every keyed write ([[upsertByKey]],
    * [[applyChanges]], [[commitToBranch]], [[applyChangesToBranch]]) runs
    * this one path. The base is main's live version, or the branch head
    * when `branch` is set (`keepVersions` retention applies to main
    * commits only). Commit sequence (a crash anywhere leaves a
    * consistent table; the per-writer staging root is swept by
    * [[vacuum]] if the writer dies):
    *   1. resolve the base + its manifest   — crash: nothing happened
    *   2. stage the batch ONCE,             — crash: inert staging root
    *      partitioned by bucket (`batch/`); the touched set is its listing
    *   3. touched buckets already in the base: merge them against the
    *      staged batch read back into `merged/` (else claim `batch/` as is)
    *   4. claim b=K/v=M+1 for touched K     — crash: inert orphans
    *   5. write manifest v=N+1 + its stats and bloom sidecars
    *                                        — crash: inert orphan manifest
    *   6. the commit point: main CAS-flips `_CURRENT` (disjoint-bucket
    *      rebase, see [[commitManifest]]) then GCs; a branch moves its
    *      branch file if its head has not moved, and does no GC
    * The batch's upstream DAG runs exactly once (the staged write).
    */
  private[graft] def mergeCommit(
      spark: SparkSession,
      updates: DataFrame,
      path: String,
      key: String,
      nBuckets: Int,
      keepVersions: Int,
      merge: (DataFrame, DataFrame) => DataFrame,
      statsColumns: Seq[String] = Nil,
      bloomColumns: Seq[String] = Nil,
      branch: Option[String] = None): Long = {
    import org.apache.hadoop.fs.Path
    require(nBuckets >= 1, "nBuckets must be >= 1")
    require(keepVersions >= 1, "keepVersions must be >= 1")
    require(!updates.columns.contains("b"),
      "column name 'b' is reserved for the bucket layout — rename the payload column")
    val fs = fsOf(spark, path)
    val bucketOf = pmod(xxhash64(col(key)), lit(nBuckets.toLong)).cast("int")
    // the merge base: main's live version (+ the raw CAS base for the
    // pointer flip, from the same read) or the branch head
    val (state, casBase) = branch match {
      case None => pinnedPointer(spark, path)
      case Some(name) =>
        val head = branchState(spark, path, name).getOrElse(
          throw new java.io.FileNotFoundException(s"no branch '$name' at $path"))._1
        (Some(head -> Nil), None)
    }
    val cur = state.map(_._1)
    // arity guard: committing with a DIFFERENT nBuckets than the table
    // was built with would scatter existing keys' updates into the wrong
    // buckets — silent key duplication. Fail fast instead.
    cur.flatMap(v => readNBuckets(spark, path, v)).foreach { n =>
      require(n == nBuckets,
        s"table at $path was committed with nBuckets=$n; committing with " +
          s"nBuckets=$nBuckets would scatter keys across mismatched buckets")
    }
    val curManifest = cur.map(v => readManifest(spark, path, v)).getOrElse(Map.empty)
    // ONE per-writer staging root, then per-bucket CREATE-EXCLUSIVE claims
    // of immutable v-dirs (renames of INVISIBLE dirs — the commit point is
    // still only the pointer/branch move; racing writers can never clobber
    // each other's dirs)
    val staging = new Path(
      path + "__vstaging_" + java.util.UUID.randomUUID().toString.take(12))
    try {
      // the batch stages ONCE, partitioned by bucket; the touched-bucket
      // set falls out of the staging listing (a staged dir exists exactly
      // for each bucket with >= 1 batch row), so nothing runs the batch's
      // upstream DAG a second time (bucket id hashes the KEY only, so
      // schema evolution never moves rows)
      val batchDir = new Path(staging, "batch")
      label(spark, "snap-commit: stage batch") {
        updates.withColumn("b", bucketOf)
          .write.partitionBy("b").mode(SaveMode.Overwrite).parquet(batchDir.toString)
      }
      val stagedBatch = stagedBucketDirs(fs, batchDir)
      val touched = stagedBatch.keys.toIndexedSeq.sorted
      // an EMPTY batch touches nothing: committing would write an empty
      // (or verbatim-copied) manifest for no data change — no-op
      if (touched.isEmpty) return cur.getOrElse(0L)
      val existing = curManifest.filter { case (b, _) => stagedBatch.contains(b) }
      // no touched bucket has rows yet (a first commit, or only new
      // buckets): the staged batch dirs ARE the new bucket versions.
      // Otherwise merge against the DELETE-FOLDED view of the touched
      // buckets (a rewritten bucket's new dir absorbs its delete vectors,
      // so a deleted key re-upserted here comes back exactly once) and
      // the staged batch read back with the batch's own schema
      val (claimDir, merged, claimable) =
        if (existing.isEmpty) (batchDir, updates, stagedBatch)
        else {
          val mergedDir = new Path(staging, "merged")
          val m = merge(
            mergeExistingSide(spark, path, cur.get, key, nBuckets, existing),
            spark.read.schema(updates.schema).parquet(batchDir.toString).drop("b"))
          label(spark, "snap-commit: merge + stage") {
            m.withColumn("b", bucketOf)
              .write.partitionBy("b").mode(SaveMode.Overwrite).parquet(mergedDir.toString)
          }
          (mergedDir, m, stagedBucketDirs(fs, mergedDir))
        }
      // zonemap stats for the TOUCHED buckets, off the staged write (one
      // column-pruned aggregation over the touched data only — the
      // 1%-churn batch, never the table); declared columns are sticky
      // across commits via the stats-file header, so one declaration
      // covers the table's life
      val statCols = effectiveStatCols(
        cur.map(v => readStats(spark, path, v)._1).getOrElse(Nil),
        statsColumns, merged.schema)
      val newStats = computeBucketStats(spark, claimDir.toString, statCols, touched)
      // bloom sidecars: declared columns are sticky via the sidecar header
      val prevBloomHdr = cur.map(v => readBlooms(spark, path, v))
      val bloomCols = (prevBloomHdr.map(_._1).getOrElse(Nil) ++
        bloomColumns).distinct
      // commit-time type guard (the statsColumns isStatType rule): a bloom
      // column present in this commit's schema must be a type the probe
      // can re-hash (string/long/int); its type is recorded in the sidecar
      // header so probes hash exactly as the build's xxhash64(col) did
      val bloomTypes: Map[String, org.apache.spark.sql.types.DataType] =
        prevBloomHdr.map(_._2).getOrElse(Map.empty) ++
          bloomCols.flatMap { c =>
            merged.schema.find(_.name == c).map { f =>
              require(isBloomType(f.dataType),
                s"bloom column '$c' must be string, bigint, or int " +
                  s"(probes hash by the recorded type), got ${f.dataType.catalogString}")
              c -> f.dataType
            }
          }.toMap
      val newBlooms = computeBucketBlooms(
        spark, claimDir.toString, bloomCols, touched, 100000L, 0.03)
      val newBucketVersions = touched.map { b =>
        val src = claimable.getOrElse(b, {
          // every key of this bucket deduped away in the merge: an EMPTY
          // bucket version — stage a marker-less parquet write of the
          // merged schema, claimed like any other dir
          val empty = new Path(claimDir, s"b=$b")
          merged.limit(0).write.mode(SaveMode.Overwrite).parquet(empty.toString)
          empty
        })
        b -> claimBucketDir(spark, path, b, src, "v")
      }.toMap
      commitManifest(spark, path, state, casBase, curManifest, newBucketVersions,
        keepVersions, statCols, newStats, nBuckets,
        bucketKey = key, schemaUpdate = Some(merged.schema),
        addBloomCols = bloomCols, newBlooms = newBlooms, bloomTypes = bloomTypes,
        branch = branch)
    } finally fs.delete(staging, true)
  }

  /** Atomically claim `dst` by renaming `tmp` onto it WITHOUT overwrite
    * (`FileContext` `Rename.NONE` fails on an existing destination —
    * unlike `FileSystem.rename`, which RawLocalFileSystem implements as a
    * silent clobber). Returns false — with `tmp` cleaned up and `dst`
    * byte-untouched — when another writer holds the destination: the
    * same-`next` manifest race must cost the loser a rebase, never the
    * winner its just-committed manifest.
    */
  private[graft] def claimExclusive(
      conf: org.apache.hadoop.conf.Configuration,
      fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst)
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.PathExistsException =>
        fs.delete(tmp, false)
        false
    }

  /** The shared commit tail: write manifest v=next (base entries
    * overlaid with `newBucketVersions`) plus its zonemap-stats and bloom
    * sidecars, then the commit point. On main (`branch` None): CAS-check
    * the pointer, flip it atomically, GC. On a branch: check the branch
    * head is still `state`'s version, move the branch file, no GC (the
    * head is pinned; orphans age out under main's GC). Returns the
    * committed table version.
    *
    * DISJOINT-BUCKET REBASE (what lets independent writers share a table):
    * when the CAS detects a concurrent commit, the loser re-reads the NEW
    * live manifest and, if the winner touched a DISJOINT set of buckets,
    * re-commits by overlaying its already-staged bucket versions onto the
    * winner's manifest — no data rewrite, no re-merge (its merge inputs
    * for its own buckets are provably still the live ones). Only when the
    * bucket sets OVERLAP does [[graft.operators.CommitConflictException]]
    * surface, and [[Snapshots.retryOnConflict]] re-merges from the new
    * base. This is the Iceberg-style optimistic-concurrency resolution at
    * bucket granularity: at 100 TB, two daily feeds each touching 1% of
    * buckets almost never collide, and neither pays the other's latency.
    * The staged dirs stay valid across rebase attempts because GC never
    * deletes bucket versions ABOVE the live one (see [[gc]]'s floor rule).
    * A branch has one writer: a moved head is a conflict, never a rebase.
    */
  private def commitManifest(
      spark: SparkSession,
      path: String,
      state: Option[(Long, Seq[Long])],
      casBase: Option[Long],
      curManifest: Map[Int, Long],
      newBucketVersions: Map[Int, Long],
      keepVersions: Int,
      addStatCols: Seq[String] = Nil,
      newStats: Map[Int, Seq[BucketStat]] = Map.empty,
      nBuckets: Int = 0, // 0 = preserve/omit the arity header
      maxRebase: Int = 5,
      dvAppend: Map[Int, Seq[Long]] = Map.empty,
      bucketKey: String = "", // "" = preserve the #bucketKey header
      schemaUpdate: Option[StructType] = None, // None = preserve #schema
      schemaReplace: Boolean = false, // full rewrite: no merge
      addBloomCols: Seq[String] = Nil,
      newBlooms: Map[Int, Seq[(String, Array[Byte])]] = Map.empty,
      bloomTypes: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
      branch: Option[String] = None): Long = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, path)
    var st = state
    var cb = casBase
    var cm = curManifest
    // dv lists re-read per attempt alongside cm (see the rebase paths)
    var cd = st.map(s => readDvs(spark, path, s._1)).getOrElse(Map.empty[Int, Seq[Long]])
    var attempt = 0
    // "touched" for conflict purposes includes dv-append-only buckets: a
    // concurrent rewrite of a bucket we append a delete to (or vice
    // versa) must conflict, not silently rebase
    val ourTouched = newBucketVersions.keySet ++ dvAppend.keySet
    // a branch commit's base must still be the branch head; returns the
    // branch's fork point for the branch file
    def branchBase(name: String): Long = branchState(spark, path, name) match {
      case Some((h, base)) if st.exists(_._1 == h) => base
      case other =>
        throw new CommitConflictException(
          s"branch '$name' at $path moved during the commit (head was " +
            s"${st.map(_._1)}, now ${other.map(_._1)}) — one writer per branch; " +
            "retry from the new head")
    }
    // after a lost race: give up after maxRebase attempts; a branch keeps
    // its base while its head is unmoved; main re-reads the live version
    // and rebases unless the winner touched one of our buckets
    def rebase(lost: => CommitConflictException): Unit = {
      attempt += 1
      if (attempt > maxRebase) throw lost
      branch match {
        case Some(name) => branchBase(name)
        case None =>
          val (st2, cb2) = pinnedPointer(spark, path)
          val cm2 = st2.map(s => readManifest(spark, path, s._1))
            .getOrElse(Map.empty[Int, Long])
          val cd2 = st2.map(s => readDvs(spark, path, s._1))
            .getOrElse(Map.empty[Int, Seq[Long]])
          // full-entry comparison: a delete-vector-only change to a bucket
          // is a data change to that bucket
          val overlap = (cm.keySet ++ cm2.keySet).filter(b =>
            cm.get(b) != cm2.get(b) || cd.getOrElse(b, Nil) != cd2.getOrElse(b, Nil)) intersect ourTouched
          if (overlap.nonEmpty)
            throw new CommitConflictException(
              s"bucketed commit at $path: concurrent commit touched overlapping " +
                s"buckets ${overlap.toSeq.sorted.mkString(",")} " +
                "— merge inputs are stale; re-read and retry")
          // our v=next manifest/sidecars are inert orphans (never pointed
          // to); later GCs age them out below the retention floor
          st = st2; cb = cb2; cm = cm2; cd = cd2
      }
    }
    while (true) {
      val cur = st.map(_._1)
      val next = (cur.toSeq ++ allManifestVersions(spark, path)).foldLeft(0L)(math.max) + 1
      val nextManifest = cm ++ newBucketVersions
      // delete vectors: REWRITTEN buckets absorb theirs (sidecar-free
      // entry); appended buckets extend the live list; others carry
      val nextDvs: Map[Int, Seq[Long]] = nextManifest.keySet.toSeq.flatMap { b =>
        val base = if (newBucketVersions.contains(b)) Nil else cd.getOrElse(b, Nil)
        val all = base ++ dvAppend.getOrElse(b, Nil)
        if (all.nonEmpty) Some(b -> all) else None
      }.toMap
      val mfTmp = new Path(s"$path/manifest/v=$next.txt.tmp")
      val mf = new Path(manifestPath(path, next))
      fs.mkdirs(new Path(s"$path/manifest"))
      // arity header: committed with the table so point-lookup pruning and
      // the arity-change guard survive restarts (preserved from the live
      // manifest when this commit doesn't know it, e.g. compaction)
      val arity =
        if (nBuckets > 0) Some(nBuckets)
        else cur.flatMap(v => readNBuckets(spark, path, v))
      // bucket-key header: same preserve rule as arity, plus the scatter
      // guard — committing under a DIFFERENT key than the table was
      // built with would put existing keys' rows in the wrong buckets
      val prevKey = cur.flatMap(v => readBucketKey(spark, path, v))
      prevKey.foreach { pk =>
        require(bucketKey.isEmpty || bucketKey == pk,
          s"table at $path is bucketed on '$pk'; committing keyed on " +
            s"'$bucketKey' would scatter keys across mismatched buckets")
      }
      val keyHdr = if (bucketKey.nonEmpty) Some(bucketKey) else prevKey
      // recorded-schema header: merged forward on every commit so a read
      // can skip per-file footer merging; a LEGACY table (committed rows
      // but no header) stays legacy — recording only this commit's
      // schema would understate untouched buckets' columns
      val prevSchema = cur.flatMap(v => readTableSchema(spark, path, v))
      val schemaHdr: Option[StructType] =
        if (schemaReplace) schemaUpdate
        else (prevSchema, schemaUpdate) match {
          case (Some(p), Some(u)) =>
            Some(org.apache.spark.sql.graftnative.SchemaOps.merge(p, u))
          case (Some(p), None) => Some(p)
          case (None, Some(u)) if cur.isEmpty => Some(u)
          case _ => None
        }
      val out = fs.create(mfTmp, true)
      try out.write(
        manifestBody(arity, keyHdr, schemaHdr, nextManifest, nextDvs).getBytes("UTF-8"))
      finally out.close()
      // CLAIM v=next exclusively: rename WITHOUT overwrite (FileContext
      // Rename.NONE fails on an existing destination, unlike
      // FileSystem.rename on RawLocalFileSystem, which silently clobbers).
      // Two writers starting from the same base compute the same `next`;
      // without this, the loser would overwrite the winner's
      // just-committed live manifest and readers would see the loser's
      // stale bucket set under the winner's pointer. The loser rebases:
      // its recomputed `next` sees the winner's manifest file and moves
      // past it.
      val claimed = claimExclusive(
        spark.sparkContext.hadoopConfiguration, fs, mfTmp, mf)
      if (!claimed)
        rebase(new CommitConflictException(
          s"bucketed commit at $path: lost the manifest claim for v=$next " +
            s"$maxRebase times — a concurrent writer is racing this commit; retry"))
      else {
      // stats sidecar: untouched buckets carry the LIVE version's entries
      // (re-read per attempt — a rebase must keep the winner's stats for
      // the winner's buckets), touched buckets get this commit's
      val (prevCols, prevStats) =
        cur.map(v => readStats(spark, path, v)).getOrElse((Nil, Map.empty[Int, Seq[BucketStat]]))
      val cols = (prevCols ++ addStatCols).distinct
      if (cols.nonEmpty) {
        val entries = nextManifest.keySet.toSeq.sorted.flatMap { b =>
          if (newBucketVersions.contains(b)) newStats.getOrElse(b, Nil)
            .map(stat => b -> stat)
          else prevStats.getOrElse(b, Nil).map(stat => b -> stat)
        }
        writeStats(spark, path, next, cols, entries)
      }
      // bloom sidecar: same carry rule; a REWRITTEN bucket without fresh
      // filters drops its entries (conservative absent); recorded types
      // carry with the columns (prior header first, this commit refines)
      val (prevBloomCols, prevBloomTypes, prevBlooms) =
        cur.map(v => readBlooms(spark, path, v)).getOrElse(
          (Nil, Map.empty[String, org.apache.spark.sql.types.DataType],
            Map.empty[Int, Map[String, Array[Byte]]]))
      val bcols = (prevBloomCols ++ addBloomCols).distinct
      if (bcols.nonEmpty) {
        val bentries = nextManifest.keySet.toSeq.sorted.flatMap { b =>
          if (newBucketVersions.contains(b))
            newBlooms.getOrElse(b, Nil).map { case (c, bits) => (b, c, bits) }
          else prevBlooms.getOrElse(b, Map.empty).toSeq.map { case (c, bits) => (b, c, bits) }
        }
        writeBlooms(spark, path, next, bcols, prevBloomTypes ++ bloomTypes, bentries)
      }
      branch match {
        case Some(name) =>
          // THE commit point of a branch commit: the branch file moves
          Snapshots.writeBranchFile(spark, path, name, next, branchBase(name), overwrite = true)
          return next
        case None =>
          // THE commit point: atomic pointer replace with the retained
          // history. Retention is COUNT-based (newest keepVersions
          // committed versions) — a value window on `next` would let a
          // crash-orphan manifest inflate `next` and evict the still-pinned
          // previous table version.
          val retained = (next +: st.map(_._2).getOrElse(Seq.empty)).distinct
            .sorted.reverse.take(keepVersions)
          // a lost CAS throws before the flip writes anything: rebase
          val flipped =
            try { Snapshots.flipPointer(spark, path, cb, retained); true }
            catch { case e: CommitConflictException => rebase(e); false }
          if (flipped) {
            gc(spark, path, retained)
            return next
          }
      }
      }
    }
    -1L // unreachable
  }

  // ------------------------------------------------------------------
  // Zonemap stats in the manifest: per-bucket min/max per declared column
  // ------------------------------------------------------------------

  /** One column's min/max for one bucket. `typ`: 'l' integral (stored as
    * long), 'd' float/double (stored via `Double.toString`, which
    * round-trips exactly), 'c' decimal (plain string, exact), 's' string
    * (URL-safe Base64 of the UTF-8 bytes — comma/newline-free in the
    * sidecar, compared BYTE-WISE unsigned, which is exactly Spark's
    * UTF8String binary order, NOT Java String's UTF-16 order), 'n' the
    * bucket holds NO non-null value of the column (skippable under ANY
    * range predicate — SQL ranges never select NULL).
    */
  /** `file` empty = whole-bucket entry (what bucket pruning uses);
    * nonEmpty = a PER-FILE entry (`file` is the part-file basename inside
    * the bucket dir) for sub-bucket skipping on fragmented buckets. File
    * entries are purely ADDITIVE hints: a data file with no entry is
    * always read, and a stale entry (post-compaction names change) simply
    * matches no file — pruning degrades to wider, never wrong.
    */
  private[graft] case class BucketStat(
      col: String, typ: Char, min: String, max: String, file: String = "")

  private def statsPath(path: String, v: Long) = s"$path/manifest/v=$v.stats.txt"

  /** `(declared stat columns, bucket -> stats)` of a committed version;
    * `(Nil, empty)` when the version has no stats sidecar. A bucket/column
    * with no entry is simply never pruned — stats are an optimization
    * layer, absence is always safe.
    */
  private[graft] def readStats(
      spark: SparkSession, path: String, v: Long): (Seq[String], Map[Int, Seq[BucketStat]]) = {
    // no sidecar reads as no lines: no columns, no entries
    val lines = metaLines(spark, statsPath(path, v))
    val cols = lines.headOption.filter(_.startsWith("#cols="))
      .map(_.stripPrefix("#cols=").split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val entries = lines.drop(1).flatMap { line =>
      line.split(",", 6) match {
        case Array(b, c, t, mn, mx) if t.length == 1 =>
          b.toIntOption.map(_ -> BucketStat(c, t.charAt(0), mn, mx))
        case Array(b, c, t, mn, mx, f) if t.length == 1 =>
          b.toIntOption.map(_ -> BucketStat(c, t.charAt(0), mn, mx, f))
        case _ => None
      }
    }
    (cols, entries.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2) })
  }

  /** The non-empty lines of a sidecar; none when it does not exist. */
  private def metaLines(spark: SparkSession, file: String): Seq[String] =
    MetaFile.read(spark, file).toSeq.flatMap(_.split("\n")).map(_.stripLineEnd).filter(_.nonEmpty)

  private def writeStats(
      spark: SparkSession, path: String, v: Long,
      cols: Seq[String], entries: Seq[(Int, BucketStat)]): Unit =
    MetaFile.replace(spark, statsPath(path, v), (s"#cols=${cols.mkString(",")}" +:
      entries.map { case (b, s) =>
        val base = s"$b,${s.col},${s.typ},${s.min},${s.max}"
        if (s.file.isEmpty) base else s"$base,${s.file}"
      }).mkString("\n"))

  // ---- per-bucket BLOOM sidecars (the Iceberg bloom-filter-index
  // role): commit-time filters over DECLARED high-cardinality string
  // columns, probed by equality reads BEFORE opening buckets. Zonemaps
  // prune ranges; URL/domain-style equality inside a bucket still
  // scanned — this closes that. Absence is always safe (a bucket or
  // column with no entry is simply read); rewrite paths that don't
  // recompute (compaction, delete folds) DROP the bucket's entries
  // conservatively until the next data commit re-covers them. ----

  private def bloomPath(path: String, v: Long) = s"$path/manifest/v=$v.bloom.txt"

  /** `(declared bloom columns, column -> recorded key type,
    * bucket -> col -> serialized filter)`. The `#types=` header (aligned
    * with `#cols=`) records each column's type AT BUILD TIME so probes
    * hash exactly as [[computeBucketBlooms]]' `xxhash64(col)` did —
    * without it a long-keyed filter probed with string hashing would
    * miss every value and silently over-prune. A sidecar without the
    * header (pre-r16) is all-string by construction.
    */
  private[graft] def readBlooms(
      spark: SparkSession, path: String, v: Long)
      : (Seq[String], Map[String, org.apache.spark.sql.types.DataType],
         Map[Int, Map[String, Array[Byte]]]) = {
    import org.apache.spark.sql.types.StringType
    val lines = metaLines(spark, bloomPath(path, v))
    val headers = lines.takeWhile(_.startsWith("#"))
    val cols = headers.find(_.startsWith("#cols="))
      .map(_.stripPrefix("#cols=").split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val types: Map[String, org.apache.spark.sql.types.DataType] =
      headers.find(_.startsWith("#types="))
        .map(_.stripPrefix("#types=").split(",").toSeq.filter(_.nonEmpty))
        .map { ts =>
          cols.zip(ts.map(t =>
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t)))
            .toMap
        }
        .getOrElse(cols.map(_ -> StringType).toMap)
    val entries = lines.dropWhile(_.startsWith("#")).flatMap { line =>
      line.split(",", 3) match {
        case Array(b, c, bits) =>
          b.toIntOption.map(bb => (bb, c, java.util.Base64.getDecoder.decode(bits)))
        case _ => None
      }
    }
    (cols, types, entries.groupBy(_._1).map { case (b, xs) =>
      b -> xs.map(x => x._2 -> x._3).toMap })
  }

  private def writeBlooms(
      spark: SparkSession, path: String, v: Long, cols: Seq[String],
      types: Map[String, org.apache.spark.sql.types.DataType],
      entries: Seq[(Int, String, Array[Byte])]): Unit = {
    import org.apache.spark.sql.types.StringType
    val typesLine =
      s"#types=${cols.map(c => types.getOrElse(c, StringType).catalogString).mkString(",")}"
    MetaFile.replace(spark, bloomPath(path, v), (Seq(s"#cols=${cols.mkString(",")}", typesLine) ++
      entries.map { case (b, c, bits) =>
        s"$b,$c,${java.util.Base64.getEncoder.encodeToString(bits)}" })
      .mkString("\n"))
  }

  /** Distributed per-bucket bloom build over the staged write: one RDD
    * aggregation per declared column, filters merged per bucket
    * (mergeable Spark sketches) — the staged churn is the input, never
    * the table.
    */
  private def computeBucketBlooms(
      spark: SparkSession, stagingPath: String, cols: Seq[String],
      touched: Seq[Int], expectedItems: Long,
      fpp: Double): Map[Int, Seq[(String, Array[Byte])]] = {
    if (cols.isEmpty || touched.isEmpty) return Map.empty
    // the staged write is partitioned by "b" — partition discovery on
    // the staging ROOT surfaces it as a column
    val staged = spark.read.parquet(stagingPath)
    val present = cols.filter(staged.columns.contains)
    val out = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.ArrayBuffer[(String, Array[Byte])]]
    present.foreach { c =>
      val bloomOf = staged
        .select(col("b").cast("int").as("b"), xxhash64(col(c)).as("h"))
        .filter(col("h").isNotNull)
        .rdd.map(r => (r.getInt(0), r.getLong(1)))
        .aggregateByKey(null: org.apache.spark.util.sketch.BloomFilter)(
          (bf, h) => {
            val f = if (bf == null)
              org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)
            else bf
            f.putLong(h); f
          },
          (a, b) => {
            if (a == null) b else if (b == null) a else { a.mergeInPlace(b); a }
          })
        .collect()
      bloomOf.foreach { case (b, bf) =>
        if (bf != null && touched.contains(b)) {
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          out.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += (c -> bos.toByteArray)
        }
      }
    }
    out.map { case (k, v) => k -> v.toSeq }.toMap
  }

  /** A bloom-indexable column type: the probe re-derives the builder's
    * `xxhash64(col)` driver-side, so only types with a type-keyed probe
    * implementation are accepted (mirrors `isStatType`'s commit-time
    * guard — anything else would build filters no probe can hit and
    * silently over-prune).
    */
  private def isBloomType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | LongType | IntegerType => true
      case _ => false
    }
  }

  /** Driver-side xxhash64 of one probe value, bit-identical to how
    * [[computeBucketBlooms]]' `xxhash64(col)` hashed the column's NATIVE
    * type (Spark hashes longs/ints/strings differently — a string-hash
    * probe against a long-built filter misses every value).
    */
  private def bloomProbeHash(
      dt: org.apache.spark.sql.types.DataType, v: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.sql.types._
    def asLong: Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case s: String => s.trim.toLong
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"bloom probe value '$other' (${other.getClass.getName}) is not an " +
          s"integral key for a ${dt.catalogString} bloom column")
    }
    dt match {
      case LongType => XXH64.hashLong(asLong, 42L)
      case IntegerType => XXH64.hashInt(asLong.toInt, 42L)
      case _ =>
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(v.toString)
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
    }
  }

  /** Buckets of `version` that MIGHT hold any of `values` in `column`:
    * bloom-probed (xxhash64 over the column's RECORDED type — the
    * sidecar's `#types=` header — exactly as the filters were built);
    * buckets or columns with no sidecar entry are kept —
    * CONSERVATIVE-ONLY pruning, false negatives impossible by
    * construction (BloomSidecarSpec proves it against planted
    * hit/miss matrices).
    */
  def bloomPrunedBuckets(
      spark: SparkSession, path: String, version: Long, column: String,
      values: Seq[Any]): Seq[Int] = {
    val m = readManifest(spark, path, version)
    val (_, types, blooms) = readBlooms(spark, path, version)
    val dt = types.getOrElse(column, org.apache.spark.sql.types.StringType)
    val hashes = values.filter(_ != null).map(v => bloomProbeHash(dt, v))
    m.keySet.toSeq.sorted.filter { b =>
      blooms.get(b).flatMap(_.get(column)) match {
        case None => true // no entry: must read
        case Some(bits) =>
          val bf = org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(bits))
          hashes.exists(bf.mightContainLong)
      }
    }
  }

  /** EQUALITY read through the bloom sidecars: only buckets that might
    * contain one of `values` in `column` are opened, delete vectors
    * fold as usual (sound: deletes only narrow, the pre-delete filter
    * stays a superset), and the exact residual filter runs on top.
    */
  def readSnapshotEquals(
      spark: SparkSession, path: String, version: Long, column: String,
      values: Seq[String]): DataFrame = {
    val chosen = bloomPrunedBuckets(spark, path, version, column, values).toSet
    readBuckets(spark, path, version,
      readManifest(spark, path, version).filter { case (b, _) => chosen.contains(b) })
      .filter(col(column).isin(values: _*))
  }

  /** [[readSnapshotEquals]] on the live version. */
  def readCurrentEquals(
      spark: SparkSession, path: String, column: String,
      values: Seq[String]): DataFrame =
    readSnapshotEquals(spark, path, liveVersion(spark, path), column, values)

  private def isStatType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | StringType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  private def b64(s: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(s.getBytes("UTF-8"))

  private def unb64(s: String): Array[Byte] =
    java.util.Base64.getUrlDecoder.decode(s)

  /** Sticky stat-column set: previously declared columns plus this
    * commit's, restricted to numeric columns of the merged schema (a
    * declared column must exist and be numeric — fail fast; a PREVIOUS
    * column missing from this schema just contributes no new entries).
    */
  private def effectiveStatCols(
      prevCols: Seq[String], declared: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    declared.foreach { c =>
      require(!c.contains(","), s"stats column name '$c' must not contain ','")
      val f = schema.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"stats column '$c' is not a column of the table (have: ${schema.fieldNames.mkString(", ")})"))
      require(isStatType(f.dataType),
        s"stats column '$c' must be numeric or string, got ${f.dataType.catalogString}")
    }
    (prevCols ++ declared).distinct
      .filter(c => schema.find(_.name == c).exists(f => isStatType(f.dataType)))
  }

  /** Min/max/non-null-count per touched bucket off the STAGED write — one
    * column-pruned aggregation over the commit's own data (the churn, not
    * the table). Touched buckets whose keys all deduped away (empty dirs)
    * get 'n' entries; a double column whose min/max is NaN/Infinite gets
    * NO entry (never pruned).
    */
  private def computeBucketStats(
      spark: SparkSession, staging: String, statCols: Seq[String],
      touched: Seq[Int]): Map[Int, Seq[BucketStat]] = {
    import org.apache.spark.sql.types._
    if (statCols.isEmpty) return Map.empty
    val staged = spark.read.parquet(staging)
    val types = statCols.map(c => c -> staged.schema(c).dataType).toMap
    val aggs = statCols.zipWithIndex.flatMap { case (c, i) => Seq(
      min(col(c)).as(s"mn$i"), max(col(c)).as(s"mx$i"), count(col(c)).as(s"ct$i")) }
    val rows = staged.groupBy(col("b")).agg(aggs.head, aggs.tail: _*).collect()
    // PER-FILE entries (sub-bucket skipping on fragmented buckets): one
    // more map-side-combined aggregation over the same staged churn,
    // keyed by (bucket, part-file basename) — basenames survive the
    // staging rename into the immutable v-dir verbatim
    val fileRows = staged
      .groupBy(col("b"),
        substring_index(input_file_name(), "/", -1).as("_f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    val perFileCount = fileRows.groupBy(_.get(0).toString.toInt).map {
      case (b, rs) => b -> rs.length
    }
    def stringify(dt: DataType, v: Any): Option[(Char, String)] = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(('l', v.asInstanceOf[Number].longValue.toString))
      case FloatType | DoubleType =>
        val d = v.asInstanceOf[Number].doubleValue
        if (d.isNaN || d.isInfinite) None else Some(('d', java.lang.Double.toString(d)))
      case _: DecimalType =>
        Some(('c', v.asInstanceOf[java.math.BigDecimal].toPlainString))
      case StringType =>
        Some(('s', b64(v.asInstanceOf[String])))
      case _ => None
    }
    def entriesOf(r: org.apache.spark.sql.Row, file: String): Seq[BucketStat] =
      statCols.zipWithIndex.flatMap { case (c, i) =>
        if (r.getLong(r.fieldIndex(s"ct$i")) == 0L) Some(BucketStat(c, 'n', "", "", file))
        else for {
          (t, mn) <- stringify(types(c), r.get(r.fieldIndex(s"mn$i")))
          (_, mx) <- stringify(types(c), r.get(r.fieldIndex(s"mx$i")))
        } yield BucketStat(c, t, mn, mx, file)
      }
    val computed = rows.map { r =>
      r.get(0).toString.toInt -> entriesOf(r, "")
    }.toMap
    // file entries only where a bucket actually fragments (a single-file
    // bucket's file entry would duplicate the bucket entry byte-for-byte)
    val fileComputed = fileRows
      .filter(r => perFileCount.getOrElse(r.get(0).toString.toInt, 0) > 1)
      .groupBy(_.get(0).toString.toInt)
      .map { case (b, rs) =>
        b -> rs.toSeq.flatMap(r => entriesOf(r, r.getString(1)))
      }
    touched.map(b => b -> (computed.getOrElse(
      b, statCols.map(c => BucketStat(c, 'n', "", ""))) ++
      fileComputed.getOrElse(b, Nil))).toMap
  }

  /** Normalize user bounds to the COLUMN's comparison space, so the stats
    * prune and the residual filter use the SAME effective bounds:
    * integral columns get ceil/floor-rounded long bounds (so the residual
    * literal is a plain long — parquet row-group pushdown stays intact),
    * float/double columns get the nearest double, decimal columns compare
    * exactly. Returns `(effLower, effUpper, residualFilter)`;
    * `residualFilter` is `lit(false)` when no column value can satisfy
    * the bound (e.g. an integral lower bound above Long.MaxValue).
    */
  private def typedBounds(
      dt: org.apache.spark.sql.types.DataType, column: String,
      lower: Option[BigDecimal], upper: Option[BigDecimal])
      : (Option[BigDecimal], Option[BigDecimal], org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.types._
    import scala.math.BigDecimal.RoundingMode
    val longMax = BigDecimal(Long.MaxValue)
    val longMin = BigDecimal(Long.MinValue)
    var impossible = false
    def norm(bd: BigDecimal, isLower: Boolean): (BigDecimal, org.apache.spark.sql.Column) =
      dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          val r = bd.setScale(0, if (isLower) RoundingMode.CEILING else RoundingMode.FLOOR)
          if (isLower && r > longMax) impossible = true
          if (!isLower && r < longMin) impossible = true
          val clamped = r.max(longMin).min(longMax)
          (clamped, lit(clamped.toLong))
        case FloatType | DoubleType =>
          val d = bd.toDouble
          (BigDecimal(d), lit(d))
        case _: DecimalType => (bd, lit(bd.underlying()))
        case other => throw new IllegalArgumentException(
          s"stats-pruned read supports numeric columns; '$column' is ${other.catalogString}")
      }
    val lo = lower.map(norm(_, isLower = true))
    val hi = upper.map(norm(_, isLower = false))
    val c = col(column)
    val residual =
      if (impossible) lit(false)
      else (lo.map(x => c >= x._2).toSeq ++ hi.map(x => c <= x._2).toSeq)
        .reduceOption(_ && _).getOrElse(lit(true))
    (lo.map(_._1), hi.map(_._1), residual)
  }

  /** May a row within `[lo, hi]` live inside `st`'s bounds? Bounds are
    * numeric (`BigDecimal`, in the column's space — see [[typedBounds]])
    * or string (UTF-8 bytes). A stat compares only against bounds of its
    * own kind: 'l' long, 'd' double and 'c' exact decimal against numeric
    * bounds; 's' against string bounds BYTE-WISE unsigned, which is
    * Spark's UTF8String binary order (what the residual filter and the
    * stored min/max both use), NOT Java String's UTF-16 order — the two
    * differ for code points around the surrogate range, so comparing
    * decoded Strings would mis-prune (ZonemapStatsSpec plants that
    * case). 'n' (no non-null value) never intersects a range; any other
    * pairing, or an unparseable entry, keeps the bucket.
    */
  private def statIntersects(st: BucketStat, lo: Option[Any], hi: Option[Any]): Boolean = {
    def overlaps[T](mn: T, mx: T, bound: Any => Option[T])(implicit ord: Ordering[T]) =
      hi.flatMap(bound).forall(ord.lteq(mn, _)) && lo.flatMap(bound).forall(ord.gteq(mx, _))
    val num: Any => Option[BigDecimal] = { case d: BigDecimal => Some(d); case _ => None }
    val utf8: Any => Option[Array[Byte]] = { case a: Array[Byte] => Some(a); case _ => None }
    val byteOrder: Ordering[Array[Byte]] = (a, b) => java.util.Arrays.compareUnsigned(a, b)
    if (st.typ == 'n') false
    else try st.typ match {
      case 'l' => overlaps(BigDecimal(st.min.toLong), BigDecimal(st.max.toLong), num)
      case 'd' => overlaps(java.lang.Double.parseDouble(st.min),
        java.lang.Double.parseDouble(st.max), num(_).map(_.toDouble))
      case 'c' => overlaps(BigDecimal(st.min), BigDecimal(st.max), num)
      case 's' => overlaps(unb64(st.min), unb64(st.max), utf8)(byteOrder)
      case _ => true
    } catch { case _: IllegalArgumentException => true } // incl. NumberFormatException
  }

  /** Manifest entries that MAY hold a row of `column` within
    * `[lo, hi]` ([[statIntersects]]) per the version's stats sidecar.
    * Missing stats mean "read the bucket". Bucket decisions use
    * WHOLE-BUCKET entries only (a per-file entry covers one file's
    * narrower range — using it here would wrongly drop the rest of the
    * bucket).
    */
  private def pruneBy(
      spark: SparkSession, path: String, version: Long, m: Map[Int, Long],
      column: String, lo: Option[Any], hi: Option[Any]): Map[Int, Long] = {
    val stats = readStats(spark, path, version)._2
    m.filter { case (b, _) =>
      stats.get(b).flatMap(_.find(st => st.col == column && st.file.isEmpty))
        .forall(statIntersects(_, lo, hi))
    }
  }

  /** [[pruneBy]] with numeric bounds already in the column's space. */
  private[graft] def pruneBuckets(
      spark: SparkSession, path: String, version: Long, m: Map[Int, Long],
      column: String, effLo: Option[BigDecimal], effHi: Option[BigDecimal]): Map[Int, Long] =
    pruneBy(spark, path, version, m, column, effLo, effHi)

  /** [[pruneBy]] on a STRING column (byte-wise bounds). */
  private[graft] def pruneBucketsString(
      spark: SparkSession, path: String, version: Long, m: Map[Int, Long],
      column: String, lower: Option[String], upper: Option[String]): Map[Int, Long] =
    pruneBy(spark, path, version, m, column, lower.map(_.getBytes("UTF-8")),
      upper.map(_.getBytes("UTF-8")))

  /** The data paths of the CHOSEN buckets with PER-FILE skipping applied:
    * buckets without file entries contribute their whole dir; fragmented
    * buckets contribute only the part files whose entry may intersect
    * (files with no entry are always read — additive hints, never
    * load-bearing).
    */
  private def prunedDataPaths(
      spark: SparkSession, path: String, version: Long,
      chosen: Map[Int, Long], column: String,
      intersects: BucketStat => Boolean): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val stats = readStats(spark, path, version)._2
    val fs = fsOf(spark, path)
    chosen.toSeq.sorted.flatMap { case (b, bv) =>
      val dir = bucketDir(path, b, bv)
      val fileEntries = stats.getOrElse(b, Nil)
        .filter(st => st.col == column && st.file.nonEmpty)
      if (fileEntries.isEmpty) Seq(dir)
      else {
        val byFile = fileEntries.map(st => st.file -> st).toMap
        fs.listStatus(new Path(dir)).toSeq
          .filter { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
          .filter(f => byFile.get(f.getPath.getName).forall(intersects))
          .map(_.getPath.toString)
      }
    }
  }

  /** STATS-PRUNED read as of `version`: rows of the snapshot with
    * `column` in `[lower, upper]` (either bound open), reading ONLY the
    * bucket dirs whose zonemap may intersect — the manifest-level data
    * skipping an Iceberg/Delta reader does, at bucket granularity. The
    * residual filter is always applied (and, being a plain typed literal
    * comparison, reaches the parquet scan for row-group skipping inside
    * the buckets that ARE read), so the result is exact whether or not
    * stats exist. At 100 TB a time- or value-correlated layout turns this
    * into reading a handful of buckets instead of all of them; worst case
    * it degrades to the full snapshot read plus a pushed filter.
    */
  def readSnapshotWhere(
      spark: SparkSession, path: String, version: Long, column: String,
      lower: Option[BigDecimal], upper: Option[BigDecimal]): DataFrame = {
    requireRetained(spark, path, version)
    readWhere(spark, path, version, column, numericBounds(column, lower, upper))
  }

  /** [[readSnapshotWhere]] on the live version. */
  def readCurrentWhere(
      spark: SparkSession, path: String, column: String,
      lower: Option[BigDecimal], upper: Option[BigDecimal]): DataFrame =
    readWhere(spark, path, liveVersion(spark, path), column,
      numericBounds(column, lower, upper))

  /** STATS-PRUNED read on a STRING column as of `version`: rows with
    * `column` in `[lower, upper]` (either bound open; bounds compare in
    * Spark's binary string order), reading only the bucket dirs whose
    * string zonemap may intersect. The residual filter is a plain string
    * literal comparison (parquet row-group pushdown inside the buckets
    * that are read) — exact whether or not stats exist.
    */
  def readSnapshotWhereString(
      spark: SparkSession, path: String, version: Long, column: String,
      lower: Option[String], upper: Option[String]): DataFrame = {
    requireRetained(spark, path, version)
    readWhere(spark, path, version, column, stringBounds(column, lower, upper))
  }

  /** [[readSnapshotWhereString]] on the live version. */
  def readCurrentWhereString(
      spark: SparkSession, path: String, column: String,
      lower: Option[String], upper: Option[String]): DataFrame =
    readWhere(spark, path, liveVersion(spark, path), column,
      stringBounds(column, lower, upper))

  /** Range bounds of a stats-pruned read, given the column's type:
    * `(lo, hi, residual filter)` in [[statIntersects]]' terms.
    */
  private type Bounds = org.apache.spark.sql.types.DataType =>
    (Option[Any], Option[Any], org.apache.spark.sql.Column)

  private def numericBounds(
      column: String, lower: Option[BigDecimal], upper: Option[BigDecimal]): Bounds =
    dt => typedBounds(dt, column, lower, upper)

  private def stringBounds(
      column: String, lower: Option[String], upper: Option[String]): Bounds = { dt =>
    require(dt == org.apache.spark.sql.types.StringType,
      s"readSnapshotWhereString needs a string column; '$column' is ${dt.catalogString} " +
        "(use readSnapshotWhere for numeric columns)")
    val c = col(column)
    (lower.map(_.getBytes("UTF-8")), upper.map(_.getBytes("UTF-8")),
      (lower.map(l => c >= lit(l)).toSeq ++ upper.map(u => c <= lit(u)).toSeq)
        .reduceOption(_ && _).getOrElse(lit(true)))
  }

  /** The one body of both stats-pruned reads, on a gated version: the
    * column's type (from the table schema — metadata, not data IO) types
    * the bounds; buckets prune on their zonemaps, part files inside the
    * chosen buckets on their per-file entries, and the residual filter
    * runs on top. Delete vectors of the CHOSEN buckets fold in after
    * pruning (a delete only narrows content, so pre-delete min/max stay
    * SAFE — at worst a bucket is read unnecessarily, never skipped
    * wrongly).
    */
  private def readWhere(
      spark: SparkSession, path: String, version: Long, column: String,
      bounds: Bounds): DataFrame = {
    val m = nonEmptyManifest(spark, path, version)
    val schema = tableSchema(spark, path, version)
    val dt = schema.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(
        s"column '$column' is not a column of the table at $path " +
          s"(have: ${schema.fieldNames.mkString(", ")})")).dataType
    val (lo, hi, residual) = bounds(dt)
    val chosen = pruneBy(spark, path, version, m, column, lo, hi)
    readBuckets(spark, path, version, chosen, Some(prunedDataPaths(spark, path, version,
      chosen, column, statIntersects(_, lo, hi)))).filter(residual)
  }

  /** POINT-LOOKUP read as of `version`: rows whose `key` is in `keys`,
    * reading ONLY the buckets the key hash maps to — the serve-path read
    * of a keyed 100 TB table (a 20-key lookup touches ≤ 20 of the
    * buckets, each pre-merged and small). The key hash must match the
    * commit's (`pmod(xxhash64(key), nBuckets)` on the STORED key type),
    * so the arity comes from the manifest's `#nBuckets=` header; a
    * pre-header table degrades to reading every bucket (still exact).
    * `keys` is a driver-side list, capped at `maxKeys` — for large key
    * sets use a broadcast semi-join against the table read instead.
    */
  def readSnapshotKeys(
      spark: SparkSession, path: String, version: Long, key: String,
      keys: Seq[Any], maxKeys: Int = 10000): DataFrame = {
    requireRetained(spark, path, version)
    readKeys(spark, path, version, key, keys, maxKeys)
  }

  /** [[readSnapshotKeys]] on a gated version. */
  private def readKeys(
      spark: SparkSession, path: String, version: Long, key: String,
      keys: Seq[Any], maxKeys: Int): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(keys.nonEmpty, "readSnapshotKeys: empty key list")
    // reject null keys up front (fail-loudly, like the mistyped-key path):
    // a null would hash to a NULL bucket (NPE on collect) and `isin` never
    // matches null anyway — a null key can have no stored row
    require(keys.forall(_ != null),
      "readSnapshotKeys: null key in the lookup list — bucketed keys are " +
        "non-null by construction (mergeByKey rejects null keys at commit)")
    require(keys.size <= maxKeys,
      s"readSnapshotKeys: ${keys.size} keys > maxKeys=$maxKeys — use a broadcast " +
        "semi-join against readSnapshot for large key sets")
    val m = nonEmptyManifest(spark, path, version)
    val keyDt = tableSchema(spark, path, version).find(_.name == key).getOrElse(
      throw new IllegalArgumentException(
        s"key '$key' is not a column of the table at $path")).dataType
    val chosen = readNBuckets(spark, path, version) match {
      case Some(n) =>
        // hash exactly as the commit did: same function, same stored type
        // (createDataFrame validates the external type against keyDt, so a
        // mistyped key list fails loudly instead of hashing differently)
        val kdf = spark.createDataFrame(
          spark.sparkContext.parallelize(keys.map(Row(_)), 1),
          StructType(Seq(StructField(key, keyDt))))
        val buckets = kdf
          .select(pmod(xxhash64(col(key)), lit(n.toLong)).cast("int").as("b"))
          .distinct().collect().map(_.getInt(0)).toSet
        m.filter { case (b, _) => buckets.contains(b) }
      case None => m // pre-header table: no pruning, still exact
    }
    readBuckets(spark, path, version, chosen).filter(col(key).isin(keys: _*))
  }

  /** [[readSnapshotKeys]] on the live version. */
  def readCurrentKeys(
      spark: SparkSession, path: String, key: String,
      keys: Seq[Any], maxKeys: Int = 10000): DataFrame =
    readKeys(spark, path, liveVersion(spark, path), key, keys, maxKeys)

  /** COMPACTION as a table version: rewrite every live bucket dir holding
    * more than `maxFilesPerBucket` data files into ONE file at a fresh
    * bucket version, then commit through the normal manifest + pointer
    * flip — a maintenance commit with NO data change. Daily CDC through
    * [[applyChanges]] leaves each hot bucket version with one part file
    * per staging shuffle partition; left alone, a 100 TB table's read
    * amplification grows with commit count. Properties:
    *
    *  - write cost scales with the FRAGMENTED buckets only; compact
    *    entries for untouched buckets are copied verbatim;
    *  - time-travel-safe: pinned readers of prior versions keep their
    *    immutable dirs (within retention) — CompactionSpec proves the
    *    pre-compaction version byte-stable and the live read equivalent;
    *  - crash-safe and CAS-guarded like any other commit (a crash leaves
    *    inert orphan bucket dirs; a racing writer aborts one side).
    *
    * Runs one small coalesce job per fragmented bucket — bounded by
    * nBuckets, not table size. Returns the committed version (the live
    * version unchanged when nothing is fragmented).
    */
  def compact(
      spark: SparkSession,
      path: String,
      maxFilesPerBucket: Int = 1,
      keepVersions: Int = 2): Long = {
    import org.apache.hadoop.fs.Path
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val fs = fsOf(spark, path)
    val (state, casBase) = pinnedPointer(spark, path)
    val cur = Snapshots.requireLive(path, state.map(_._1))
    val curManifest = readManifest(spark, path, cur)
    def dataFiles(b: Int, bv: Long): Int =
      fs.listStatus(new Path(bucketDir(path, b, bv))).count { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    // a bucket is fragmented if it holds too many data files OR carries
    // merge-on-read delete vectors — compaction FOLDS the sidecars into
    // the rewrite, so the new entry reads without the anti-join
    val curDvs = readDvs(spark, path, cur)
    val fragmented = curManifest.toSeq
      .filter { case (b, bv) =>
        dataFiles(b, bv) > maxFilesPerBucket || curDvs.getOrElse(b, Nil).nonEmpty }
      .map(_._1).sorted
    if (fragmented.isEmpty) return cur
    val newBucketVersions = fragmented.map { b =>
      val tmp = new Path(
        path + "__vstaging_compact_" + java.util.UUID.randomUUID().toString.take(12))
      foldDeletes(spark, path,
        spark.read.parquet(bucketDir(path, b, curManifest(b))),
        curDvs.getOrElse(b, Nil).map(b -> _))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      b -> claimBucketDir(spark, path, b, tmp, "v")
    }.toMap
    // no row-value change: the compacted buckets' BUCKET-LEVEL zonemap
    // stats carry verbatim (after a dv fold the carried bounds may be
    // WIDER than the surviving rows — safe for pruning, which only skips
    // when the range provably excludes; the next data commit recomputes
    // them). Per-FILE entries are dropped: the rewrite renames the files
    // and one compacted file needs no sub-bucket skipping anyway.
    val prevStats = readStats(spark, path, cur)._2
    val carried = fragmented.map(b =>
      b -> prevStats.getOrElse(b, Nil).filter(_.file.isEmpty)).toMap
    commitManifest(spark, path, state, casBase, curManifest, newBucketVersions,
      keepVersions, Nil, carried)
  }

  /** BUCKET-COUNT EVOLUTION as a table version: rewrite the LIVE table
    * under a new hash arity and commit it through the normal manifest +
    * pointer flip — the sanctioned path for the arity change
    * [[mergeCommit]]'s guard rejects. A full rewrite is inherent (every
    * key can move buckets under the new hash), so this is the
    * "rewrite-to-resize" maintenance job a growing table schedules
    * off-peak, NOT a per-commit operation; after it, commits must pass
    * the new `nBuckets` (the manifest header changes with the version,
    * so time travel and tagged reads keep their own arity — point
    * lookups against a pinned old version still hash with the old one).
    * Zonemap stats are recomputed for every new bucket (the stat-column
    * set carries via the header); pinned/tagged readers keep their
    * immutable dirs within retention. CAS-guarded like any commit.
    *
    * `key` must be the column every commit hashed on — passing a
    * different one would scatter keys exactly like the arity mismatch
    * the guard exists for.
    */
  def rebucket(
      spark: SparkSession,
      path: String,
      key: String,
      newNBuckets: Int,
      keepVersions: Int = 2): Long = {
    import org.apache.hadoop.fs.Path
    require(newNBuckets >= 1, "newNBuckets must be >= 1")
    val fs = fsOf(spark, path)
    val (state, casBase) = pinnedPointer(spark, path)
    val cur = Snapshots.requireLive(path, state.map(_._1))
    require(!readNBuckets(spark, path, cur).contains(newNBuckets),
      s"table at $path already has nBuckets=$newNBuckets")
    // the pinned version needs no retention check: no third pointer read
    val rows = snapshot(spark, path, cur)
    require(rows.columns.contains(key), s"key '$key' is not a column of the table at $path")
    val bucketOf = pmod(xxhash64(col(key)), lit(newNBuckets.toLong)).cast("int")
    val prevStatCols = readStats(spark, path, cur)._1
    // one staging write under the NEW arity, then per-bucket claims —
    // same invisibility as mergeCommit (the commit point is the flip)
    val staging = new Path(
      path + "__vstaging_rebucket_" + java.util.UUID.randomUUID().toString.take(12))
    rows.withColumn("b", bucketOf)
      .write.partitionBy("b").mode(SaveMode.Overwrite).parquet(staging.toString)
    val touched = (0 until newNBuckets).toIndexedSeq
    val statCols = effectiveStatCols(prevStatCols, Nil, rows.schema)
    val newStats = computeBucketStats(spark, staging.toString, statCols, touched)
    val newBucketVersions = touched.map { b =>
      val src = new Path(staging, s"b=$b")
      if (!fs.exists(src))
        rows.limit(0).write.mode(SaveMode.Overwrite).parquet(src.toString)
      b -> claimBucketDir(spark, path, b, src, "v")
    }.toMap
    fs.delete(staging, true)
    // the new manifest REPLACES the bucket set wholesale: pass an empty
    // current manifest so stale old-arity entries never leak in (and the
    // schema header REPLACES too — every dir was just rewritten)
    commitManifest(spark, path, state, casBase, Map.empty,
      newBucketVersions, keepVersions, statCols, newStats, newNBuckets,
      bucketKey = key, schemaUpdate = Some(rows.schema), schemaReplace = true)
  }

  /** Next version for one bucket: one past the max dir present (orphans
    * from dead runs never get their slot reused).
    */
  private def nextBucketVersion(spark: SparkSession, path: String, b: Int): Long =
    nextDirVersion(spark, path, b, "v")

  private def nextDirVersion(
      spark: SparkSession, path: String, b: Int, kind: String): Long = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, path)
    val base = new Path(s"$path/b=$b")
    val floor =
      if (!fs.exists(base)) 0L
      else fs.listStatus(base).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(kind + "="))
        .flatMap(st => st.getPath.getName.stripPrefix(kind + "=").toLongOption)
        .foldLeft(0L)(math.max)
    floor + 1
  }

  /** CLAIM a fresh `$kind=<id>` dir under `$path/b=$b` create-exclusively:
    * rename `src` onto the one-past-max id via `FileContext` with the
    * no-overwrite semantics of [[claimExclusive]], retrying with a fresh
    * id when a concurrent writer takes the same slot. Never clobbers an
    * existing dir — two racing commits each keep their own placed dirs
    * and the MANIFEST claim decides commit order (the loser's dirs become
    * unreferenced orphans for [[vacuum]]/retention, never corruption).
    * Returns the claimed id; `src` is left intact on a lost claim so the
    * retry can move it.
    */
  private def claimBucketDir(
      spark: SparkSession, path: String, b: Int,
      src: org.apache.hadoop.fs.Path, kind: String): Long = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, path)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      new Path(path).toUri, spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(s"$path/b=$b"))
    var attempts = 0
    while (true) {
      val id = nextDirVersion(spark, path, b, kind)
      val dst = new Path(s"$path/b=$b/$kind=$id")
      try {
        fc.rename(src, dst) // Rename.NONE: fails on an existing dst
        return id
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException |
             _: org.apache.hadoop.fs.PathExistsException =>
          attempts += 1
          if (attempts > 64) throw new CommitConflictException(
            s"commit at $path: could not claim a $kind dir for bucket $b " +
              "after 64 attempts — a concurrent writer is racing this commit")
      }
    }
    0L // unreachable
  }

  private def allManifestVersions(spark: SparkSession, path: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, path)
    val dir = new Path(s"$path/manifest")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v=") && n.endsWith(".txt"))
      .flatMap(n => n.stripPrefix("v=").stripSuffix(".txt").toLongOption)
  }

  /** Delete bucket dirs and manifests referenced by NO retained version;
    * orphans (never-committed) age out once below the retention floor —
    * the floor is the OLDEST RETAINED version, never an arithmetic window
    * on the next version number (crash orphans inflate that).
    */
  private def gc(spark: SparkSession, path: String, retained: Seq[Long]): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, path)
    // tagged versions AND branch heads are pinned: their manifests and
    // every bucket dir they reference survive, whatever the retention
    // window says (intermediate branch commits are unpinned orphans that
    // age out below the floor like any crash orphan)
    val tagged = Snapshots.readRefs(spark, path).values.toSeq ++
      Snapshots.readBranches(spark, path).values.map(_._1)
    val keepManifests = retained.toSet ++ tagged
    val floor = retained.min
    val refVersions = (retained ++ tagged).distinct
      .filter(v => fs.exists(new Path(manifestPath(path, v))))
    val live: Set[(Int, Long)] =
      refVersions.flatMap(v => readManifest(spark, path, v).toSeq).toSet
    // delete-vector sidecars referenced by ANY retained/tagged manifest
    // must survive exactly like data dirs
    val liveDv: Set[(Int, Long)] =
      refVersions.flatMap(v => dvPairs(readDvs(spark, path, v))).toSet
    allManifestVersions(spark, path)
      .filter(v => !keepManifests.contains(v) && v < floor)
      .foreach { v =>
        fs.delete(new Path(manifestPath(path, v)), false)
        fs.delete(new Path(statsPath(path, v)), false) // sidecar, if any
        fs.delete(new Path(bloomPath(path, v)), false) // sidecar, if any
      }
    val root = new Path(path)
    if (fs.exists(root)) fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("b="))
      .foreach { bdir =>
        val b = bdir.getPath.getName.stripPrefix("b=").toIntOption
        b.foreach { bucket =>
          val liveVs = live.collect { case (`bucket`, bv) => bv }
          val floor = if (liveVs.isEmpty) Long.MaxValue else liveVs.min
          // sidecar rule: delete unreferenced dv dirs AT OR BELOW the
          // highest referenced id only. A concurrent deleteKeys' just-
          // staged sidecar always has an id above every referenced one
          // (nextDvVersion is one past the max DIR), so it is never
          // collectable here; once-folded orphans linger until the next
          // delete commit raises the referenced ceiling past them
          // (churn-sized bytes, not a correctness issue).
          val liveDvs = liveDv.collect { case (`bucket`, j) => j }
          val dvCeil = if (liveDvs.isEmpty) 0L else liveDvs.max
          fs.listStatus(bdir.getPath).toSeq
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
            .flatMap(st => st.getPath.getName.stripPrefix("v=").toLongOption
              .map(bv => (st.getPath, bv)))
            // unreferenced AND below every retained reference: referenced
            // dirs stay, and orphans ABOVE the floor stay until the
            // retention window passes them (a fallback reader may look)
            .filter { case (_, bv) => !liveVs.contains(bv) && bv < floor }
            .foreach { case (p, _) => fs.delete(p, true) }
          fs.listStatus(bdir.getPath).toSeq
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("dv="))
            .flatMap(st => st.getPath.getName.stripPrefix("dv=").toLongOption
              .map(j => (st.getPath, j)))
            .filter { case (_, j) => !liveDvs.contains(j) && j <= dvCeil }
            .foreach { case (p, _) => fs.delete(p, true) }
        }
      }
  }

  /** VACUUM: delete every filesystem object of the table that NO
    * retained, tagged, or branch-pinned version references and whose age
    * exceeds `olderThanMs`:
    *
    *  - unreferenced `b=N/v=M` data dirs and `b=N/dv=J` sidecars at ANY
    *    id — retention [[gc]] only sweeps below its reference floors, so
    *    claim-lost and crashed-run orphans ABOVE the referenced ceiling
    *    accumulate until vacuum;
    *  - manifests and stats sidecars of unreferenced versions (including
    *    a DISCARDED branch's intermediate commits), plus crashed `.tmp`
    *    manifest claims;
    *  - crashed writers' sibling staging dirs (`<table>__vstaging*`).
    *
    * The age horizon is the concurrency guard, and it is an INVARIANT
    * THE CALLER OWNS: `olderThanMs` MUST exceed the longest possible
    * commit duration of any writer on this table (stage write + claim +
    * manifest write). A claimed-but-not-yet-committed dir or a live
    * staging dir that outlives the horizon — a big fold on a slow
    * cluster — IS deleted mid-commit and fails that writer's commit
    * (data stays consistent: the pointer never flipped; the writer
    * retries from staging). The 1 h default suits interactive tables;
    * size it to ≥ 2× the slowest observed commit for large batch loads.
    * Within the horizon the guard is sound: an in-flight commit's
    * just-claimed dirs and just-written staging are younger than it, and
    * vacuum never participates in the create-exclusive claim protocol —
    * it only deletes NEVER-REFERENCED names, which a claimant re-lists
    * on every claim retry, so a freed slot can only ever be reclaimed by
    * a writer that owns it exclusively. Run `olderThanMs=0` only on a
    * quiesced table. Returns the number of deleted objects.
    */
  def vacuum(
      spark: SparkSession, path: String, olderThanMs: Long = 3600000L): Int = {
    import org.apache.hadoop.fs.Path
    require(olderThanMs >= 0, "olderThanMs must be >= 0")
    val fs = fsOf(spark, path)
    val now = System.currentTimeMillis()
    def aged(st: org.apache.hadoop.fs.FileStatus): Boolean =
      now - st.getModificationTime >= olderThanMs
    // the full pin set: retained window + tags + branch heads
    val refVersions = versions(spark, path)
    val live: Set[(Int, Long)] =
      refVersions.flatMap(v => readManifest(spark, path, v).toSeq).toSet
    val liveDv: Set[(Int, Long)] =
      refVersions.flatMap(v => dvPairs(readDvs(spark, path, v))).toSet
    var deleted = 0
    def rm(p: Path, recursive: Boolean): Unit =
      if (try fs.delete(p, recursive) catch { case _: java.io.IOException => false })
        deleted += 1
    // unreferenced manifests + their stats sidecars + crashed tmp claims
    val mdir = new Path(s"$path/manifest")
    if (fs.exists(mdir)) fs.listStatus(mdir).toSeq.foreach { st =>
      val n = st.getPath.getName
      val isTmp = n.endsWith(".tmp")
      val vOpt =
        if (!n.startsWith("v=")) None
        else if (n.endsWith(".stats.txt"))
          n.stripPrefix("v=").stripSuffix(".stats.txt").toLongOption
        else if (n.endsWith(".bloom.txt")) // before the plain .txt rule
          n.stripPrefix("v=").stripSuffix(".bloom.txt").toLongOption
        else if (n.endsWith(".txt"))
          n.stripPrefix("v=").stripSuffix(".txt").toLongOption
        else None
      // only recognized names are swept; anything else stays (conservative)
      if (aged(st) && (isTmp || vOpt.exists(v => !refVersions.contains(v))))
        rm(st.getPath, false)
    }
    // unreferenced bucket data dirs and dv sidecars at any id
    val root = new Path(path)
    if (fs.exists(root)) fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("b="))
      .foreach { bdir =>
        bdir.getPath.getName.stripPrefix("b=").toIntOption.foreach { bucket =>
          fs.listStatus(bdir.getPath).toSeq.foreach { st =>
            val n = st.getPath.getName
            val keep =
              (n.startsWith("v=") && n.stripPrefix("v=").toLongOption
                .exists(bv => live.contains(bucket -> bv))) ||
              (n.startsWith("dv=") && n.stripPrefix("dv=").toLongOption
                .exists(j => liveDv.contains(bucket -> j)))
            if (!keep && st.isDirectory && aged(st) &&
                (n.startsWith("v=") || n.startsWith("dv=")))
              rm(st.getPath, true)
          }
        }
      }
    // crashed writers' sibling staging dirs
    val parent = root.getParent
    if (parent != null && fs.exists(parent)) {
      val prefix = root.getName + "__vstaging"
      fs.listStatus(parent).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix) && aged(st))
        .foreach(st => rm(st.getPath, true))
    }
    deleted
  }
}
