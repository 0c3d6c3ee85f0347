package graft.operators

import graft.sources.MetaFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

/** Raised when the single-pointer CAS detects a concurrent commit: the
  * live `_CURRENT` moved past the merge base this commit resolved. The
  * staged version directory is an inert orphan (never referenced, GC'd by
  * later commits); the caller retries the whole read-merge-commit from
  * the new base.
  */
class CommitConflictException(msg: String)
  extends java.util.ConcurrentModificationException(msg)

/** Pointer-committed versioned snapshots with time travel — the one
  * commit protocol of every unbucketed maintained table (keyed upsert
  * [[Incremental.upsertByKey]], CDC snapshot [[Cdc.applyChanges]], SCD2
  * history, sketch and aggregate state). A commit never renames a table
  * directory, so there is no reader-visible gap and any retained version
  * can be pinned — on an object store (no atomic rename) the difference
  * between "works" and "corrupts a concurrent reader". This is the role
  * Delta/Iceberg's metadata log plays, reduced to the minimum that gives
  * atomic commit + snapshot isolation + time travel:
  *
  *   path/v=1/part-*.parquet     immutable committed snapshots
  *   path/v=2/part-*.parquet
  *   path/_CURRENT               first line = live version; remaining
  *                               lines = older RETAINED committed versions
  *
  * Commit = write the full new snapshot to `v=N+1` (invisible to readers),
  * then atomically replace `_CURRENT` — a single small-object write.
  * [[flipPointer]] is the one commit point of both table formats (this
  * one and [[BucketedSnapshots]]): it CAS-checks the pointer, then writes
  * it through [[graft.sources.MetaFile.replace]], the one atomic write of
  * every metadata file (pointer, refs, branches, manifest sidecars). A
  * crash before the pointer flip leaves `v=N` live and
  * `v=N+1` as an inert orphan the next commit skips past (never a merge
  * base, never time-travel-readable — the committed-version list in the
  * pointer is what distinguishes a real historical snapshot from a failed
  * write that happens to carry `_SUCCESS`). A crash after the flip but
  * before retention GC leaves an extra old snapshot, collected by the next
  * commit. There is NO window with no live table and no partial state a
  * reader can observe.
  *
  * Snapshot isolation: a reader that resolved version N keeps reading an
  * immutable directory; commits never mutate existing files. With
  * `keepVersions = K`, a pinned reader survives `K - 1` subsequent
  * commits; past that, [[readSnapshot]] fails with a clear error instead
  * of returning a half-deleted directory. Writers are optimistically
  * concurrent: the pointer flip CAS-checks the merge base and a losing
  * racer aborts with [[CommitConflictException]] instead of silently
  * last-writer-winning (see [[commitWith]]).
  *
  * 100 TB note: this protocol rewrites the full snapshot per commit — use
  * it directly for state that is SMALL relative to its churn (sketch
  * state, dimension history, serve slices, index manifests). For a big
  * keyed table use [[BucketedSnapshots]], which commits per-bucket
  * versioned dirs under one manifest and the same pointer protocol.
  */
object Snapshots {

  def versionDir(path: String, v: Long): String = s"$path/v=$v"

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Parse `_CURRENT`: (live version, retained committed versions). Legacy
    * single-number markers (the protocol's original format) parse as a
    * one-entry history. None when the marker is absent, unparseable, or
    * dangles (its live version has no directory).
    */
  private[graft] def pointerState(
      spark: SparkSession, path: String): Option[(Long, Seq[Long])] =
    pinnedPointer(spark, path)(hasVersionDir(spark, path))._1

  private def hasVersionDir(spark: SparkSession, path: String)(v: Long): Boolean =
    fsOf(spark, path).exists(new org.apache.hadoop.fs.Path(versionDir(path, v)))

  /** The live pointer from ONE read of `_CURRENT`: `(state, casBase)` —
    * the state, kept only if `valid` finds its live version in the
    * layout, and the raw live version the flip CAS-checks
    * ([[flipPointer]]). One read is what makes the CAS exact: a
    * commit landing after it moves the pointer off `casBase`, so the flip
    * aborts instead of dropping that commit. A dangling pointer reads as
    * no state but keeps its raw CAS base, so it is not mistaken for
    * someone else's commit.
    */
  private[graft] def pinnedPointer(spark: SparkSession, path: String)(
      valid: Long => Boolean): (Option[(Long, Seq[Long])], Option[Long]) = {
    val raw = pointerStateRaw(spark, path)
    (raw.filter { case (v, _) => valid(v) }, raw.map(_._1))
  }

  /** [[pointerState]] without the `v=N`-directory existence check — for
    * layouts that validate the pointer against their own metadata (the
    * bucketed table's manifest, [[BucketedSnapshots]]).
    */
  private[graft] def pointerStateRaw(
      spark: SparkSession, path: String): Option[(Long, Seq[Long])] =
    MetaFile.read(spark, s"$path/_CURRENT").flatMap { txt =>
      val vs = txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .flatMap(_.toLongOption).toSeq
      vs.headOption.map(v => (v, vs.distinct))
    }

  /** The pointer-committed live version, if any. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    pointerState(spark, path).map(_._1)

  /** Committed versions still readable, newest first: the pointer's
    * retained history plus any TAGGED versions (named refs pin a version
    * against retention — see [[tag]]). Falls back to a `_SUCCESS` scan
    * when the pointer is lost (read-side recovery only — same
    * degradation contract as [[readCurrent]]).
    */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, path)
    pointerState(spark, path) match {
      case Some((_, vs)) =>
        (vs ++ readRefs(spark, path).values).distinct
          .filter(v => fs.exists(new Path(versionDir(path, v)))).sorted.reverse
      case None => successVersions(spark, path).sorted.reverse
    }
  }

  // ------------------------------------------------------------------
  // Named refs (tags): reproducibility pins — "the version run X read"
  // ------------------------------------------------------------------

  private def refPath(path: String, name: String) = s"$path/refs/$name.txt"

  // ------------------------------------------------------------------
  // branch files (`branches/<name>.txt` = "head,base") — the WRITABLE
  // sibling of tags: head moves with branch commits, base records the
  // main version the branch forked from (the fast-forward publish check)
  // ------------------------------------------------------------------
  private def branchFile(path: String, name: String) = s"$path/branches/$name.txt"

  private[graft] def readBranches(
      spark: SparkSession, path: String): Map[String, (Long, Long)] =
    readNamed(spark, s"$path/branches").flatMap { case (name, txt) =>
      txt.trim.split(",") match {
        case Array(h, b) =>
          for { hv <- h.toLongOption; bv <- b.toLongOption } yield name -> (hv, bv)
        case _ => None
      }
    }.toMap

  /** `name -> text` of every `<name>.txt` under `dir` (refs, branches). */
  private def readNamed(spark: SparkSession, dir: String): Seq[(String, String)] = {
    import org.apache.hadoop.fs.Path
    val fs = fsOf(spark, dir)
    val d = new Path(dir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".txt"))
      .flatMap(st => MetaFile.read(spark, st.getPath.toString)
        .map(st.getPath.getName.stripSuffix(".txt") -> _))
  }

  /** Write a ref or branch file; without `overwrite` an existing one is
    * an error (`taken`).
    */
  private def writeNamed(spark: SparkSession, file: String, name: String,
      text: String, overwrite: Boolean, taken: => String): Unit = {
    checkRefName(name)
    require(overwrite || !fsOf(spark, file).exists(new org.apache.hadoop.fs.Path(file)), taken)
    MetaFile.replace(spark, file, text)
  }

  private[graft] def writeBranchFile(spark: SparkSession, path: String, name: String,
      head: Long, base: Long, overwrite: Boolean): Unit =
    writeNamed(spark, branchFile(path, name), name, s"$head,$base", overwrite,
      s"branch '$name' already exists at $path")

  private[graft] def dropBranchFile(spark: SparkSession, path: String, name: String): Unit = {
    import org.apache.hadoop.fs.Path
    checkRefName(name)
    fsOf(spark, path).delete(new Path(branchFile(path, name)), false)
    ()
  }

  private def checkRefName(name: String): Unit =
    require(name.nonEmpty && name.length <= 128 &&
      name.forall(c => c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"ref name '$name' must be [A-Za-z0-9._-]{1,128}")

  /** All named refs of a table: name -> pinned version. */
  def listTags(spark: SparkSession, path: String): Map[String, Long] =
    readRefs(spark, path)

  private[graft] def readRefs(spark: SparkSession, path: String): Map[String, Long] =
    readNamed(spark, s"$path/refs").flatMap { case (name, txt) =>
      txt.trim.toLongOption.map(name -> _)
    }.toMap

  /** TAG a committed version under a name — the training-run
    * reproducibility pin: a tagged version (and everything it references)
    * survives retention GC until [[dropTag]], however many commits pass,
    * so "the exact snapshot model X trained on" stays readable. The ref
    * write is atomic (tmp + rename); re-tagging an existing name requires
    * `overwrite = true` (tags are pins, not branches — accidental
    * re-pointing is the failure mode). Layout-shared: [[BucketedSnapshots
    * .tag]] validates against its own version set and delegates here.
    */
  def tag(spark: SparkSession, path: String, name: String, version: Long,
      overwrite: Boolean = false): Unit = {
    checkRefName(name)
    val have = versions(spark, path)
    require(have.contains(version),
      s"cannot tag v=$version at $path: not a readable committed version " +
        s"(have: ${if (have.isEmpty) "none" else have.mkString(", ")})")
    // capture the prior pin BEFORE the write: a failed re-tag must restore
    // it, not delete it (dropping would leave the name dangling AND make
    // the previously-pinned version newly GC-eligible)
    val prior = if (overwrite) readRefs(spark, path).get(name) else None
    writeRef(spark, path, name, version, overwrite)
    // tag() is check-then-write: between the validation above and the ref
    // write, a concurrent commit's retention GC may have deleted this
    // version (it only becomes GC-pinned once the ref file exists).
    // Re-verify AFTER the write — if the version is gone, restore the
    // prior pin (or remove the fresh ref) and fail loudly rather than
    // leave a tag pointing at deleted data.
    if (!versions(spark, path).contains(version)) {
      prior match {
        case Some(pv) => writeRef(spark, path, name, pv, overwrite = true)
        case None => dropTag(spark, path, name)
      }
      throw new java.util.ConcurrentModificationException(
        s"tag '$name' at $path lost a race with retention GC: v=$version was " +
          "collected before the ref pinned it — re-tag a retained version" +
          prior.fold("")(pv => s" (prior pin v=$pv restored)"))
    }
  }

  private[graft] def writeRef(spark: SparkSession, path: String, name: String,
      version: Long, overwrite: Boolean): Unit =
    writeNamed(spark, refPath(path, name), name, version.toString, overwrite,
      s"ref '$name' already exists at $path (pass overwrite = true to re-pin)")

  /** The version a tag pins, if the tag exists. */
  def tagVersion(spark: SparkSession, path: String, name: String): Option[Long] =
    readRefs(spark, path).get(name)

  /** Read the table exactly as the named tag pinned it. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame =
    tagVersion(spark, path, name) match {
      case Some(v) => readSnapshot(spark, path, v)
      case None => throw new java.io.FileNotFoundException(
        s"no ref '$name' at $path (have: ${readRefs(spark, path).keys.toSeq.sorted.mkString(", ") match { case "" => "none"; case s => s }})")
    }

  /** Drop a tag: the pinned version re-enters normal retention and is
    * GC'd by the next commit once outside the retained window.
    */
  def dropTag(spark: SparkSession, path: String, name: String): Unit = {
    import org.apache.hadoop.fs.Path
    checkRefName(name)
    fsOf(spark, path).delete(new Path(refPath(path, name)), false)
    ()
  }

  /** Read the live snapshot: the `_CURRENT` pointer, else — READ-SIDE
    * RECOVERY ONLY, for a lost or corrupted marker — the highest
    * `_SUCCESS`-complete snapshot. Writers never take the fallback (see
    * [[commitWith]]): a reader degrading to the last complete snapshot is
    * safe, a writer merging from one could commit a change the caller saw
    * fail.
    */
  def readCurrent(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(versionDir(path, requireLive(path,
      currentVersion(spark, path).orElse(successVersions(spark, path).sorted.lastOption))))

  /** The live version (or snapshot) a reader or writer resolved, or the
    * one error both table formats raise for a table with no commit.
    */
  private[graft] def requireLive[A](path: String, live: Option[A]): A =
    live.getOrElse(throw new java.io.FileNotFoundException(s"no committed snapshot under $path"))

  /** The one version gate of both table formats: `version` must be one of
    * `have` (the layout's readable committed versions), else a
    * FileNotFoundException names the retained list.
    */
  private[graft] def requireRetained(path: String, version: Long, have: Seq[Long]): Unit =
    if (!have.contains(version))
      throw new java.io.FileNotFoundException(
        s"snapshot v=$version at $path is not a retained committed version " +
          s"(retained: ${if (have.isEmpty) "none" else have.mkString(", ")})")

  /** TIME TRAVEL: read the table exactly as committed at `version`. Only
    * versions in the retained committed history qualify — an expired
    * (GC'd) version or an orphan from a failed write fails fast with the
    * retained list, never returns partial data.
    */
  def readSnapshot(spark: SparkSession, path: String, version: Long): DataFrame = {
    requireRetained(path, version, versions(spark, path))
    spark.read.parquet(versionDir(path, version))
  }

  /** CHANGE DATA FEED between two committed versions — the incremental-
    * consumer API (the Delta CDF / Iceberg incremental-read role): one row
    * per key whose STORED row differs between `fromV` and `toV`, with
    * `op` = 'I' (key new at toV), 'U' (key present in both, any non-key
    * column differs — null-safe compare), or 'D' (key gone at toV; the
    * emitted payload is the FROM-side preimage, the standard CDC delete
    * convention). A downstream job processes only what changed instead of
    * diffing two full reads itself.
    *
    * Scale shape: one keyed full-outer join of two snapshot scans — for
    * big tables use the [[BucketedSnapshots.readChangesBetween]] twin,
    * which reads ONLY the buckets whose manifest entry changed between
    * the versions (untouched bucket dirs are shared, hence provably
    * identical — zero bytes read for them).
    */
  def readChangesBetween(
      spark: SparkSession, path: String, key: String,
      fromV: Long, toV: Long, updatePreimages: Boolean = false): DataFrame = {
    require(fromV < toV, s"change feed runs forward: fromV=$fromV, toV=$toV")
    diffByKey(readSnapshot(spark, path, fromV), readSnapshot(spark, path, toV), key,
      updatePreimages)
  }

  /** The keyed table diff behind the change feeds: `(payload columns, op)`
    * with the I/U/D semantics of [[readChangesBetween]]. Schema evolution
    * between the versions is aligned union-by-name (a column added at toV
    * reads as NULL on the from side, so rows differing only there surface
    * as U); retyped columns are rejected
    * ([[Incremental.alignSchemas]]). Rows with a NULL key never match and
    * surface as a D + I pair (keyed tables should not carry null keys).
    */
  def diffByKey(from0: DataFrame, to0: DataFrame, key: String,
      updatePreimages: Boolean = false): DataFrame = {
    val (from, to) = Incremental.alignSchemas(from0, to0)
    val cols = to.columns.toSeq
    require(cols.contains(key), s"diffByKey: key '$key' not in schema")
    val f = from.select(cols.map(c => col(c).as(s"__f_$c")): _*)
    val t = to.select(cols.map(c => col(c).as(s"__t_$c")): _*)
    val payload = cols.filterNot(_ == key)
    val changed = payload.map(c => !(col(s"__f_$c") <=> col(s"__t_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val joined = f.join(t, col(s"__f_$key") === col(s"__t_$key"), "full_outer")
      .withColumn("op",
        when(col(s"__f_$key").isNull, "I")
          .when(col(s"__t_$key").isNull, "D")
          .when(changed, "U"))
      .filter(col("op").isNotNull)
    val post = joined.select(cols.map(c =>
      when(col("op") === "D", col(s"__f_$c")).otherwise(col(s"__t_$c")).as(c))
      :+ col("op"): _*)
    if (!updatePreimages) post
    else
      // the Delta-CDF shape: every U becomes a (U_pre old row, U_post new
      // row) pair — exactly what incremental AGGREGATE maintenance needs
      // (new_agg = old_agg − pre + post; I adds, D subtracts its preimage)
      post.withColumn("op",
        when(col("op") === "U", "U_post").otherwise(col("op")))
        .unionByName(joined.filter(col("op") === "U")
          .select(cols.map(c => col(s"__f_$c").as(c)) :+ lit("U_pre").as("op"): _*))
  }

  /** Retry loop for optimistic-concurrency losers: run `commit` (any
    * read-merge-commit against the live pointer) until it lands or
    * `maxAttempts` conflicts abort — each retry naturally re-resolves the
    * NEW merge base because the commit functions re-read the pointer.
    * Backoff-free by design: the conflict window is one small-object
    * write, so immediate retry is correct; callers wanting pacing wrap
    * `commit` themselves.
    */
  def retryOnConflict[A](maxAttempts: Int = 3)(commit: => A): A = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    var attempt = 1
    while (true) {
      try return commit
      catch {
        case e: CommitConflictException =>
          if (attempt >= maxAttempts) throw e
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** Replay a [[diffByKey]]/[[readChangesBetween]] feed onto the FROM
    * snapshot — the consumer-side apply whose result must equal the TO
    * snapshot exactly (SnapshotsSpec proves the round trip). I/U rows
    * win over the base by key; D keys drop. Takes the POST-image feed
    * (`updatePreimages = false` form).
    */
  def applyChangeFeed(base: DataFrame, feed: DataFrame, key: String): DataFrame = {
    val cols = base.columns.toSeq
    val f = feed.select((key +: "op" +: cols.filterNot(_ == key)).map {
      case "op" => col("op")
      case c => col(c).as(s"__u_$c")
    }: _*)
    base.join(f, col(key) === col(s"__u_$key"), "left_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(cols.map(c =>
        when(col("op").isNotNull, col(s"__u_$c")).otherwise(col(c)).as(c)): _*)
      .unionByName(feed.filter(col("op") === "I").drop("op"))
  }

  /** Commit `df` as the next version; returns the committed version. */
  def commit(spark: SparkSession, df: DataFrame, path: String,
      keepVersions: Int = 2): Long =
    commitWith(spark, path, _ => df, keepVersions)

  /** Read-modify-commit: `f` sees the current committed snapshot (None on
    * first use) and returns the full next snapshot. `stageExtra` runs
    * against the new version directory BEFORE the pointer flip, so
    * anything it writes there (an applied-batch manifest, index metadata)
    * commits ATOMICALLY with the data — the exactly-once discipline of
    * [[Incremental.commitOnce]].
    *
    * Commit sequence (crash anywhere leaves a consistent table):
    *   1. pin the pointer (one read)     — crash: nothing happened
    *   2. write v=N+1 (+ stageExtra)     — crash: inert orphan, v=N live
    *   3-4. [[flipPointer]]: CAS check   — crash/conflict: orphan, v live
    *        (pointer unmoved), then
    *        atomically replace _CURRENT  — the commit point
    *   5. GC expired snapshots           — crash: extra dirs, next run GCs
    *
    * Concurrency: step 3 re-reads `_CURRENT` and ABORTS with
    * [[CommitConflictException]] if the live version moved past the merge
    * base pinned in step 1 — optimistic single-pointer CAS, so two
    * racing committers can't silently last-writer-win each other's merged
    * state (the loser retries from the new base). On POSIX/HDFS the
    * check-then-rename window is sub-millisecond best-effort; an object
    * store deployment replaces the rename with a conditional put
    * (S3 If-Match / GCS generation-match) on `_CURRENT`, which makes the
    * same check truly atomic — the protocol shape is already the
    * conditional-put shape.
    */
  def commitWith(
      spark: SparkSession,
      path: String,
      f: Option[DataFrame] => DataFrame,
      keepVersions: Int = 2,
      stageExtra: org.apache.hadoop.fs.Path => Unit = _ => ()): Long =
    commitFrom(spark, path, cur => Some(f(cur.map(_._2))), keepVersions, stageExtra).get

  /** [[commitWith]] for a commit that may decline: `f` sees the pinned
    * live version and its snapshot, and returns the next snapshot or None
    * to commit nothing. Returns the committed version, if any.
    */
  private[graft] def commitFrom(
      spark: SparkSession,
      path: String,
      f: Option[(Long, DataFrame)] => Option[DataFrame],
      keepVersions: Int,
      stageExtra: org.apache.hadoop.fs.Path => Unit): Option[Long] = {
    import org.apache.hadoop.fs.Path
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val fs = fsOf(spark, path)
    val (state, casBase) = pinnedPointer(spark, path)(hasVersionDir(spark, path))
    val cur = state.map(_._1)
    val merged = f(cur.map(v => v -> spark.read.parquet(versionDir(path, v)))) match {
      case None => return None
      case Some(m) => m
    }
    // `next` floors over ALL v= dirs so an inert orphan's slot is never
    // re-used while a fallback reader might still resolve it
    val next = (cur.toSeq ++ allVersionDirs(spark, path)).foldLeft(0L)(math.max) + 1
    merged.write.mode(SaveMode.Overwrite).parquet(versionDir(path, next))
    stageExtra(new Path(versionDir(path, next)))
    // retention is COUNT-based (newest keepVersions committed versions),
    // never a value window on `next`: a crash orphan inflates `next` past
    // the live version, and a value window would evict the still-pinned
    // previous snapshot after a single crash+commit
    val retained = (next +: state.map(_._2).getOrElse(Seq.empty)).distinct
      .sorted.reverse.take(keepVersions)
    flipPointer(spark, path, casBase, retained)
    // retention GC strictly AFTER the commit point: only dirs BELOW the
    // oldest retained version go — younger unretained dirs are orphans a
    // fallback reader may still resolve, and they age out once the
    // retention window passes them. TAGGED versions are pinned: they stay
    // whatever the window says, and they don't lower the floor for
    // untagged dirs around them.
    val tagged = readRefs(spark, path).values.toSet
    val keep = retained.toSet ++ tagged
    val floor = retained.min
    allVersionDirs(spark, path)
      .filter(v => !keep.contains(v) && v < floor)
      .foreach(v => fs.delete(new Path(versionDir(path, v)), true))
    Some(next)
  }

  /** THE commit point of both table formats ([[commitWith]], and
    * [[BucketedSnapshots]]' manifest commits and branch publish): abort
    * with [[CommitConflictException]], before writing anything, unless the
    * live pointer still equals `casBase` (the version this commit merged
    * from), then atomically replace `_CURRENT` with `retained` (live
    * version first). See [[commitWith]]'s concurrency note for the
    * atomicity contract per filesystem.
    */
  private[graft] def flipPointer(
      spark: SparkSession, path: String, casBase: Option[Long], retained: Seq[Long]): Unit = {
    val liveNow = pointerStateRaw(spark, path).map(_._1)
    if (liveNow != casBase)
      throw new CommitConflictException(
        s"concurrent commit detected at $path: merge base was " +
          s"${casBase.fold("<empty table>")(v => s"v=$v")} but the live version is now " +
          s"${liveNow.fold("<empty table>")(v => s"v=$v")}; this commit's staged data is an " +
          "inert orphan — retry from the new base")
    MetaFile.replace(spark, s"$path/_CURRENT", retained.mkString("\n"))
  }

  /** Every `v=` directory, committed or not — the writer's collision-free
    * `next` floor.
    */
  private[graft] def allVersionDirs(spark: SparkSession, path: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .flatMap(st => st.getPath.getName.stripPrefix("v=").toLongOption)
  }

  /** `_SUCCESS`-complete snapshot dirs — read-side fallback only. */
  private[graft] def successVersions(spark: SparkSession, path: String): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
      .flatMap(st => st.getPath.getName.stripPrefix("v=").toLongOption)
  }
}
