package graft

import graft.operators.{BucketedSnapshots, Snapshots}
import org.apache.spark.sql.functions._

/** The pointer-committed bucketed table: touched-buckets-only writes with
  * one-atomic-flip commits — untouched dirs REUSED across manifests,
  * snapshot isolation for pinned readers, time travel, retention GC, and
  * crash tests at the commit-sequence points.
  */
class BucketedSnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String = {
    val path = s"target/tmp/bsnapspec_$name"
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    path
  }

  private def fs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.select("k", "v").as[(Long, Double)].collect().toMap

  test("upsert: only touched buckets get new dirs; untouched dirs are REUSED, not rewritten") {
    val path = fresh("touch")
    val nBuckets = 16
    val all = (1L to 2000L).map(i => (i, i * 1.0)).toDF("k", "v")
    val v1 = BucketedSnapshots.upsertByKey(spark, all, path, "k", nBuckets)
    val m1 = BucketedSnapshots.readManifest(spark, path, v1)
    assert(m1.size == nBuckets, "base load must populate every bucket")
    // snapshot file listing per (bucket, bucketVersion) dir
    def files(b: Int, bv: Long): Seq[(String, Long, Long)] =
      fs(path).listStatus(new org.apache.hadoop.fs.Path(s"$path/b=$b/v=$bv")).toSeq
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
    val before = m1.map { case (b, bv) => b -> files(b, bv) }
    val v2 = BucketedSnapshots.upsertByKey(
      spark, Seq((5L, 500.0), (6L, 600.0), (2001L, 1.5)).toDF("k", "v"),
      path, "k", nBuckets, keepVersions = 2)
    val m2 = BucketedSnapshots.readManifest(spark, path, v2)
    val changed = m2.keySet.filter(b => m2(b) != m1.getOrElse(b, -1L))
    assert(changed.size <= 3 && changed.nonEmpty,
      s"a 3-key batch must re-version <= 3 of $nBuckets buckets, got $changed")
    // untouched buckets: manifest entry AND the physical dir are identical
    (m1.keySet -- changed).foreach { b =>
      assert(m2(b) == m1(b), s"untouched bucket $b must keep its version")
      assert(files(b, m1(b)) == before(b),
        s"untouched bucket $b dir must be byte-identical (reused, not rewritten)")
    }
    val got = rows(BucketedSnapshots.readCurrent(spark, path))
    assert(got.size == 2001 && got(5L) == 500.0 && got(2001L) == 1.5 && got(7L) == 7.0)
    // the pinned base version is untouched by the second commit
    assert(rows(BucketedSnapshots.readSnapshot(spark, path, v1)) == rows(all.toDF("k", "v")))
  }

  test("crash points: orphan bucket dirs and an orphan manifest are invisible; the flip is the commit") {
    val path = fresh("crash")
    BucketedSnapshots.upsertByKey(spark, Seq((1L, 1.0)).toDF("k", "v"), path, "k", 4)
    val v1 = BucketedSnapshots.currentVersion(spark, path).get
    // simulate a run that died AFTER writing bucket dirs and its manifest
    // but BEFORE the pointer flip
    Seq((9L, 9.0)).toDF("k", "v").write.parquet(s"$path/b=0/v=99")
    val out = fs(path).create(new org.apache.hadoop.fs.Path(s"$path/manifest/v=98.txt"), true)
    out.write("0,99".getBytes("UTF-8")); out.close()
    assert(BucketedSnapshots.currentVersion(spark, path).contains(v1))
    assert(!rows(BucketedSnapshots.readCurrent(spark, path)).contains(9L),
      "orphan bucket data must stay invisible")
    // the next commit skips past the orphan manifest version and commits
    val v2 = BucketedSnapshots.upsertByKey(spark, Seq((2L, 2.0)).toDF("k", "v"), path, "k", 4)
    assert(v2 > 98L, "orphan manifest slots are never reused")
    assert(rows(BucketedSnapshots.readCurrent(spark, path)) == Map(1L -> 1.0, 2L -> 2.0))
  }

  test("retention: expired versions fail fast; GC drops dirs referenced by no retained manifest") {
    val path = fresh("gc")
    val v1 = BucketedSnapshots.upsertByKey(spark, Seq((1L, 1.0)).toDF("k", "v"),
      path, "k", 2, keepVersions = 2)
    BucketedSnapshots.upsertByKey(spark, Seq((1L, 2.0)).toDF("k", "v"),
      path, "k", 2, keepVersions = 2)
    BucketedSnapshots.upsertByKey(spark, Seq((1L, 3.0)).toDF("k", "v"),
      path, "k", 2, keepVersions = 2)
    assert(BucketedSnapshots.versions(spark, path).length == 2)
    val ex = intercept[java.io.FileNotFoundException] {
      BucketedSnapshots.readSnapshot(spark, path, v1)
    }
    assert(ex.getMessage.contains("retained"))
    // the expired manifest is gone and key 1's expired bucket version too
    assert(!fs(path).exists(
      new org.apache.hadoop.fs.Path(s"$path/manifest/v=$v1.txt")))
    val bucketOfK1 = BucketedSnapshots
      .readManifest(spark, path, BucketedSnapshots.currentVersion(spark, path).get)
      .keySet.head // only key 1 ever written: one bucket exists
    val liveVs = BucketedSnapshots.versions(spark, path)
      .map(v => BucketedSnapshots.readManifest(spark, path, v)(bucketOfK1)).toSet
    val onDisk = fs(path).listStatus(
      new org.apache.hadoop.fs.Path(s"$path/b=$bucketOfK1")).toSeq
      .map(_.getPath.getName.stripPrefix("v=").toLong).toSet
    assert(onDisk == liveVs, s"on-disk bucket versions $onDisk must equal live refs $liveVs")
  }

  test("bucketed change feed: manifest-pruned — only changed buckets are read; replay reproduces v2") {
    val path = fresh("cdf")
    val nBuckets = 16
    val all = (1L to 2000L).map(i => (i, i * 1.0)).toDF("k", "v")
    val v1 = BucketedSnapshots.upsertByKey(spark, all, path, "k", nBuckets,
      keepVersions = 3)
    val v2 = BucketedSnapshots.upsertByKey(spark,
      Seq((5L, 500.0), (2001L, 1.5)).toDF("k", "v"), path, "k", nBuckets,
      keepVersions = 3)
    val feedDf = BucketedSnapshots.readChangesBetween(spark, path, "k", v1, v2)
    val feed = feedDf.select("k", "v", "op")
      .as[(Long, Double, String)].collect().toSet
    assert(feed == Set((5L, 500.0, "U"), (2001L, 1.5, "I")),
      "the 1998 untouched keys must not appear in the feed")
    // PRUNING: the feed's scan set is confined to the <= 2 touched
    // buckets' dirs on each side — never the other 14 buckets
    val scannedBuckets = feedDf.inputFiles
      .map(f => f.split("/").filter(_.startsWith("b=")).head).toSet
    assert(scannedBuckets.size <= 2,
      s"feed must read only changed buckets, scanned: $scannedBuckets")
    // consumer round trip through the generic replay
    val replayed = Snapshots.applyChangeFeed(
      BucketedSnapshots.readSnapshot(spark, path, v1), feedDf, "k")
    assert(rows(replayed) == rows(BucketedSnapshots.readSnapshot(spark, path, v2)))
  }

  test("bucketed TABLE change feed on a CDC table: a tombstoned key emits a real D with its preimage") {
    val path = fresh("cdftable")
    def chg(rows: (Long, Long, String, String)*) = rows.toDF("k", "seq", "op", "v")
    val v1 = BucketedSnapshots.applyChanges(spark,
      chg((1L, 1L, "I", "a"), (2L, 2L, "I", "b"), (3L, 3L, "I", "c")),
      path, "k", 4, keepVersions = 3)
    val v2 = BucketedSnapshots.applyChanges(spark,
      chg((1L, 7L, "D", "x"), (2L, 8L, "U", "b8")),
      path, "k", 4, keepVersions = 3)
    val feed = BucketedSnapshots.readTableChangesBetween(spark, path, "k", v1, v2)
      .select("k", "v", "op").as[(Long, String, String)].collect().toSet
    assert(feed == Set((1L, "a", "D"), (2L, "b8", "U")),
      "the delete must surface as D with the pre-delete payload; key 3 unchanged")
    // the raw stored-row feed shows the same delete as a tombstone UPDATE
    val raw = BucketedSnapshots.readChangesBetween(spark, path, "k", v1, v2)
      .filter(col("k") === 1L)
      .select(col("op"), col(graft.operators.Cdc.DeletedMeta)).collect()
    assert(raw.length == 1 && raw(0).getString(0) == "U" && raw(0).getBoolean(1),
      "raw feed: tombstoning is an update of the stored row")
    // replaying the TABLE feed onto the v1 live view reproduces v2's
    val replayed = Snapshots.applyChangeFeed(
      BucketedSnapshots.readTableAt(spark, path, v1),
      BucketedSnapshots.readTableChangesBetween(spark, path, "k", v1, v2), "k")
    assert(replayed.select("k", "v").as[(Long, String)].collect().toSet ==
      BucketedSnapshots.readTable(spark, path)
        .select("k", "v").as[(Long, String)].collect().toSet)
  }

  test("incremental aggregate maintenance from the preimage feed == from-scratch rollup") {
    val path = fresh("cdfagg")
    def chg(rows: (Long, Long, String, String, Long)*) =
      rows.toDF("k", "seq", "op", "g", "v")
    // v1: three groups; v2: update (new value, same group), group MOVE,
    // delete, and insert — every delta class the rollup must absorb
    val v1 = BucketedSnapshots.applyChanges(spark,
      chg((1L, 1L, "I", "a", 10L), (2L, 2L, "I", "a", 20L),
        (3L, 3L, "I", "b", 30L), (4L, 4L, "I", "c", 40L)),
      path, "k", 4, keepVersions = 3)
    val v2 = BucketedSnapshots.applyChanges(spark,
      chg((1L, 7L, "U", "a", 15L), (3L, 8L, "U", "c", 30L),
        (4L, 9L, "D", "c", 0L), (5L, 10L, "I", "b", 50L)),
      path, "k", 4, keepVersions = 3)
    def rollup(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("g").agg(sum("v").as("total"), count(lit(1)).as("n"))
    val feed = BucketedSnapshots.readTableChangesBetween(
      spark, path, "k", v1, v2, updatePreimages = true)
    // delta apply: I and U_post add, D and U_pre subtract
    val sign = when(col("op").isin("I", "U_post"), 1L).otherwise(-1L)
    val delta = feed.groupBy("g")
      .agg(sum(col("v") * sign).as("d_total"), sum(sign).as("d_n"))
    val maintained = rollup(BucketedSnapshots.readTableAt(spark, path, v1))
      .join(delta, Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("total"), lit(0L)) + coalesce(col("d_total"), lit(0L))).as("total"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n"))
      .filter(col("n") > 0)
      .as[(String, Long, Long)].collect().toSet
    val scratch = rollup(BucketedSnapshots.readTable(spark, path))
      .as[(String, Long, Long)].collect().toSet
    assert(maintained == scratch,
      "rollup maintained from the feed must equal the from-scratch rollup")
    // v2 live: a = {k1:15, k2:20}, b = {k5:50}, c = {k3:30}; k4 deleted
    assert(scratch == Set(("a", 35L, 2L), ("b", 50L, 1L), ("c", 30L, 1L)))
  }

  test("retryOnConflict: the losing writer's retry commits from the new base") {
    val path = fresh("casretry")
    BucketedSnapshots.upsertByKey(spark, Seq((1L, 1.0)).toDF("k", "v"), path, "k", 1)
    var injected = false
    val v = Snapshots.retryOnConflict(maxAttempts = 3) {
      BucketedSnapshots.mergeCommit(spark, Seq((2L, 2.0)).toDF("k", "v"),
        path, "k", 1, 2, (existing, batch) => {
          if (!injected) {
            injected = true // writer B races exactly once
            BucketedSnapshots.upsertByKey(spark, Seq((3L, 3.0)).toDF("k", "v"), path, "k", 1)
          }
          existing.unionByName(batch)
        })
    }
    assert(BucketedSnapshots.currentVersion(spark, path).contains(v))
    assert(rows(BucketedSnapshots.readCurrent(spark, path)) ==
      Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0),
      "the retry must merge from the NEW base — both writers' rows present")
  }

  test("crash orphan manifest never shrinks retention: the pinned previous version survives") {
    val path = fresh("orphanretain")
    BucketedSnapshots.upsertByKey(spark, Seq((1L, 1.0)).toDF("k", "v"),
      path, "k", 2, keepVersions = 2)
    val v2 = BucketedSnapshots.upsertByKey(spark, Seq((1L, 2.0)).toDF("k", "v"),
      path, "k", 2, keepVersions = 2)
    // crash leftover: an orphan manifest far AHEAD of the live version —
    // it inflates `next` (via allManifestVersions); value-window retention
    // would evict the still-pinned v2 and GC its bucket dirs
    val out = fs(path).create(new org.apache.hadoop.fs.Path(s"$path/manifest/v=9.txt"), true)
    out.write("0,99".getBytes("UTF-8")); out.close()
    BucketedSnapshots.upsertByKey(spark, Seq((1L, 3.0)).toDF("k", "v"),
      path, "k", 2, keepVersions = 2)
    assert(BucketedSnapshots.versions(spark, path).contains(v2),
      "retention must keep the NEWEST keepVersions committed versions by count")
    assert(rows(BucketedSnapshots.readSnapshot(spark, path, v2)) == Map(1L -> 2.0),
      "a pinned reader must survive K-1 commits even after a crash orphan")
  }

  test("two-writer race: the bucketed pointer-flip CAS aborts the loser; winner intact, retry succeeds") {
    val path = fresh("cas")
    // nBuckets = 1 so the racing batch always merges against existing rows
    BucketedSnapshots.upsertByKey(spark, Seq((1L, 1.0)).toDF("k", "v"), path, "k", 1)
    val ex = intercept[graft.operators.CommitConflictException] {
      BucketedSnapshots.mergeCommit(spark, Seq((2L, 2.0)).toDF("k", "v"),
        path, "k", 1, 2, (existing, batch) => {
          // writer B lands between A's merge-base resolve and A's flip
          BucketedSnapshots.upsertByKey(spark, Seq((3L, 3.0)).toDF("k", "v"), path, "k", 1)
          existing.unionByName(batch) // keys disjoint: union IS the upsert
        })
    }
    assert(ex.getMessage.contains("retry"))
    assert(rows(BucketedSnapshots.readCurrent(spark, path)) == Map(1L -> 1.0, 3L -> 3.0),
      "the winner's commit must be intact — nothing last-writer-won away")
    BucketedSnapshots.upsertByKey(spark, Seq((2L, 2.0)).toDF("k", "v"), path, "k", 1)
    assert(rows(BucketedSnapshots.readCurrent(spark, path)) ==
      Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
  }

  test("manifest claim is create-exclusive: a racer's committed manifest is never clobbered") {
    val path = fresh("mfclaim")
    BucketedSnapshots.upsertByKey(spark, Seq((1L, 1.0)).toDF("k", "v"), path, "k", 2)
    val f = fs(path)
    val conf = spark.sparkContext.hadoopConfiguration
    // the "winner": a racer already renamed its manifest for v=2 into place
    val winner = new org.apache.hadoop.fs.Path(s"$path/manifest/v=99.txt")
    val wout = f.create(winner, true); wout.write("#winner".getBytes("UTF-8")); wout.close()
    // the "loser" computed the same next and tries to claim the same name
    val tmp = new org.apache.hadoop.fs.Path(s"$path/manifest/v=99.txt.tmp")
    val lout = f.create(tmp, true); lout.write("#loser".getBytes("UTF-8")); lout.close()
    assert(!BucketedSnapshots.claimExclusive(conf, f, tmp, winner),
      "claiming an already-claimed manifest name must fail, not overwrite")
    val in = f.open(winner)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(txt == "#winner",
      "the winner's manifest bytes must be untouched by the losing claim")
    assert(!f.exists(tmp), "the loser's tmp file must be cleaned up")
    // a FRESH name claims fine (the rebase path: loser recomputes next)
    val tmp2 = new org.apache.hadoop.fs.Path(s"$path/manifest/v=100.txt.tmp")
    val o2 = f.create(tmp2, true); o2.write("x".getBytes("UTF-8")); o2.close()
    assert(BucketedSnapshots.claimExclusive(conf, f, tmp2,
      new org.apache.hadoop.fs.Path(s"$path/manifest/v=100.txt")))
    f.delete(winner, false); f.delete(new org.apache.hadoop.fs.Path(s"$path/manifest/v=100.txt"), false)
    // the table still commits normally after the cleanup
    BucketedSnapshots.upsertByKey(spark, Seq((2L, 2.0)).toDF("k", "v"), path, "k", 2)
    assert(rows(BucketedSnapshots.readCurrent(spark, path)) == Map(1L -> 1.0, 2L -> 2.0))
  }

  test("reserved bucket column: a payload column named 'b' is rejected up front, not silently replaced") {
    val pathV = fresh("reservedb_v")
    val bad = Seq((1L, 1.0)).toDF("k", "b")
    val ex1 = intercept[IllegalArgumentException] {
      BucketedSnapshots.upsertByKey(spark, bad, pathV, "k", 4)
    }
    assert(ex1.getMessage.contains("reserved"))
    val pathR = fresh("reservedb_r")
    val ex2 = intercept[IllegalArgumentException] {
      BucketedSnapshots.applyChanges(spark,
        Seq((1L, 1L, "I", 1.0)).toDF("k", "seq", "op", "b"), pathR, "k", 4)
    }
    assert(ex2.getMessage.contains("reserved"))
  }

  test("compaction: file counts measured down, reads equivalent, pinned version untouched, idempotent") {
    val path = fresh("compact")
    // 8 staging partitions -> up to 8 part files per bucket dir
    val all = (1L to 500L).map(i => (i, i * 1.0)).toDF("k", "v").repartition(8)
    val v1 = BucketedSnapshots.upsertByKey(spark, all, path, "k", 4, keepVersions = 3)
    def liveFiles(v: Long): Map[Int, Int] =
      BucketedSnapshots.readManifest(spark, path, v).map { case (b, bv) =>
        b -> fs(path).listStatus(new org.apache.hadoop.fs.Path(s"$path/b=$b/v=$bv"))
          .count { st =>
            val n = st.getPath.getName
            st.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
      }
    val before = liveFiles(v1)
    assert(before.values.max > 1, "fixture must start fragmented")
    val rowsBefore = rows(BucketedSnapshots.readCurrent(spark, path))
    val v2 = BucketedSnapshots.compact(spark, path, maxFilesPerBucket = 1, keepVersions = 3)
    assert(v2 > v1, "compaction must commit a new table version")
    val after = liveFiles(v2)
    assert(after.values.max == 1, s"every live bucket must hold one file, got $after")
    assert(after.values.sum < before.values.sum, "file counts must measurably drop")
    // read equivalence + snapshot isolation for the pre-compaction reader
    assert(rows(BucketedSnapshots.readCurrent(spark, path)) == rowsBefore)
    assert(rows(BucketedSnapshots.readSnapshot(spark, path, v1)) == rowsBefore,
      "the pinned pre-compaction version must be unaffected")
    assert(liveFiles(v1) == before, "pre-compaction dirs must be byte-untouched")
    // nothing fragmented anymore: a second pass is a no-op at the live version
    assert(BucketedSnapshots.compact(spark, path, 1, 3) == v2)
  }

  test("CDC apply: out-of-order convergence, sticky tombstones, pinned pre-delete view") {
    val path = fresh("cdc")
    def chg(rows: (Long, Long, String, String)*) = rows.toDF("k", "seq", "op", "v")
    def live(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v").as[(Long, String)].collect().toSet
    val v1 = BucketedSnapshots.applyChanges(spark,
      chg((1L, 1L, "I", "a"), (2L, 8L, "U", "b8"), (3L, 9L, "I", "c9")), path, "k", 4)
    BucketedSnapshots.applyChanges(spark,
      chg((1L, 7L, "D", "x"), (2L, 2L, "I", "stale")), path, "k", 4)
    assert(live(BucketedSnapshots.readTable(spark, path)) == Set((2L, "b8"), (3L, "c9")))
    assert(live(BucketedSnapshots.readTableAt(spark, path, v1)) ==
      Set((1L, "a"), (2L, "b8"), (3L, "c9")),
      "the pinned pre-delete view must still show key 1")
    // replay of the second batch is a no-op on the live view
    BucketedSnapshots.applyChanges(spark,
      chg((1L, 7L, "D", "x"), (2L, 2L, "I", "stale")), path, "k", 4)
    assert(live(BucketedSnapshots.readTable(spark, path)) == Set((2L, "b8"), (3L, "c9")))
  }

  test("a merge commit evaluates its batch once: upsertByKey and applyChanges onto an existing table") {
    // the batch's key comes through a counting UDF: every evaluation of
    // the batch's DAG adds its row count
    val evals = spark.sparkContext.longAccumulator("bsnap_batch_evals")
    val counted = udf { (k: Long) => evals.add(1L); k }
    def batch = spark.range(1, 21).select(counted(col("id")).as("k"), (col("id") * 10.0).as("v"))
    val up = fresh("evalonce_upsert")
    BucketedSnapshots.upsertByKey(spark,
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v"), up, "k", 4)
    evals.reset()
    BucketedSnapshots.upsertByKey(spark, batch, up, "k", 4)
    val firstEvals = evals.value
    val live = rows(BucketedSnapshots.readCurrent(spark, up))
    assert(live.size == 50 && live(7L) == 70.0 && live(21L) == 21.0)
    val cdc = fresh("evalonce_cdc")
    BucketedSnapshots.applyChanges(spark,
      (1L to 50L).map(i => (i, 1L, "I", i * 1.0)).toDF("k", "seq", "op", "v"), cdc, "k", 4)
    evals.reset()
    BucketedSnapshots.applyChanges(spark,
      batch.withColumn("seq", lit(2L)).withColumn("op", lit("U")), cdc, "k", 4)
    assert((firstEvals, evals.value) == (20L, 20L),
      s"(upsertByKey, applyChanges) evaluated the 20-row batch ($firstEvals, ${evals.value}) times over")
    val table = rows(BucketedSnapshots.readTable(spark, cdc))
    assert(table.size == 50 && table(7L) == 70.0 && table(21L) == 21.0)
  }
}
