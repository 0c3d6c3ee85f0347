package graft

import graft.operators.{Cdc, Snapshots}
import org.apache.spark.sql.functions._

/** The pointer-committed snapshot protocol: atomic commit, snapshot
  * isolation for pinned readers, time travel, retention, and a crash test
  * at every commit-sequence point (resolve / write / flip / GC).
  */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String = {
    val path = s"target/tmp/snapspec_$name"
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    path
  }

  private def fs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.select("k", "v").as[(Long, String)].collect().toSet

  test("commit + readCurrent + currentVersion round-trip") {
    val path = fresh("basic")
    val v1 = Snapshots.commit(spark, Seq((1L, "a")).toDF("k", "v"), path)
    assert(v1 == 1L)
    assert(Snapshots.currentVersion(spark, path).contains(1L))
    assert(rows(Snapshots.readCurrent(spark, path)) == Set((1L, "a")))
    val v2 = Snapshots.commit(spark, Seq((1L, "b")).toDF("k", "v"), path)
    assert(v2 == 2L)
    assert(rows(Snapshots.readCurrent(spark, path)) == Set((1L, "b")))
  }

  test("snapshot isolation: a reader pinned at v1 is untouched by the v2 commit") {
    val path = fresh("isolation")
    val v1 = Snapshots.commit(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    // pin BEFORE the next commit, materialize AFTER it — the immutable
    // v= directory means the plan reads exactly the pinned bytes
    Snapshots.commit(spark, Seq((1L, "CHANGED")).toDF("k", "v"), path)
    assert(rows(Snapshots.readSnapshot(spark, path, v1)) == Set((1L, "a"), (2L, "b")))
    assert(rows(Snapshots.readCurrent(spark, path)) == Set((1L, "CHANGED")))
    assert(Snapshots.versions(spark, path) == Seq(2L, 1L))
  }

  test("retention: an expired version fails fast with the retained list, never partial data") {
    val path = fresh("retention")
    Snapshots.commit(spark, Seq((1L, "a")).toDF("k", "v"), path, keepVersions = 2)
    Snapshots.commit(spark, Seq((1L, "b")).toDF("k", "v"), path, keepVersions = 2)
    Snapshots.commit(spark, Seq((1L, "c")).toDF("k", "v"), path, keepVersions = 2)
    assert(!fs(path).exists(new org.apache.hadoop.fs.Path(s"$path/v=1")))
    assert(Snapshots.versions(spark, path) == Seq(3L, 2L))
    val ex = intercept[java.io.FileNotFoundException] {
      Snapshots.readSnapshot(spark, path, 1L)
    }
    assert(ex.getMessage.contains("v=1") && ex.getMessage.contains("retained"))
    // keepVersions = 1 keeps only the live version
    val p2 = fresh("retention1")
    Snapshots.commit(spark, Seq((1L, "a")).toDF("k", "v"), p2, keepVersions = 1)
    Snapshots.commit(spark, Seq((1L, "b")).toDF("k", "v"), p2, keepVersions = 1)
    assert(Snapshots.versions(spark, p2) == Seq(2L))
  }

  test("crash point 2 (after snapshot write, before flip): orphan is inert — not a merge base, not time-travel-readable, slot never reused") {
    val path = fresh("orphan")
    Snapshots.commit(spark, Seq((1L, "live")).toDF("k", "v"), path)
    // simulate the crash: a fully-written (_SUCCESS-complete) v=2 that
    // never got its pointer flip
    Seq((9L, "ghost")).toDF("k", "v").write.parquet(s"$path/v=2")
    assert(Snapshots.currentVersion(spark, path).contains(1L))
    intercept[java.io.FileNotFoundException] { Snapshots.readSnapshot(spark, path, 2L) }
    // the next commit merges from v1 (not the ghost) and skips slot 2
    Snapshots.commitWith(spark, path, {
      case Some(cur) => cur.unionByName(Seq((2L, "new")).toDF("k", "v"))
      case None => fail("expected a current snapshot")
    })
    assert(Snapshots.currentVersion(spark, path).contains(3L))
    assert(rows(Snapshots.readCurrent(spark, path)) == Set((1L, "live"), (2L, "new")))
  }

  test("crash point 3 (mid-pointer-write): a stale _CURRENT.tmp never affects reads and the next commit overwrites it") {
    val path = fresh("tmpfile")
    Snapshots.commit(spark, Seq((1L, "a")).toDF("k", "v"), path)
    val tmp = new org.apache.hadoop.fs.Path(path, "_CURRENT.tmp")
    val out = fs(path).create(tmp, true)
    out.write("999".getBytes("UTF-8")); out.close()
    assert(Snapshots.currentVersion(spark, path).contains(1L))
    Snapshots.commit(spark, Seq((1L, "b")).toDF("k", "v"), path)
    assert(Snapshots.currentVersion(spark, path).contains(2L))
    assert(rows(Snapshots.readCurrent(spark, path)) == Set((1L, "b")))
  }

  test("crash point 4 (after flip, before GC): extra old snapshot is collected by the next commit") {
    val path = fresh("gc")
    Snapshots.commit(spark, Seq((1L, "a")).toDF("k", "v"), path, keepVersions = 2)
    Snapshots.commit(spark, Seq((1L, "b")).toDF("k", "v"), path, keepVersions = 2)
    Snapshots.commit(spark, Seq((1L, "c")).toDF("k", "v"), path, keepVersions = 2)
    // simulate the crash-before-GC leftover: resurrect an expired dir
    // that is NOT in the retained pointer list
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$path/v=1")
    Snapshots.commit(spark, Seq((1L, "d")).toDF("k", "v"), path, keepVersions = 2)
    assert(!fs(path).exists(new org.apache.hadoop.fs.Path(s"$path/v=1")),
      "the next commit must GC the leftover expired snapshot")
    assert(Snapshots.versions(spark, path) == Seq(4L, 3L))
  }

  test("marker loss degrades reads to the highest complete snapshot (read-side recovery)") {
    val path = fresh("markerloss")
    Snapshots.commit(spark, Seq((1L, "a")).toDF("k", "v"), path)
    Snapshots.commit(spark, Seq((1L, "b")).toDF("k", "v"), path)
    fs(path).delete(new org.apache.hadoop.fs.Path(path, "_CURRENT"), false)
    assert(rows(Snapshots.readCurrent(spark, path)) == Set((1L, "b")))
    assert(Snapshots.versions(spark, path).nonEmpty)
  }

  test("legacy single-number _CURRENT markers parse as a one-entry history") {
    val path = fresh("legacy")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$path/v=1")
    val out = fs(path).create(new org.apache.hadoop.fs.Path(path, "_CURRENT"), true)
    out.write("1".getBytes("UTF-8")); out.close()
    assert(Snapshots.currentVersion(spark, path).contains(1L))
    assert(rows(Snapshots.readSnapshot(spark, path, 1L)) == Set((1L, "a")))
    // and the next commit upgrades the marker to the history format
    Snapshots.commit(spark, Seq((1L, "b")).toDF("k", "v"), path)
    assert(Snapshots.versions(spark, path) == Seq(2L, 1L))
  }

  test("stageExtra commits atomically with the data (inside the version dir, before the flip)") {
    val path = fresh("stageextra")
    Snapshots.commitWith(spark, path, _ => Seq((1L, "a")).toDF("k", "v"),
      stageExtra = dir => {
        val out = fs(path).create(new org.apache.hadoop.fs.Path(dir, "_META"), true)
        out.write("42".getBytes("UTF-8")); out.close()
      })
    assert(fs(path).exists(new org.apache.hadoop.fs.Path(s"$path/v=1/_META")))
  }

  test("crash orphan never shrinks retention: the pinned previous version survives (count-based window)") {
    val path = fresh("orphanretain")
    Snapshots.commit(spark, Seq((1L, "a")).toDF("k", "v"), path, keepVersions = 2)
    val v2 = Snapshots.commit(spark, Seq((1L, "b")).toDF("k", "v"), path, keepVersions = 2)
    // crash leftover: a fully-written orphan far AHEAD of the live version
    // (a died run had resolved a later slot) — it inflates `next`, which a
    // value-window retention would turn into eviction of the pinned v2
    Seq((9L, "ghost")).toDF("k", "v").write.parquet(s"$path/v=7")
    Snapshots.commit(spark, Seq((1L, "c")).toDF("k", "v"), path, keepVersions = 2)
    assert(Snapshots.versions(spark, path) == Seq(8L, 2L),
      "retention must keep the NEWEST keepVersions committed versions by count")
    assert(rows(Snapshots.readSnapshot(spark, path, v2)) == Set((1L, "b")),
      "a pinned reader must survive K-1 commits even after a crash orphan")
    // the young orphan stays (a fallback reader may resolve it); v=1,
    // below the retention floor, is collected
    assert(fs(path).exists(new org.apache.hadoop.fs.Path(s"$path/v=7")))
    assert(!fs(path).exists(new org.apache.hadoop.fs.Path(s"$path/v=1")))
  }

  test("two-writer race: the pointer-flip CAS aborts the loser; retry from the new base succeeds") {
    val path = fresh("cas")
    Snapshots.commit(spark, Seq((1L, "base")).toDF("k", "v"), path)
    // writer B lands BETWEEN writer A's merge-base resolve and A's flip —
    // injected through A's own merge function, which runs exactly there
    val ex = intercept[graft.operators.CommitConflictException] {
      Snapshots.commitWith(spark, path, { cur =>
        Snapshots.commit(spark, Seq((2L, "writerB")).toDF("k", "v"), path)
        cur.get.unionByName(Seq((3L, "writerA")).toDF("k", "v"))
      })
    }
    assert(ex.getMessage.contains("retry"))
    // the winner's commit is intact — nothing was last-writer-won away
    assert(rows(Snapshots.readCurrent(spark, path)) == Set((2L, "writerB")))
    // the loser retries from the NEW base and succeeds
    Snapshots.commitWith(spark, path,
      cur => cur.get.unionByName(Seq((3L, "writerA")).toDF("k", "v")))
    assert(rows(Snapshots.readCurrent(spark, path)) ==
      Set((2L, "writerB"), (3L, "writerA")))
  }

  test("change data feed: I/U/D between versions; replaying the feed onto v1 reproduces v2 exactly") {
    val path = fresh("cdf")
    val v1 = Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), path, keepVersions = 3)
    val v2 = Snapshots.commit(spark,
      Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("k", "v"), path, keepVersions = 3)
    val feed = Snapshots.readChangesBetween(spark, path, "k", v1, v2)
      .select("k", "v", "op").as[(Long, String, String)].collect().toSet
    assert(feed == Set((2L, "B2", "U"), (3L, "c", "D"), (4L, "d", "I")),
      "unchanged keys must not appear; D carries the preimage")
    // the consumer contract: from-snapshot + feed == to-snapshot
    val replayed = Snapshots.applyChangeFeed(
      Snapshots.readSnapshot(spark, path, v1),
      Snapshots.readChangesBetween(spark, path, "k", v1, v2), "k")
    assert(rows(replayed) == rows(Snapshots.readSnapshot(spark, path, v2)))
    // feed of a version against itself is illegal; reversed range too
    intercept[IllegalArgumentException] {
      Snapshots.readChangesBetween(spark, path, "k", v2, v1)
    }
  }

  test("versioned CDC apply: out-of-order convergence + pinned-version live view") {
    val path = fresh("cdc")
    def chg(rows: (Long, Long, String, String)*) = rows.toDF("k", "seq", "op", "v")
    val v1 = Cdc.applyChanges(spark,
      chg((1L, 1L, "I", "a"), (2L, 8L, "U", "b8"), (3L, 9L, "I", "c9")), path, "k")
    Cdc.applyChanges(spark,
      chg((1L, 7L, "D", "x"), (2L, 2L, "I", "stale")), path, "k")
    assert(rows(Cdc.readTable(spark, path)) == Set((2L, "b8"), (3L, "c9")))
    // the pinned v1 live view still shows key 1 (the delete came in v2)
    assert(rows(Cdc.readTableAt(spark, path, v1)) ==
      Set((1L, "a"), (2L, "b8"), (3L, "c9")))
  }

  test("versioned sketch-state ingest: a pinned sketch version is isolated from later drains") {
    val base = fresh("hllv")
    val p = new org.apache.hadoop.fs.Path(base)
    fs(base).delete(p, true)
    Seq(1L, 2L, 3L).toDF("k").coalesce(1).write.parquet(s"$base/in")
    def drain(): Unit = {
      val stream = spark.readStream
        .schema(Seq(1L).toDF("k").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      graft.streaming.Streams.hllIngestAvailableNow(
        stream, "k", s"$base/state", s"$base/ckpt")
        .awaitTermination()
    }
    drain()
    val v1 = Snapshots.currentVersion(spark, s"$base/state").get
    def est(df: org.apache.spark.sql.DataFrame): Long =
      graft.functions.Sketches.hllEstimate(df).select("est").as[Long].head()
    val estV1 = est(Snapshots.readSnapshot(spark, s"$base/state", v1))
    Seq(4L, 5L, 6L, 7L).toDF("k").coalesce(1).write.mode("append").parquet(s"$base/in")
    drain()
    assert(Snapshots.currentVersion(spark, s"$base/state").get > v1)
    // the pinned version still answers with the FIRST drain's estimate
    assert(est(Snapshots.readSnapshot(spark, s"$base/state", v1)) == estV1)
    assert(est(Snapshots.readCurrent(spark, s"$base/state")) > estV1)
  }

  test("versioned SCD2 table == swap-committed SCD2 table, with table-level time travel") {
    val path = fresh("scd2v")
    val b1 = Seq((1L, 10L, 1L, "a"), (2L, 10L, 2L, "x")).toDF("k", "t", "id", "v")
    val b2 = Seq((1L, 30L, 3L, "b"), (3L, 35L, 4L, "n")).toDF("k", "t", "id", "v")
    val v1 = Cdc.scd2ApplyTable(spark, b1, path, "k", "t", "id", Seq("v"))
    Cdc.scd2ApplyTable(spark, b2, path, "k", "t", "id", Seq("v"))
    val full = Cdc.scd2Intervals(
      b1.unionByName(b2), "k", "t", "id", Seq("v")).collect().map(_.toSeq).toSet
    assert(Snapshots.readCurrent(spark, path).collect().map(_.toSeq).toSet == full)
    // table-level time travel: the history AS OF commit v1
    val asOfV1 = Cdc.scd2Intervals(b1, "k", "t", "id", Seq("v")).collect().map(_.toSeq).toSet
    assert(Snapshots.readSnapshot(spark, path, v1).collect().map(_.toSeq).toSet == asOfV1)
  }
}
