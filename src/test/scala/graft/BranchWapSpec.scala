package graft

import graft.operators.{BucketedSnapshots, CommitConflictException}
import graft.quality.Constraints
import org.apache.spark.sql.functions._

/** Branches + write-audit-publish: staged branch commits are invisible
  * to main, the quality gate runs against the branch head, a passing
  * gate fast-forward-publishes atomically, a failing gate never reaches
  * main, and a concurrently-advanced main aborts the publish.
  */
class BranchWapSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String = {
    val path = s"target/tmp/wapspec_$name"
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    path
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.select("k", "v").as[(Long, Double)].collect().toMap

  private val gate = Seq(Constraints.AnyNegative("no_negative_v", col("v")))

  test("write-audit-publish: the gate passes, the publish is atomic, main history is sane") {
    val path = fresh("pass")
    BucketedSnapshots.upsertByKey(spark,
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v"), path, "k", 4, keepVersions = 3)
    val mainBefore = rows(BucketedSnapshots.readCurrent(spark, path))
    BucketedSnapshots.branch(spark, path, "daily_load")
    // WRITE: two staged commits on the branch
    BucketedSnapshots.commitToBranch(spark, path, "daily_load",
      Seq((1L, 100.0), (51L, 51.0)).toDF("k", "v"), "k", 4)
    val head = BucketedSnapshots.commitToBranch(spark, path, "daily_load",
      Seq((2L, 200.0)).toDF("k", "v"), "k", 4)
    // staged work is INVISIBLE on main
    assert(rows(BucketedSnapshots.readCurrent(spark, path)) == mainBefore,
      "branch commits must not leak into the live table")
    // AUDIT: the branch head read sees the staged state; the gate passes
    val branchRows = rows(BucketedSnapshots.readBranch(spark, path, "daily_load"))
    assert(branchRows(1L) == 100.0 && branchRows(2L) == 200.0 && branchRows(51L) == 51.0)
    Constraints.enforce(BucketedSnapshots.readBranch(spark, path, "daily_load"), gate)
    // PUBLISH: fast-forward; main now reads the branch head
    val published = BucketedSnapshots.publishBranch(spark, path, "daily_load", keepVersions = 3)
    assert(published == head)
    assert(BucketedSnapshots.currentVersion(spark, path).contains(head))
    assert(rows(BucketedSnapshots.readCurrent(spark, path)) == branchRows)
    assert(BucketedSnapshots.branchState(spark, path, "daily_load").isEmpty,
      "a published branch is dropped")
    // the pre-publish main version stays time-travel-readable
    assert(rows(BucketedSnapshots.readSnapshot(spark, path,
      BucketedSnapshots.versions(spark, path).min)).nonEmpty)
  }

  test("a failing gate never reaches main; dropBranch discards; the orphans age out") {
    val path = fresh("fail")
    BucketedSnapshots.upsertByKey(spark,
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v"), path, "k", 4, keepVersions = 2)
    val mainBefore = rows(BucketedSnapshots.readCurrent(spark, path))
    BucketedSnapshots.branch(spark, path, "suspect_load")
    BucketedSnapshots.commitToBranch(spark, path, "suspect_load",
      Seq((7L, -1.0), (8L, 8.5)).toDF("k", "v"), "k", 4)
    // AUDIT fails on the staged state
    val ex = intercept[IllegalStateException] {
      Constraints.enforce(BucketedSnapshots.readBranch(spark, path, "suspect_load"), gate)
    }
    assert(ex.getMessage.contains("no_negative_v"))
    // main never saw any of it
    assert(rows(BucketedSnapshots.readCurrent(spark, path)) == mainBefore)
    BucketedSnapshots.dropBranch(spark, path, "suspect_load")
    // the staged manifest is an unpinned orphan now; a later main commit
    // still works and main content stays gate-clean
    BucketedSnapshots.upsertByKey(spark, Seq((9L, 9.9)).toDF("k", "v"),
      path, "k", 4, keepVersions = 2)
    val live = rows(BucketedSnapshots.readCurrent(spark, path))
    assert(live(9L) == 9.9 && !live.valuesIterator.exists(_ < 0))
    Constraints.enforce(BucketedSnapshots.readCurrent(spark, path), gate)
  }

  test("concurrent main advance: the publish is NOT a fast-forward and aborts; re-branch succeeds") {
    val path = fresh("race")
    BucketedSnapshots.upsertByKey(spark,
      (1L to 20L).map(i => (i, i * 1.0)).toDF("k", "v"), path, "k", 2, keepVersions = 3)
    BucketedSnapshots.branch(spark, path, "slow_load")
    BucketedSnapshots.commitToBranch(spark, path, "slow_load",
      Seq((1L, 100.0)).toDF("k", "v"), "k", 2)
    // main advances while the branch is being audited
    BucketedSnapshots.upsertByKey(spark, Seq((2L, 22.0)).toDF("k", "v"),
      path, "k", 2, keepVersions = 3)
    val ex = intercept[CommitConflictException] {
      BucketedSnapshots.publishBranch(spark, path, "slow_load")
    }
    assert(ex.getMessage.contains("fast-forward"))
    // main kept ITS change, not the branch's
    val live = rows(BucketedSnapshots.readCurrent(spark, path))
    assert(live(2L) == 22.0 && live(1L) == 1.0)
    // re-branch from the new main, replay, publish
    BucketedSnapshots.dropBranch(spark, path, "slow_load")
    BucketedSnapshots.branch(spark, path, "slow_load")
    BucketedSnapshots.commitToBranch(spark, path, "slow_load",
      Seq((1L, 100.0)).toDF("k", "v"), "k", 2)
    BucketedSnapshots.publishBranch(spark, path, "slow_load", keepVersions = 3)
    val after = rows(BucketedSnapshots.readCurrent(spark, path))
    assert(after(1L) == 100.0 && after(2L) == 22.0,
      "the replayed branch must carry BOTH main's concurrent change and its own")
  }

  test("CDC apply to a branch: the staged I/U/D batch gates and publishes like any load") {
    val path = fresh("cdcbranch")
    def ch(rows: (Long, Long, String, Double)*) = rows.toDF("k", "seq", "op", "v")
    BucketedSnapshots.applyChanges(spark,
      ch((1L, 1L, "I", 10.0), (2L, 1L, "I", 20.0), (3L, 1L, "I", 30.0)),
      path, "k", nBuckets = 2, keepVersions = 3)
    val mainBefore = rows(BucketedSnapshots.readTable(spark, path))
    BucketedSnapshots.branch(spark, path, "daily_cdc")
    // the day's change batch: update, delete, insert, out-of-order seqs
    BucketedSnapshots.applyChangesToBranch(spark, path, "daily_cdc",
      ch((1L, 3L, "U", 11.0), (1L, 2L, "U", 99.0), // seq argmax keeps 11.0
        (2L, 2L, "D", 20.0), (4L, 2L, "I", 40.0)),
      "k", nBuckets = 2)
    // staged: invisible on main; the gated view is tombstone-filtered
    assert(rows(BucketedSnapshots.readTable(spark, path)) == mainBefore)
    val audit = rows(BucketedSnapshots.readTableBranch(spark, path, "daily_cdc"))
    assert(audit == Map(1L -> 11.0, 3L -> 30.0, 4L -> 40.0),
      s"the branch live view must apply the CDC batch exactly, got $audit")
    Constraints.enforce(BucketedSnapshots.readTableBranch(spark, path, "daily_cdc"), gate)
    BucketedSnapshots.publishBranch(spark, path, "daily_cdc", keepVersions = 3)
    assert(rows(BucketedSnapshots.readTable(spark, path)) == audit)
    // a later MAIN CDC apply continues the same seq discipline
    BucketedSnapshots.applyChanges(spark, ch((1L, 2L, "U", 5.0)), // stale seq: loses
      path, "k", nBuckets = 2, keepVersions = 3)
    assert(rows(BucketedSnapshots.readTable(spark, path))(1L) == 11.0,
      "a stale-seq change after the publish must lose to the branch's argmax")
  }

  test("deleteWhere: predicate deletes route through merge-on-read sidecars") {
    val path = fresh("delwhere")
    BucketedSnapshots.upsertByKey(spark,
      (1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v"), path, "k", 4, keepVersions = 3)
    val v = BucketedSnapshots.deleteWhere(spark, path, col("v") > 90.0, "k",
      keepVersions = 3)
    assert(v > 0)
    assert(rows(BucketedSnapshots.readCurrent(spark, path)) ==
      (1L to 90L).map(i => i -> i * 1.0).toMap)
    assert(BucketedSnapshots.deleteVectorCounts(spark, path).nonEmpty,
      "the predicate delete must have written sidecars, not rewritten buckets")
    // no matching rows: a committed no-op
    val v2 = BucketedSnapshots.currentVersion(spark, path).get
    assert(BucketedSnapshots.deleteWhere(spark, path, col("v") > 1e9, "k") == v2)
    // on a CDC table the predicate sees the tombstone-filtered view
    val cdc = fresh("delwhere_cdc")
    BucketedSnapshots.applyChanges(spark,
      Seq((1L, 1L, "I", 1.0), (2L, 1L, "I", 2.0), (3L, 1L, "D", 3.0))
        .toDF("k", "seq", "op", "v"),
      cdc, "k", nBuckets = 2, keepVersions = 3)
    BucketedSnapshots.deleteWhere(spark, cdc, col("v") >= 2.0, "k", keepVersions = 3)
    assert(rows(BucketedSnapshots.readTable(spark, cdc)) == Map(1L -> 1.0))
  }

  test("branch commits fold delete vectors and honor the arity guard") {
    val path = fresh("dvbranch")
    BucketedSnapshots.upsertByKey(spark,
      (1L to 30L).map(i => (i, i * 1.0)).toDF("k", "v"), path, "k", 2, keepVersions = 3)
    BucketedSnapshots.deleteKeys(spark, path, Seq(5L).toDF("k"), "k", keepVersions = 3)
    BucketedSnapshots.branch(spark, path, "b1")
    // the branch head sees the delete-folded view
    assert(!rows(BucketedSnapshots.readBranch(spark, path, "b1")).contains(5L))
    // a branch commit on 5's bucket must NOT resurrect it
    BucketedSnapshots.commitToBranch(spark, path, "b1",
      Seq((6L, 66.0)).toDF("k", "v"), "k", 2)
    assert(!rows(BucketedSnapshots.readBranch(spark, path, "b1")).contains(5L))
    val ex = intercept[IllegalArgumentException] {
      BucketedSnapshots.commitToBranch(spark, path, "b1",
        Seq((7L, 7.0)).toDF("k", "v"), "k", 8)
    }
    assert(ex.getMessage.contains("nBuckets"))
    BucketedSnapshots.publishBranch(spark, path, "b1", keepVersions = 3)
    val live = rows(BucketedSnapshots.readCurrent(spark, path))
    assert(!live.contains(5L) && live(6L) == 66.0)
  }

  test("a branch commit evaluates its batch once: commitToBranch and applyChangesToBranch") {
    val evals = spark.sparkContext.longAccumulator("wap_batch_evals")
    val counted = udf { (k: Long) => evals.add(1L); k }
    def batch = spark.range(1, 21).select(counted(col("id")).as("k"), (col("id") * 10.0).as("v"))
    val up = fresh("evalonce_upsert")
    BucketedSnapshots.upsertByKey(spark,
      (1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v"), up, "k", 4)
    BucketedSnapshots.branch(spark, up, "load")
    evals.reset()
    BucketedSnapshots.commitToBranch(spark, up, "load", batch, "k", 4)
    val firstEvals = evals.value
    val staged = rows(BucketedSnapshots.readBranch(spark, up, "load"))
    assert(staged.size == 50 && staged(7L) == 70.0 && staged(21L) == 21.0)
    val cdc = fresh("evalonce_cdc")
    BucketedSnapshots.applyChanges(spark,
      (1L to 50L).map(i => (i, 1L, "I", i * 1.0)).toDF("k", "seq", "op", "v"), cdc, "k", 4)
    BucketedSnapshots.branch(spark, cdc, "load")
    evals.reset()
    BucketedSnapshots.applyChangesToBranch(spark, cdc, "load",
      batch.withColumn("seq", lit(2L)).withColumn("op", lit("U")), "k", 4)
    assert((firstEvals, evals.value) == (20L, 20L),
      s"(commitToBranch, applyChangesToBranch) evaluated the 20-row batch ($firstEvals, ${evals.value}) times over")
    val audit = rows(BucketedSnapshots.readTableBranch(spark, cdc, "load"))
    assert(audit.size == 50 && audit(7L) == 70.0 && audit(21L) == 21.0)
  }
}
