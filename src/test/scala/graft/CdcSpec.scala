package graft

import graft.operators.{BucketedSnapshots, Cdc, Snapshots}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC apply semantics: out-of-order batches, tombstone stickiness, replay
  * idempotence, watermarked tombstone pruning.
  */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String = {
    val path = s"target/tmp/cdcspec_$name"
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    path
  }

  private def ch(rows: (Long, Long, String, String)*): DataFrame =
    rows.toDF("k", "seq", "op", "v")

  private def state(path: String): Set[(Long, String)] =
    Cdc.readTable(spark, path).select("k", "v").as[(Long, String)].collect().toSet

  test("applyChanges: insert, update, delete resolve to the highest-seq record") {
    val path = fresh("basic")
    Cdc.applyChanges(spark, ch((1L, 1L, "I", "a"), (2L, 2L, "I", "b"), (1L, 3L, "U", "a2")), path, "k")
    assert(state(path) == Set((1L, "a2"), (2L, "b")))
    Cdc.applyChanges(spark, ch((2L, 4L, "D", "x"), (3L, 5L, "I", "c")), path, "k")
    assert(state(path) == Set((1L, "a2"), (3L, "c")))
  }

  test("tombstone is sticky: a stale update arriving after the delete stays dead") {
    val path = fresh("sticky")
    Cdc.applyChanges(spark, ch((1L, 10L, "D", "x")), path, "k")
    Cdc.applyChanges(spark, ch((1L, 4L, "U", "stale")), path, "k")
    assert(state(path) == Set.empty[(Long, String)])
    // but a genuinely NEWER change resurrects the key
    Cdc.applyChanges(spark, ch((1L, 11L, "I", "reborn")), path, "k")
    assert(state(path) == Set((1L, "reborn")))
  }

  test("equal-seq delete beats update, in both application orders") {
    val a = fresh("tie_a"); val b = fresh("tie_b")
    Cdc.applyChanges(spark, ch((1L, 5L, "D", "x")), a, "k")
    Cdc.applyChanges(spark, ch((1L, 5L, "U", "u")), a, "k")
    Cdc.applyChanges(spark, ch((1L, 5L, "U", "u")), b, "k")
    Cdc.applyChanges(spark, ch((1L, 5L, "D", "x")), b, "k")
    assert(state(a) == Set.empty[(Long, String)])
    assert(state(b) == Set.empty[(Long, String)])
  }

  test("equal-seq update beats insert ACROSS batches, in both application orders") {
    // the persisted _rank metadata makes the U > I tie slicing-invariant:
    // before it, whichever op applied first won across a batch boundary
    val a = fresh("ui_tie_a"); val b = fresh("ui_tie_b")
    Cdc.applyChanges(spark, ch((1L, 5L, "I", "i")), a, "k")
    Cdc.applyChanges(spark, ch((1L, 5L, "U", "u")), a, "k")
    Cdc.applyChanges(spark, ch((1L, 5L, "U", "u")), b, "k")
    Cdc.applyChanges(spark, ch((1L, 5L, "I", "i")), b, "k")
    assert(state(a) == Set((1L, "u")))
    assert(state(b) == Set((1L, "u")))
    // and within one batch (the struct-max path) the rule is identical
    val c = fresh("ui_tie_c")
    Cdc.applyChanges(spark, ch((1L, 5L, "I", "i"), (1L, 5L, "U", "u")), c, "k")
    assert(state(c) == Set((1L, "u")))
  }

  test("any batch slicing and order converges to the same state; replay is a no-op") {
    val stream = Seq(
      (1L, 1L, "I", "a"), (1L, 4L, "U", "a4"), (1L, 7L, "D", "x"),
      (2L, 2L, "I", "b"), (2L, 8L, "U", "b8"),
      (3L, 3L, "I", "c"), (3L, 6L, "D", "x"), (3L, 9L, "I", "c9"),
      (4L, 5L, "I", "d"))
    val expected = Set((2L, "b8"), (3L, "c9"), (4L, "d"))
    // single batch
    val one = fresh("conv_one")
    Cdc.applyChanges(spark, ch(stream: _*), one, "k")
    assert(state(one) == expected)
    // three interleaved batches applied newest-first
    val ooo = fresh("conv_ooo")
    Seq(2L, 0L, 1L).foreach { r =>
      Cdc.applyChanges(spark, ch(stream.filter(_._2 % 3 == r): _*), ooo, "k")
    }
    assert(state(ooo) == expected)
    // replaying the middle batch changes nothing
    Cdc.applyChanges(spark, ch(stream.filter(_._2 % 3 == 1): _*), ooo, "k")
    assert(state(ooo) == expected)
  }

  test("pruneTombstones drops only sub-watermark tombstones; live view unchanged") {
    val path = fresh("prune")
    Cdc.applyChanges(spark, ch(
      (1L, 3L, "D", "x"), (2L, 9L, "D", "x"), (3L, 5L, "I", "c")), path, "k")
    val before = state(path)
    Cdc.pruneTombstones(spark, path, lowWatermark = 7L)
    assert(state(path) == before)
    val raw = Snapshots.readCurrent(spark, path)
    // the seq-3 tombstone is gone, the seq-9 one (still contradictable) stays
    assert(raw.filter(col(Cdc.DeletedMeta)).select("k").as[Long].collect().toSet == Set(2L))
    // a pre-watermark stale update for the pruned key is the caller's
    // contract violation; a post-watermark insert works normally
    Cdc.applyChanges(spark, ch((1L, 8L, "I", "back")), path, "k")
    assert(state(path) == Set((1L, "back"), (3L, "c")))
  }

  test("invalid op code fails the batch") {
    val path = fresh("badop")
    val ex = intercept[Exception] {
      Cdc.applyChanges(spark, ch((1L, 1L, "Z", "a")), path, "k")
    }
    assert(ex.getMessage != null)
  }

  private def stateB(path: String): Set[(Long, String)] =
    BucketedSnapshots.readTable(spark, path).select("k", "v").as[(Long, String)].collect().toSet

  test("bucketed apply: slicing/order convergence, sticky tombstones, replay no-op") {
    val stream = Seq(
      (1L, 1L, "I", "a"), (1L, 4L, "U", "a4"), (1L, 7L, "D", "x"),
      (2L, 2L, "I", "b"), (2L, 8L, "U", "b8"),
      (3L, 3L, "I", "c"), (3L, 6L, "D", "x"), (3L, 9L, "I", "c9"),
      (4L, 5L, "I", "d"))
    val expected = Set((2L, "b8"), (3L, "c9"), (4L, "d"))
    val one = fresh("b_conv_one")
    BucketedSnapshots.applyChanges(spark, ch(stream: _*), one, "k", nBuckets = 4)
    assert(stateB(one) == expected)
    // three interleaved batches applied newest-first
    val ooo = fresh("b_conv_ooo")
    Seq(2L, 0L, 1L).foreach { r =>
      BucketedSnapshots.applyChanges(spark, ch(stream.filter(_._2 % 3 == r): _*), ooo, "k", nBuckets = 4)
    }
    assert(stateB(ooo) == expected)
    // replaying the middle batch changes nothing
    BucketedSnapshots.applyChanges(spark, ch(stream.filter(_._2 % 3 == 1): _*), ooo, "k", nBuckets = 4)
    assert(stateB(ooo) == expected)
    // stale update after the delete stays dead; a newer change resurrects
    BucketedSnapshots.applyChanges(spark, ch((1L, 5L, "U", "stale")), ooo, "k", nBuckets = 4)
    assert(stateB(ooo) == expected)
    BucketedSnapshots.applyChanges(spark, ch((1L, 11L, "I", "reborn")), ooo, "k", nBuckets = 4)
    assert(stateB(ooo) == expected + ((1L, "reborn")))
  }

  test("bucketed apply: equal-seq D>U>I ties are slicing-invariant, as unbucketed") {
    val a = fresh("b_tie_a"); val b = fresh("b_tie_b")
    BucketedSnapshots.applyChanges(spark, ch((1L, 5L, "I", "i")), a, "k", nBuckets = 4)
    BucketedSnapshots.applyChanges(spark, ch((1L, 5L, "U", "u")), a, "k", nBuckets = 4)
    BucketedSnapshots.applyChanges(spark, ch((1L, 5L, "U", "u")), b, "k", nBuckets = 4)
    BucketedSnapshots.applyChanges(spark, ch((1L, 5L, "I", "i")), b, "k", nBuckets = 4)
    assert(stateB(a) == Set((1L, "u")) && stateB(b) == Set((1L, "u")))
    val c = fresh("b_tie_c"); val e = fresh("b_tie_d")
    BucketedSnapshots.applyChanges(spark, ch((1L, 5L, "D", "x")), c, "k", nBuckets = 4)
    BucketedSnapshots.applyChanges(spark, ch((1L, 5L, "U", "u")), c, "k", nBuckets = 4)
    BucketedSnapshots.applyChanges(spark, ch((1L, 5L, "U", "u")), e, "k", nBuckets = 4)
    BucketedSnapshots.applyChanges(spark, ch((1L, 5L, "D", "x")), e, "k", nBuckets = 4)
    assert(stateB(c).isEmpty && stateB(e).isEmpty)
  }

  test("bucketed apply: a small batch rewrites only its buckets; untouched survive byte-identical") {
    val base = fresh("b_touch")
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nBuckets = 16
    val all = (1L to 2000L).map(i => (i, i, "I", s"v$i"))
    val v1 = BucketedSnapshots.applyChanges(spark, ch(all: _*), base, "k", nBuckets)
    val m1 = BucketedSnapshots.readManifest(spark, base, v1)
    def files(b: Int, bv: Long): Seq[(String, Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/b=$b/v=$bv")).toSeq
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
    val before = m1.map { case (b, bv) => b -> files(b, bv) }
    assert(before.size == nBuckets)
    val batch = ch((5L, 3000L, "U", "new5"), (6L, 3001L, "D", "x"), (2001L, 3002L, "I", "n"))
    val m2 = BucketedSnapshots.readManifest(spark, base,
      BucketedSnapshots.applyChanges(spark, batch, base, "k", nBuckets))
    val changed = m2.keySet.filter(b => m2(b) != m1(b))
    assert(changed.size <= 3 && changed.nonEmpty,
      s"a 3-key batch must rewrite <= 3 of $nBuckets buckets, rewrote: $changed")
    assert((m1.keySet -- changed).forall(b => m2(b) == m1(b) && files(b, m1(b)) == before(b)),
      "untouched buckets must keep their manifest entry and identical files (names, sizes, mtimes)")
    val got = stateB(base)
    assert(got.size == 2000) // 2000 - deleted key 6 + new key 2001
    assert(got((5L, "new5")) && got((2001L, "n")) && !got.exists(_._1 == 6L))
  }

  test("bucketed pruneTombstones: sub-watermark tombstones become key-delete sidecars") {
    val base = fresh("b_prune")
    val nBuckets = 4
    val bucketOf = pmod(xxhash64(col("k")), lit(nBuckets.toLong)).cast("int")
    val k2b = (1L to 40L).map(i => (i, i)).toDF("k", "x")
      .select(col("k"), bucketOf.as("b")).as[(Long, Int)].collect().toMap
    val deadBucket = k2b(1L)
    // keys in deadBucket: ALL deleted below the watermark (the bucket
    // should read empty); one live key, one tombstone AT and one above
    // the watermark elsewhere
    val deadKeys = (1L to 40L).filter(k2b(_) == deadBucket)
    val others = (1L to 40L).filter(k2b(_) != deadBucket)
    val Seq(liveKey, highTombKey, atTombKey) = others.take(3)
    val rows = deadKeys.map(k => (k, k, "D", "x")) ++ Seq(
      (liveKey, 100L, "I", "alive"), (highTombKey, 200L, "D", "x"), (atTombKey, 150L, "D", "x"))
    val v1 = BucketedSnapshots.applyChanges(spark, ch(rows: _*), base, "k", nBuckets)
    def tombstones(df: DataFrame): Set[Long] =
      df.filter(col(Cdc.DeletedMeta)).select("k").as[Long].collect().toSet
    val before = stateB(base)
    val v2 = BucketedSnapshots.pruneTombstones(spark, base, lowWatermark = 150L)
    assert(v2 > v1)
    assert(stateB(base) == before)
    val raw = BucketedSnapshots.readCurrent(spark, base)
    assert(raw.select("k").as[Long].collect().forall(k2b(_) != deadBucket),
      "a bucket holding only prunable tombstones must read no rows")
    assert(tombstones(raw) == Set(highTombKey, atTombKey),
      "tombstones at or above the watermark must survive")
    // sidecars only: no bucket data dir was rewritten
    assert(BucketedSnapshots.readManifest(spark, base, v2) == BucketedSnapshots.readManifest(spark, base, v1))
    // a version pinned before the prune still reads every tombstone
    assert(tombstones(BucketedSnapshots.readSnapshot(spark, base, v1)) ==
      deadKeys.toSet ++ Set(highTombKey, atTombKey))
    // idempotent second pass with nothing to prune
    assert(BucketedSnapshots.pruneTombstones(spark, base, lowWatermark = 150L) == v2)
    assert(stateB(base) == before)
    // a post-watermark insert of a pruned key comes back exactly once
    BucketedSnapshots.applyChanges(spark, ch((deadKeys.head, 160L, "I", "back")), base, "k", nBuckets)
    assert(stateB(base) == before + ((deadKeys.head, "back")))
  }

  test("eraseKeys: subjects tombstoned above the seq range; audit computed from the table; stale updates stay dead") {
    val path = fresh("erase")
    Cdc.applyChanges(spark, ch(
      (1L, 3L, "I", "a"), (2L, 5L, "I", "b"), (3L, 7L, "D", "x")), path, "k")
    // subjects: 1 (live), 3 (already deleted), 9 (never seen)
    val audit = Cdc.eraseKeys(spark, path,
      Seq(1L, 3L, 9L).toDF("k"), "k", seq = 100L)
      .as[(Long, Boolean, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(audit(1L) == ((true, false)))
    assert(audit(3L) == ((false, false)), "an already-dead subject audits as not-present")
    assert(audit(9L) == ((false, false)))
    assert(state(path) == Set((2L, "b")))
    // the sticky-tombstone property holds for the erasure too
    Cdc.applyChanges(spark, ch((1L, 50L, "U", "resurrect-attempt")), path, "k")
    assert(state(path) == Set((2L, "b")), "a stale update must not resurrect an erased subject")
  }

  test("eraseKeys on the bucketed layout rewrites only subject buckets") {
    val base = fresh("erase_b")
    val nBuckets = 16
    val v1 = BucketedSnapshots.applyChanges(spark,
      ch((1L to 2000L).map(i => (i, i, "I", s"v$i")): _*), base, "k", nBuckets)
    val audit = Cdc.eraseKeys(spark, base, Seq(5L, 6L).toDF("k"), "k", seq = 3000L)
      .as[(Long, Boolean, Boolean)].collect()
    assert(audit.forall(r => r._2 && !r._3))
    val m1 = BucketedSnapshots.readManifest(spark, base, v1)
    val m2 = BucketedSnapshots.readManifest(spark, base, BucketedSnapshots.currentVersion(spark, base).get)
    val changed = m2.keySet.filter(b => m2(b) != m1(b))
    assert(changed.size <= 2 && changed.nonEmpty,
      s"erasing 2 subjects must rewrite <= 2 of $nBuckets buckets, rewrote $changed")
    assert(stateB(base).size == 1998)
  }

  test("scd2: consecutive identical values extend a version, changes open one") {
    val changes = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "a"), // run of a: one version
      (1L, 30L, 3L, "b"),                      // change -> new version
      (1L, 40L, 4L, "a"),                      // back to a -> NEW version (not merged)
      (2L, 15L, 5L, "x"))
      .toDF("k", "t", "id", "v")
    val out = Cdc.scd2Intervals(changes, "k", "t", "id", Seq("v"))
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("version_idx")) ->
        (r.getAs[String]("v"), r.getAs[Long]("valid_from"),
          r.getAs[Any]("valid_to"), r.getAs[Boolean]("is_current")))
      .toMap
    assert(out.size == 4)
    assert(out((1L, 1L)) == (("a", 10L, 30L, false)))
    assert(out((1L, 2L)) == (("b", 30L, 40L, false)))
    assert(out((1L, 3L)) == (("a", 40L, null, true)))
    assert(out((2L, 1L)) == (("x", 15L, null, true)))
  }

  test("scd2: half-open intervals cover every change instant exactly once") {
    val changes = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "c"))
      .toDF("k", "t", "id", "v")
    val iv = Cdc.scd2Intervals(changes, "k", "t", "id", Seq("v"))
    // point-in-time lookups: t=20 matches ONLY version 2 (valid_from
    // inclusive, valid_to exclusive); t=25 version 2; t=9 nothing
    def at(t: Long) = iv.filter(
      col("valid_from") <= t && (col("valid_to").isNull || col("valid_to") > t))
      .select("v").as[String].collect().toSeq
    assert(at(20L) == Seq("b"))
    assert(at(25L) == Seq("b"))
    assert(at(9L).isEmpty)
    assert(at(99L) == Seq("c"))
  }

  test("scd2Apply == full rebuild across random split points (property)") {
    val rnd = new scala.util.Random(17)
    val stream = (1 to 240).map { i =>
      (rnd.nextInt(6).toLong, i.toLong * 10, i.toLong, s"v${rnd.nextInt(3)}")
    } // ts strictly increasing -> any ts split respects the per-key contract
    def iv(rows: Seq[(Long, Long, Long, String)]) =
      Cdc.scd2Intervals(rows.toDF("k", "t", "id", "v"), "k", "t", "id", Seq("v"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[Long]("valid_from"), r.getAs[Any]("valid_to"),
        r.getAs[Long]("version_idx"), r.getAs[Boolean]("is_current")))
        .sortBy(x => (x._1, x._3)).toSeq
    val full = canon(iv(stream))
    for (cut <- Seq(1, 60, 120, 239)) {
      val (b1, b2) = stream.splitAt(cut)
      val inc = Cdc.scd2Apply(iv(b1), b2.toDF("k", "t", "id", "v"), "k", "t", "id", Seq("v"))
      assert(canon(inc) == full, s"split at $cut")
    }
    // chained three-batch apply
    val (a, rest) = stream.splitAt(80)
    val (b, c) = rest.splitAt(80)
    val chained = Cdc.scd2Apply(
      Cdc.scd2Apply(iv(a), b.toDF("k", "t", "id", "v"), "k", "t", "id", Seq("v")),
      c.toDF("k", "t", "id", "v"), "k", "t", "id", Seq("v"))
    assert(canon(chained) == full)
  }

  test("scd2ApplyTable lifecycle: bootstrap + applies == one full rebuild; pointer commit") {
    val path = fresh("scd2t")
    val stream = (1 to 90).map(i => ((i % 4).toLong, i.toLong * 10, i.toLong, s"v${i % 3}"))
    val batches = stream.grouped(30).toSeq
    batches.foreach { b =>
      Cdc.scd2ApplyTable(spark, b.toDF("k", "t", "id", "v"), path, "k", "t", "id", Seq("v"))
    }
    val full = Cdc.scd2Intervals(stream.toDF("k", "t", "id", "v"), "k", "t", "id", Seq("v"))
      .collect().map(_.toSeq).toSet
    assert(Snapshots.readCurrent(spark, path).collect().map(_.toSeq).toSet == full)
  }

  test("scd2Apply: extend, close, new-key and untouched-key cases") {
    val b1 = Seq((1L, 10L, 1L, "a"), (2L, 10L, 2L, "x"), (3L, 10L, 3L, "q"))
      .toDF("k", "t", "id", "v")
    // k1: same value (extends), then changes -> close at 40
    // k2: changes immediately -> close at 30; k3 untouched; k4 new
    val b2 = Seq((1L, 30L, 4L, "a"), (1L, 40L, 5L, "b"),
      (2L, 30L, 6L, "y"), (4L, 35L, 7L, "n")).toDF("k", "t", "id", "v")
    val out = Cdc.scd2Apply(
      Cdc.scd2Intervals(b1, "k", "t", "id", Seq("v")), b2, "k", "t", "id", Seq("v"))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("version_idx")) ->
        (r.getAs[String]("v"), r.getAs[Long]("valid_from"), r.getAs[Any]("valid_to"),
          r.getAs[Boolean]("is_current"))).toMap
    assert(out((1L, 1L)) == (("a", 10L, 40L, false))) // extended to the b2 change
    assert(out((1L, 2L)) == (("b", 40L, null, true)))
    assert(out((2L, 1L)) == (("x", 10L, 30L, false)))
    assert(out((2L, 2L)) == (("y", 30L, null, true)))
    assert(out((3L, 1L)) == (("q", 10L, null, true))) // untouched stays open
    assert(out((4L, 1L)) == (("n", 35L, null, true)))
    assert(out.size == 6)
  }

  test("scd2: null-safe run detection and multi-column tracking") {
    val changes = Seq(
      (1L, 10L, 1L, Some("a"), 5L), (1L, 20L, 2L, None, 5L), // a->null: change
      (1L, 30L, 3L, None, 5L),                               // null run extends
      (1L, 40L, 4L, None, 6L))                               // second col changes
      .toDF("k", "t", "id", "v", "w")
    val out = Cdc.scd2Intervals(changes, "k", "t", "id", Seq("v", "w"))
      .orderBy("version_idx").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Long]("valid_from")).toSeq == Seq(10L, 20L, 40L))
  }
}
