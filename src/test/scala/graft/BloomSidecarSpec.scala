package graft

import graft.operators.BucketedSnapshots
import org.apache.spark.sql.functions._

/** Per-bucket bloom sidecars: commit-time filters over declared
  * high-cardinality string columns, equality reads probing the sidecar
  * BEFORE opening buckets. The spec counts OPENED buckets against a
  * planted hit/miss matrix, proves conservative-only pruning (every
  * actual row always returned — no false negatives by construction),
  * carry-across-commits, and the drop-on-rewrite rule.
  */
class BloomSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String = {
    val path = s"target/tmp/bloomspec_$name"
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    path
  }

  // url values land in the bucket of their OWN row key k — the planted
  // matrix: url "u<k>" lives only in bucket(k)
  private def mkTable(path: String): Unit = {
    val df = (1L to 2000L).map(i => (i, s"u$i", i * 2.0)).toDF("k", "url", "v")
    BucketedSnapshots.upsertByKey(spark, df, path, "k", 16,
      keepVersions = 2, bloomColumns = Seq("url"))
  }

  test("equality reads open ONLY the buckets whose filters might hold the values") {
    val path = fresh("prune")
    mkTable(path)
    val v = BucketedSnapshots.currentVersion(spark, path).get
    val all = BucketedSnapshots.readManifest(spark, path, v).keySet
    // a PRESENT value: its bucket must be kept; most others pruned
    val kept = BucketedSnapshots.bloomPrunedBuckets(spark, path, v, "url", Seq("u77"))
    assert(kept.nonEmpty && kept.size < all.size,
      s"present value must prune to a strict subset, kept ${kept.size}/${all.size}")
    // an ABSENT value: vanishingly unlikely to survive 16 filters at 3% fpp
    val keptMiss = BucketedSnapshots.bloomPrunedBuckets(
      spark, path, v, "url", Seq("nosuchvalue-zz"))
    assert(keptMiss.size <= 2, s"absent value kept ${keptMiss.size} buckets")
    // rows come back exactly
    val got = BucketedSnapshots.readCurrentEquals(spark, path, "url", Seq("u77"))
      .as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((77L, "u77", 154.0)))
    assert(BucketedSnapshots.readCurrentEquals(
      spark, path, "url", Seq("nosuchvalue-zz")).count() == 0)
  }

  test("no false negatives: every planted value is found through the pruned read") {
    val path = fresh("total")
    mkTable(path)
    (1L to 200L).foreach { i =>
      val got = BucketedSnapshots.readCurrentEquals(spark, path, "url", Seq(s"u$i"))
        .as[(Long, String, Double)].collect()
      assert(got.length == 1 && got(0)._1 == i, s"value u$i must be found")
    }
    // multi-value reads union the probes
    val got = BucketedSnapshots.readCurrentEquals(
      spark, path, "url", Seq("u5", "u1500", "absent"))
      .as[(Long, String, Double)].collect().map(_._1).toSet
    assert(got == Set(5L, 1500L))
  }

  test("declared columns are sticky and filters carry across commits; touched buckets refresh") {
    val path = fresh("carry")
    mkTable(path)
    // a later commit WITHOUT re-declaring still maintains the sidecar
    BucketedSnapshots.upsertByKey(spark,
      Seq((3000L, "ufresh", 1.0)).toDF("k", "url", "v"), path, "k", 16,
      keepVersions = 2)
    val v = BucketedSnapshots.currentVersion(spark, path).get
    assert(BucketedSnapshots.readBlooms(spark, path, v)._1 == Seq("url"))
    val got = BucketedSnapshots.readCurrentEquals(spark, path, "url", Seq("ufresh"))
      .as[(Long, String, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(3000L))
    // old values still found (carried filters)
    assert(BucketedSnapshots.readCurrentEquals(spark, path, "url", Seq("u42"))
      .count() == 1)
  }

  test("delete vectors fold inside equality reads (deletes only narrow — probe stays a superset)") {
    val path = fresh("dv")
    mkTable(path)
    BucketedSnapshots.deleteKeys(spark, path, Seq(77L).toDF("k"), "k", keepVersions = 2)
    assert(BucketedSnapshots.readCurrentEquals(spark, path, "url", Seq("u77")).count() == 0,
      "deleted row must not resurface through the bloom path")
    assert(BucketedSnapshots.readCurrentEquals(spark, path, "url", Seq("u78")).count() == 1)
  }

  test("long-keyed bloom columns prune AND find every value (type-keyed probe hashing)") {
    // pre-r16 the probe hashed values as strings while the build hashed
    // the native long — every probe missed and matching rows were
    // silently dropped; the #types= header now keys the probe hash
    val path = fresh("longkey")
    val df = (1L to 2000L).map(i => (i, i * 1000L, i * 2.0)).toDF("k", "block", "v")
    BucketedSnapshots.upsertByKey(spark, df, path, "k", 16,
      keepVersions = 2, bloomColumns = Seq("block"))
    val v = BucketedSnapshots.currentVersion(spark, path).get
    val all = BucketedSnapshots.readManifest(spark, path, v).keySet
    // probe with a native Long AND with its string form: both must hash
    // by the recorded bigint type
    val keptL = BucketedSnapshots.bloomPrunedBuckets(spark, path, v, "block", Seq(77000L))
    val keptS = BucketedSnapshots.bloomPrunedBuckets(spark, path, v, "block", Seq("77000"))
    assert(keptL == keptS, "long and string probes must hash identically")
    assert(keptL.nonEmpty && keptL.size < all.size,
      s"present long value must prune to a strict subset, kept ${keptL.size}/${all.size}")
    val got = BucketedSnapshots.readCurrentEquals(spark, path, "block", Seq("77000"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((77L, 77000L, 154.0)), s"row must be FOUND, got $got")
    (1L to 100L).foreach { i =>
      assert(BucketedSnapshots.readCurrentEquals(
        spark, path, "block", Seq(s"${i * 1000L}")).count() == 1,
        s"block ${i * 1000L} must be found through the pruned read")
    }
    assert(BucketedSnapshots.bloomPrunedBuckets(
      spark, path, v, "block", Seq(999999999L)).size <= 2)
  }

  test("a non-indexable bloom column type is rejected at commit time") {
    val path = fresh("badtype")
    val df = (1L to 10L).map(i => (i, i * 0.5)).toDF("k", "score")
    val e = intercept[IllegalArgumentException] {
      BucketedSnapshots.upsertByKey(spark, df, path, "k", 4,
        keepVersions = 2, bloomColumns = Seq("score"))
    }
    assert(e.getMessage.contains("bloom column 'score'"), e.getMessage)
  }

  test("retention gc and vacuum collect bloom sidecars of unreferenced versions") {
    val path = fresh("gc")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bloomFiles: Set[String] = {
      val d = new org.apache.hadoop.fs.Path(s"$path/manifest")
      if (!fs.exists(d)) Set.empty
      else fs.listStatus(d).map(_.getPath.getName).filter(_.endsWith(".bloom.txt")).toSet
    }
    mkTable(path) // v1
    (2 to 5).foreach { i =>
      BucketedSnapshots.upsertByKey(spark,
        Seq((i * 1000L, s"uextra$i", 1.0)).toDF("k", "url", "v"), path, "k", 16,
        keepVersions = 2, bloomColumns = Seq("url"))
    }
    // keepVersions=2: retention gc must have dropped old versions' blooms
    val retained = BucketedSnapshots.versions(spark, path).toSet
    assert(bloomFiles.forall { n =>
      retained.contains(n.stripPrefix("v=").stripSuffix(".bloom.txt").toLong)
    }, s"gc must not strand bloom sidecars: have $bloomFiles, retained $retained")
    // an orphaned sidecar of an unreferenced version: vacuum sweeps it
    val orphan = new org.apache.hadoop.fs.Path(s"$path/manifest/v=999.bloom.txt")
    val out = fs.create(orphan, true)
    out.write("#cols=url\n#types=string".getBytes("UTF-8")); out.close()
    assert(BucketedSnapshots.vacuum(spark, path, olderThanMs = 0L) >= 1)
    assert(!fs.exists(orphan), "vacuum must recognize and sweep v=N.bloom.txt")
    // live reads unharmed
    assert(BucketedSnapshots.readCurrentEquals(spark, path, "url", Seq("u42")).count() == 1)
  }

  test("compaction drops rewritten buckets' entries conservatively (reads still correct)") {
    val path = fresh("compact")
    mkTable(path)
    BucketedSnapshots.deleteKeys(spark, path, Seq(5L).toDF("k"), "k", keepVersions = 2)
    BucketedSnapshots.compact(spark, path, keepVersions = 2)
    // rewritten buckets lost their filters: absent = always read = correct
    (1L to 50L).filterNot(_ == 5L).foreach { i =>
      assert(BucketedSnapshots.readCurrentEquals(spark, path, "url", Seq(s"u$i")).count() == 1,
        s"u$i must survive compaction through the bloom path")
    }
    assert(BucketedSnapshots.readCurrentEquals(spark, path, "url", Seq("u5")).count() == 0)
  }

  test("bloom columns survive write-audit-publish: branch commits carry the sidecar") {
    val path = fresh("wap")
    mkTable(path)
    BucketedSnapshots.branch(spark, path, "load")
    BucketedSnapshots.commitToBranch(spark, path, "load",
      Seq((4000L, "ubranch", 1.0)).toDF("k", "url", "v"), "k", 16)
    BucketedSnapshots.publishBranch(spark, path, "load")
    val v = BucketedSnapshots.currentVersion(spark, path).get
    val all = BucketedSnapshots.readManifest(spark, path, v).keySet
    val kept = BucketedSnapshots.bloomPrunedBuckets(spark, path, v, "url", Seq("u77"))
    assert(kept.nonEmpty && kept.size < all.size,
      s"the published branch head must still prune, kept ${kept.size}/${all.size}")
    assert(BucketedSnapshots.readCurrentEquals(spark, path, "url", Seq("ubranch"))
      .as[(Long, String, Double)].collect().map(_._1).toSeq == Seq(4000L))
    // a later main commit that declares nothing still maintains the sidecar
    BucketedSnapshots.upsertByKey(spark,
      Seq((5000L, "ulater", 2.0)).toDF("k", "url", "v"), path, "k", 16)
    val v2 = BucketedSnapshots.currentVersion(spark, path).get
    assert(BucketedSnapshots.readBlooms(spark, path, v2)._1 == Seq("url"))
    assert(BucketedSnapshots.bloomPrunedBuckets(spark, path, v2, "url", Seq("u77")).size < all.size)
    assert(BucketedSnapshots.readCurrentEquals(spark, path, "url", Seq("ulater"))
      .as[(Long, String, Double)].collect().map(_._1).toSeq == Seq(5000L))
  }
}
