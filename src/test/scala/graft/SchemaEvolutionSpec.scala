package graft

import graft.operators.{BucketedSnapshots, Cdc, Incremental, Snapshots}
import org.apache.spark.sql.functions._

/** Schema evolution on the maintained-table sinks: add-column commits
  * union-by-name with null backfill at merge time, mixed-schema bucket
  * layouts read back merged, pinned pre-evolution versions keep their
  * schema, retyping a column is rejected up front, and the change feed
  * crosses the evolution.
  */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String): String = {
    val path = s"target/tmp/evospec_$name"
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    path
  }

  test("serve upsert: an added column null-backfills old rows; update rows carry it") {
    val path = fresh("serve")
    Incremental.upsertByKey(spark,
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), path, "k")
    Incremental.upsertByKey(spark,
      Seq((2L, 20.0, "fresh"), (3L, 3.0, "new")).toDF("k", "v", "tag"), path, "k")
    val got = Snapshots.readCurrent(spark, path).select("k", "v", "tag")
      .as[(Long, Double, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((1.0, None)),              // old row: new column null-backfilled
      2L -> ((20.0, Some("fresh"))),    // updated row: full new schema
      3L -> ((3.0, Some("new")))))
  }

  test("bucketed-versioned table evolved mid-stream: untouched OLD buckets read back merged; pinned version keeps its schema") {
    val path = fresh("bucketed")
    val v1 = BucketedSnapshots.upsertByKey(spark,
      (1L to 200L).map(i => (i, i * 1.0)).toDF("k", "v"), path, "k", 16,
      keepVersions = 3)
    // the evolving commit touches <= 2 of 16 buckets; the other 14 keep
    // their old-schema dirs, which the merged read must null-backfill
    val v2 = BucketedSnapshots.upsertByKey(spark,
      Seq((5L, 500.0, 99L), (201L, 1.5, 77L)).toDF("k", "v", "extra"),
      path, "k", 16, keepVersions = 3)
    val cur = BucketedSnapshots.readCurrent(spark, path)
    assert(cur.columns.toSet == Set("k", "v", "extra"))
    val got = cur.select("k", "v", "extra")
      .as[(Long, Double, Option[Long])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size == 201)
    assert(got(5L) == ((500.0, Some(99L))) && got(201L) == ((1.5, Some(77L))))
    assert(got(7L) == ((7.0, None)), "old-bucket rows must read with NULL extra")
    // the pinned pre-evolution version still reads in its OWN schema
    assert(BucketedSnapshots.readSnapshot(spark, path, v1).columns.toSet == Set("k", "v"))
    // and the change feed crosses the evolution: old side null-aligned
    val feed = BucketedSnapshots.readChangesBetween(spark, path, "k", v1, v2)
      .select("k", "v", "extra", "op")
      .as[(Long, Double, Option[Long], String)].collect().toSet
    assert(feed == Set((5L, 500.0, Some(99L), "U"), (201L, 1.5, Some(77L), "I")))
  }

  test("CDC table evolved mid-stream: new payload column lands; old rows null-backfilled") {
    val path = fresh("cdc")
    BucketedSnapshots.applyChanges(spark,
      Seq((1L, 1L, "I", "a"), (2L, 2L, "I", "b")).toDF("k", "seq", "op", "v"),
      path, "k", 4, keepVersions = 3)
    BucketedSnapshots.applyChanges(spark,
      Seq((2L, 8L, "U", "b8", 42L), (3L, 9L, "I", "c", 43L))
        .toDF("k", "seq", "op", "v", "score"),
      path, "k", 4, keepVersions = 3)
    val got = BucketedSnapshots.readTable(spark, path).select("k", "v", "score")
      .as[(Long, String, Option[Long])].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> (("a", None)), 2L -> (("b8", Some(42L))), 3L -> (("c", Some(43L)))))
  }

  test("retyping a maintained column is rejected with a clear error, nothing committed") {
    val path = fresh("retype")
    val v1 = BucketedSnapshots.upsertByKey(spark,
      Seq((1L, 1.0)).toDF("k", "v"), path, "k", 4)
    val ex = intercept[IllegalArgumentException] {
      BucketedSnapshots.upsertByKey(spark,
        Seq((1L, "oops")).toDF("k", "v"), path, "k", 4)
    }
    assert(ex.getMessage.contains("incompatible schema change"))
    assert(BucketedSnapshots.currentVersion(spark, path).contains(v1),
      "the failed commit must leave the live version unchanged")
    // the full-snapshot sink rejects the same way
    val p2 = fresh("retype2")
    Incremental.upsertByKey(spark, Seq((1L, 1.0)).toDF("k", "v"), p2, "k")
    intercept[IllegalArgumentException] {
      Incremental.upsertByKey(spark, Seq((1L, "oops")).toDF("k", "v"), p2, "k")
    }
  }

  test("versioned snapshot diff across an evolution aligns union-by-name") {
    val path = fresh("snapdiff")
    val v1 = Snapshots.commit(spark, Seq((1L, "a")).toDF("k", "v"), path, keepVersions = 3)
    val v2 = Snapshots.commit(spark,
      Seq((1L, "a", 7L), (2L, "b", 8L)).toDF("k", "v", "extra"), path, keepVersions = 3)
    val feed = Snapshots.readChangesBetween(spark, path, "k", v1, v2)
      .select("k", "v", "extra", "op")
      .as[(Long, String, Option[Long], String)].collect().toSet
    // key 1 changed ONLY by the added column: null -> 7 is a U
    assert(feed == Set((1L, "a", Some(7L), "U"), (2L, "b", Some(8L), "I")))
  }

  test("recorded #schema header: reads resolve schema from the manifest, never from per-file footer merging") {
    val path = fresh("schemahdr")
    BucketedSnapshots.upsertByKey(spark,
      (1L to 100L).map(i => (i, i * 2.0)).toDF("k", "v"), path, "k", 8,
      keepVersions = 3)
    val v = BucketedSnapshots.currentVersion(spark, path).get
    assert(BucketedSnapshots.readTableSchema(spark, path, v)
      .map(_.fieldNames.toSeq).contains(Seq("k", "v")), "header must record the schema")
    assert(BucketedSnapshots.readBucketKey(spark, path, v).contains("k"),
      "header must record the bucket key")
    // plant a foreign-schema file inside one committed bucket dir: a
    // footer-merging read would surface its column; the recorded-schema
    // read provably never consults footers for schema
    val m = BucketedSnapshots.readManifest(spark, path, v)
    val (b, bv) = m.head
    Seq((100000L, 1.0, "smuggled")).toDF("k", "v", "smuggled").coalesce(1)
      .write.mode("append").parquet(s"$path/b=$b/v=$bv")
    val cur = BucketedSnapshots.readCurrent(spark, path)
    assert(cur.columns.toSeq == Seq("k", "v"),
      "schema must come from the recorded header (zero footer IO)")
    val legacyCols = spark.read.option("mergeSchema", "true")
      .parquet(m.toSeq.map { case (bb, vv) => s"$path/b=$bb/v=$vv" }: _*).columns.toSet
    assert(legacyCols == Set("k", "v", "smuggled"),
      "sanity: a footer merge WOULD have seen the planted column")
    // and the evolving commit merges the header forward
    BucketedSnapshots.upsertByKey(spark,
      Seq((3L, 30.0, "x")).toDF("k", "v", "tag"), path, "k", 8, keepVersions = 3)
    val v2 = BucketedSnapshots.currentVersion(spark, path).get
    assert(BucketedSnapshots.readTableSchema(spark, path, v2)
      .map(_.fieldNames.toSeq).contains(Seq("k", "v", "tag")))
    assert(BucketedSnapshots.readSnapshot(spark, path, v2).columns.toSeq ==
      Seq("k", "v", "tag"))
  }

  test("seq-aware CDC merge (versioned, non-bucketed) evolves too") {
    val path = fresh("cdcv")
    Cdc.applyChanges(spark,
      Seq((1L, 1L, "I", "a")).toDF("k", "seq", "op", "v"), path, "k")
    Cdc.applyChanges(spark,
      Seq((1L, 5L, "U", "a5", 9L)).toDF("k", "seq", "op", "v", "w"), path, "k")
    val got = Cdc.readTable(spark, path).select("k", "v", "w")
      .as[(Long, String, Option[Long])].collect().toSet
    assert(got == Set((1L, "a5", Some(9L))))
  }
}
