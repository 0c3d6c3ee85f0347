package graft

import graft.operators.Skew
import graft.sources.Layout
import org.apache.spark.sql.functions._

/** Physical-plan assertions for the scale paths: bucketed joins must be
  * shuffle-free; salted joins must be row-identical to plain joins.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("joining two same-bucketed tables plans WITHOUT a shuffle exchange") {
    val a = (1L to 500L).map(i => (i, i * 2.0)).toDF("k", "va")
    val b = (1L to 500L).map(i => (i, s"s$i")).toDF("k", "vb")
    Layout.writeBucketed(a, "graft_bspec_a", 4, "k", Seq("k"))
    Layout.writeBucketed(b, "graft_bspec_b", 4, "k", Seq("k"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("graft_bspec_a").join(spark.table("graft_bspec_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 500)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("groupBy on the bucket key aggregates WITHOUT a shuffle exchange") {
    val agg = spark.table("graft_bspec_a").groupBy("k").agg(sum(col("va")))
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(agg.count() == 500)
  }

  test("AQE splits the deliberately skewed sf0.1 join (skew handling without manual salting)") {
    // SURVEY §4 flags hot tokens as the real skew risk on the as-of join;
    // Skew.saltedInnerJoin is the manual fix. This is the evidence for the
    // ENGINE's own fix: funnel a third of sf0.1 events onto one hot key,
    // force a sort-merge join, and require AQE's skew-join rule to split
    // the oversized partition (thresholds scaled to testdata size — on the
    // 100 TB cluster the defaults, 256 MB / factor 5, play the same role).
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16384",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8192",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1024")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      graft.sources.Tables.configure(spark)
      val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
        .select(when(col("user_id") < 1400, 0L).otherwise(col("user_id")).as("k"),
          col("value"))
      val dim = (0L to 1500L).map(k => (k, s"dim$k")).toDF("k", "attr")
      // AQE splits a skewed reduce partition at MAP-OUTPUT granularity: a
      // single-mapper shuffle (this one small parquet file scans as one
      // task) is unsplittable no matter how skewed. The repartition gives
      // the join's exchange 24 mappers — on a real cluster the thousands
      // of scan tasks provide this for free.
      val joined = ev.repartition(24).join(dim, "k")
      // execute THIS frame's plan (a .count() builds its own query
      // execution, and AQE only finalizes the plan it actually ran)
      assert(joined.collect().length > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"AQE skew-join split did not engage on the hot key:\n$plan")
      assert(plan.contains("AQEShuffleRead") && plan.contains("skewed"),
        s"expected a skewed AQEShuffleRead:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, scala.None) => spark.conf.unset(k)
    }
  }

  test("writeShuffledShards: identical shards and order across input partitionings; read-back matches the declared order") {
    import graft.sources.Layout
    val base = "target/tmp/layout_shard_shuffle"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("", "__staging", "__old", "2", "2__staging", "2__old")
      .foreach(s => fs.delete(new org.apache.hadoop.fs.Path(base + s), true))
    val rows = (1L to 2000L).map(i => (i, s"payload$i"))
    val nShards = 8
    // write 1: one input layout; write 2: different partitioning AND row order
    Layout.writeShuffledShards(rows.toDF("id", "v").repartition(7), base, "id", nShards)
    Layout.writeShuffledShards(
      scala.util.Random.shuffle(rows).toDF("id", "v").repartition(3, col("v")),
      base + "2", "id", nShards)
    def shardSeqs(path: String): Map[Int, Seq[Long]] =
      (0 until nShards).map { s =>
        // one coalesced read per shard dir keeps file order; shards are
        // single-file by construction (one task per shard hash)
        s -> spark.read.parquet(s"$path/shard=$s").select("id").as[Long].collect().toSeq
      }.toMap
    val (a, b) = (shardSeqs(base), shardSeqs(base + "2"))
    assert(a == b, "the shuffle must be a pure function of the ids")
    assert(a.values.map(_.size).sum == 2000, "no row lost")
    assert(a.values.forall(_.nonEmpty), "uniform hash fills every shard")
    // read-back order == the declared (hash2, id) order, per shard
    val expected = Layout.shardShuffleAssignment(rows.toDF("id", "v"), "id", nShards, "shuf")
      .select(col("shard"), col("__ord"), col("id")).as[(Int, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(r => (r._2, r._3)).map(_._3).toSeq).toMap
    assert(a == expected, "file order must be the declared deterministic order")
    // overwrite commit: a second write over the first leaves no residue
    Layout.writeShuffledShards(rows.take(100).toDF("id", "v"), base, "id", nShards)
    assert(spark.read.parquet(base).count() == 100)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(base + "__staging")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(base + "__old")))
  }

  test("writeRangeClustered: per-file key ranges are pairwise disjoint") {
    val base = "target/tmp/layout_range_spec"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rnd = new scala.util.Random(42)
    val df = (1 to 5000).map(_ => (rnd.nextLong().abs % 100000L, rnd.nextDouble()))
      .toDF("k", "v")
    Layout.writeRangeClustered(df, base, 8, "k")
    val files = new java.io.File(base).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 1)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("k")), max(col("k"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    // disjoint slices: every file's max < the next file's min (footer-level
    // skipping needs non-overlapping ranges)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2)
      case _ => ()
    }
    // roundtrip completeness
    assert(spark.read.parquet(base).count() == 5000)
  }

  test("range-clustered read: a range predicate touches only the overlapping slice") {
    // 50k rows in 8 disjoint range files (~6250 rows each, one row group
    // apiece): a predicate over the top 10% must let footer stats skip ~7
    // of 8 row groups. The scan's numOutputRows metric counts rows the
    // reader actually materialized (post row-group skip), so it IS the
    // files-touched observable.
    val clustered = "target/tmp/layout_prune_clustered"
    val scattered = "target/tmp/layout_prune_scattered"
    for (b <- Seq(clustered, scattered)) {
      val p = new org.apache.hadoop.fs.Path(b)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
    val df = (1 to 50000).map(i => (i.toLong, i * 0.5)).toDF("k", "v")
    Layout.writeRangeClustered(df, clustered, 8, "k")
    // counter-layout: same rows hash-scattered, so every file spans the
    // whole key range and nothing can be skipped
    df.repartition(8, hash(col("k"))).write.parquet(scattered)
    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path).filter(col("k") >= 45001L)
      // collect() executes THIS queryExecution (count() would build its
      // own, leaving these metrics at 0)
      assert(q.collect().length == 5000)
      q.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).max
    }
    val rowsClustered = scanRows(clustered)
    val rowsScattered = scanRows(scattered)
    assert(rowsClustered <= 13000,
      s"clustered layout must skip non-overlapping row groups, read $rowsClustered")
    assert(rowsScattered >= 45000,
      s"scattered counter-layout should read ~everything, read $rowsScattered")
  }

  test("compact: small files merge to nFiles, content identical, sort restores pruning") {
    val base = "target/tmp/layout_compact"
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // 32 tiny files, key-scattered
    val df = (1 to 20000).map(i => (i.toLong, i * 0.25)).toDF("k", "v")
    df.repartition(32).write.parquet(base)
    def dataFiles() = fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    assert(dataFiles() == 32)
    Layout.compact(spark, base, 4, sortCol = Some("k"))
    assert(dataFiles() <= 4, s"expected <= 4 data files, got ${dataFiles()}")
    val back = spark.read.parquet(base)
    assert(back.count() == 20000 && back.except(df).isEmpty && df.except(back).isEmpty)
    // range layout restored: top-10% range predicate skips most row groups
    val q = back.filter(col("k") > 18000L)
    assert(q.collect().length == 2000)
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).max
    assert(scanned <= 6000, s"compacted+sorted layout should prune, read $scanned")
    // shuffle-free variant: plain coalesce also compacts
    Layout.compact(spark, base, 2, sortCol = None)
    assert(dataFiles() <= 2 && spark.read.parquet(base).count() == 20000)
  }

  test("z-ordered layout: rectangle predicate touches ~one tile; prunes on EITHER axis") {
    // 256x256 grid in 64 z-ordered files: each file is ~a 32x32 tile, so a
    // 32x32 rectangle predicate lands in ~1 file. The 1-D counter-layout
    // (range-clustered on `a` alone) must read the whole a-slice for the
    // same rectangle, and the whole table for a b-only predicate.
    val zpath = "target/tmp/layout_zorder_z"
    val rpath = "target/tmp/layout_zorder_r"
    for (p <- Seq(zpath, rpath)) {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }
    val df = (for { a <- 0 until 256; b <- 0 until 256 } yield (a.toLong, b.toLong))
      .toDF("a", "b")
    Layout.writeZOrdered(df, zpath, 64, "a", "b", bits = 8)
    Layout.writeRangeClustered(df, rpath, 64, "a")
    def scanRows(path: String, pred: org.apache.spark.sql.Column, expect: Long): Long = {
      val q = spark.read.parquet(path).filter(pred)
      assert(q.collect().length == expect)
      q.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).max
    }
    val rect = col("a") < 32 && col("b") < 32
    // z: ~1 tile (1024 rows), with slack for range-boundary drift — the
    // repartitionByRange boundaries come from a reservoir sample whose seed
    // derives from the RDD id, so tile alignment shifts a little depending
    // on session history (observed 4150 in a full-suite run): allow the
    // 4-tile straddle plus ~2 boundary files, still far under the 1-D
    // layout's 7000+ for the same rectangle
    assert(scanRows(zpath, rect, 1024) <= 6000, "z-layout must prune both axes")
    // 1-D: footer stats prune only on a — the full a<32 slice (~8 files) reads
    assert(scanRows(rpath, rect, 1024) >= 7000, "1-D layout reads the whole a-slice")
    val bOnly = col("b") < 16
    // z still prunes on b alone (~8 bottom-row tiles); 1-D reads everything
    assert(scanRows(zpath, bOnly, 4096) <= 20000, "z-layout must prune on b alone")
    assert(scanRows(rpath, bOnly, 4096) >= 60000, "1-D layout cannot prune on b")
  }

  test("hilbert layout: prunes rectangles at least as tight as z-order; content identical") {
    val hpath = "target/tmp/layout_hilbert_h"
    val zpath = "target/tmp/layout_hilbert_z"
    for (p <- Seq(hpath, zpath)) {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }
    val df = (for { a <- 0 until 256; b <- 0 until 256 } yield (a.toLong, b.toLong))
      .toDF("a", "b")
    Layout.writeHilbertOrdered(df, hpath, 64, "a", "b", bits = 8)
    Layout.writeZOrdered(df, zpath, 64, "a", "b", bits = 8)
    // content equivalence
    assert(spark.read.parquet(hpath).as[(Long, Long)].collect().toSet ==
      df.as[(Long, Long)].collect().toSet)
    def scanRows(path: String, pred: org.apache.spark.sql.Column, expect: Long): Long = {
      val q = spark.read.parquet(path).filter(pred)
      assert(q.collect().length == expect)
      q.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).max
    }
    // the same rectangle/slice predicates as the z-order test; hilbert's
    // contiguous cover must stay inside the same bounds (same slack rules)
    val rect = col("a") < 32 && col("b") < 32
    val hRect = scanRows(hpath, rect, 1024)
    assert(hRect <= 6000, s"hilbert must prune both axes (read $hRect rows)")
    val bOnly = col("b") < 16
    val hB = scanRows(hpath, bOnly, 4096)
    assert(hB <= 20000, s"hilbert must prune on b alone (read $hB rows)")
  }

  test("bucketed join stays Exchange-free after catalog loss + DDL re-attach (restart story)") {
    // external bucketed tables at explicit paths: DROP forgets the catalog
    // entry (files survive) == what a JVM restart does to the in-memory
    // catalog; attachBucketed re-issues the DDL over the surviving files
    // absolute: a relative option("path") resolves against the WAREHOUSE
    // dir, landing the files somewhere the cleanup below wouldn't see
    val base = new java.io.File("target/tmp/layout_reattach").getAbsolutePath
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val stale = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "target/tmp/layout_reattach")
    stale.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(stale, true)
    val a = (1L to 400L).map(i => (i, i * 2.0)).toDF("k", "va")
    val b = (1L to 400L).map(i => (i, s"s$i")).toDF("k", "vb")
    for (t <- Seq("graft_ratt_a", "graft_ratt_b")) spark.sql(s"DROP TABLE IF EXISTS $t")
    a.write.bucketBy(4, "k").sortBy("k").option("path", s"$base/a")
      .format("parquet").saveAsTable("graft_ratt_a")
    b.write.bucketBy(4, "k").sortBy("k").option("path", s"$base/b")
      .format("parquet").saveAsTable("graft_ratt_b")
    spark.sql("DROP TABLE graft_ratt_a") // external: files remain
    spark.sql("DROP TABLE graft_ratt_b")
    Layout.attachBucketed(spark, "graft_ratt_a", s"$base/a", "k BIGINT, va DOUBLE", 4, "k", Seq("k"))
    Layout.attachBucketed(spark, "graft_ratt_b", s"$base/b", "k BIGINT, vb STRING", 4, "k", Seq("k"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_ratt_a").join(spark.table("graft_ratt_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"re-attached bucketed join must stay shuffle-free:\n$plan")
      assert(joined.count() == 400)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("saltedInnerJoin is row-identical to the plain join under heavy skew") {
    // 90% of left rows share one hot key
    val left = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 7L, i.toLong))
      .toDF("k", "payload")
    val right = (1L to 200L).map(i => (i, s"r$i")).toDF("k", "rv")
    val plain = left.join(right, Seq("k"))
      .select("k", "payload", "rv").as[(Long, Long, String)].collect().sorted.toSeq
    val salted = Skew.saltedInnerJoin(left, right, "k", saltFrom = "payload", nSalts = 8)
      .select("k", "payload", "rv").as[(Long, Long, String)].collect().sorted.toSeq
    assert(salted == plain)
    assert(plain.nonEmpty)
  }
}
