package graft

import graft.functions.Scalars
import graft.operators._
import graft.quality.Constraints
import org.apache.spark.sql.functions._

/** Branch-level semantics the DuckDB oracle queries can't reach with the
  * all-positive testdata: health-factor clamp branches, as-of boundary
  * inclusivity, `>=` argmax ties, upsert lifecycle, decode stub.
  */
class ScalarsSpec extends SparkSpec {
  import spark.implicits._

  private def hf(num: java.lang.Double, den: java.lang.Double): Double =
    Seq((num, den)).toDF("num", "den")
      .select(Scalars.healthFactor(col("num"), col("den")).as("hf"))
      .head().getDouble(0)

  test("healthFactor: null/zero borrow balance -> 1e6 sentinel") {
    assert(hf(5.0, null) == 1000000.0)
    assert(hf(5.0, 0.0) == 1000000.0)
  }
  test("healthFactor: zero ratio with tiny balance -> 1e6; larger -> 1e-6") {
    assert(hf(0.0, 0.0000005) == 1000000.0) // ratio 0, den < 1e-6
    assert(hf(0.0, 2.0) == 0.000001) // ratio 0, den > 1e-6
  }
  test("healthFactor: ratio below clamp -> 1e-6; normal ratio passes through") {
    assert(hf(1e-9, 10.0) == 0.000001)
    assert(hf(15.0, 10.0) == 1.5)
  }

  test("clampDiff floors negatives at 0; zeroToSentinel replaces only exact 0") {
    val r = Seq((3.0, 5.0, 0L), (5.0, 3.0, 7L)).toDF("a", "b", "t")
      .select(Scalars.clampDiff(col("a"), col("b")).as("d"),
        Scalars.zeroToSentinel(col("t")).as("s"))
      .collect()
    assert(r.map(_.getDouble(0)).toSeq == Seq(0.0, 2.0))
    assert(r.map(_.getLong(1)).toSeq == Seq(999999999L, 7L))
  }

  test("safeDiv: zero and null denominators coalesce to 0") {
    val r = Seq((1.0, 0.0), (6.0, 3.0)).toDF("n", "d")
      .select(Scalars.safeDiv(col("n"), col("d"))).as[Double].collect()
    assert(r.toSeq == Seq(0.0, 2.0))
  }

  test("toEth: zero-address (native ETH) skips the price multiply") {
    val r = Seq((Scalars.ZeroAddress, 200.0, 2, 5.0), ("0xabc", 200.0, 2, 5.0))
      .toDF("tok", "q", "dec", "p")
      .select(Scalars.toEth(col("tok"), col("q"), col("dec"), col("p"))).as[Double].collect()
    assert(r.toSeq == Seq(2.0, 10.0))
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private val trades = Seq((1L, "k", 1000L), (2L, "k", 2000L), (3L, "x", 500L))
    .toDF("id", "key", "ts")
  private val prices = Seq(
    ("k", 900L, 9.0), ("k", 990L, 9.9), // both in range of trade 1
    ("k", 1500L, 15.0), // in range of trade 2 only
    ("k", 2100L, 21.0)) // after everything
    .toDF("key", "pts", "price")

  private def run(tolerance: Long) =
    AsOfJoin.asOf(trades, prices, Seq("key"), "ts", "pts", tolerance, Seq("price"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap

  test("asOf picks the LATEST right row in the window; no match -> null") {
    val m = run(200L)
    assert(m(1L).contains(9.9)) // 990 beats 900
    assert(m(2L).isEmpty) // 1500 is 500 old > 200 tolerance; 2100 is in the future
    assert(m(3L).isEmpty) // no rows for key x
  }

  test("asOf window is inclusive at exactly `tolerance` old") {
    val m = run(500L)
    assert(m(2L).contains(15.0)) // 2000 - 1500 == tolerance: BETWEEN is inclusive
  }

  test("asOfBinned is row-identical to asOf for every tolerance") {
    for (tol <- Seq(200L, 500L, 10000L)) {
      val plain = AsOfJoin.asOf(trades, prices, Seq("key"), "ts", "pts", tol, Seq("price"))
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      val binned = AsOfJoin.asOfBinned(trades, prices, Seq("key"), "ts", "pts", tol, Seq("price"))
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(binned == plain, s"tolerance $tol")
    }
  }

  test("asOfForward picks the EARLIEST future row; open at now, closed at horizon") {
    def fwd(h: Long) =
      AsOfJoin.asOfForward(trades, prices, Seq("key"), "ts", "pts", h, Seq("price"))
        .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
        .toMap
    val m = fwd(600L)
    assert(m(1L).contains(15.0)) // earliest AFTER 1000 is 1500 (not 990: past; not 2100: later)
    assert(m(2L).contains(21.0)) // 2100 within (2000, 2600]
    assert(m(3L).isEmpty) // no rows for key x
    // horizon boundary: exactly ts + h is INCLUDED; exactly ts is NOT
    assert(fwd(500L)(1L).contains(15.0)) // 1500 == 1000 + 500: closed at horizon
    assert(fwd(100L)(2L).contains(21.0)) // 2100 == 2000 + 100: still included
    assert(fwd(99L)(2L).isEmpty) // 2100 > 2000 + 99: just past the horizon
    val selfTs = Seq(("k", 1000L, 99.0)).toDF("key", "pts", "price")
    assert(AsOfJoin.asOfForward(trades.filter($"id" === 1), selfTs,
      Seq("key"), "ts", "pts", 600L, Seq("price"))
      .collect().forall(_.isNullAt(3))) // a row AT the observation instant never labels it
  }

  test("asOf ties at the argmax timestamp keep one row per tied price row") {
    val dupPrices = prices.union(Seq(("k", 990L, 9.9)).toDF("key", "pts", "price"))
    val rows = AsOfJoin.asOf(trades.filter($"id" === 1), dupPrices, Seq("key"), "ts", "pts",
      200L, Seq("price")).collect()
    assert(rows.length == 2) // faithful to the reference's argmax re-join
  }

  private def nearest(tolerance: Long) =
    AsOfJoin.asOfNearest(trades, prices, Seq("key"), "ts", "pts", tolerance, Seq("price"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double]))
      .toMap

  test("asOfNearest picks the closest row either side; no match -> null") {
    val m = nearest(600L)
    assert(m(1L).contains(9.9))  // 990 (d=10) beats 1500 (d=500)
    assert(m(2L).contains(21.0)) // 2100 (d=100) beats 1500 (d=500)
    assert(m(3L).isEmpty)        // key x has no prices
  }

  test("asOfNearest: equal distance prefers the PAST") {
    // trade at 1000; prices at 990 (d=10 past) and 1010 (d=10 future)
    val p = Seq(("k", 990L, 9.9), ("k", 1010L, 10.1)).toDF("key", "pts", "price")
    val m = AsOfJoin.asOfNearest(trades.filter($"id" === 1), p, Seq("key"), "ts", "pts",
      100L, Seq("price")).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(m(1L) == 9.9)
  }

  test("asOfNearest: tolerance bounds both directions; ties at the winner fan out") {
    assert(nearest(9L)(1L).isEmpty) // 990 is 10 away: outside ±9
    val dup = prices.union(Seq(("k", 990L, 8.8)).toDF("key", "pts", "price"))
    val rows = AsOfJoin.asOfNearest(trades.filter($"id" === 1), dup, Seq("key"), "ts", "pts",
      600L, Seq("price")).collect()
    assert(rows.length == 2 &&
      rows.map(_.getDouble(3)).toSet == Set(9.9, 8.8)) // both rows at ts=990
  }
}

class RelationalSpec extends SparkSpec {
  import spark.implicits._

  test("rangeJoinBinned == naive BETWEEN join, every pair exactly once, at every binWidth") {
    val rnd = new scala.util.Random(11)
    // negative domain included: bin(x) = x div w need only be MONOTONE for
    // the replication to cover the point's bin, so truncating integer
    // division is fine — but only a signed-domain case proves it
    val pts = (1 to 300).map(i => (i.toLong, rnd.nextInt(4), rnd.nextInt(1000).toLong - 500L))
      .toDF("id", "k", "p")
    val ivs = (1 to 120).map { i =>
      val lo = rnd.nextInt(1000).toLong - 500L
      (rnd.nextInt(4), lo, lo + rnd.nextInt(90).toLong, i.toDouble)
    }.toDF("k", "lo", "hi", "v")
    val naive = pts.join(ivs.select(col("k").as("rk"), col("lo").as("r_lo"),
        col("hi").as("r_hi"), col("v").as("r_v")),
      pts("k") === col("rk") && pts("p").between(col("r_lo"), col("r_hi")), "inner")
    val expect = naive.select("id", "r_lo", "r_hi", "r_v")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    for (w <- Seq(1L, 17L, 90L, 128L, 5000L)) {
      val got = graft.operators.Relational
        .rangeJoinBinned(pts, ivs, Seq("k"), "p", "lo", "hi", w, Seq("v"))
        .select("id", "r_lo", "r_hi", "r_v")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(got == expect, s"binWidth $w")
    }
  }

  test("intervalOverlapJoin == naive inequality join, every pair exactly once, at every binWidth") {
    val rnd = new scala.util.Random(13)
    // negative domain: the once-only bin `greatest(l.lo, r.lo) div w` is a
    // shared POINT of any overlapping pair, so its (truncating) bin is in
    // both replication sets regardless of sign
    def ivs(n: Int, tag: String) = (1 to n).map { i =>
      val lo = rnd.nextInt(1000).toLong - 500L
      (s"$tag$i", lo, lo + rnd.nextInt(80).toLong)
    }.toDF("id", "lo", "hi")
    val l = ivs(80, "L")
    val r = ivs(150, "R")
    val naive = l.join(
      r.select(col("id").as("rid"), col("lo").as("rlo"), col("hi").as("rhi")),
      col("lo") <= col("rhi") && col("rlo") <= col("hi"), "inner")
      .select("id", "rid").as[(String, String)].collect().toSeq.sorted
    assert(naive.distinct == naive) // sanity: ids unique
    for (w <- Seq(1L, 13L, 80L, 301L, 4000L)) {
      val got = graft.operators.Relational
        .intervalOverlapJoin(l, r, Seq.empty, "lo", "hi", w, Seq("id"))
        .select(col("id"), col("r_id")).as[(String, String)].collect().toSeq.sorted
      assert(got == naive, s"binWidth $w")
    }
  }

  test("intervalOverlapJoin: closed intervals — boundary touch matches, key scoping filters") {
    val l = Seq((1L, "k1", 0L, 10L)).toDF("id", "k", "lo", "hi")
    val r = Seq((2L, "k1", 10L, 20L),  // touches at 10 -> match (closed)
      (3L, "k1", 11L, 20L),            // disjoint
      (4L, "k2", 0L, 10L))             // overlaps but wrong key
      .toDF("id", "k", "lo", "hi")
    val got = graft.operators.Relational
      .intervalOverlapJoin(l, r, Seq("k"), "lo", "hi", 7L, Seq("id"))
      .select("r_id").as[Long].collect().toSet
    assert(got == Set(2L))
  }

  test("annRecall: recall@k and reciprocal rank in exact lcm units") {
    val truth = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3)).toDF("query_id", "neighbor_id", "rank")
    // q1: approx finds 10 (at rank 4!) and 12 — hit 2/3, exact-top1 rr = 2520/4
    // q2: approx misses 20 entirely — rr 0, hit 1/3
    val approx = Seq((1L, 99L, 1), (1L, 12L, 2), (1L, 98L, 3), (1L, 10L, 4),
      (2L, 21L, 1)).toDF("query_id", "neighbor_id", "rank")
    val r = graft.operators.Similarity.annRecall(truth, approx, maxRank = 10)
      .collect().map(x => x.getAs[Long]("query_id") ->
        (x.getAs[Long]("n_truth"), x.getAs[Long]("n_hit"),
          x.getAs[Long]("rr_units"), x.getAs[Double]("recall"))).toMap
    assert(r(1L) == ((3L, 2L, 2520L / 4, 2.0 / 3.0)))
    assert(r(2L) == ((3L, 1L, 0L, 1.0 / 3.0)))
  }

  test("latestPerGroupGeq keeps ALL rows tied at the max order key") {
    val df = Seq(("a", 1, "x"), ("a", 5, "y"), ("a", 5, "z"), ("b", 2, "w"))
      .toDF("g", "o", "v")
    val r = Relational.latestPerGroupGeq(df, "g", "o").select("v").as[String].collect().toSet
    assert(r == Set("y", "z", "w"))
  }

  test("disjunctiveLeftJoin + countDistinct matches the OR-join semantics") {
    val left = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("a", "b")
    val right = Seq((1L, 100L, 5.0), (20L, 200L, 5.0), (1L, 100L, 5.0), (3L, 300L, 99.0))
      .toDF("k", "blk", "v")
    val viaUnion = Relational.disjunctiveLeftJoin(left, right, Seq("a", "b"), "k", col("v") < 50)
      .groupBy("a").agg(countDistinct(col("blk")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference semantics: LEFT JOIN ON (a=k OR b=k) AND v<50, COUNT(DISTINCT blk)
    val viaOr = left.join(right, (col("a") === col("k") || col("b") === col("k")) && col("v") < 50, "left")
      .groupBy("a").agg(countDistinct(col("blk")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaUnion == viaOr)
    assert(viaUnion == Map(1L -> 1L, 2L -> 1L, 3L -> 0L))
  }

  test("leftFeatureJoin under shared lineage leaves no duplicate key column") {
    val base = Seq((1L, "x")).toDF("id", "v")
    val spine = base.select(col("id").as("wallet"))
    val feat = base.groupBy("id").agg(count(lit(1)).as("n"))
    val out = Relational.leftFeatureJoin(spine, feat, "wallet", "id", Map("n" -> lit(0L)))
    assert(out.columns.toSeq == Seq("wallet", "n"))
    out.write.mode("overwrite").parquet("target/tmp/lfj_spec") // write fails on dup names
  }
}

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._
  import graft.features.Analytics

  test("enrichEventsWithEth LiquidationSpec converts the LIQUIDATED token and buckets by account") {
    val events = Seq(
      // liquidated token 0xaa (2 decimals), liquidator's own token ignored
      ("0xsender1", "0xacct99", "0xzz", "0xaa", 500.0, 1000L))
      .toDF("sender_address", "account_address", "token_address",
        "liquidated_token_address", "quantity_liquidated", "epoch_timestamp")
      .withColumn("quantity", org.apache.spark.sql.functions.lit(-1.0)) // must be ignored
    val metadata = Seq(("0xaa", 2), ("0xzz", 6)).toDF("contract_address", "decimals")
    val toDrop = Seq.empty[String].toDF("contract_address")
    val prices = Seq(("0xaa", 900L, 3.0)).toDF("address", "timestamp", "price")
    val out = Analytics.enrichEventsWithEth(events, metadata, toDrop, prices,
      Analytics.LiquidationSpec)
      .select("quantity_in_eth", "index_address", "address_partition").collect()(0)
    assert(out.getDouble(0) == 500.0 / 100.0 * 3.0) // liquidated qty / 10^2 * price
    assert(out.getString(1) == "0xacct99") // indexed by liquidated account, not sender
    assert(out.getString(2) == "ac")
  }
}

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("upsertByKey: create, then merge preferring the update row, keeping unmatched") {
    val path = "target/tmp/upsert_spec"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    Incremental.upsertByKey(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, "k")
    val live = Incremental.upsertByKey(spark, Seq((2L, "B"), (3L, "C")).toDF("k", "v"), path, "k")
    val out = Snapshots.readCurrent(spark, path).as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "C"))
    // `_CURRENT` names the version the commit returned, and every v= dir
    // on disk is a committed (retained) version — none left uncommitted
    val marker = new org.apache.hadoop.fs.Path(p, "_CURRENT")
    val in = fs.open(marker)
    val head = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().next().trim
      finally in.close()
    assert(head == live.toString && Snapshots.currentVersion(spark, path).contains(live))
    assert(Snapshots.allVersionDirs(spark, path).toSet == Snapshots.versions(spark, path).toSet)
  }

  test("upsertByKey: pointer commit, merge, prune, marker-loss fallback") {
    val path = "target/tmp/upsert_versioned_spec"
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    Incremental.upsertByKey(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, "k")
    Incremental.upsertByKey(spark, Seq((2L, "B"), (3L, "C")).toDF("k", "v"), path, "k")
    Incremental.upsertByKey(spark, Seq((4L, "d")).toDF("k", "v"), path, "k")
    val out = Snapshots.readCurrent(spark, path).as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "B", 3L -> "C", 4L -> "d"))
    // keepVersions=2: v=1 pruned, v=2 retained for in-flight readers, v=3 live
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=2")))
    // a lost pointer degrades to the highest _SUCCESS-committed snapshot
    fs.delete(new org.apache.hadoop.fs.Path(root, "_CURRENT"), false)
    val fallback = Snapshots.readCurrent(spark, path).as[(Long, String)].collect().toMap
    assert(fallback == out)
  }

  test("upsertByKey: a never-pointer-committed snapshot is not a merge base") {
    val path = "target/tmp/upsert_versioned_orphan_spec"
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    // simulate a crash after the v=1 snapshot write (it carries _SUCCESS)
    // but before the first pointer flip: the contract says v=1 is inert
    Seq((1L, "ghost")).toDF("k", "v").write.parquet(s"$path/v=1")
    Incremental.upsertByKey(spark, Seq((2L, "b")).toDF("k", "v"), path, "k")
    val out = Snapshots.readCurrent(spark, path).as[(Long, String)].collect().toMap
    assert(out == Map(2L -> "b"), "ghost row resurrected from uncommitted snapshot")
    // the writer skipped past the orphan instead of re-using its slot
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/v=2")))
  }

  test("overwriteTable: full refresh replaces prior contents") {
    val path = "target/tmp/overwrite_spec"
    Incremental.overwriteTable(Seq((1L, "old")).toDF("k", "v"), path)
    Incremental.overwriteTable(Seq((2L, "new")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).as[(Long, String)].collect().toSeq == Seq((2L, "new")))
  }

  test("maxWatermark: default on empty, value otherwise") {
    val df = Seq(5L, 9L).toDF("ts")
    assert(Incremental.maxWatermark(df, col("ts")) == 9L)
    assert(Incremental.maxWatermark(df.filter(col("ts") > 100), col("ts"), 42L) == 42L)
  }

  test("toServeSchema: snake_case storage names become camelCase serve names") {
    val df = Seq((("0xabc"), 1.5, 3L)).toDF("wallet_address", "total_eth_value", "n")
    assert(Incremental.toServeSchema(df).columns.toSeq ==
      Seq("walletAddress", "totalEthValue", "n"))
  }

  /** The full first-run-to-steady-state lifecycle of SURVEY §7.4.8: an
    * EMPTY target must bootstrap from the default epoch (the reference's
    * own empty-target bug — a NULL scalar-subquery watermark silently
    * matches nothing; maxWatermark's COALESCE default is the fix), then
    * resume from its own MAX across runs, with the catch-up window bounding
    * each slice.
    */
  test("bootstrap lifecycle: empty target -> full load -> bounded catch-up -> resume") {
    val path = "target/tmp/bootstrap_spec"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val d = Incremental.DefaultStartEpoch
    val source = Seq(
      (d - 50, "too_old", 2020), // at/below the default epoch: never loaded
      (d, "at_default", 2020),
      (d + 5, "a", 2020), (d + 8, "b", 2020),
      (d + 12, "c", 2021), (d + 25, "d", 2021))
      .toDF("ts", "v", "year")
    def target = Incremental.readTargetOrEmpty(spark, path, "ts LONG, v STRING, year INT")

    // run 1: empty target reads as the default watermark; window 10 bounds
    // the first slice to (d, d+10] — strict > drops the at-default row
    val w1 = Incremental.maxWatermark(target, col("ts"), d)
    assert(w1 == d)
    Incremental.appendPartitioned(
      Incremental.boundedCatchUp(source, col("ts"), w1, 10), path, Seq("year"))
    assert(target.select("v").as[String].collect().toSet == Set("a", "b"))

    // run 2: resumes from its own max (d+8), catches up the next window
    val w2 = Incremental.maxWatermark(target, col("ts"), d)
    assert(w2 == d + 8)
    Incremental.appendPartitioned(
      Incremental.boundedCatchUp(source, col("ts"), w2, 10), path, Seq("year"))
    assert(target.select("v").as[String].collect().toSet == Set("a", "b", "c"))

    // run 3: unbounded incremental drains the tail; a 4th run is a no-op
    val w3 = Incremental.maxWatermark(target, col("ts"), d)
    Incremental.appendPartitioned(
      Incremental.newerThan(source, col("ts"), w3), path, Seq("year"))
    assert(target.select("v").as[String].collect().toSet == Set("a", "b", "c", "d"))
    val w4 = Incremental.maxWatermark(target, col("ts"), d)
    assert(Incremental.newerThan(source, col("ts"), w4).isEmpty)
  }
}

class ApproxDistinctSpec extends SparkSpec {
  import spark.implicits._

  /** HLL++ error contract: relative error stays within 3x the requested
    * rsd (a ~3-sigma bound; the default rsd=0.05 run lands ~7% on this
    * fixture — within spec, which is why the oracle check for
    * `agg_approx_distinct` is this bound and not a cross-engine hash).
    */
  test("approx_count_distinct error is bounded by 3x the requested rsd") {
    val df = (1 to 20000).map(i => (i % 7, (i * 131) % 4211)).toDF("g", "v")
    for (rsd <- Seq(0.05, 0.01)) {
      val rows = df.groupBy("g")
        .agg(approx_count_distinct(col("v"), rsd).as("approx"),
          countDistinct(col("v")).as("exact"))
        .collect()
      rows.foreach { r =>
        val (a, e) = (r.getLong(1), r.getLong(2))
        assert(math.abs(a - e).toDouble / e < 3 * rsd,
          s"approx $a vs exact $e at rsd=$rsd")
      }
    }
  }
}

class ConstraintsSpec extends SparkSpec {
  import spark.implicits._

  test("enforce throws naming exactly the failing constraints") {
    val df = Seq((0.0, -1L), (0.0, 2L)).toDF("x", "n")
    val checks = Seq(
      Constraints.AllZero("all_zero_x", col("x")),
      Constraints.AnyNegative("neg_n", col("n")),
      Constraints.AnyNull("null_x", col("x")))
    val e = intercept[IllegalStateException] { Constraints.enforce(df, checks) }
    assert(e.getMessage.contains("all_zero_x") && e.getMessage.contains("neg_n"))
    assert(!e.getMessage.contains("null_x"))
  }

  test("driftPsi: identical snapshots score ~0; smoothing keeps empty bins finite") {
    val ex = Seq(1L, 1L, 2L, 2L, 3L).toDF("bin")
    val same = Constraints.driftPsi(ex, ex, "bin").collect()
    // p == q on every bin -> every term is ln(1)*0 = 0 exactly (floor(0) = 0)
    assert(same.forall(_.getAs[Long]("term_u") == 0L))
    assert(same.forall(_.getAs[Double]("psi") == 0.0))
    // a bin present only in ACTUAL: smoothing keeps p > 0, term finite
    val ac = Seq(1L, 1L, 2L, 2L, 9L).toDF("bin")
    val drift = Constraints.driftPsi(ex, ac, "bin").collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    assert(drift.keySet == Set(1L, 2L, 3L, 9L))
    assert(drift(9L).getAs[Long]("n_expected") == 0L)
    val psi = drift(9L).getAs[Double]("psi")
    assert(psi > 0.0 && psi.isFinite)
    // the shifted distribution scores strictly above the identical one
    assert(psi > same.head.getAs[Double]("psi"))
  }
}

class SelectionSpec extends SparkSpec {
  import spark.implicits._

  test("curriculumInterleave: round-robin order, two-phase == naive rank across bucket boundaries, tier cap fails fast") {
    // ids span several granularity buckets (g = 4) with uneven tiers
    val docs = ((1L to 23L).map(i => (i, if (i % 3 == 0) "hi" else "lo")) :+ (40L, "hi"))
      .toDF("id", "tier")
    val out = graft.quality.Selection
      .curriculumInterleave(docs, "tier", "id", maxTiers = 4, granularity = 4L)
      .select("id", "tier", "tier_pos", "tier_rank", "order_idx")
      .as[(Long, String, Long, Long, Long)].collect()
    // two-phase rank == naive per-tier rank by id
    val naive: Map[Long, Long] = docs.as[(Long, String)].collect().toSeq
      .groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        rows.map(_._1).sorted.zipWithIndex.map { case (id, p) => id -> p.toLong }
      }.toMap
    out.foreach { case (id, _, pos, _, _) =>
      assert(pos == naive(id), s"id $id two-phase pos $pos != naive ${naive(id)}")
    }
    // round-robin: order_idx mod stride == tier rank; all order_idx distinct
    assert(out.map(_._5).distinct.length == out.length)
    out.foreach { case (_, tier, _, tr, oi) =>
      assert(oi % 4 == tr, s"tier $tier stride slot")
    }
    // "hi" (rank 0 lexicographically) interleaves before "lo" at equal pos
    val byOrder = out.sortBy(_._5).map(_._2).take(4).toSeq
    assert(byOrder.count(_ == "hi") >= 1 && byOrder.count(_ == "lo") >= 1,
      s"first stride window must mix tiers: $byOrder")
    // more tiers than maxTiers fails fast
    val many = (1L to 10L).map(i => (i, s"t$i")).toDF("id", "tier")
    val ex = intercept[IllegalArgumentException] {
      graft.quality.Selection.curriculumInterleave(many, "tier", "id", maxTiers = 4)
    }
    assert(ex.getMessage.contains("distinct tiers"))
  }

  test("packManifest: offsets are attention boundaries; overflow only at pack seams") {
    val docs = Seq((1L, "s", 1000L), (2L, "s", 1000L), (3L, "s", 500L), (4L, "s", 100L))
      .toDF("id", "shard", "n")
    val out = graft.quality.Selection.packManifest(docs, "id", "n", budget = 2048, shardCol = "shard")
      .select("id", "pack_id", "offset", "overflow_tokens")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((0L, 0L, 0L)))
    assert(out(2L) == ((0L, 1000L, 0L)))
    assert(out(3L) == ((0L, 2000L, 452L))) // 2000 + 500 - 2048 spills
    assert(out(4L) == ((1L, 452L, 0L)))    // cum_before 2500 -> pack 1, offset 452
  }

  test("filterByScoreQuantile keeps the top (1-q) of rows, inclusive threshold") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
    val kept = graft.quality.Selection.filterByScoreQuantile(df, "score", 0.25)
      .select("id").as[Long].collect().toSet
    // exact p25 of 1..100 is 25.75 -> keep 26..100
    assert(kept == (26L to 100L).toSet)
  }

  test("filterByScoreQuantile: empty input stays empty (no NPE on null percentile)") {
    val df = Seq.empty[(Long, Double)].toDF("id", "score")
    assert(graft.quality.Selection.filterByScoreQuantile(df, "score", 0.5).count() == 0)
  }

  test("hashSample: reproducible, partitioning-independent, key-aligned across tables") {
    val a = (1L to 2000L).toDF("k")
    val s1 = graft.quality.Selection.hashSample(a, "k", 0.3).as[Long].collect().toSet
    val s2 = graft.quality.Selection.hashSample(a.repartition(7), "k", 0.3)
      .as[Long].collect().toSet
    assert(s1 == s2) // same kept set under any partitioning
    assert(math.abs(s1.size - 600) < 100) // ~rate * n
    // a second table sharing the key samples the SAME rows
    val b = (1L to 2000L).map(k => (k, k * 10)).toDF("k", "payload")
    val sb = graft.quality.Selection.hashSample(b, "k", 0.3)
      .select("k").as[Long].collect().toSet
    assert(sb == s1)
    // a different salt decorrelates
    val salted = graft.quality.Selection.hashSample(a, "k", 0.3, salt = "x")
      .as[Long].collect().toSet
    assert(salted != s1)
  }

  test("readJsonl: explicit schema survives malformed lines with nulls, not type drift") {
    val base = "target/tmp/formats_spec"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    new java.io.File(base).mkdirs()
    val f = new java.io.PrintWriter(s"$base/part.jsonl")
    f.println("""{"doc_id": 1, "text": "ok"}""")
    f.println("""{"doc_id": "not a number", "text": "drift bait"}""")
    f.println("""{"doc_id": 3, "text": "fine"}""")
    f.close()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    val rows = graft.sources.Formats.readJsonl(spark, base, schema)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getString(1)))
    // PERMISSIVE keeps the bad line's parsable fields: doc_id nulls under
    // the declared LONG type (never silently widening to string), text
    // survives
    assert(rows.toSet == Set((Some(1L), "ok"), (None, "drift bait"), (Some(3L), "fine")))
  }

  test("mixtureResample: scarce stratum kept whole, deterministic, weight-less strata drop") {
    // tokens: a = 20 docs x 50 = 1000, b = 2 x 100 = 200, c unweighted
    val docs = ((1L to 20L).map(i => (i, "a", 50L)) ++
      Seq((100L, "b", 100L), (101L, "b", 100L), (200L, "c", 10L)))
      .toDF("doc_id", "g", "n_tokens")
    val w = Map("a" -> 0.5, "b" -> 0.5)
    // B = min(1000/0.5, 200/0.5) = 400 -> rate_a = 0.2, rate_b = 1.0
    val kept = graft.quality.Scoring.mixtureResample(docs, "g", "doc_id", "n_tokens", w)
      .select("doc_id", "g").as[(Long, String)].collect().toSet
    assert(kept.contains((100L, "b")) && kept.contains((101L, "b"))) // scarce: kept whole
    assert(!kept.exists(_._2 == "c")) // no weight -> dropped
    val nA = kept.count(_._2 == "a")
    assert(nA > 0 && nA < 20) // genuinely downsampled
    val again = graft.quality.Scoring
      .mixtureResample(docs.repartition(5), "g", "doc_id", "n_tokens", w)
      .select("doc_id", "g").as[(Long, String)].collect().toSet
    assert(again == kept) // pure function of (id, salt)
  }

  test("unigramSurprisal: hand-computed corpus, empty docs absent") {
    // counts: a:2 b:2 c:1, total 5; -log2(2/5)=1.321928 -> 1.322 (dec3),
    // -log2(1/5)=2.321928 -> 2.322
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "")).toDF("doc_id", "text")
    val r = graft.quality.Scoring.unigramSurprisal(docs, "doc_id", "text")
      .select("doc_id", "surprisal", "n_tokens").as[(Long, Double, Long)]
      .collect().map(x => x._1 -> ((x._2, x._3))).toMap
    assert(math.abs(r(1L)._1 - 1.322) < 1e-9 && r(1L)._2 == 3)
    assert(math.abs(r(2L)._1 - (1.322 + 2.322) / 2) < 1e-9 && r(2L)._2 == 2)
    assert(!r.contains(3L)) // no tokens -> no row
  }

  test("bigramSurprisal: hand-computed corpus, sub-2-word docs absent") {
    // tokens: a:3 b:2 c:1, T=6; pairs: doc1 (a,a),(a,b); doc2 (a,b); doc3 none
    // bigram counts: (a,a):1, (a,b):2
    val docs = Seq((1L, "a a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val lam = 0.7
    def q3(t: Double): Double =
      BigDecimal(t).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    val tAA = q3(-math.log(lam * (1.0 / 3.0) + (1 - lam) * (3.0 / 6.0)) / math.log(2))
    val tAB = q3(-math.log(lam * (2.0 / 3.0) + (1 - lam) * (2.0 / 6.0)) / math.log(2))
    val r = graft.quality.Scoring.bigramSurprisal(docs, "doc_id", "text")
      .select("doc_id", "surprisal", "n_bigrams").as[(Long, Double, Long)]
      .collect().map(x => x._1 -> ((x._2, x._3))).toMap
    assert(math.abs(r(1L)._1 - (tAA + tAB) / 2) < 1e-9 && r(1L)._2 == 2)
    assert(math.abs(r(2L)._1 - tAB) < 1e-9 && r(2L)._2 == 1)
    assert(!r.contains(3L), "single-word doc has no bigrams")
  }

  test("unigram-broadcast guard: past the vocab bound the model sides shuffle-join with identical results") {
    val docs = Seq((1L, "a a b c"), (2L, "a b d e"), (3L, "c d a b a"))
      .toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Any]] =
      df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    // vocab here is 5 words: maxBroadcastVocab = 1 forces the shuffle path
    assert(key(graft.quality.Scoring.unigramSurprisal(docs, "doc_id", "text",
      maxBroadcastVocab = 1)) ==
      key(graft.quality.Scoring.unigramSurprisal(docs, "doc_id", "text")))
    assert(key(graft.quality.Scoring.bigramSurprisal(docs, "doc_id", "text",
      maxBroadcastVocab = 1)) ==
      key(graft.quality.Scoring.bigramSurprisal(docs, "doc_id", "text")))
    // and the guard really controls the hint: none past the bound, present
    // under it (the physical join choice then belongs to Catalyst/AQE)
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.size
    assert(hints(graft.quality.Scoring.unigramSurprisal(docs, "doc_id", "text",
      maxBroadcastVocab = 1)) == 0,
      "past the vocab bound no broadcast hint may be planted")
    assert(hints(graft.quality.Scoring.unigramSurprisal(docs, "doc_id", "text")) > 0)
  }

  test("perplexityBuckets (exact-rank, oracle form) is enforced small; the cutoff form is unbounded") {
    val docs = Seq((1L, "a b"), (2L, "c d"), (3L, "e f")).toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      graft.quality.Scoring.perplexityBuckets(docs, "doc_id", "text", maxExactRank = 2)
    }
    assert(ex.getMessage.contains("perplexityBucketsByCutoffs"))
    // the production form has no such bound — the same 3 docs pass through
    assert(graft.quality.Scoring.perplexityBucketsByCutoffs(
      docs, "doc_id", "text", c1 = 1.0, c2 = 2.0).count() == 3)
  }

  test("bm25Retrieve: rare terms outrank common, dl-normalization, missing terms") {
    val docs = Seq(
      (1L, "zebra walks home"),          // the only zebra doc
      (2L, "cat cat cat cat dog home"),  // long, repetitive
      (3L, "cat dog"),                   // short — dl-normalization favors it
      (4L, "dog home walks")
    ).toDF("doc_id", "text")
    val qs = Seq((10L, "zebra"), (20L, "cat"), (30L, "unicorn")).toDF("qid", "qtext")
    val r = graft.quality.Scoring
      .bm25Retrieve(docs, "doc_id", "text", qs, "qid", "qtext", k = 3)
      .as[(Long, Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4).map(x => (x._2, x._3)).toSeq).toMap
    // the unique-term query hits exactly its doc
    assert(r(10L).map(_._1) == Seq(1L))
    assert(r(10L).head._2 > 0L)
    // 'cat': doc 2 has tf 4 but is long; saturation + dl-normalization must
    // still rank it over doc 3's single 'cat' (tf dominates at these sizes),
    // and only docs containing the term appear
    assert(r(20L).map(_._1).toSet == Set(2L, 3L))
    assert(r(20L).map(_._1).head == 2L, s"tf-4 doc must lead: ${r(20L)}")
    // a query of unseen terms emits no rows at all
    assert(!r.contains(30L))
    // scores strictly decrease down each ranking (distinct docs here)
    r.values.foreach { rows =>
      rows.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 >= b._2)
        case _ =>
      }
    }
  }

  test("hashedClassifierScore: bounds, empty doc, determinism, keep rule") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, ""), (3L, "zeta eta theta"),
      (4L, "alpha alpha alpha")).toDF("doc_id", "text")
    val r = graft.quality.Scoring.hashedClassifierScore(docs, "doc_id", "text")
      .select("doc_id", "n_features", "score", "keep").as[(Long, Long, Double, Boolean)]
      .collect().map(x => x._1 -> x).toMap
    r.values.foreach { case (_, _, s, _) => assert(s >= -1.0 && s <= 1.0) }
    assert(r(2L)._2 == 0 && r(2L)._3 == 0.0 && !r(2L)._4, "no features: score 0, dropped")
    r.filter(_._2._2 > 0).values.foreach { case (_, _, s, k) =>
      assert(k == (s >= 0.0), "keep thresholds the linear score")
    }
    // pure function of (text, dim, seed): partitioning-invariant, and a
    // different seed draws a different implicit weight vector
    val again = graft.quality.Scoring
      .hashedClassifierScore(docs.repartition(3), "doc_id", "text")
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(r.keys.forall(id => again(id) == r(id)._3))
    val reseeded = graft.quality.Scoring
      .hashedClassifierScore(docs, "doc_id", "text", seed = "s1")
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    assert(r.filter(_._2._2 > 0).keys.exists(id => reseeded(id) != r(id)._3))
  }

  test("perplexityBuckets: tertile sizes, head kept whole, cutoff form agrees") {
    // 9 docs with strictly increasing surprisal: doc i repeats a unique
    // word, plus common filler — strictly different vocab rarity per doc
    val docs = (1 to 9).map { i =>
      (i.toLong, (Seq.fill(10 - i)("common") ++ Seq(s"rare$i")).mkString(" "))
    }.toDF("doc_id", "text")
    val r = graft.quality.Scoring.perplexityBuckets(docs, "doc_id", "text")
    val byBucket = r.select("bucket").as[String].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(byBucket == Map("head" -> 3, "middle" -> 3, "tail" -> 3))
    assert(r.filter(col("bucket") === "head" && !col("keep")).count() == 0,
      "head rate 1.0 keeps everything")
    // cutoffs chosen between the tertile boundary scores reproduce the
    // rank-based assignment exactly (scores are strictly distinct here)
    val scores = r.orderBy("surprisal").select("surprisal").as[Double].collect()
    val c1 = (scores(2) + scores(3)) / 2
    val c2 = (scores(5) + scores(6)) / 2
    val byCut = graft.quality.Scoring
      .perplexityBucketsByCutoffs(docs, "doc_id", "text", c1, c2)
      .select("doc_id", "bucket", "keep").as[(Long, String, Boolean)].collect().toSet
    val byRank = r.select("doc_id", "bucket", "keep").as[(Long, String, Boolean)]
      .collect().toSet
    assert(byCut == byRank)
  }

  test("capPerStratum: differential vs row_number window, nulls excluded, k >= group keeps all") {
    // deliberate score ties inside strata: the heap's tie rule must match
    // ORDER BY score DESC, id
    val df = (1L to 200L).map(i => (i, s"g${i % 5}", (i % 7).toDouble))
      .toDF("id", "g", "score")
      .unionByName(Seq((900L, "g0", null.asInstanceOf[java.lang.Double]))
        .toDF("id", "g", "score"))
    val capped = graft.quality.Selection.capPerStratum(df, Seq("g"), "id", "score", k = 6)
      .select("id").as[Long].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val expected = df.filter(col("score").isNotNull)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 6)
      .select("id").as[Long].collect().toSet
    assert(capped == expected)
    assert(!capped.contains(900L), "null score cannot rank")
    assert(graft.quality.Selection.capPerStratum(df, Seq("g"), "id", "score", k = 1000)
      .count() == 200, "k beyond group size keeps every scored row")
  }

  test("stratifiedSample: exactly min(k, n) per stratum, partitioning-independent") {
    // stratum a: 100 rows, stratum b: 3 rows (fewer than k)
    val df = ((1L to 100L).map(i => (i, "a")) ++ Seq((201L, "b"), (202L, "b"), (203L, "b")))
      .toDF("id", "g")
    val s1 = graft.quality.Selection.stratifiedSample(df, Seq("g"), "id", k = 10)
      .select("id", "g").as[(Long, String)].collect().toSet
    assert(s1.count(_._2 == "a") == 10)
    assert(s1.count(_._2 == "b") == 3) // undersized stratum kept whole
    val s2 = graft.quality.Selection.stratifiedSample(df.repartition(7), Seq("g"), "id", k = 10)
      .select("id", "g").as[(Long, String)].collect().toSet
    assert(s1 == s2) // pure function of (id, salt), any partitioning
    val salted = graft.quality.Selection
      .stratifiedSample(df, Seq("g"), "id", k = 10, salt = "x")
      .select("id", "g").as[(Long, String)].collect().toSet
    assert(salted != s1) // different salt draws a different subset
  }

  test("filterByScoreQuantileApprox: kept fraction within sketch tolerance of target") {
    val df = (1 to 100000).map(i => (i.toLong, i.toDouble)).toDF("id", "score")
    val kept = graft.quality.Selection
      .filterByScoreQuantileApprox(df, "score", 0.9).count()
    // target 10% of 100k; approx_percentile at default accuracy is well
    // inside +-1% on uniform data
    assert(kept >= 9000 && kept <= 11000, s"kept $kept of 100000")
    assert(graft.quality.Selection
      .filterByScoreQuantileApprox(df.limit(0), "score", 0.9).count() == 0)
  }

  test("weightedSample: exactly k, deterministic, weight-biased, non-positive excluded") {
    val df = ((1L to 1000L).map(i => (i, 1L)) ++ (1001L to 2000L).map(i => (i, 100L)) ++
      Seq((3000L, 0L), (3001L, -5L))).toDF("id", "w")
    val s1 = graft.quality.Selection.weightedSample(df, "id", "w", k = 200)
      .select("id").as[Long].collect().toSet
    assert(s1.size == 200)
    assert(!s1.contains(3000L) && !s1.contains(3001L), "weight <= 0 can never win a draw")
    // u^(1/100) concentrates near 1, u^(1/1) is uniform: the 100x-weighted
    // half must dominate the draw overwhelmingly
    assert(s1.count(_ > 1000L) >= 180, s"heavy rows drawn: ${s1.count(_ > 1000L)}")
    val s2 = graft.quality.Selection.weightedSample(df.repartition(7), "id", "w", k = 200)
      .select("id").as[Long].collect().toSet
    assert(s1 == s2, "pure function of (id, salt): partitioning-independent")
    assert(graft.quality.Selection.weightedSample(df, "id", "w", k = 5000)
      .count() == 2000, "k > n keeps every positive-weight row")
    val salted = graft.quality.Selection.weightedSample(df, "id", "w", k = 200, salt = "x")
      .select("id").as[Long].collect().toSet
    assert(salted != s1)
  }

  test("stratifiedSample: an id shared across strata is kept only where it was picked") {
    // id 1..20 exist in BOTH strata; k=1 picks exactly one id per stratum.
    // A semi-join keyed on id alone would keep the winner of stratum a in
    // stratum b too (and vice versa) -> 2 rows per stratum.
    val df = (1L to 20L).flatMap(i => Seq((i, "a"), (i, "b"))).toDF("id", "g")
    val s = graft.quality.Selection.stratifiedSample(df, Seq("g"), "id", k = 1)
      .select("id", "g").as[(Long, String)].collect().toSet
    assert(s.count(_._2 == "a") == 1, s"stratum a must keep exactly its own pick: $s")
    assert(s.count(_._2 == "b") == 1, s"stratum b must keep exactly its own pick: $s")
  }

  test("packByTokenBudget: packs fill in id order per shard, no pack skips the budget") {
    val docs = Seq(
      (1L, "a", 1000L), (2L, "a", 900L), (3L, "a", 300L), (4L, "a", 5000L), (5L, "a", 10L),
      (10L, "b", 2048L), (11L, "b", 1L))
      .toDF("doc_id", "shard", "n_tokens")
    val out = graft.quality.Selection
      .packByTokenBudget(docs, "doc_id", "n_tokens", budget = 2048, shardCol = "shard")
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    // shard a cum_before: 0, 1000, 1900, 2200, 7200 -> packs 0,0,0,1,3
    assert(out(1L) == 0 && out(2L) == 0 && out(3L) == 0 && out(4L) == 1 && out(5L) == 3)
    // shard b independent: 0, 2048 -> packs 0, 1
    assert(out(10L) == 0 && out(11L) == 1)
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("decodeStub: deterministic checksum/frames/feature from payload bytes") {
    val docs = Seq((1L, "abcd")).toDF("doc_id", "text")
    val out = Multimodal.decodeStub(Multimodal.fromText(docs, "doc_id", "text")).collect()(0)
    assert(out.getLong(2) == 4L) // byte_len
    assert(out.getLong(3) == ('a' + 'b' + 'c' + 'd').toLong) // checksum
    assert(out.getInt(4) == 1) // n_frames = 1 + 4/64
    val feat = out.getSeq[Double](5)
    assert(feat.length == 8 && feat.head == 'a'.toInt / 255.0)
  }

  test("decode (native) == decodeStub row-for-row, incl. null and empty payloads") {
    // the Catalyst-native path must reproduce the stub's math exactly —
    // that equivalence is what licensed swapping the registry query off
    // the RDD barrier without touching its oracle
    val media = Seq(
      (1L, "text", "abcd".getBytes("UTF-8")),
      (2L, "text", ("x" * 200).getBytes("UTF-8")), // multi-frame (200/64 -> 4)
      (3L, "image", Array.emptyByteArray),
      (4L, "audio", null: Array[Byte]))
      .toDF("media_id", "modality", "payload")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("media_id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getInt(4),
          r.getSeq[Double](5))).toSeq
    assert(dump(Multimodal.decode(media)) == dump(Multimodal.decodeStub(media)))
  }

  test("frameSample: stride-sampled fixed-size slices, short tail, empty payload") {
    // 10-byte payload, 4-byte frames -> frames 0..2; stride 2 keeps 0 and 2
    val docs = Seq((0L, "abcdefghij"), (3L, "")).toDF("doc_id", "text")
    val media = Multimodal.fromText(docs, "doc_id", "text")
    val out = Multimodal.frameSample(media, frameBytes = 4, stride = 2)
      .orderBy("media_id", "frame_no")
      .select("media_id", "frame_no", "frame")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), new String(r.getAs[Array[Byte]](2), "UTF-8")))
    assert(out.toSeq == Seq((0L, 0L, "abcd"), (0L, 2L, "ij"), (3L, 0L, "")))
  }

  test("frameSample: null payloads are dropped, not emitted as null frames") {
    val media = Seq((7L, "image", null: Array[Byte]), (8L, "image", "abcd".getBytes("UTF-8")))
      .toDF("media_id", "modality", "payload")
    val out = Multimodal.frameSample(media, frameBytes = 4, stride = 1)
      .select("media_id").as[Long].collect()
    assert(out.toSeq == Seq(8L))
  }

  test("bloomFilteredJoin == plain inner join; empty build side -> empty result") {
    import graft.operators.Relational
    val big = (1L to 500L).map(i => (i, s"v$i")).toDF("k", "payload")
    val small = Seq((7L, "a"), (13L, "b"), (7L, "c"), (499L, "d")).toDF("sk", "tag")
    val out = Relational.bloomFilteredJoin(big, small, "k", "sk",
      expectedItems = 100L, numBits = 1L << 12)
      .select("k", "payload", "sk", "tag")
    val plain = big.join(small, col("k") === col("sk"), "inner")
      .select("k", "payload", "sk", "tag")
    assert(out.collect().toSet == plain.collect().toSet)
    assert(out.count() == 4)
    val empty = Relational.bloomFilteredJoin(big, small.filter(col("sk") < 0), "k", "sk",
      expectedItems = 100L, numBits = 1L << 12)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("k", "payload", "sk", "tag"))
  }

  test("resizeStub: output honors width*height contract and samples bytes") {
    val docs = Seq((1L, "abcdefgh")).toDF("doc_id", "text")
    val out = Multimodal.resizeStub(Multimodal.fromText(docs, "doc_id", "text"), 2, 2)
      .collect()(0)
    assert(out.getInt(2) == 2 && out.getInt(3) == 2)
    val bytes = out.getAs[Array[Byte]](4)
    // nearest-neighbor over 8 bytes down to 4: indices 0,2,4,6 -> a,c,e,g
    assert(new String(bytes, "UTF-8") == "aceg")
  }
}
