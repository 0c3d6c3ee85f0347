package graft.tools

import graft.Session
import graft.operators.AsOfJoin
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical demonstration of the as-of skew pick rule
  * (plans/AsOfMergeJoin.scala "Skew note"): when does
  * [[AsOfJoin.asOfBinned]] (bin-replicated composition, splittable across
  * (key, bin) cells) actually beat [[AsOfJoin.asOfMerge]] (one linear
  * merge task per key-partition, which AQE's skew splitter cannot touch)?
  *
  * The two failure modes are NOT symmetric:
  *  - merge's skew cost is LINEAR: a hot key's whole history sorts and
  *    merges in one task — bad only once one key's rows exceed what a
  *    single task absorbs.
  *  - binned's skew cost is QUADRATIC in window density: inside a hot
  *    (key, bin) cell the candidate join pairs every left row with every
  *    right row of that cell before the BETWEEN residual prunes, so a hot
  *    key whose history is DENSE per tolerance-window blows up as
  *    density², regardless of how many bins AQE spreads.
  *
  * So the probe measures both regimes on an m-times derived corpus from
  * sf0.1 `events` (materialized to parquet, ScaleBench-style, so the
  * harness plan doesn't grow with m):
  *  - `dense`: copies keep the ORIGINAL time span — a hot key's
  *    per-window density grows with m (binned's worst case);
  *  - `spread`: copy j shifts epochs by j*span — the hot key's history
  *    stretches over m× more bins at constant density (merge's worst
  *    case shape: one task walks m× more rows while binned fans out).
  *
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_SKEW_M
  * (default 8), SPARK_GRAFT_BENCH_REPEAT (default 3). Output: one JSON
  * line; per-level medians for both variants (reference semantics:
  * /root/reference/src/pipelines/analytics/transformations/transformations.sql:2-13).
  */
object AsOfSkewBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val m = sys.env.getOrElse("SPARK_GRAFT_SKEW_M", "8").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "3").toInt
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // epoch-seconds shaping as in the registry's evDf
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"), expr("ts div 1000000000").as("epoch"),
      col("user_id"), col("event_type"), col("value"))

    val mmRow = ev.agg(min("epoch"), max("epoch")).head()
    val span = mmRow.getLong(1) - mmRow.getLong(0) + 1

    /** m-times copy; `spreadTime` shifts copy j by j*span (constant
      * per-window density, m× more bins), otherwise by j SECONDS — copies
      * overlay the same span at m× the density, with epochs kept distinct
      * so the (key, ts) price dedupe below cannot collapse the copies and
      * quietly thin the dense case.
      */
    def copies(df: DataFrame, spreadTime: Boolean): DataFrame =
      (0 until m).map { j =>
        df.select(
          (col("event_id") + lit(j * 100000000L)).as("event_id"),
          (col("epoch") + lit(if (spreadTime) j * span else j.toLong)).as("epoch"),
          col("user_id"), col("event_type"), col("value"))
      }.reduce(_ unionByName _)

    /** `hotPct`% of rows (row-level hash, key-independent) collapse onto
      * key 0; the rest spread over 1000 keys.
      */
    def skewKey(hotPct: Int): org.apache.spark.sql.Column =
      when(pmod(abs(xxhash64(col("event_id"))), lit(100)) < hotPct, lit(0L))
        .otherwise(pmod(col("user_id"), lit(1000L)) + 1L)

    def writeInputs(regime: String, spreadTime: Boolean, hotPct: Int): (String, String) = {
      val base = copies(ev, spreadTime)
      val trades = base.filter(col("event_type") === "purchase")
        .select(skewKey(hotPct).as("k"), col("event_id"), col("epoch"), col("value"))
      // one price per (key, ts) — the reference's price-table contract;
      // remap collisions would otherwise create tied argmax timestamps
      // where the variants legitimately differ (merge: one row per left
      // row; composed: one per tied right row)
      val prices = base.filter(col("event_type") === "view")
        .select(skewKey(hotPct).as("k"),
          col("epoch").as("price_epoch"), col("value").as("price"))
        .groupBy("k", "price_epoch").agg(max("price").as("price"))
      val tp = s"target/asof_skew/${regime}_h${hotPct}_trades"
      val pp = s"target/asof_skew/${regime}_h${hotPct}_prices"
      trades.write.mode("overwrite").parquet(tp)
      prices.write.mode("overwrite").parquet(pp)
      (tp, pp)
    }

    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def timeRuns(name: String, f: () => Long): Double = {
      val ts = (0 until runs).map { i =>
        val t0 = System.nanoTime()
        val n = f()
        val dt = (System.nanoTime() - t0) / 1e9
        isolate()
        System.err.println(f"[skew] $name run$i rows=$n $dt%.2f s")
        dt
      }
      median(ts)
    }

    val tol = 604800L
    // SPARK_GRAFT_SKEW_CASES ("regime:hotPct" list) narrows the sweep — the
    // asserted gate runs ONLY dense:90 (the regime that refuted the r7
    // binned escape hatch) so the full 4-case atlas stays a manual probe;
    // SPARK_GRAFT_SKEW_VARIANTS drops binned there (its dense-hot
    // pathology is the DOCUMENTED 15-109 s counterexample, re-measuring it
    // every gate run would triple the gate's wall-clock for no signal).
    val caseFilter = sys.env.get("SPARK_GRAFT_SKEW_CASES")
      .map(_.split(",").map(_.trim).toSet)
    val variants = sys.env.getOrElse("SPARK_GRAFT_SKEW_VARIANTS", "merge,salted,binned")
      .split(",").map(_.trim).toSet
    val cases = (for {
      (regime, spreadTime) <- Seq("dense" -> false, "spread" -> true)
      hotPct <- Seq(0, 90)
    } yield (regime, spreadTime, hotPct))
      .filter { case (r, _, h) => caseFilter.forall(_.contains(s"$r:$h")) }
    require(cases.nonEmpty, "SPARK_GRAFT_SKEW_CASES matched no case")

    val results = cases.map { case (regime, spreadTime, hotPct) =>
      val (tp, pp) = writeInputs(regime, spreadTime, hotPct)
      val trades = spark.read.parquet(tp)
      val prices = spark.read.parquet(pp)
      def merge() = AsOfJoin.asOfMerge(trades, prices, Seq("k"), "epoch",
        "price_epoch", tol, Seq("price")).count()
      def salted() = AsOfJoin.asOfMergeSalted(trades, prices, Seq("k"), "epoch",
        "price_epoch", tol, Seq("price"), nSalts = 8, saltFrom = "event_id").count()
      def binned() = AsOfJoin.asOfBinned(trades, prices, Seq("k"), "epoch",
        "price_epoch", tol, Seq("price")).count()
      // warmup + sanity: identical row counts on identical inputs
      val nM = merge()
      if (variants("salted")) {
        val nS = salted()
        require(nM == nS, s"variant mismatch at $regime hot=$hotPct: merge=$nM salted=$nS")
      }
      if (variants("binned")) {
        val nB = binned()
        require(nM == nB, s"variant mismatch at $regime hot=$hotPct: merge=$nM binned=$nB")
      }
      isolate()
      val mMed = timeRuns(s"$regime hot=$hotPct merge", merge _)
      val sMed = if (variants("salted"))
        timeRuns(s"$regime hot=$hotPct salted", salted _) else -1.0
      val bMed = if (variants("binned"))
        timeRuns(s"$regime hot=$hotPct binned", binned _) else -1.0
      (regime, hotPct, nM, mMed, sMed, bMed)
    }

    def num(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val json = results.map { case (r, h, n, mm, sm, bm) =>
      val opt = Seq("asof_merge_salted_sec" -> sm, "asof_binned_sec" -> bm)
        .collect { case (k, v) if v >= 0 => s""","$k":${num(v)}""" }.mkString
      s"""{"regime":"$r","hot_pct":$h,"rows":$n,"asof_merge_sec":${num(mm)}$opt}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"asof_skew","sf":"$sfDir","m":$m,"runs":$runs,"tolerance":$tol,"levels":$json}""")
    spark.stop()

    // GATE (round-8 verdict task 8): when SPARK_GRAFT_ASOF_GATE_SEC is
    // set, every measured merge/salted median must beat it — the r8 atlas
    // measured asOfMerge flat at 0.28-0.45 s across every regime, so a
    // 2 s ceiling on the dense-hot case catches an exec regression with
    // 4x headroom while staying an order below binned's 15-109 s failure
    // mode. Exit nonzero so tools/scale_gate.sh fails the build.
    sys.env.get("SPARK_GRAFT_ASOF_GATE_SEC").map(_.toDouble).foreach { gate =>
      val offenders = results.flatMap { case (r, h, _, mm, sm, _) =>
        Seq(("merge", mm), ("salted", sm)).collect {
          case (v, t) if t >= 0 && t > gate => f"$r:$h $v ${t}%.2f s > $gate%.2f s"
        }
      }
      if (offenders.nonEmpty) {
        offenders.foreach(o => System.err.println(s"[skew] GATE FAIL: $o"))
        sys.exit(1)
      }
    }
  }
}
