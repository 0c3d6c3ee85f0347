package graftbench

import graft.features.{Analytics, Assembly, Stage, Views}
import graft.operators.{BucketedSnapshots, DocStoreSink, Incremental, Snapshots}
import graft.quality.Constraints
import graft.sources.{DocStore, DocStoreWriter, MemDocStore, Paged}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The reference's daily run composed from the engine's public layers:
  * graft-pages sources -> Stage -> Analytics -> Views + Assembly -> the DQ
  * gate -> BucketedSnapshots commit -> DocStoreSink, with the Incremental
  * watermark deciding how much of the served history one run reads.
  *
  * Every layer writes its own table inside its span. Stage and analytics
  * tables are keyed BucketedSnapshots tables, so a day-2 run merges its
  * slice into them (one merge commit per table); the feature table is
  * rebuilt in full every run, like the reference's.
  */
object DailyRun {
  /** Fixed "now" for the time-since features (2024-02-01T00:00:00Z), so a
    * wallet with no new events keeps identical features from day to day.
    */
  val AsOfEpoch = 1706745600L
  val NBuckets = 8
  val CatchUpWindow: Long = 10L * 86400 // reference MAX_TIMEWINDOW_DAYS
  val Store = "bench_features"

  val EventsDdl: String = Seq(
    "event_id BIGINT", "day BIGINT", "block_number BIGINT", "log_index BIGINT",
    "transaction_hash STRING", "timestamp STRING", "protocol_name STRING",
    "contract_version STRING", "market_address STRING", "token_address STRING",
    "category STRING", "account_address STRING", "quantity DOUBLE", "sender_address STRING",
    "liquidated_token_address STRING", "liquidator_address STRING",
    "quantity_liquidated DOUBLE").mkString(", ")
  val PositionsDdl = "position_seq BIGINT, day BIGINT, balance DOUBLE, id STRING, " +
    "isCollateral BOOLEAN, market STRUCT<name: STRING, id: STRING>, side STRING, " +
    "account STRUCT<id: STRING>, block_number BIGINT, protocol STRING, timestamp STRING"
  val MarketsDdl = "id STRING, name STRING, inputTokenPriceUSD DOUBLE, " +
    "liquidationThreshold DOUBLE, inputToken STRUCT<decimals: BIGINT>, protocol STRING, " +
    "day BIGINT, timestamp STRING"

  /** Where the served API pages of one run live. */
  final case class Pages(events: String, positions: String, markets: String)

  final case class Lake(root: String) {
    def raw(t: String) = s"$root/raw/$t"
    def stage(t: String) = s"$root/stage/$t"
    def analytics(t: String) = s"$root/analytics/$t"
    val build = s"$root/features_build"
    val changes = s"$root/features_changes"
    val features = s"$root/features"
    val cursorFile = s"$root/_positions_cursor"
  }

  /** What one run did, for the checks and the census. */
  final case class Outcome(stagedIn: Long, enrichedOut: Long, docsWritten: Long)

  val Gate: Seq[Constraints.Check] = Seq(
    Constraints.AnyNull("wallet_address_null", col("wallet_address")),
    Constraints.AnyNegative("borrow_count_negative", col("borrow_count")),
    Constraints.AnyNegative("deposit_count_negative", col("deposit_count")),
    Constraints.AllZero("deposit_amount_all_zero", col("deposit_amount_sum_eth")))

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def hasTable(spark: SparkSession, path: String): Boolean =
    exists(spark, path) && BucketedSnapshots.currentVersion(spark, path).isDefined

  private def readText(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
  }

  private def writeText(spark: SparkSession, path: String, s: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  // ------------------------------------------------------------ the server

  /** Serve the generated events as 10,000-row offset pages and the market
    * data as per-block snapshot pages (the reference's page shapes).
    */
  def servePages(spark: SparkSession, input: String, root: String, days: Column): Unit = {
    val ev = spark.read.parquet(s"$input/raw_events.parquet").filter(days)
    Paged.serveOffsetPages(ev, Seq("event_id"), 10000, s"$root/events")
    val md = spark.read.parquet(s"$input/raw_markets.parquet").filter(days)
    Paged.serveSnapshotPages(md, "block_number", s"$root/markets")
  }

  /** Serve (or extend) the positions keyset chain: 6000-row batches of 6
    * aliased sub-queries.
    */
  def servePositions(spark: SparkSession, input: String, root: String, days: Column,
      append: Boolean): Unit = {
    val pos = spark.read.parquet(s"$input/raw_positions.parquet").filter(days)
    if (append) Paged.appendKeysetPages(pos, "position_seq", 6000, 6, root)
    else Paged.serveKeysetPages(pos, "position_seq", 6000, 6, root)
  }

  // ------------------------------------------------------------- the run

  /** One daily run over `pages` into `lake`. The lakehouse decides the
    * shape: from an empty one the run loads the full history and makes
    * first commits; from a populated one it catches up past the watermark,
    * merges, and write-audit-publishes the changed wallets only.
    */
  def run(spark: SparkSession, t: Tracer, input: String, pages: Pages, lake: Lake,
      store: DocStore, seq: Long, observe: Boolean): Outcome = {
    // -------------------------------------------------- incremental
    val stageEv = lake.stage("events")
    val (watermark, cursor) = t.span("incremental") {
      val wm =
        if (hasTable(spark, stageEv))
          Incremental.maxWatermark(BucketedSnapshots.readCurrent(spark, stageEv),
            col("epoch_timestamp"), Incremental.DefaultStartEpoch)
        else Incremental.DefaultStartEpoch
      // the keyset chain resumes after the batches an earlier run consumed
      val cur = if (exists(spark, lake.cursorFile)) readText(spark, lake.cursorFile) else "start"
      (wm, cur)
    }
    val firstRun = watermark == Incremental.DefaultStartEpoch
    val epochOf = unix_timestamp(col("timestamp").cast("timestamp"))
    def slice(df: DataFrame): DataFrame =
      if (firstRun) Incremental.newerThan(df, epochOf, watermark)
      else Incremental.boundedCatchUp(df, epochOf, watermark, CatchUpWindow)

    // ------------------------------------------------------ sources
    t.span("sources") {
      val ev = spark.read.format(Paged.FORMAT).option("path", pages.events)
        .option("mode", "offset").option("schema", EventsDdl).load()
      Incremental.appendPartitioned(slice(ev).withColumn("batch", lit(seq)),
        lake.raw("events"), Seq("batch"))
      val pos = spark.read.format(Paged.FORMAT).option("path", pages.positions)
        .option("mode", "keyset").option("cursorField", "position_seq")
        .option("startCursor", cursor).option("schema", PositionsDdl).load()
      Incremental.appendPartitioned(pos.withColumn("batch", lit(seq)),
        lake.raw("positions"), Seq("batch"))
      val md = spark.read.format(Paged.FORMAT).option("path", pages.markets)
        .option("mode", "snapshot").option("schema", MarketsDdl).load()
        .withColumnRenamed(Paged.BLOCK_COL, "block_number")
      Incremental.appendPartitioned(slice(md).withColumn("batch", lit(seq)),
        lake.raw("markets"), Seq("batch"))
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readText(spark, s"${pages.positions}/${Paged.MANIFEST}"))
      writeText(spark, lake.cursorFile, m.get("lastCursor").asText())
    }
    def rawSlice(tbl: String) =
      spark.read.parquet(lake.raw(tbl)).filter(col("batch") === seq).drop("batch")

    // -------------------------------------------------------- stage
    val rawEv = rawSlice("events")
    val isLiq = col("category") === "liquidation"
    val stagedGeneral = Stage.stageEvents(rawEv.filter(!isLiq))
    val stagedLiq = Stage.stageEvents(rawEv.filter(isLiq), liquidation = true)
    val stagedPos = Stage.stagePositions(rawSlice("positions"))
    val stagedMd = Stage.stageMarketData(rawSlice("markets"))
      .withColumn("md_key", concat_ws("@", col("id"), col("block_number")))
    t.span("stage") {
      upsert(spark, stagedGeneral, stageEv, "transaction_hash")
      upsert(spark, stagedLiq, lake.stage("liquidations"), "transaction_hash")
      upsert(spark, stagedPos, lake.stage("positions"), "id")
      upsert(spark, stagedMd, lake.stage("markets"), "md_key")
    }

    // ---------------------------------------------------- analytics
    // traced runs count the analytics layer's rows in and out on the
    // writes that already run (no extra scan)
    val obs = Seq("general_in", "liquidation_in", "enriched_out").map(Observation(_))
    def observed(df: DataFrame, i: Int): DataFrame =
      if (observe) df.observe(obs(i), count(lit(1)).as("n")) else df
    t.span("analytics") {
      val meta = spark.read.parquet(s"$input/tokens_metadata.parquet")
      val drop = spark.read.parquet(s"$input/tokens_blocklist.parquet")
      val prices = spark.read.parquet(s"$input/daily_prices.parquet")
      val keep = Seq("category", "sender_address", "account_address", "transaction_hash",
        "quantity_in_eth", "epoch_timestamp", "protocol_name", "block_number",
        "index_address", "address_partition").map(col)
      // this run's staged slice: every staged row past the watermark
      def staged(tbl: String, i: Int) = observed(
        BucketedSnapshots.readCurrent(spark, lake.stage(tbl))
          .filter(col("epoch_timestamp") > watermark), i)
      val general = Analytics.enrichEventsWithEth(staged("events", 0), meta, drop, prices,
        asOfPath = Analytics.AsOfPath.Merge).select(keep: _*)
      val liq = Analytics.enrichEventsWithEth(staged("liquidations", 1), meta, drop, prices,
        Analytics.LiquidationSpec, Analytics.AsOfPath.Merge).select(keep: _*)
      upsert(spark, observed(general.unionByName(liq), 2),
        lake.analytics("events"), "transaction_hash")
      val merged = Analytics.mergeMarketAndPositions(stagedPos,
        BucketedSnapshots.readCurrent(spark, lake.stage("markets")))
      upsert(spark, merged, lake.analytics("positions"), "id")
    }

    // ----------------------------------------------------- features
    t.span("features") {
      // persist the intermediates several views share, as the registry's
      // feature_assembly composition does
      val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def mat(df: DataFrame): DataFrame = { persisted += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
      val ae = mat(BucketedSnapshots.readCurrent(spark, lake.analytics("events")))
      def cat(c: String) = ae.filter(col("category") === c)
      val borrow = mat(cat("borrow"))
      val repay = cat("repay")
      val deposit = cat("deposit")
      val withdraw = cat("withdraw")
      val liq = cat("liquidation")
      val spine = mat(Views.distinctAddresses(Seq(borrow, deposit, withdraw, liq, repay)))
      val ahf = mat(Views.accountHealthFactor(
        BucketedSnapshots.readCurrent(spark, lake.analytics("positions"))))
      val stagePos = BucketedSnapshots.readCurrent(spark, lake.stage("positions"))
      val latest = stagePos.agg(max("block_number").as("latest_block"))
      val current = stagePos.join(latest, col("block_number") === col("latest_block"))
        .select(col("balance"), col("market_id"), col("side"), col("is_collateral"),
          col("account"), col("protocol"))
      val features = Assembly.featureAssembly(
        spine, borrow,
        Views.repayFeatures(repay),
        Views.borrowFeatures(borrow),
        Views.creditMixFeatures(spine, borrow, deposit, withdraw, repay),
        Views.lendingSumRedeemsFeatures(withdraw),
        Views.lendingTimeAndCountFeatures(deposit, AsOfEpoch),
        Views.historicalHealthAndRiskFactor(borrow, ahf),
        Views.historicalCountAboveThreshold(borrow, ahf),
        Views.liquidationFeatures(liq, AsOfEpoch),
        Views.currentHealthFactorFeatures(
          BucketedSnapshots.readCurrent(spark, lake.stage("markets")), current))
      Incremental.overwriteTable(features, lake.build)
      persisted.foreach(_.unpersist(blocking = true))
    }
    val build = spark.read.parquet(lake.build)

    // -------------------------- quality + commit (+ write-audit-publish)
    val docs =
      if (!hasTable(spark, lake.features)) {
        t.span("quality")(Constraints.enforce(build, Gate))
        t.span("commit") {
          BucketedSnapshots.applyChanges(spark,
            build.withColumn("seq", lit(seq)).withColumn("op", lit("I")),
            lake.features, "wallet_address", NBuckets)
        }
        t.span("serve") {
          DocStoreSink.upsertDocuments(
            Incremental.toServeSchema(BucketedSnapshots.readTable(spark, lake.features)),
            store, "walletAddress")
        }
      } else {
        val branch = s"daily_$seq"
        t.span("commit") {
          Incremental.overwriteTable(Snapshots.diffByKey(
            BucketedSnapshots.readTable(spark, lake.features), build, "wallet_address")
            .withColumn("seq", lit(seq)), lake.changes)
          BucketedSnapshots.branch(spark, lake.features, branch)
          BucketedSnapshots.applyChangesToBranch(spark, lake.features, branch,
            spark.read.parquet(lake.changes), "wallet_address", NBuckets)
        }
        t.span("quality") {
          Constraints.enforce(BucketedSnapshots.readTableBranch(spark, lake.features, branch), Gate)
        }
        t.span("commit")(BucketedSnapshots.publishBranch(spark, lake.features, branch))
        t.span("serve") {
          val serve = Incremental.toServeSchema(spark.read.parquet(lake.changes))
          val (u, d) = DocStoreSink.applyChanges(serve, store, "walletAddress", "seq")
          u + d
        }
      }
    def n(i: Int) = if (observe) obs(i).get("n").asInstanceOf[Long] else -1L
    Outcome(n(0) + n(1), n(2), docs)
  }

  private def upsert(spark: SparkSession, df: DataFrame, path: String, key: String): Long =
    BucketedSnapshots.upsertByKey(spark, df, path, key, NBuckets)

  // ------------------------------------------------------------ checks

  /** Order-independent fingerprint: row count plus the sum and xor of a
    * 64-bit hash of every row (columns in name order).
    */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(col).toSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")), bit_xor(h)).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.getLong(2)}"
  }

  /** The documents the store must hold for the published table: one
    * `to_json` serve-schema document per wallet.
    */
  def expectedDocs(spark: SparkSession, lake: Lake): DataFrame = {
    val serve = Incremental.toServeSchema(BucketedSnapshots.readTable(spark, lake.features))
    serve.select(col("walletAddress").as("k"), to_json(struct(serve.columns.map(col).toSeq: _*)).as("doc"))
  }

  def storeDocs(spark: SparkSession, name: String): DataFrame = {
    import spark.implicits._
    MemDocStore.contents(name).toSeq.map { case (k, (_, d)) => (k, d) }.toDF("k", "doc")
  }

  /** Failed checks of one daily run (empty = all passed). */
  def check(spark: SparkSession, lake: Lake, storeName: String): Seq[String] = {
    val published = BucketedSnapshots.readTable(spark, lake.features)
    val build = spark.read.parquet(lake.build)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val pub = fingerprint(published)
    if (pub != fingerprint(build)) failures += "published snapshot != assembled features"
    val want = expectedDocs(spark, lake)
    val have = storeDocs(spark, storeName)
    if (MemDocStore.contents(storeName).size.toLong != published.count())
      failures += "doc store does not hold exactly one document per published wallet"
    else if (fingerprint(want) != fingerprint(have))
      failures += "doc store documents differ from the published features"
    failures.toSeq
  }

  // ------------------------------------------------- self-test perturbations

  /** Publish one wallet with a changed feature (borrow_count + 1), as a
    * later CDC commit on the live table.
    */
  def perturbFeature(spark: SparkSession, lake: Lake, seq: Long): Unit = {
    val row = BucketedSnapshots.readTable(spark, lake.features).limit(1)
      .withColumn("borrow_count", col("borrow_count") + 1)
      .withColumn("seq", lit(seq + 1)).withColumn("op", lit("U"))
    BucketedSnapshots.applyChanges(spark, row, lake.features, "wallet_address", NBuckets)
  }

  /** Drop one document from the store. */
  def perturbDocument(storeName: String): Unit = {
    val key = MemDocStore.contents(storeName).keys.min
    val w = new MemDocStore(storeName).open()
    try w.deleteBatch(Array((key, Long.MaxValue))) finally w.close()
  }

  /** A DocStore that counts the batches the sink had to retry. */
  final class CountingStore(name: String) extends DocStore {
    override def open(): DocStoreWriter = new DocStoreWriter {
      private val w = new MemDocStore(name).open()
      private def counted(f: => Unit): Unit =
        try f catch { case e: Exception => CountingStore.retries.incrementAndGet(); throw e }
      override def upsertBatch(b: Array[(String, Long, String)]): Unit = counted(w.upsertBatch(b))
      override def deleteBatch(b: Array[(String, Long)]): Unit = counted(w.deleteBatch(b))
      override def close(): Unit = w.close()
    }
  }
  object CountingStore {
    val retries = new java.util.concurrent.atomic.AtomicLong
  }
}
