package graft.registry

import graft.features.Stage
import graft.operators.{Incremental, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-layer projections (raw -> typed snake_case, incl. nested-struct
  * flattening), the partitioned parquet sink, session windows, and the IVF
  * similarity path — oracle-checked over raw-shaped fixtures fabricated
  * from `events`.
  */
object StageQueries {
  import Agg._
  import Registry.Ora.{DS, EV}

  private def proto = when(pmod(col("user_id"), lit(2)) === 0, "aave").otherwise("compound")
  private val protoSql = "CASE WHEN user_id % 2 = 0 THEN 'aave' ELSE 'compound' END"

  /** Raw transpose-event shape (mixed-case hex addresses to exercise the
    * LOWER normalization), liquidation variant columns included.
    */
  private def rawEvents(e: DataFrame): DataFrame =
    e.select(
      col("day").as("block_number"),
      col("event_id").as("log_index"),
      concat(lit("tx"), col("event_id").cast("string")).as("transaction_hash"),
      timestamp_seconds(col("epoch")).as("timestamp"),
      proto.as("protocol_name"),
      lit("v2").as("contract_version"),
      concat(lit("0xMKT"), pmod(col("user_id"), lit(10)).cast("string")).as("market_address"),
      concat(lit("0xTOK"), pmod(col("user_id"), lit(5)).cast("string")).as("token_address"),
      col("event_type").as("category"),
      concat(lit("0xACC"), col("user_id").cast("string")).as("account_address"),
      col("value").as("quantity"),
      concat(lit("0xSEN"), col("user_id").cast("string")).as("sender_address"),
      concat(lit("0xTOK"), pmod(col("user_id"), lit(5)).cast("string")).as("liquidated_token_address"),
      concat(lit("0xLIQ"), col("user_id").cast("string")).as("liquidator_address"),
      (col("value") * 0.5).as("quantity_liquidated"))

  private val stageEvents = Q(
    "stage_events",
    (s, d) => Stage.stageEvents(rawEvents(ParityQueries.evDf(s, d)), liquidation = true)
      .drop("timestamp"),
    Some(s"""WITH $EV
      SELECT day AS block_number, event_id AS log_index,
        'tx' || CAST(event_id AS VARCHAR) AS transaction_hash,
        epoch AS epoch_timestamp, $protoSql AS protocol_name, 'v2' AS contract_version,
        lower('0xMKT' || CAST(user_id % 10 AS VARCHAR)) AS market_address,
        lower('0xTOK' || CAST(user_id % 5 AS VARCHAR)) AS token_address,
        event_type AS category,
        lower('0xACC' || CAST(user_id AS VARCHAR)) AS account_address,
        CAST(value AS DOUBLE) AS quantity,
        lower('0xSEN' || CAST(user_id AS VARCHAR)) AS sender_address,
        CAST(year(epoch_ms(epoch * 1000)) AS VARCHAR) AS year,
        CAST(month(epoch_ms(epoch * 1000)) AS VARCHAR) AS month,
        lower('0xTOK' || CAST(user_id % 5 AS VARCHAR)) AS liquidated_token_address,
        lower('0xLIQ' || CAST(user_id AS VARCHAR)) AS liquidator_address,
        CAST(value * 0.5 AS DOUBLE) AS quantity_liquidated
      FROM ev"""))

  /** Raw market-data shape with the nested `inputToken.decimals` struct. */
  private val stageMarketData = Q(
    "proj_stage_market_data",
    (s, d) => {
      val e = ParityQueries.evDf(s, d).filter(col("event_type") === "view")
      val raw = e.select(
        col("value").as("liquidationThreshold"),
        concat(lit("Market "), pmod(col("user_id"), lit(10)).cast("string")).as("name"),
        col("value").as("inputTokenPriceUSD"),
        concat(lit("0xMKT"), pmod(col("user_id"), lit(10)).cast("string")).as("id"),
        struct((pmod(col("user_id"), lit(18)) + 1).cast("int").as("decimals")).as("inputToken"),
        proto.as("protocol"),
        col("day").as("block_number"),
        timestamp_seconds(col("epoch")).as("timestamp"))
      // compare the timestamp as integer epoch: the stage DISTINCT ran over
      // block_timestamp, so the compared relation must carry it too (two raw
      // rows differing only in timestamp are distinct — bit at sf0.1)
      Stage.stageMarketData(raw)
        .withColumn("block_epoch", unix_timestamp(col("block_timestamp")))
        .drop("block_timestamp")
    },
    Some(s"""WITH $EV
      SELECT DISTINCT CAST(value AS DOUBLE) AS liquidation_threshold,
        'Market ' || CAST(user_id % 10 AS VARCHAR) AS name,
        CAST(value AS DOUBLE) AS input_token_price_usd,
        '0xMKT' || CAST(user_id % 10 AS VARCHAR) AS id,
        CAST(user_id % 18 + 1 AS INT) AS decimals,
        $protoSql AS protocol, day AS block_number,
        CAST(year(epoch_ms(epoch * 1000)) AS VARCHAR) AS year,
        CAST(month(epoch_ms(epoch * 1000)) AS VARCHAR) AS month,
        epoch AS block_epoch
      FROM ev WHERE event_type = 'view'"""))

  /** Raw positions shape with `market{name,id}` / `account{id}` structs. */
  private val stagePositions = Q(
    "proj_stage_positions",
    (s, d) => {
      val e = ParityQueries.evDf(s, d).filter(col("event_type") === "click")
      val m = pmod(col("user_id"), lit(10)).cast("string")
      val raw = e.select(
        col("value").as("balance"),
        concat(lit("POS"), col("event_id").cast("string")).as("id"),
        (pmod(col("event_id"), lit(2)) === 0).as("isCollateral"),
        struct(
          concat(lit("Market "), m).as("name"),
          concat(lit("0xMKT"), m).as("id")).as("market"),
        when(pmod(col("event_id"), lit(3)) === 0, "BORROWER").otherwise("LENDER").as("side"),
        struct(concat(lit("0xACC"), col("user_id").cast("string")).as("id")).as("account"),
        col("day").as("block_number"),
        proto.as("protocol"),
        timestamp_seconds(col("epoch")).as("timestamp"))
      // same epoch-carry as proj_stage_market_data: the DISTINCT includes the
      // timestamp, so the compared relation must too
      Stage.stagePositions(raw)
        .withColumn("block_epoch", unix_timestamp(col("block_timestamp")))
        .drop("block_timestamp")
    },
    Some(s"""WITH $EV
      SELECT DISTINCT CAST(value AS DOUBLE) AS balance,
        lower('POS' || CAST(event_id AS VARCHAR)) AS id,
        (event_id % 2 = 0) AS is_collateral,
        'Market ' || CAST(user_id % 10 AS VARCHAR) AS market,
        lower('0xMKT' || CAST(user_id % 10 AS VARCHAR)) AS market_id,
        CASE WHEN event_id % 3 = 0 THEN 'BORROWER' ELSE 'LENDER' END AS side,
        lower('0xACC' || CAST(user_id AS VARCHAR)) AS account,
        day AS block_number, $protoSql AS protocol,
        CAST(year(epoch_ms(epoch * 1000)) AS VARCHAR) AS year,
        CAST(month(epoch_ms(epoch * 1000)) AS VARCHAR) AS month,
        epoch AS block_epoch
      FROM ev WHERE event_type = 'click'"""))

  /** Partitioned append sink round trip: write partitionBy(event_type),
    * read back through partition discovery, aggregate.
    */
  private val partitionedSink = Q(
    "snk_parquet_partitioned",
    (s, d) => {
      val e = ParityQueries.evDf(s, d)
      val path = Registry.scratch(s, "part", d)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      Incremental.appendPartitioned(
        e.select("event_id", "user_id", "value", "epoch", "event_type"),
        path, Seq("event_type"))
      s.read.parquet(path).groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          max(col("event_id")).as("max_event"))
    },
    Some(s"""WITH $EV
      SELECT event_type, COUNT(*) AS n, ${DS("value")} AS sum_value,
        MAX(event_id) AS max_event
      FROM ev GROUP BY 1"""))

  /** Range-clustered layout roundtrip: events land sorted + range-sliced
    * on `epoch` ([[graft.sources.Layout.writeRangeClustered]] — the at-rest
    * layout that lets time-range scans skip files/row-groups on footer
    * stats), then a time-range read-back aggregates; the oracle applies
    * the same two-phase range literal to the original table, proving the
    * clustered copy is byte-equivalent under range predicates.
    */
  private val rangeClusteredSink = Q(
    "snk_range_clustered",
    (s, d) => {
      val e = ParityQueries.evDf(s, d)
      val path = Registry.scratch(s, "rangeclu", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.sources.Layout.writeRangeClustered(
        e.select("event_id", "user_id", "value", "epoch"), path, 8, "epoch")
      // two-phase range literal (like the watermark read): 10 days past the
      // corpus start — the same literal the oracle recomputes
      val lo = e.agg(min(col("epoch"))).head().getLong(0) + 10L * 86400L
      s.read.parquet(path)
        .filter(col("epoch") >= lo)
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          min(col("epoch")).as("min_epoch"), max(col("epoch")).as("max_epoch"))
    },
    Some(s"""WITH $EV
      SELECT COUNT(*) AS n, ${DS("value")} AS sum_value,
        MIN(epoch) AS min_epoch, MAX(epoch) AS max_epoch
      FROM ev WHERE epoch >= (SELECT MIN(epoch) + 864000 FROM ev)"""))

  /** Zone-map-manifest pruned scan ([[graft.sources.Layout.writeZoneMapped]]
    * / `readZonePruned`): events land range-clustered on `epoch` with a
    * per-file min/max manifest, then a 10-day window is read back through
    * the DRIVER-SIDE file prune (no parquet footer opens for skipped
    * files) — the oracle applies the same predicate to the original table,
    * proving pruning is a pure optimization. The files-actually-skipped
    * claim is measured in ZoneMapSpec.
    */
  private val zoneMapPruned = Q(
    "scan_zonemap_prune",
    (s, d) => {
      val e = ParityQueries.evDf(s, d)
      val path = Registry.scratch(s, "zonemap", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.sources.Layout.writeZoneMapped(
        e.select("event_id", "user_id", "value", "epoch"), path, 8, "epoch",
        statsCols = Seq("user_id"))
      val lo = e.agg(min(col("epoch"))).head().getLong(0) + 10L * 86400L
      graft.sources.Layout.readZonePruned(s, path, "epoch", lo, lo + 10L * 86400L)
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          min(col("epoch")).as("min_epoch"), max(col("epoch")).as("max_epoch"))
    },
    Some(s"""WITH $EV,
      b AS (SELECT MIN(epoch) + 864000 AS lo FROM ev)
      SELECT COUNT(*) AS n, ${DS("value")} AS sum_value,
        MIN(epoch) AS min_epoch, MAX(epoch) AS max_epoch
      FROM ev, b WHERE epoch >= b.lo AND epoch <= b.lo + 864000"""))

  /** Z-ordered layout roundtrip: events land Morton-interleaved on
    * (user_id, day) ([[graft.sources.Layout.writeZOrdered]]), then a
    * RECTANGLE predicate (both dimensions) reads back and aggregates; the
    * oracle applies the same predicate to the original table, proving the
    * z-ordered copy is content-equivalent. The file-pruning claim itself
    * is measured in LayoutSpec.
    */
  private val zOrderedSink = Q(
    "layout_zorder",
    (s, d) => {
      val e = ParityQueries.evDf(s, d)
      val path = Registry.scratch(s, "zorder", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.sources.Layout.writeZOrdered(
        e.select("event_id", "user_id", "value", "day"), path, 8, "user_id", "day")
      // two-phase range literal on the day axis, fixed cut on the user axis
      val lo = e.agg(min(col("day"))).head().getLong(0) + 10L
      s.read.parquet(path)
        .filter(col("user_id") < 400 && col("day") >= lo)
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          min(col("user_id")).as("min_user"), max(col("day")).as("max_day"))
    },
    Some(s"""WITH $EV
      SELECT COUNT(*) AS n, ${DS("value")} AS sum_value,
        MIN(user_id) AS min_user, MAX(day) AS max_day
      FROM ev WHERE user_id < 400 AND day >= (SELECT MIN(day) + 10 FROM ev)"""))

  /** Hilbert-ordered layout roundtrip ([[graft.sources.Layout
    * .writeHilbertOrdered]]): the [[zOrderedSink]] contract with the
    * Morton interleave swapped for the Hilbert index — content
    * equivalence under a rectangle predicate; the adjacency property and
    * the pruning measurement live in NativeExprSpec / LayoutSpec.
    */
  private val hilbertSink = Q(
    "layout_hilbert",
    (s, d) => {
      val e = ParityQueries.evDf(s, d)
      val path = Registry.scratch(s, "hilbert", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.sources.Layout.writeHilbertOrdered(
        e.select("event_id", "user_id", "value", "day"), path, 8, "user_id", "day")
      val lo = e.agg(min(col("day"))).head().getLong(0) + 10L
      s.read.parquet(path)
        .filter(col("user_id") < 400 && col("day") >= lo)
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          min(col("user_id")).as("min_user"), max(col("day")).as("max_day"))
    },
    Some(s"""WITH $EV
      SELECT COUNT(*) AS n, ${DS("value")} AS sum_value,
        MIN(user_id) AS min_user, MAX(day) AS max_day
      FROM ev WHERE user_id < 400 AND day >= (SELECT MIN(day) + 10 FROM ev)"""))

  /** Session windows (Structured Streaming's sessionization operator, run
    * in batch mode for a deterministic oracle): 4-hour inactivity gap per
    * user. Oracle reproduces Spark's END-INCLUSIVE merge rule via lag/cumsum
    * island detection: an event exactly `gap` after the previous one
    * CONTINUES the session (windows [s, e) and [e, e+gap) merge on touching
    * ends — empirically pinned at sf0.1, user 1419, and by the exact-gap
    * case in StreamsSpec).
    */
  private val sessionWindows = Q(
    "streaming_session_window",
    (s, d) =>
      ParityQueries.evDf(s, d)
        .select(col("user_id"), col("event_id"), timestamp_seconds(col("epoch")).as("ts_sec"))
        .groupBy(session_window(col("ts_sec"), "4 hours").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          expr("unix_timestamp(w.start)").as("session_start"),
          expr("unix_timestamp(w.end)").as("session_end"),
          col("n_events")),
    Some(s"""WITH $EV,
      o AS (SELECT user_id, epoch, event_id,
        CASE WHEN LAG(epoch) OVER w IS NULL OR epoch - LAG(epoch) OVER w > 14400 THEN 1 ELSE 0 END AS brk
        FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY epoch, event_id)),
      sess AS (SELECT user_id, epoch,
        SUM(brk) OVER (PARTITION BY user_id ORDER BY epoch, event_id ROWS UNBOUNDED PRECEDING) AS sid
        FROM o)
      SELECT user_id, MIN(epoch) AS session_start, MAX(epoch) + 14400 AS session_end,
        COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid"""))

  /** IVF with every cell probed == exact: shares the brute-force oracle.
    * The nProbe < nCentroids recall path is scalatest-covered.
    */
  private val simIvf = Q(
    "sim_ivf_topk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding",
        nCentroids = 8, nProbe = 8, k = 5)
        .withColumn("rank", col("rank").cast("long"))
    },
    TrainingQueries.bruteForceOracle(5),
    bench = true)

  /** Co-located bucketed join: both per-user aggregates land bucketed on
    * the wallet key, the join reads them shuffle-free (plan asserted in
    * LayoutSpec; values oracle-checked here).
    */
  private val bucketedJoin = Q(
    "layout_bucketed_join",
    (s, d) => {
      val e = ParityQueries.evDf(s, d)
      val a = e.filter(col("event_type") === "purchase").groupBy("user_id")
        .agg(dsum(col("value")).as("purchase_total"))
      val b = e.filter(col("event_type") === "click").groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"))
      graft.sources.Layout.writeBucketed(a, "graft_bkt_a", 8, "user_id", Seq("user_id"))
      graft.sources.Layout.writeBucketed(b, "graft_bkt_b", 8, "user_id", Seq("user_id"))
      s.table("graft_bkt_a").join(s.table("graft_bkt_b"), Seq("user_id"), "inner")
    },
    Some(s"""WITH $EV,
      a AS (SELECT user_id, ${DS("value")} AS purchase_total FROM ev WHERE event_type = 'purchase' GROUP BY 1),
      b AS (SELECT user_id, COUNT(*) AS n_clicks FROM ev WHERE event_type = 'click' GROUP BY 1)
      SELECT a.user_id, a.purchase_total, b.n_clicks FROM a JOIN b ON a.user_id = b.user_id"""))

  /** Salted skew join: hot keys fan out over 8 salts; result is
    * row-identical to the plain join (the oracle IS the plain join).
    */
  private val saltedJoin = Q(
    "skew_salted_join",
    (s, d) => {
      val e = ParityQueries.evDf(s, d)
      val left = e.select(col("event_id"), pmod(col("user_id"), lit(5)).as("k"), col("value"))
      val right = e.filter(col("event_type") === "signup")
        .groupBy(pmod(col("user_id"), lit(5)).as("k"))
        .agg(dsum(col("value")).as("rv"))
      graft.operators.Skew.saltedInnerJoin(left, right, "k", saltFrom = "event_id", nSalts = 8)
        .groupBy("k")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"), max(col("rv")).as("rv"))
    },
    Some(s"""WITH $EV,
      l AS (SELECT event_id, user_id % 5 AS k, value FROM ev),
      r AS (SELECT user_id % 5 AS k, ${DS("value")} AS rv FROM ev WHERE event_type = 'signup' GROUP BY 1)
      SELECT l.k, COUNT(*) AS n, ${DS("l.value")} AS sum_value, MAX(r.rv) AS rv
      FROM l JOIN r ON l.k = r.k GROUP BY 1"""))

  val all: Seq[Q] = Seq(
    stageEvents, stageMarketData, stagePositions, partitionedSink, rangeClusteredSink,
    zoneMapPruned, zOrderedSink, hilbertSink, sessionWindows, simIvf, bucketedJoin, saltedJoin)
}
