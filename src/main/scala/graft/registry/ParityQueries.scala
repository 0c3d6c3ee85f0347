package graft.registry

import graft.functions.Scalars
import graft.operators.{AsOfJoin, Incremental, Relational, Snapshots}
import graft.quality.Constraints
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order-independent exact aggregates shared by all registry queries:
  * decimal(38,6) accumulation makes sums reproducible across partition
  * orders, so a hash-exact oracle compare is possible (Registry doc).
  */
private[registry] object Agg {
  def dsum(c: Column): Column = Scalars.dsum(c)
  def davg(c: Column): Column = Scalars.davg(c)
}

/** The reference's relational operator inventory (SURVEY.md §2) realized on
  * the driver testdata per the FIXTURES.md §B mapping, one registry entry
  * per inventory key. Every query routes through the graft operator modules
  * (Relational / AsOfJoin / Incremental / Scalars / Constraints) so the
  * DuckDB oracle exercises the engine code, not ad-hoc reimplementations.
  */
object ParityQueries {
  import Agg._
  import Registry.Ora.{DA, DAQ, DS, EV}

  /** Deterministic "now" for time-since features (2024-02-01T00:00:00Z) —
    * the engine injects a fixed as-of literal where the reference uses
    * current_timestamp (SURVEY.md §7.4.5).
    */
  val AsOfEpoch = 1706745600L

  /** Watermark split point for incremental/upsert tests (2024-01-15). */
  val MidEpoch = 1705276800L

  /** events with integer epoch seconds/days (ts is a nanos long). */
  private[registry] def evDf(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("event_id"),
      expr("ts div 1000000000").as("epoch"),
      expr("ts div 86400000000000").as("day"),
      col("user_id"),
      col("event_type"),
      col("value"))

  /** The 6-branch health-factor CASE as oracle SQL (mirrors
    * [[Scalars.healthFactor]] branch-for-branch).
    */
  private[registry] def hfSql(num: String, den: String): String = {
    val ratio = s"($num) / ($den)"
    s"""CASE WHEN COALESCE($den, 0.0) = 0.0 THEN 1000000.0
       WHEN $ratio = 0.0 AND ($den) < 0.000001 THEN 1000000.0
       WHEN $ratio = 0.0 AND ($den) > 0.000001 THEN 0.000001
       WHEN $ratio = 0.0 THEN 0.000001
       WHEN $ratio < 0.000001 THEN 0.000001
       ELSE $ratio END"""
  }

  // ----------------------------------------------------------------------
  // aggregations
  // ----------------------------------------------------------------------

  private val q1Agg = Q(
    "q1_agg",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order")),
    Some(s"""SELECT l_returnflag, l_linestatus,
      ${DS("l_quantity")} AS sum_qty,
      ${DS("l_extendedprice")} AS sum_base_price,
      ${DS("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
      ${DA("l_quantity")} AS avg_qty,
      COUNT(*) AS count_order
      FROM lineitem GROUP BY 1, 2"""),
    bench = true)

  private val perWallet = Q(
    "agg_per_wallet_sum_avg_count",
    (s, d) =>
      evDf(s, d).filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(
          dsum(abs(col("value"))).as("sum_value"),
          davg(abs(col("value"))).as("avg_value"),
          countDistinct(col("event_id")).as("n_tx")),
    Some(s"""WITH $EV
      SELECT user_id, ${DS("ABS(value)")} AS sum_value, ${DA("ABS(value)")} AS avg_value,
      COUNT(DISTINCT event_id) AS n_tx
      FROM ev WHERE event_type = 'purchase' GROUP BY 1"""),
    bench = true)

  private val creditMix = Q(
    "agg_count_distinct_protocols",
    (s, d) =>
      evDf(s, d).groupBy("user_id")
        .agg(
          countDistinct(when(col("value") > 100, col("event_type"))).as("mix_high"),
          countDistinct(when(col("value") <= 100, col("event_type"))).as("mix_low"))
        .select(
          col("user_id"), col("mix_high"), col("mix_low"),
          greatest(col("mix_high"), col("mix_low")).as("credit_mix")),
    Some(s"""WITH $EV, m AS (SELECT user_id,
      COUNT(DISTINCT CASE WHEN value > 100 THEN event_type END) AS mix_high,
      COUNT(DISTINCT CASE WHEN value <= 100 THEN event_type END) AS mix_low
      FROM ev GROUP BY 1)
      SELECT user_id, mix_high, mix_low, GREATEST(mix_high, mix_low) AS credit_mix FROM m"""))

  private val timeSince = Q(
    "agg_time_since_extremes",
    (s, d) =>
      evDf(s, d).groupBy("user_id")
        .agg(
          coalesce(lit(AsOfEpoch) - min(when(col("event_type") === "signup", col("epoch"))), lit(0L)).as("raw_first"),
          coalesce(lit(AsOfEpoch) - max(when(col("event_type") === "error", col("epoch"))), lit(0L)).as("raw_last"))
        .select(
          col("user_id"),
          Scalars.zeroToSentinel(col("raw_first")).as("time_since_first_signup"),
          Scalars.zeroToSentinel(col("raw_last")).as("time_since_last_error")),
    Some(s"""WITH $EV, r AS (SELECT user_id,
      COALESCE($AsOfEpoch - MIN(CASE WHEN event_type = 'signup' THEN epoch END), 0) AS raw_first,
      COALESCE($AsOfEpoch - MAX(CASE WHEN event_type = 'error' THEN epoch END), 0) AS raw_last
      FROM ev GROUP BY 1)
      SELECT user_id,
      CAST(CASE WHEN raw_first = 0 THEN 999999999 ELSE raw_first END AS BIGINT) AS time_since_first_signup,
      CAST(CASE WHEN raw_last = 0 THEN 999999999 ELSE raw_last END AS BIGINT) AS time_since_last_error
      FROM r"""))

  private val positionRollup = Q(
    "agg_position_rollup",
    (s, d) =>
      evDf(s, d).groupBy("user_id", "event_type")
        .agg(
          dsum(col("value")).as("balance_usd"),
          dsum(col("value") * lit(0.85)).as("weighted_balance"),
          count(lit(1)).as("n_rows")),
    Some(s"""WITH $EV
      SELECT user_id, event_type, ${DS("value")} AS balance_usd,
      ${DS("value * 0.85")} AS weighted_balance, COUNT(*) AS n_rows
      FROM ev GROUP BY 1, 2"""))

  private val conditionalAvg = Q(
    "agg_conditional_avg",
    (s, d) =>
      evDf(s, d).filter(col("event_type") === "error")
        .groupBy("user_id")
        .agg(
          when(count(lit(1)) === 1, davg(col("value")))
            .otherwise(davg(when(col("value") <= 300, col("value"))))
            .as("avg_value_excl")),
    Some(s"""WITH $EV
      SELECT user_id,
      CASE WHEN COUNT(*) = 1 THEN ${DA("value")}
           ELSE ${DA("CASE WHEN value <= 300 THEN value END")} END AS avg_value_excl
      FROM ev WHERE event_type = 'error' GROUP BY 1"""))

  private val riskFactorStats = Q(
    "agg_risk_factor_stats",
    (s, d) => {
      val lvl1 = evDf(s, d).groupBy("user_id", "day")
        .agg(
          coalesce(dsum(when(col("event_type") === "click", col("value"))), lit(0.0)).as("num"),
          coalesce(dsum(when(col("event_type") === "error", col("value"))), lit(0.0)).as("den"))
        .select(col("user_id"), col("day"),
          Scalars.healthFactor(col("num") * lit(0.8), col("den")).as("hf"))
      lvl1.groupBy("user_id")
        .agg(
          // davgQ, not davg: 1/hf reaches 1e6, where the decimal cast's
          // scaled-double rounding diverges across engines by an ulp
          // (see Scalars.davgQ) — bit at sf0.1
          Scalars.davgQ(lit(1.0) / col("hf")).as("avg_risk_factor"),
          min(col("hf")).as("min_hf"),
          count(lit(1)).as("n_days"))
        .withColumn("max_risk_factor", lit(1.0) / col("min_hf"))
    },
    Some(s"""WITH $EV, l1 AS (SELECT user_id, day,
      COALESCE(${DS("CASE WHEN event_type = 'click' THEN value END")}, 0.0) AS num,
      COALESCE(${DS("CASE WHEN event_type = 'error' THEN value END")}, 0.0) AS den
      FROM ev GROUP BY 1, 2),
      h AS (SELECT user_id, day, ${hfSql("num * 0.8", "den")} AS hf FROM l1)
      SELECT user_id, ${DAQ("1.0 / hf")} AS avg_risk_factor, MIN(hf) AS min_hf,
      COUNT(*) AS n_days, 1.0 / MIN(hf) AS max_risk_factor
      FROM h GROUP BY user_id"""))

  private val weightedAvg = Q(
    "agg_weighted_avg",
    (s, d) =>
      Tables.lineitem(s, d).groupBy("l_suppkey")
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("num"),
          dsum(col("l_quantity")).as("den"))
        .select(col("l_suppkey"), Scalars.safeDiv(col("num"), col("den")).as("weighted_avg")),
    Some(s"""WITH a AS (SELECT l_suppkey,
      ${DS("l_extendedprice * (1.0 - l_discount)")} AS num, ${DS("l_quantity")} AS den
      FROM lineitem GROUP BY 1)
      SELECT l_suppkey, COALESCE(num / NULLIF(den, 0), 0.0) AS weighted_avg FROM a"""))

  private val scalarWatermark = Q(
    "agg_scalar_watermark",
    (s, d) => {
      val wm = Incremental.maxWatermark(
        evDf(s, d).filter(col("event_type") === "signup"), col("epoch"), 0L)
      s.range(1).select(lit(wm).as("watermark"))
    },
    Some(s"""WITH $EV
      SELECT COALESCE(MAX(epoch), 0) AS watermark FROM ev WHERE event_type = 'signup'"""))

  private val firstBlockOfDay = Q(
    "agg_first_block_of_day",
    (s, d) =>
      evDf(s, d).groupBy("day")
        .agg(min(col("event_id")).as("first_event"), count(lit(1)).as("n_events"))
        .orderBy("day"),
    Some(s"""WITH $EV
      SELECT day, MIN(event_id) AS first_event, COUNT(*) AS n_events
      FROM ev GROUP BY 1 ORDER BY 1"""))

  private val distinctDedup = Q(
    "agg_distinct_dedup",
    (s, d) => evDf(s, d).select("user_id", "event_type").distinct(),
    Some("SELECT DISTINCT user_id, event_type FROM events"))

  private val dqConstraints = Q(
    "agg_dq_constraints",
    (s, d) => {
      val features = evDf(s, d).groupBy("user_id").agg(
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        coalesce(sum(when(col("event_type") === "click", col("value"))), lit(0.0)).as("sum_click"),
        min(when(col("event_type") === "error", col("value"))).as("min_error"))
      Constraints.evaluate(features, Seq(
        Constraints.AllZero("sum_click_all_zero", col("sum_click")),
        Constraints.AnyNegative("negative_purchase_count", col("n_purchase")),
        Constraints.AnyNull("null_min_error", col("min_error"))))
    },
    Some(s"""WITH $EV, f AS (SELECT user_id,
      COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
      COALESCE(SUM(CASE WHEN event_type = 'click' THEN value END), 0.0) AS sum_click,
      MIN(CASE WHEN event_type = 'error' THEN value END) AS min_error
      FROM ev GROUP BY 1)
      SELECT 'sum_click_all_zero' AS "constraint",
        (COUNT(CASE WHEN sum_click = 0 THEN 1 END) = COUNT(*)) AND COUNT(*) > 0 AS is_fail FROM f
      UNION ALL SELECT 'negative_purchase_count', COUNT(CASE WHEN n_purchase < 0 THEN 1 END) > 0 FROM f
      UNION ALL SELECT 'null_min_error', COUNT(CASE WHEN min_error IS NULL THEN 1 END) > 0 FROM f"""))

  // ----------------------------------------------------------------------
  // filters / projections / scalars
  // ----------------------------------------------------------------------

  private val incrementalWatermark = Q(
    "filter_incremental_watermark",
    (s, d) => {
      val e = evDf(s, d)
      val wm = Incremental.maxWatermark(
        e.filter(col("event_type") === "signup"), col("epoch"), 0L)
      Incremental.newerThan(e.filter(col("event_type") === "purchase"), col("epoch"), wm)
        .select("event_id", "user_id", "epoch", "value")
    },
    Some(s"""WITH $EV
      SELECT event_id, user_id, epoch, value FROM ev
      WHERE event_type = 'purchase'
      AND epoch > (SELECT COALESCE(MAX(epoch), 0) FROM ev WHERE event_type = 'signup')"""))

  private val boundedCatchup = Q(
    "filter_bounded_catchup",
    (s, d) => {
      val e = evDf(s, d)
      val wm = Incremental.maxWatermark(e.filter(col("epoch") < MidEpoch), col("epoch"), 0L)
      Incremental.boundedCatchUp(e.filter(col("event_type") === "purchase"),
        col("epoch"), wm, windowSize = 5 * 86400L)
        .select("event_id", "user_id", "epoch", "value")
    },
    Some(s"""WITH $EV,
      wm AS (SELECT COALESCE(MAX(epoch), 0) AS w FROM ev WHERE epoch < $MidEpoch)
      SELECT event_id, user_id, epoch, value FROM ev, wm
      WHERE event_type = 'purchase' AND epoch > wm.w AND epoch <= wm.w + ${5 * 86400L}"""))

  private val literalPredicates = Q(
    "filter_literal_predicates",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(
          col("l_returnflag") === "A" && col("l_linestatus") === "F" &&
            col("l_quantity").between(10, 30) &&
            col("l_discount").isin(0.05, 0.06, 0.07))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
      WHERE l_returnflag = 'A' AND l_linestatus = 'F'
      AND l_quantity BETWEEN 10 AND 30 AND l_discount IN (0.05, 0.06, 0.07)"""))

  private val projStageEvents = Q(
    "proj_stage_events",
    (s, d) =>
      evDf(s, d).select(
        col("event_id"),
        lower(col("event_type")).as("category"),
        col("epoch").as("epoch_timestamp"),
        year(timestamp_seconds(col("epoch"))).cast("string").as("year"),
        month(timestamp_seconds(col("epoch"))).cast("string").as("month"),
        col("value").cast("double").as("quantity")),
    Some(s"""WITH $EV
      SELECT event_id, lower(event_type) AS category, epoch AS epoch_timestamp,
      CAST(year(epoch_ms(epoch * 1000)) AS VARCHAR) AS year,
      CAST(month(epoch_ms(epoch * 1000)) AS VARCHAR) AS month,
      CAST(value AS DOUBLE) AS quantity FROM ev"""))

  private val dateParts = Q(
    "scalar_date_parts",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(
          year(col("o_orderdate")).cast("string").as("year"),
          month(col("o_orderdate")).cast("string").as("month"))
        .agg(count(lit(1)).as("n_orders")),
    Some("""SELECT CAST(year(o_orderdate) AS VARCHAR) AS year,
      CAST(month(o_orderdate) AS VARCHAR) AS month, COUNT(*) AS n_orders
      FROM orders GROUP BY 1, 2"""))

  private val epochExtract = Q(
    "scalar_epoch_extract",
    (s, d) => evDf(s, d).filter(col("event_id") < 1000).select("event_id", "epoch", "day"),
    Some(s"""WITH $EV SELECT event_id, epoch, day FROM ev WHERE event_id < 1000"""))

  private val substrBucket = Q(
    "scalar_substr_bucket",
    (s, d) =>
      Tables.customer(s, d)
        .groupBy(Scalars.addressBucket(col("c_name")).as("bucket"))
        .agg(count(lit(1)).as("n")),
    Some("SELECT substr(c_name, 3, 2) AS bucket, COUNT(*) AS n FROM customer GROUP BY 1"))

  private val ethConversion = Q(
    "scalar_eth_conversion",
    (s, d) =>
      evDf(s, d).select(
        col("event_id"),
        Scalars.toEth(
          when(col("event_type") === "view", lit(Scalars.ZeroAddress)).otherwise(col("event_type")),
          col("value"),
          pmod(col("user_id"), lit(3)) + lit(1L),
          (pmod(col("user_id"), lit(7)) + lit(1L)).cast("double")).as("quantity_in_eth")),
    Some(s"""WITH $EV
      SELECT event_id,
      CASE WHEN (CASE WHEN event_type = 'view' THEN '${Scalars.ZeroAddress}' ELSE event_type END) = '${Scalars.ZeroAddress}'
           THEN value / POWER(10.0, user_id % 3 + 1)
           ELSE value / POWER(10.0, user_id % 3 + 1) * CAST(user_id % 7 + 1 AS DOUBLE) END AS quantity_in_eth
      FROM ev"""))

  private val clampDiff = Q(
    "scalar_clamp_diff",
    (s, d) =>
      evDf(s, d).groupBy("user_id")
        .agg(
          coalesce(dsum(when(col("event_type") === "purchase", col("value"))), lit(0.0)).as("borrow"),
          coalesce(dsum(when(col("event_type") === "error", col("value"))), lit(0.0)).as("repay"))
        .select(col("user_id"), col("borrow"), col("repay"),
          Scalars.clampDiff(col("borrow"), col("repay")).as("borrow_repay_diff")),
    Some(s"""WITH $EV, a AS (SELECT user_id,
      COALESCE(${DS("CASE WHEN event_type = 'purchase' THEN value END")}, 0.0) AS borrow,
      COALESCE(${DS("CASE WHEN event_type = 'error' THEN value END")}, 0.0) AS repay
      FROM ev GROUP BY 1)
      SELECT user_id, borrow, repay,
      CASE WHEN borrow - repay < 0 THEN 0.0 ELSE borrow - repay END AS borrow_repay_diff FROM a"""))

  private val sentinelReplace = Q(
    "scalar_sentinel_replace",
    (s, d) =>
      evDf(s, d).groupBy("user_id")
        .agg(coalesce(lit(AsOfEpoch) - max(when(col("event_type") === "error", col("epoch"))), lit(0L)).as("raw"))
        .select(col("user_id"), Scalars.zeroToSentinel(col("raw")).as("time_since_last_error")),
    Some(s"""WITH $EV, r AS (SELECT user_id,
      COALESCE($AsOfEpoch - MAX(CASE WHEN event_type = 'error' THEN epoch END), 0) AS raw
      FROM ev GROUP BY 1)
      SELECT user_id, CAST(CASE WHEN raw = 0 THEN 999999999 ELSE raw END AS BIGINT) AS time_since_last_error FROM r"""))

  private val greatestLeast = Q(
    "scalar_greatest_least",
    (s, d) =>
      evDf(s, d).groupBy("user_id")
        .agg(
          count(when(col("event_type") === "click", 1)).as("n_click"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          count(when(col("event_type") === "error", 1)).as("n_error"),
          count(when(col("event_type") === "view", 1)).as("n_view"))
        .select(
          col("user_id"),
          greatest(col("n_click"), col("n_purchase"), col("n_error"), col("n_view")).as("max_mix"),
          least(col("n_click"), col("n_purchase"), col("n_error"), col("n_view")).as("min_mix"),
          (lit(1.0) / (least(col("n_click"), col("n_purchase"), col("n_error"), col("n_view")) + lit(1L)).cast("double")).as("inv_mix")),
    Some(s"""WITH $EV, a AS (SELECT user_id,
      COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
      COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
      COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
      COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
      FROM ev GROUP BY 1)
      SELECT user_id, GREATEST(n_click, n_purchase, n_error, n_view) AS max_mix,
      LEAST(n_click, n_purchase, n_error, n_view) AS min_mix,
      1.0 / CAST(LEAST(n_click, n_purchase, n_error, n_view) + 1 AS DOUBLE) AS inv_mix FROM a"""))

  private val coalesceNullif = Q(
    "scalar_coalesce_nullif",
    (s, d) =>
      evDf(s, d).groupBy("user_id")
        .agg(
          dsum(when(col("event_type") === "purchase", col("value"))).as("num"),
          dsum(when(col("event_type") === "click", col("value"))).as("den"))
        .select(col("user_id"), Scalars.safeDiv(col("num"), col("den")).as("purchase_per_click")),
    Some(s"""WITH $EV, a AS (SELECT user_id,
      ${DS("CASE WHEN event_type = 'purchase' THEN value END")} AS num,
      ${DS("CASE WHEN event_type = 'click' THEN value END")} AS den
      FROM ev GROUP BY 1)
      SELECT user_id, COALESCE(num / NULLIF(den, 0), 0.0) AS purchase_per_click FROM a"""))

  private val healthFactorCase = Q(
    "scalar_health_factor_case",
    (s, d) =>
      Tables.lineitem(s, d).groupBy("l_suppkey")
        .agg(
          dsum(col("l_extendedprice") * col("l_discount")).as("num"),
          dsum(col("l_quantity")).as("den"))
        .select(col("l_suppkey"),
          Scalars.healthFactor(col("num") * lit(0.8), col("den")).as("health_factor")),
    Some(s"""WITH a AS (SELECT l_suppkey,
      ${DS("l_extendedprice * l_discount")} AS num, ${DS("l_quantity")} AS den
      FROM lineitem GROUP BY 1)
      SELECT l_suppkey, ${hfSql("num * 0.8", "den")} AS health_factor FROM a"""))

  // ----------------------------------------------------------------------
  // joins / set ops / sorts / sinks
  // ----------------------------------------------------------------------

  /** Reference-shaped positions frame fabricated from click events
    * (FIXTURES.md §A.5 shape on testdata).
    */
  private def refPositions(e: DataFrame): DataFrame =
    e.filter(col("event_type") === "click").select(
      col("value").as("balance"),
      concat(lit("p"), col("event_id").cast("string")).as("id"),
      concat(lit("m"), pmod(col("user_id"), lit(10)).cast("string")).as("market_id"),
      when(pmod(col("user_id"), lit(2)) === 0, "BORROWER").otherwise("LENDER").as("side"),
      concat(lit("0xw"), col("user_id").cast("string")).as("account"),
      col("day").as("block_number"),
      when(pmod(col("user_id"), lit(2)) === 0, "aave").otherwise("compound").as("protocol"))

  /** Reference-shaped market-data frame (FIXTURES.md §A.4): per-market daily
    * price rows from view events plus the two per-protocol ETH reference
    * price rows from signup events.
    */
  private def refMarketData(e: DataFrame): DataFrame = {
    val mkts = e.filter(col("event_type") === "view")
      .groupBy(
        concat(lit("m"), pmod(col("user_id"), lit(10)).cast("string")).as("id"),
        col("day").as("block_number"))
      .agg(dsum(col("value")).as("input_token_price_usd"))
      .select(col("id"), col("id").as("name"), col("block_number"),
        col("input_token_price_usd"), lit(80.0).as("liquidation_threshold"),
        lit(2).as("decimals"), lit("none").as("protocol"))
    val eth = e.filter(col("event_type") === "signup")
      .groupBy(col("day").as("block_number"))
      .agg(dsum(col("value")).as("input_token_price_usd"))
    def ethRows(proto: String, marketName: String) =
      eth.select(
        lit(s"eth-$proto").as("id"), lit(marketName).as("name"), col("block_number"),
        col("input_token_price_usd"), lit(80.0).as("liquidation_threshold"),
        lit(18).as("decimals"), lit(proto).as("protocol"))
    mkts.unionByName(ethRows("aave", "Aave interest bearing WETH"))
      .unionByName(ethRows("compound", "Compound Ether"))
  }

  private val mergeCtes =
    s"""$EV,
      pos AS (SELECT value AS balance, 'p' || CAST(event_id AS VARCHAR) AS id,
        'm' || CAST(user_id % 10 AS VARCHAR) AS market_id,
        CASE WHEN user_id % 2 = 0 THEN 'BORROWER' ELSE 'LENDER' END AS side,
        '0xw' || CAST(user_id AS VARCHAR) AS account, day AS block_number,
        CASE WHEN user_id % 2 = 0 THEN 'aave' ELSE 'compound' END AS protocol
        FROM ev WHERE event_type = 'click'),
      mkts AS (SELECT 'm' || CAST(user_id % 10 AS VARCHAR) AS id, day AS block_number,
        ${DS("value")} AS price FROM ev WHERE event_type = 'view' GROUP BY 1, 2),
      ethp AS (SELECT day AS block_number, ${DS("value")} AS pp
        FROM ev WHERE event_type = 'signup' GROUP BY 1),
      ethp2 AS (SELECT block_number, 'aave' AS protocol, pp FROM ethp
        UNION ALL SELECT block_number, 'compound', pp FROM ethp)"""

  private val equi2Key = Q(
    "join_equi_2key_inner",
    (s, d) => {
      val e = evDf(s, d)
      graft.features.Analytics.mergeMarketAndPositions(refPositions(e), refMarketData(e))
        .select("id", "account", "block_number", "protocol", "side",
          "balance_in_usd", "balance_in_eth", "address_partition")
    },
    Some(s"""WITH $mergeCtes
      SELECT p.id, p.account, p.block_number, p.protocol, p.side,
        p.balance * m.price / POWER(10.0, 2) AS balance_in_usd,
        CASE WHEN p.balance * m.price / POWER(10.0, 2) = 0.0 OR e.pp = 0.0 THEN 0.0
             ELSE (1.0 / e.pp) * (p.balance * m.price / POWER(10.0, 2)) END AS balance_in_eth,
        substr(p.account, 3, 2) AS address_partition
      FROM pos p
      JOIN mkts m ON p.market_id = m.id AND p.block_number = m.block_number
      JOIN ethp2 e ON p.block_number = e.block_number AND p.protocol = e.protocol"""),
    bench = true)

  private[registry] def asOfInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = evDf(s, d)
    val trades = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "epoch", "value")
    val prices = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("epoch").as("price_epoch"), col("value").as("price"))
    (trades, prices)
  }

  private[registry] val asOfOracle = Some(s"""WITH $EV,
      trades AS (SELECT event_id, user_id, epoch, value FROM ev WHERE event_type = 'purchase'),
      prices AS (SELECT user_id, epoch AS price_epoch, value AS price FROM ev WHERE event_type = 'view'),
      lk AS (SELECT DISTINCT user_id, epoch FROM trades),
      mx AS (SELECT l.user_id, l.epoch, MAX(p.price_epoch) AS max_ts
        FROM lk l JOIN prices p ON p.user_id = l.user_id
          AND p.price_epoch BETWEEN l.epoch - 604800 AND l.epoch
        GROUP BY 1, 2)
      SELECT t.event_id, t.user_id, t.epoch, t.value, p.price AS asof_price
      FROM trades t
      LEFT JOIN mx ON mx.user_id = t.user_id AND mx.epoch = t.epoch
      LEFT JOIN prices p ON p.user_id = t.user_id AND p.price_epoch = mx.max_ts""")

  private val asOfPrice = Q(
    "join_asof_price_7d",
    (s, d) => {
      val (trades, prices) = asOfInputs(s, d)
      AsOfJoin.asOf(trades, prices, Seq("user_id"), "epoch", "price_epoch",
        tolerance = 604800L, rightValueCols = Seq("price"), rightPrefix = "asof_")
    },
    asOfOracle,
    bench = true)

  /** Nearest-direction as-of ([[AsOfJoin.asOfNearest]], ±1 day): closest
    * price either side, equal distance preferring the PAST. The oracle
    * encodes the (|dt|, side) winner as `MIN(d*2 + side)` — the same
    * lexicographic order as the engine's `min(struct(d, side))` — so the
    * direction choice itself is hash-checked on every row.
    */
  private val asOfNearestQ = Q(
    "join_asof_nearest",
    (s, d) => {
      val (trades, prices) = asOfInputs(s, d)
      AsOfJoin.asOfNearest(trades, prices, Seq("user_id"), "epoch", "price_epoch",
        tolerance = 86400L, rightValueCols = Seq("price"), rightPrefix = "near_")
    },
    Some(s"""WITH $EV,
      trades AS (SELECT event_id, user_id, epoch, value FROM ev WHERE event_type = 'purchase'),
      prices AS (SELECT user_id, epoch AS price_epoch, value AS price FROM ev WHERE event_type = 'view'),
      lk AS (SELECT DISTINCT user_id, epoch FROM trades),
      cand AS (SELECT l.user_id, l.epoch,
          ABS(p.price_epoch - l.epoch) AS dd,
          CASE WHEN p.price_epoch <= l.epoch THEN 0 ELSE 1 END AS side
        FROM lk l JOIN prices p ON p.user_id = l.user_id
          AND p.price_epoch BETWEEN l.epoch - 86400 AND l.epoch + 86400),
      best AS (SELECT user_id, epoch, MIN(dd * 2 + side) AS k FROM cand GROUP BY 1, 2),
      bt AS (SELECT user_id, epoch,
          CASE WHEN k % 2 = 0 THEN epoch - k // 2 ELSE epoch + (k - 1) // 2 END AS brt
        FROM best)
      SELECT t.event_id, t.user_id, t.epoch, t.value, p.price AS near_price
      FROM trades t
      LEFT JOIN bt ON bt.user_id = t.user_id AND bt.epoch = t.epoch
      LEFT JOIN prices p ON p.user_id = t.user_id AND p.price_epoch = bt.brt"""))

  /** PSI drift monitor ([[graft.quality.Constraints.driftPsi]]): the
    * value distribution of even days (the "training" snapshot) vs odd
    * days (the "serving" snapshot), 50-unit bins capped at 11 —
    * Laplace-smoothed RATIONAL shares, one quantized ln term per bin,
    * exact integer total; the oracle recomputes bins, smoothing,
    * quantization and the Σ from scratch.
    */
  private val driftPsiQ = Q(
    "dq_drift_psi",
    (s, d) => {
      val e = evDf(s, d).withColumn("bin",
        least(floor(col("value") / 50.0).cast("long"), lit(11L)))
      graft.quality.Constraints.driftPsi(
        e.filter(col("day") % 2 === 0), e.filter(col("day") % 2 === 1), "bin")
    },
    Some(s"""WITH $EV,
      v AS (SELECT day, LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 11) AS bin FROM ev),
      e AS (SELECT bin, COUNT(*) AS n_expected FROM v WHERE day % 2 = 0 GROUP BY 1),
      a AS (SELECT bin, COUNT(*) AS n_actual FROM v WHERE day % 2 = 1 GROUP BY 1),
      j AS (SELECT COALESCE(e.bin, a.bin) AS bin, COALESCE(n_expected, 0) AS n_expected,
          COALESCE(n_actual, 0) AS n_actual FROM e FULL JOIN a ON e.bin = a.bin),
      t AS (SELECT *, CAST(SUM(n_expected) OVER () AS BIGINT) AS te,
          CAST(SUM(n_actual) OVER () AS BIGINT) AS ta, COUNT(*) OVER () AS b FROM j),
      sh AS (SELECT bin, n_expected, n_actual,
          CAST(n_expected + 1 AS DOUBLE) / CAST(te + b AS DOUBLE) AS p,
          CAST(n_actual + 1 AS DOUBLE) / CAST(ta + b AS DOUBLE) AS q FROM t),
      u AS (SELECT *, CAST(FLOOR((p - q) * ln(p / q) * 1000000000.0) AS BIGINT) AS term_u
        FROM sh)
      SELECT bin, n_expected, n_actual, p, q, term_u,
        CAST(CAST(SUM(term_u) OVER () AS BIGINT) AS DOUBLE) / 1000000000.0 AS psi
      FROM u"""))

  /** The time-series flagship composition: raw irregular events → 6-hour
    * forward-filled grid ([[graft.operators.Timeseries.resampleFfill]]) →
    * integer-exact EWMA over the grid ([[graft.operators.Timeseries
    * .ewma]], α=1/4) → residual = value − smoothed → per-user median/MAD
    * anomaly flags ON THE RESIDUAL ([[graft.operators.Behavior
    * .robustAnomalies]]) — the classic detrended-outlier detector, every
    * stage recomputed by DuckDB from the raw events in ONE oracle
    * program (the `pipeline_training_build` discipline applied to market
    * data).
    */
  private val tsPipelineQ = {
    val step = 21600000000000L
    Q(
      "pipeline_timeseries_features",
      (s, d) => {
        val grid = graft.operators.Timeseries.resampleFfill(
          Tables.events(s, d), "user_id", "ts", "event_id", "value", step)
          .select(col("user_id"), col("grid_ts"), col("value"))
          .withColumn("gid", col("grid_ts"))
        val sm = graft.operators.Timeseries
          .ewma(grid, "user_id", "grid_ts", "gid", "value", 1L, 4L)
          .withColumn("resid", col("value") - col("ewma"))
        val fl = graft.operators.Behavior.robustAnomalies(
          sm.select("user_id", "gid", "resid"), "user_id", "gid", "resid", 3L, 1L)
        fl.join(sm.select(col("user_id"), col("gid"), col("grid_ts"),
            col("value"), col("ewma")), Seq("user_id", "gid"))
          .select(col("user_id"), col("grid_ts"), col("value"), col("ewma"),
            col("resid"), col("med"), col("mad"), col("dev"), col("is_anomaly"))
      },
      Some(s"""WITH RECURSIVE e AS (SELECT user_id, epoch_ns(ts) AS t, event_id AS id,
          value AS v FROM events),
        span AS (SELECT user_id, (MIN(t) + ${step - 1}) // $step AS lo,
            MAX(t) // $step AS hi FROM e GROUP BY 1),
        grid AS (SELECT user_id, unnest(range(lo, hi + 1)) * $step AS t
          FROM span WHERE lo <= hi),
        uu AS (SELECT user_id, t, id, v, 0 AS gf FROM e
          UNION ALL SELECT user_id, t, NULL, NULL, 1 FROM grid),
        ff AS (SELECT user_id, t, gf,
            last_value(CASE WHEN gf = 0 THEN v END IGNORE NULLS) OVER w AS ov
          FROM uu WINDOW w AS (PARTITION BY user_id ORDER BY t, gf, id
            ROWS UNBOUNDED PRECEDING)),
        g AS (SELECT user_id, t AS grid_ts, ov AS value FROM ff WHERE gf = 1),
        r AS MATERIALIZED (SELECT user_id, grid_ts, value,
            CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vu,
            row_number() OVER (PARTITION BY user_id ORDER BY grid_ts) AS rn FROM g),
        ew AS (SELECT user_id, rn, grid_ts, value, vu AS eu FROM r WHERE rn = 1
          UNION ALL SELECT r.user_id, r.rn, r.grid_ts, r.value,
            (1 * r.vu + 3 * ew.eu) // 4
          FROM r JOIN ew ON r.user_id = ew.user_id AND r.rn = ew.rn + 1),
        sm AS MATERIALIZED (SELECT user_id, grid_ts, value,
            CAST(eu AS DOUBLE) / 1000000.0 AS ewma,
            value - CAST(eu AS DOUBLE) / 1000000.0 AS resid FROM ew),
        rr AS (SELECT user_id, resid, grid_ts,
            row_number() OVER (PARTITION BY user_id ORDER BY resid, grid_ts) AS rn,
            COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM sm),
        med AS (SELECT user_id, resid AS med FROM rr WHERE rn = (cnt + 1) // 2),
        dv AS (SELECT s.user_id, s.grid_ts, s.value, s.ewma, s.resid, m.med,
            ABS(s.resid - m.med) AS dev
          FROM sm s JOIN med m USING (user_id)),
        r2 AS (SELECT user_id, dev, grid_ts,
            row_number() OVER (PARTITION BY user_id ORDER BY dev, grid_ts) AS rn,
            COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM dv),
        mad AS (SELECT user_id, dev AS mad FROM r2 WHERE rn = (cnt + 1) // 2)
        SELECT dv.user_id, dv.grid_ts, dv.value, dv.ewma, dv.resid, dv.med,
          mad.mad, dv.dev, dv.dev * 1.0 > mad.mad * 3.0 AS is_anomaly
        FROM dv JOIN mad USING (user_id)"""))
  }

  /** Generic point-in-interval range join, bin-replicated
    * ([[Relational.rangeJoinBinned]]): every purchase matched to every
    * 2-hour view-anchored window covering it. The oracle is the naive
    * BETWEEN join — the binning must be invisible in the result (each
    * qualifying pair exactly once: the point owns exactly one bin).
    */
  private val rangeJoinQ = Q(
    "join_range_binned",
    (s, d) => {
      val e = evDf(s, d)
      val pts = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "epoch", "value")
      val wins = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("epoch").as("win_lo"),
          (col("epoch") + 7200L).as("win_hi"), col("value").as("rate"))
      Relational.rangeJoinBinned(pts, wins, Seq("user_id"), "epoch",
        "win_lo", "win_hi", binWidth = 7200L, rightValueCols = Seq("rate"),
        rightPrefix = "w_")
    },
    Some(s"""WITH $EV,
      pts AS (SELECT event_id, user_id, epoch, value FROM ev WHERE event_type = 'purchase'),
      wins AS (SELECT user_id, epoch AS win_lo, epoch + 7200 AS win_hi, value AS rate
        FROM ev WHERE event_type = 'view')
      SELECT p.event_id, p.user_id, p.epoch, p.value,
        w.win_lo AS w_win_lo, w.win_hi AS w_win_hi, w.rate AS w_rate
      FROM pts p JOIN wins w ON w.user_id = p.user_id
        AND p.epoch BETWEEN w.win_lo AND w.win_hi"""))

  /** The NATIVE whole-operator path (custom LogicalPlan -> Strategy ->
    * sort-merge SparkPlan, one exchange per side) must also hash-match the
    * same oracle — prices are (user_id, price_epoch)-unique in this data,
    * so single-match merge semantics coincide with the argmax re-join.
    */
  private val asOfMergeQ = Q(
    "join_asof_merge",
    (s, d) => {
      val (trades, prices) = asOfInputs(s, d)
      AsOfJoin.asOfMerge(trades, prices, Seq("user_id"), "epoch", "price_epoch",
        tolerance = 604800L, rightValueCols = Seq("price"), rightPrefix = "asof_")
    },
    asOfOracle,
    bench = true)

  /** Salting must be INVISIBLE in the result — the salted merge (left
    * fanned across 8 salts, right history replicated per salt, the
    * hot-key intervention the r8 skew bench picked over the binned form)
    * hash-checks against the identical oracle as every other as-of.
    */
  private val asOfMergeSaltedQ = Q(
    "join_asof_merge_salted",
    (s, d) => {
      val (trades, prices) = asOfInputs(s, d)
      AsOfJoin.asOfMergeSalted(trades, prices, Seq("user_id"), "epoch", "price_epoch",
        tolerance = 604800L, rightValueCols = Seq("price"),
        nSalts = 8, saltFrom = "event_id", rightPrefix = "asof_")
    },
    asOfOracle)

  /** The binned scale path must be row-identical to [[AsOfJoin.asOf]] —
    * it shares the same oracle.
    */
  private val asOfBinned = Q(
    "join_asof_binned",
    (s, d) => {
      val (trades, prices) = asOfInputs(s, d)
      AsOfJoin.asOfBinned(trades, prices, Seq("user_id"), "epoch", "price_epoch",
        tolerance = 604800L, rightValueCols = Seq("price"), rightPrefix = "asof_")
    },
    asOfOracle)

  /** Forward as-of: each trade's label is the FIRST price strictly after it
    * within 7 days — the target-generation mirror of the trailing lookup,
    * oracle'd with the reflected argmin/re-join CTEs (open at the
    * observation instant, closed at the horizon).
    */
  private val asOfForwardOracle = Some(s"""WITH $EV,
      trades AS (SELECT event_id, user_id, epoch, value FROM ev WHERE event_type = 'purchase'),
      prices AS (SELECT user_id, epoch AS price_epoch, value AS price FROM ev WHERE event_type = 'view'),
      lk AS (SELECT DISTINCT user_id, epoch FROM trades),
      mn AS (SELECT l.user_id, l.epoch, MIN(p.price_epoch) AS min_ts
        FROM lk l JOIN prices p ON p.user_id = l.user_id
          AND p.price_epoch > l.epoch AND p.price_epoch <= l.epoch + 604800
        GROUP BY 1, 2)
      SELECT t.event_id, t.user_id, t.epoch, t.value, p.price AS label_price
      FROM trades t
      LEFT JOIN mn ON mn.user_id = t.user_id AND mn.epoch = t.epoch
      LEFT JOIN prices p ON p.user_id = t.user_id AND p.price_epoch = mn.min_ts""")

  private val asOfForwardQ = Q(
    "join_asof_forward",
    (s, d) => {
      val (trades, prices) = asOfInputs(s, d)
      AsOfJoin.asOfForward(trades, prices, Seq("user_id"), "epoch", "price_epoch",
        horizon = 604800L, rightValueCols = Seq("price"), rightPrefix = "label_")
    },
    asOfForwardOracle)

  /** The native merge exec's forward direction must hash-match the same
    * reflected argmin oracle as the composed [[AsOfJoin.asOfForward]].
    */
  private val asOfMergeForwardQ = Q(
    "join_asof_merge_forward",
    (s, d) => {
      val (trades, prices) = asOfInputs(s, d)
      AsOfJoin.asOfMergeForward(trades, prices, Seq("user_id"), "epoch", "price_epoch",
        horizon = 604800L, rightValueCols = Seq("price"), rightPrefix = "label_")
    },
    asOfForwardOracle)

  /** Point-in-time-correct TRAINING MATRIX: per-user features aggregated
    * strictly BEFORE the observation epoch (no future leakage) joined to a
    * forward label — the user's first purchase value in the 30 days after
    * it ([[AsOfJoin.asOfForward]]), plus the has_label flag a trainer
    * filters or weights on. The end-to-end shape a user of this engine
    * runs to produce supervised training data; every stage (the backward
    * feature window, the forward argmin label, the flag) is recomputed by
    * the oracle.
    */
  private val labeledFeaturesQ = Q(
    "pipeline_labeled_features",
    (s, d) => {
      val e = evDf(s, d)
      val obs = MidEpoch
      val feats = e.filter(col("epoch") < obs)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          dsum(col("value")).as("total_value"),
          max(col("epoch")).as("last_seen"))
        .withColumn("obs_epoch", lit(obs))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("epoch").as("p_epoch"), col("value").as("p_value"))
      AsOfJoin.asOfForward(feats, purchases, Seq("user_id"), "obs_epoch", "p_epoch",
        horizon = 2592000L, rightValueCols = Seq("p_value"), rightPrefix = "label_")
        .select(col("user_id"), col("n_events"), col("total_value"), col("last_seen"),
          col("label_p_value").isNotNull.as("has_label"),
          coalesce(col("label_p_value"), lit(0.0)).as("label_value"))
    },
    Some(s"""WITH $EV,
      feats AS (SELECT user_id, COUNT(*) AS n_events, ${DS("value")} AS total_value,
          MAX(epoch) AS last_seen
        FROM ev WHERE epoch < $MidEpoch GROUP BY 1),
      purchases AS (SELECT user_id, epoch AS p_epoch, value AS p_value FROM ev
        WHERE event_type = 'purchase'),
      mn AS (SELECT f.user_id, MIN(p.p_epoch) AS min_ts
        FROM feats f JOIN purchases p ON p.user_id = f.user_id
          AND p.p_epoch > $MidEpoch AND p.p_epoch <= $MidEpoch + 2592000
        GROUP BY 1)
      SELECT f.user_id, f.n_events, f.total_value, f.last_seen,
        p.p_value IS NOT NULL AS has_label,
        COALESCE(p.p_value, 0.0) AS label_value
      FROM feats f
      LEFT JOIN mn ON mn.user_id = f.user_id
      LEFT JOIN purchases p ON p.user_id = f.user_id AND p.p_epoch = mn.min_ts"""))

  private val antiBlocklist = Q(
    "join_left_null_reject",
    (s, d) => {
      val block = Tables.part(s, d).filter(col("p_size") > 45).select("p_partkey")
      Tables.lineitem(s, d)
        .join(block, col("l_partkey") === col("p_partkey"), "left_anti")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    },
    Some(s"""SELECT l.l_returnflag, COUNT(*) AS n, ${DS("l.l_quantity")} AS sum_qty
      FROM lineitem l
      LEFT JOIN (SELECT p_partkey FROM part WHERE p_size > 45) b ON l.l_partkey = b.p_partkey
      WHERE b.p_partkey IS NULL GROUP BY 1"""))

  private val innerMetadata = Q(
    "join_inner_metadata",
    (s, d) => {
      val dim = broadcast(Tables.part(s, d).filter(col("p_size") > 0).select("p_partkey", "p_brand"))
      Tables.lineitem(s, d)
        .join(dim, col("l_partkey") === col("p_partkey"), "inner")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
    },
    Some(s"""SELECT p.p_brand, COUNT(*) AS n, ${DS("l.l_extendedprice")} AS sum_price
      FROM lineitem l JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size > 0) p
      ON l.l_partkey = p.p_partkey GROUP BY 1"""))

  private val fullOuterMerge = Q(
    "join_full_outer_protocol_merge",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val a = li.filter(col("l_returnflag") === "A").groupBy("l_suppkey")
        .agg(dsum(col("l_quantity")).as("qty_a"), count(lit(1)).as("n_a"))
      val r = li.filter(col("l_returnflag") === "R").groupBy("l_suppkey")
        .agg(dsum(col("l_quantity")).as("qty_r"), count(lit(1)).as("n_r"))
      Relational.fullOuterCoalesceKey(a, r, "l_suppkey", "suppkey")
        .select(
          col("suppkey"),
          coalesce(col("l_qty_a"), lit(0.0)).as("qty_returned_a"),
          coalesce(col("r_qty_r"), lit(0.0)).as("qty_returned_r"),
          (coalesce(col("l_n_a"), lit(0L)) + coalesce(col("r_n_r"), lit(0L))).as("n_total"))
    },
    Some(s"""WITH a AS (SELECT l_suppkey, ${DS("l_quantity")} AS qty_a, COUNT(*) AS n_a
        FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1),
      r AS (SELECT l_suppkey, ${DS("l_quantity")} AS qty_r, COUNT(*) AS n_r
        FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)
      SELECT COALESCE(r.l_suppkey, a.l_suppkey) AS suppkey,
        COALESCE(a.qty_a, 0.0) AS qty_returned_a, COALESCE(r.qty_r, 0.0) AS qty_returned_r,
        COALESCE(a.n_a, 0) + COALESCE(r.n_r, 0) AS n_total
      FROM a FULL OUTER JOIN r ON a.l_suppkey = r.l_suppkey"""))

  private val argmaxLatest = Q(
    "join_argmax_latest_market",
    (s, d) =>
      Relational.latestPerGroupGeq(Tables.orders(s, d), "o_custkey", "o_orderdate")
        .select("o_custkey", "o_orderkey", "o_totalprice"),
    Some("""SELECT o.o_custkey, o.o_orderkey, o.o_totalprice
      FROM orders o JOIN (SELECT o_custkey, MAX(o_orderdate) AS m FROM orders GROUP BY 1) x
      ON o.o_custkey = x.o_custkey WHERE o.o_orderdate >= x.m"""))

  def featureChain(s: SparkSession, d: String): DataFrame = {
    val e = evDf(s, d)
    val spine = Relational.unionDistinct("wallet_id", Seq(
      e.filter(col("event_type") === "purchase").select(col("user_id")),
      e.filter(col("event_type") === "click").select(col("user_id")),
      Tables.orders(s, d).select(col("o_custkey"))))
    val f1 = e.filter(col("event_type") === "purchase").groupBy("user_id")
      .agg(dsum(col("value")).as("sum_purchase"), countDistinct(col("event_id")).as("n_purchase"))
    val f2 = e.filter(col("event_type") === "click").groupBy("user_id")
      .agg(davg(col("value")).as("avg_click"))
    val f3 = e.filter(col("event_type") === "error").groupBy("user_id")
      .agg(count(lit(1)).as("n_error"))
    val s1 = Relational.leftFeatureJoin(spine, f1, "wallet_id", "user_id",
      Map("sum_purchase" -> lit(0.0), "n_purchase" -> lit(0L)))
    val s2 = Relational.leftFeatureJoin(s1, f2, "wallet_id", "user_id",
      Map("avg_click" -> lit(0.0)))
    Relational.leftFeatureJoin(s2, f3, "wallet_id", "user_id",
      Map("n_error" -> lit(0L)))
  }

  private val featureChainQ = Q(
    "join_left_feature_chain",
    (s, d) => featureChain(s, d),
    Some(s"""WITH $EV,
      spine AS (SELECT DISTINCT wallet_id FROM (
        SELECT user_id AS wallet_id FROM ev WHERE event_type = 'purchase'
        UNION ALL SELECT user_id FROM ev WHERE event_type = 'click'
        UNION ALL SELECT o_custkey FROM orders)),
      f1 AS (SELECT user_id, ${DS("value")} AS sum_purchase, COUNT(DISTINCT event_id) AS n_purchase
        FROM ev WHERE event_type = 'purchase' GROUP BY 1),
      f2 AS (SELECT user_id, ${DA("value")} AS avg_click FROM ev WHERE event_type = 'click' GROUP BY 1),
      f3 AS (SELECT user_id, COUNT(*) AS n_error FROM ev WHERE event_type = 'error' GROUP BY 1)
      SELECT DISTINCT s.wallet_id,
        COALESCE(f1.sum_purchase, 0.0) AS sum_purchase, COALESCE(f1.n_purchase, 0) AS n_purchase,
        COALESCE(f2.avg_click, 0.0) AS avg_click, COALESCE(f3.n_error, 0) AS n_error
      FROM spine s
      LEFT JOIN f1 ON s.wallet_id = f1.user_id
      LEFT JOIN f2 ON s.wallet_id = f2.user_id
      LEFT JOIN f3 ON s.wallet_id = f3.user_id"""),
    bench = true)

  /** Shared (sender, account) pair + per-(user, day) hf frames for the
    * union/disjunctive/reassign join patterns.
    */
  private def pairsDf(e: DataFrame): DataFrame =
    e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("sender"),
        pmod(col("user_id") * 7 + 3, lit(150)).as("account"))
      .distinct()

  private def hfDf(e: DataFrame): DataFrame =
    e.filter(col("event_type") === "error")
      .groupBy(col("user_id").as("hf_user"), col("day").as("hf_day"))
      .agg(coalesce(dsum(col("value")), lit(0.0)).as("hfv"))

  private val pairsCtes = s"""$EV,
      pairs AS (SELECT DISTINCT user_id AS sender, (user_id * 7 + 3) % 150 AS account
        FROM ev WHERE event_type = 'purchase'),
      hf AS (SELECT user_id AS hf_user, day AS hf_day, COALESCE(${DS("value")}, 0.0) AS hfv
        FROM ev WHERE event_type = 'error' GROUP BY 1, 2)"""

  private val unionAccountSender = Q(
    "join_left_union_account_sender",
    (s, d) => {
      val e = evDf(s, d)
      val pairs = pairsDf(e)
      val hf = hfDf(e)
      val viaAccount = pairs.join(hf, pairs("account") === hf("hf_user"), "left")
        .select(col("sender"), col("account"), col("hf_day"), col("hfv"))
      val viaSender = pairs.join(hf, pairs("sender") === hf("hf_user"), "left")
        .select(col("sender"), col("account"), col("hf_day"), col("hfv"))
      viaAccount.union(viaSender).distinct()
        .groupBy("sender")
        .agg(davg(col("hfv")).as("avg_hf"), count(lit(1)).as("n_rows"))
    },
    Some(s"""WITH $pairsCtes,
      u AS (SELECT p.sender, p.account, h.hf_day, h.hfv FROM pairs p LEFT JOIN hf h ON p.account = h.hf_user
            UNION
            SELECT p.sender, p.account, h.hf_day, h.hfv FROM pairs p LEFT JOIN hf h ON p.sender = h.hf_user)
      SELECT sender, ${DA("hfv")} AS avg_hf, COUNT(*) AS n_rows FROM u GROUP BY 1"""))

  private val liquidationReassign = Q(
    "join_liquidation_reassign",
    (s, d) => {
      val e = evDf(s, d)
      val pairs = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("sender"), pmod(col("event_id"), lit(150)).as("account"))
        .distinct()
      val liq = e.filter(col("event_type") === "error")
        .groupBy(col("user_id").as("account_id"))
        .agg(
          coalesce(dsum(col("value")), lit(0.0)).as("sum_liq"),
          Scalars.zeroToSentinel(
            coalesce(lit(AsOfEpoch) - max(col("epoch")), lit(0L))).as("time_since_liq"))
      pairs.join(liq, pairs("account") === liq("account_id"), "left")
        .groupBy("sender")
        .agg(
          coalesce(dsum(col("sum_liq")), lit(0.0)).as("total_liq"),
          min(col("time_since_liq")).as("min_time_since_liq"),
          max(col("sum_liq")).as("max_liq"),
          count(lit(1)).as("n_accounts"))
    },
    Some(s"""WITH $EV,
      pairs AS (SELECT DISTINCT user_id AS sender, event_id % 150 AS account
        FROM ev WHERE event_type = 'purchase'),
      liq AS (SELECT user_id AS account_id, COALESCE(${DS("value")}, 0.0) AS sum_liq,
        CAST(CASE WHEN COALESCE($AsOfEpoch - MAX(epoch), 0) = 0 THEN 999999999
                  ELSE COALESCE($AsOfEpoch - MAX(epoch), 0) END AS BIGINT) AS time_since_liq
        FROM ev WHERE event_type = 'error' GROUP BY 1)
      SELECT p.sender, COALESCE(${DS("l.sum_liq")}, 0.0) AS total_liq,
        MIN(l.time_since_liq) AS min_time_since_liq, MAX(l.sum_liq) AS max_liq,
        COUNT(*) AS n_accounts
      FROM pairs p LEFT JOIN liq l ON p.account = l.account_id GROUP BY 1"""))

  private val disjunctiveTheta = Q(
    "join_left_disjunctive_theta",
    (s, d) => {
      val e = evDf(s, d)
      Relational.disjunctiveLeftJoin(pairsDf(e), hfDf(e), Seq("account", "sender"), "hf_user",
        col("hfv") < 50)
        .groupBy("sender", "account")
        .agg(countDistinct(col("hf_day")).as("n_days_at_risk"))
    },
    Some(s"""WITH $pairsCtes
      SELECT p.sender, p.account, COUNT(DISTINCT h.hf_day) AS n_days_at_risk
      FROM pairs p LEFT JOIN hf h
        ON (p.account = h.hf_user OR p.sender = h.hf_user) AND h.hfv < 50
      GROUP BY 1, 2"""))

  private val countDistinctBelow = Q(
    "agg_count_distinct_blocks_below_threshold",
    (s, d) => {
      val e = evDf(s, d)
      Relational.disjunctiveLeftJoin(pairsDf(e), hfDf(e), Seq("account", "sender"), "hf_user",
        col("hfv") < 100)
        .groupBy("sender")
        .agg(countDistinct(col("hf_day")).as("n_days_at_risk"))
    },
    Some(s"""WITH $pairsCtes
      SELECT p.sender, COUNT(DISTINCT h.hf_day) AS n_days_at_risk
      FROM pairs p LEFT JOIN hf h
        ON (p.account = h.hf_user OR p.sender = h.hf_user) AND h.hfv < 100
      GROUP BY 1"""))

  /** Engine-side semantics of the address-list-filtered source
    * (src_graphql_address_filtered): a LEFT SEMI join against an explicit
    * key list — what the reference pushes to the GraphQL API as
    * `account_in: $address_list`, here pushed into the scan via a
    * broadcast semi join.
    */
  private val semiAddressList = Q(
    "join_semi_address_list",
    (s, d) => {
      val e = evDf(s, d)
      val addressList = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("wallet_id"))
      e.join(broadcast(addressList), e("user_id") === addressList("wallet_id"), "left_semi")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    },
    Some(s"""WITH $EV
      SELECT user_id, COUNT(*) AS n_events, ${DS("value")} AS sum_value
      FROM ev WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      GROUP BY 1"""))

  private val unionAllAddresses = Q(
    "set_union_all_addresses",
    (s, d) => {
      val e = evDf(s, d)
      Relational.unionDistinct("wallet_id",
        Seq("click", "view", "purchase", "signup", "error").map(t =>
          e.filter(col("event_type") === t).select(col("user_id"))) :+
          Tables.orders(s, d).select(col("o_custkey")))
    },
    Some(s"""WITH $EV
      SELECT DISTINCT wallet_id FROM (
        SELECT user_id AS wallet_id FROM ev WHERE event_type = 'click'
        UNION ALL SELECT user_id FROM ev WHERE event_type = 'view'
        UNION ALL SELECT user_id FROM ev WHERE event_type = 'purchase'
        UNION ALL SELECT user_id FROM ev WHERE event_type = 'signup'
        UNION ALL SELECT user_id FROM ev WHERE event_type = 'error'
        UNION ALL SELECT o_custkey FROM orders)"""),
    bench = true)

  /** groupBy().pivot() with an EXPLICIT value list (no discovery pass — at
    * 100 TB the distinct-scan to infer pivot values is a full extra job;
    * a declared domain keeps it one shuffle). Empty cells coalesce to 0 on
    * both sides so the pivot null convention can't leak into the compare.
    */
  private val pivotEvents = Q(
    "agg_pivot_events",
    (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      evDf(s, d)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)).as("n"), dsum(abs(col("value"))).as("v"))
        .select(col("user_id") +: types.flatMap(t => Seq(
          coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n"),
          coalesce(col(s"${t}_v"), lit(0.0)).as(s"${t}_v"))): _*)
    },
    Some(s"""WITH $EV
      SELECT user_id,
        ${Seq("click", "error", "purchase", "signup", "view").map(t =>
          s"COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS ${t}_n, " +
          s"COALESCE(${DS(s"CASE WHEN event_type = '$t' THEN ABS(value) END")}, 0.0) AS ${t}_v")
          .mkString(",\n        ")}
      FROM ev GROUP BY 1"""))

  /** ROLLUP over (protocol, week): subtotal + grand-total rows with the
    * standard NULL markers, matching DuckDB's GROUP BY ROLLUP exactly.
    */
  private val rollupWeekly = Q(
    "agg_rollup_weekly",
    (s, d) =>
      evDf(s, d)
        .withColumn("proto",
          when(pmod(col("user_id"), lit(2)) === 0, "aave").otherwise("compound"))
        .withColumn("wk", expr("day div 7"))
        .rollup("proto", "wk")
        .agg(count(lit(1)).as("n"), dsum(abs(col("value"))).as("v")),
    Some(s"""WITH $EV
      SELECT CASE WHEN user_id % 2 = 0 THEN 'aave' ELSE 'compound' END AS proto,
        day // 7 AS wk, COUNT(*) AS n, ${DS("ABS(value)")} AS v
      FROM ev GROUP BY ROLLUP(proto, wk)"""))

  /** CUBE over (protocol, week): all four grouping combinations in ONE
    * pass (Spark expands the grouping sets before the single hash
    * aggregate — no union of re-scans), with `grouping_id()` carried so
    * consumers can tell subtotal rows apart. Spark and DuckDB share the
    * bit convention (first grouping column = most significant bit).
    */
  private val cubeWeekly = Q(
    "agg_cube_weekly",
    (s, d) =>
      evDf(s, d)
        .withColumn("proto",
          when(pmod(col("user_id"), lit(2)) === 0, "aave").otherwise("compound"))
        .withColumn("wk", expr("day div 7"))
        .cube("proto", "wk")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"), dsum(abs(col("value"))).as("v")),
    Some(s"""WITH $EV
      SELECT CASE WHEN user_id % 2 = 0 THEN 'aave' ELSE 'compound' END AS proto,
        day // 7 AS wk, GROUPING(proto, wk) AS gid, COUNT(*) AS n, ${DS("ABS(value)")} AS v
      FROM ev GROUP BY CUBE(proto, wk)"""))

  /** Explicit GROUPING SETS — the general form pivot/rollup/cube compile
    * to: per-protocol totals, per-week totals, and the grand total, but NOT
    * the (proto, wk) cross — exactly the subtotal set a reporting layer
    * asks for, in one aggregate pass instead of three scans + union.
    * SQL-surface form (GROUPING SETS has no DataFrame method), run through
    * the session the registry query receives.
    */
  private val groupingSetsQ = Q(
    "agg_grouping_sets",
    (s, d) => {
      evDf(s, d)
        .withColumn("proto",
          when(pmod(col("user_id"), lit(2)) === 0, "aave").otherwise("compound"))
        .withColumn("wk", expr("day div 7"))
        .createOrReplaceTempView("graft_gs_ev")
      s.sql("""SELECT proto, wk, grouping_id() AS gid, COUNT(1) AS n,
          CAST(SUM(CAST(ABS(value) AS DECIMAL(38,6))) AS DOUBLE) AS v
        FROM graft_gs_ev GROUP BY GROUPING SETS ((proto), (wk), ())""")
    },
    Some(s"""WITH $EV
      SELECT CASE WHEN user_id % 2 = 0 THEN 'aave' ELSE 'compound' END AS proto,
        day // 7 AS wk, GROUPING(proto, wk) AS gid, COUNT(*) AS n, ${DS("ABS(value)")} AS v
      FROM ev GROUP BY GROUPING SETS ((proto), (wk), ())"""))

  /** Approximate median under the same bound-assertion discipline as
    * `agg_approx_distinct`: sketches differ across engines, their
    * GUARANTEES don't. `percentile_approx(value, 0.5, acc)` promises the
    * returned value's exact rank is within n/acc of the target rank; the
    * engine recomputes that rank exactly (one broadcast-joined second
    * pass over the deterministic per-(type, value) pre-aggregate) and
    * emits the bound check as a boolean the oracle asserts TRUE with
    * independently-computed group sizes — a sketch regression flips the
    * bool and reds the hash row.
    */
  private val approxQuantileBound = Q(
    "agg_approx_quantile_bound",
    (s, d) => {
      val base = evDf(s, d).select(col("event_type"), abs(col("value")).as("av"))
      val approx = base.groupBy("event_type")
        .agg(percentile_approx(col("av"), lit(0.5), lit(1000)).as("__ap"),
          count(lit(1)).as("n"))
      base.join(broadcast(approx), Seq("event_type"))
        .groupBy(col("event_type"), col("n"))
        .agg(sum(when(col("av") <= col("__ap"), 1L).otherwise(0L)).as("__rank"))
        .select(col("event_type"), col("n"),
          (abs(col("__rank").cast("double") - lit(0.5) * col("n").cast("double"))
            <= col("n").cast("double") / lit(1000.0) + lit(1.0)).as("within_rank_bound"))
    },
    Some(s"""WITH $EV
      SELECT event_type, COUNT(*) AS n, TRUE AS within_rank_bound
      FROM ev GROUP BY 1"""))

  /** Trailing 7-day moving sum per user as a RANGE window over integer
    * days (pre-aggregated to one row per (user, day) first, so the window
    * input is deterministic and the frame is value-based, not row-based).
    * The windowed sum accumulates in decimal — order-independent — and the
    * day-over-day delta subtracts identical doubles (exact both engines).
    */
  private val movingSum = Q(
    "window_moving_sum_7d",
    (s, d) => {
      // ONE shuffle, not two: hash-partitioning by user_id alone satisfies
      // the (user_id, day) aggregation's clustered distribution AND the
      // user_id window's — the daily rollup and both windows run without a
      // second exchange (PlanSpec asserts exchanges == 1)
      val daily = evDf(s, d).repartition(col("user_id")).groupBy("user_id", "day")
        .agg(dsum(abs(col("value"))).as("dval"))
      val w7 = Window.partitionBy("user_id").orderBy("day").rangeBetween(-6, 0)
      val w1 = Window.partitionBy("user_id").orderBy("day")
      daily
        .withColumn("mov7",
          sum(col("dval").cast("decimal(38,6)")).over(w7).cast("double"))
        .withColumn("delta", col("dval") - lag(col("dval"), 1, 0.0).over(w1))
    },
    Some(s"""WITH $EV,
      daily AS (SELECT user_id, day, ${DS("ABS(value)")} AS dval FROM ev GROUP BY 1, 2)
      SELECT user_id, day, dval,
        CAST(SUM(CAST(dval AS DECIMAL(38,6))) OVER (PARTITION BY user_id ORDER BY day
          RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS mov7,
        dval - COALESCE(LAG(dval) OVER (PARTITION BY user_id ORDER BY day), 0.0) AS delta
      FROM daily"""))

  /** Per-user DISCRETE median (lower of the two middles at even n): pure
    * integer rank logic over a deterministic (value, event_id) order — the
    * selected value is an existing row's double, so no interpolation
    * arithmetic can diverge across engines.
    */
  private val medianDisc = Q(
    "agg_median_disc",
    (s, d) => {
      val wr = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
      evDf(s, d)
        .withColumn("rn", row_number().over(wr))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("user_id"), col("value").as("median_disc"), col("cnt").as("n"))
    },
    Some(s"""WITH $EV,
      r AS (SELECT user_id, value, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM ev)
      SELECT user_id, value AS median_disc, cnt AS n
      FROM r WHERE rn = (cnt + 1) // 2"""))

  /** Per-user INTERPOLATED median (ANSI `percentile_cont(0.5)`): the two
    * middle rows by the same deterministic (value, event_id) rank rule as
    * [[medianDisc]], averaged with ONE mirrored double operation —
    * `(lo + hi) / 2.0` of verbatim row doubles, exact on any engine (at
    * odd n the two positions coincide and the division is a no-op
    * identity on the row value... / 2.0 of x+x is exact). Same shape:
    * rank windows over the user partitioning, no interpolation weights.
    */
  private val medianCont = Q(
    "agg_median_cont",
    (s, d) => {
      val wr = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
      evDf(s, d)
        .withColumn("rn", row_number().over(wr))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
        .filter(col("rn") === expr("(cnt + 1) div 2") || col("rn") === expr("(cnt + 2) div 2"))
        .groupBy("user_id")
        .agg(((min(col("value")) + max(col("value"))) / 2.0).as("median_cont"),
          max(col("cnt")).as("n"))
    },
    Some(s"""WITH $EV,
      r AS (SELECT user_id, value, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM ev)
      SELECT user_id, (MIN(value) + MAX(value)) / 2.0 AS median_cont, MAX(cnt) AS n
      FROM r WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
      GROUP BY user_id"""))

  /** Per-user MAD (median absolute deviation around the discrete median):
    * the robust spread statistic, as two stacked discrete-median passes —
    * both pure integer rank logic over deterministic orders, and the
    * deviation `|value - med|` subtracts identical doubles (exact on every
    * engine). No interpolation arithmetic anywhere.
    */
  private val madDisc = Q(
    "agg_mad",
    (s, d) => {
      val wr = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
      val wc = Window.partitionBy("user_id")
      val med = evDf(s, d)
        .withColumn("rn", row_number().over(wr))
        .withColumn("cnt", count(lit(1)).over(wc))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("user_id"), col("value").as("med"))
      val wd = Window.partitionBy("user_id").orderBy(col("dev"), col("event_id"))
      evDf(s, d)
        .join(med, "user_id")
        .withColumn("dev", abs(col("value") - col("med")))
        .withColumn("rn", row_number().over(wd))
        .withColumn("cnt", count(lit(1)).over(wc))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("user_id"), col("med"), col("dev").as("mad"), col("cnt").as("n"))
    },
    Some(s"""WITH $EV,
      r AS (SELECT user_id, value, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM ev),
      med AS (SELECT user_id, value AS med FROM r WHERE rn = (cnt + 1) // 2),
      dv AS (SELECT e.user_id, ABS(e.value - m.med) AS dev, e.event_id, m.med
        FROM ev e JOIN med m ON e.user_id = m.user_id),
      r2 AS (SELECT user_id, med, dev, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY dev, event_id) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM dv)
      SELECT user_id, med, dev AS mad, cnt AS n FROM r2 WHERE rn = (cnt + 1) // 2"""))

  /** Top-3 events by value per user through the native map-side-bounded
    * [[graft.functions.expressions.TopKByScore]] aggregate — the shuffle
    * carries at most k rows per user per partition instead of the whole
    * fact table (the window form sorts every row). The oracle IS the
    * window form: same (value DESC, event_id ASC) order, so the heap's
    * tie rule is hash-checked against row_number.
    */
  private val topkPerGroup = Q(
    "agg_topk_per_group",
    (s, d) =>
      evDf(s, d).groupBy("user_id")
        .agg(org.apache.spark.sql.graftnative.NativeColumns
          .topKByScore(col("value"), col("event_id"), 3).as("tk"))
        .select(col("user_id"), posexplode(col("tk")))
        .select(col("user_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.score").as("value"), col("col.id").as("event_id")),
    Some(s"""WITH $EV,
      r AS (SELECT user_id, value, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rank
        FROM ev)
      SELECT user_id, rank, value, event_id FROM r WHERE rank <= 3"""))

  /** Semi-structured JSON fixture: a nested JSON document built from event
    * fields by deterministic string concat (integers and bare words only —
    * float formatting never enters a JSON string), with `event_id % 13`
    * rows TRUNCATED mid-array (the malformed case every lake ingest
    * carries). Both engines then run their REAL JSON parsers over it —
    * construction is mirrored, extraction is independent.
    */
  private def jsonFixture(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(
      col("event_id"), expr("ts div 86400000000000").as("day"),
      col("user_id"), col("event_type"), col("props"))
    val full = concat(
      lit("{\"u\":"), col("user_id").cast("string"),
      lit(",\"ty\":\""), col("event_type"),
      lit("\",\"m\":{\"d\":"), col("day").cast("string"),
      lit(",\"seq\":["), pmod(col("event_id"), lit(7L)).cast("string"),
      lit(","), pmod(col("event_id"), lit(11L)).cast("string"), lit("]}}"))
    e.withColumn("j",
      when(pmod(col("event_id"), lit(13L)) === 0,
        full.substr(lit(1), length(full) - 5)).otherwise(full))
  }

  private val JF: String =
    """jf AS (SELECT event_id, epoch_ns(ts)//86400000000000 AS day, user_id,
        event_type, props,
        '{"u":' || CAST(user_id AS VARCHAR) || ',"ty":"' || event_type ||
        '","m":{"d":' || CAST(epoch_ns(ts)//86400000000000 AS VARCHAR) ||
        ',"seq":[' || CAST(event_id % 7 AS VARCHAR) || ',' ||
        CAST(event_id % 11 AS VARCHAR) || ']}}' AS fullj
      FROM events),
      jd AS (SELECT event_id, user_id, event_type, props,
        CASE WHEN event_id % 13 = 0 THEN substr(fullj, 1, length(fullj) - 5)
          ELSE fullj END AS j FROM jf)"""

  /** Typed path extraction from nested JSON (`get_json_object` — codegen'd,
    * no UDF): top-level scalar, quoted string, nested object field, array
    * index, plus the real `props` column's key. Malformed rows yield NULL
    * on every path (never throw — the corrupt-row-is-data contract);
    * DuckDB re-parses with its own JSON engine behind a json_valid guard.
    */
  private val jsonExtract = Q(
    "scalar_json_extract",
    (s, d) => jsonFixture(s, d).select(
      col("event_id"),
      get_json_object(col("j"), "$.u").cast("long").as("ju"),
      get_json_object(col("j"), "$.ty").as("jty"),
      get_json_object(col("j"), "$.m.d").cast("long").as("jd"),
      get_json_object(col("j"), "$.m.seq[1]").cast("long").as("js1"),
      get_json_object(col("props"), "$.k").cast("long").as("pk")),
    Some(s"""WITH $JF
      SELECT event_id,
        CASE WHEN json_valid(j) THEN CAST(json_extract_string(j, '$$.u') AS BIGINT) END AS ju,
        CASE WHEN json_valid(j) THEN json_extract_string(j, '$$.ty') END AS jty,
        CASE WHEN json_valid(j) THEN CAST(json_extract_string(j, '$$.m.d') AS BIGINT) END AS jd,
        CASE WHEN json_valid(j) THEN CAST(json_extract_string(j, '$$.m.seq[1]') AS BIGINT) END AS js1,
        CAST(json_extract_string(props, '$$.k') AS BIGINT) AS pk
      FROM jd"""))

  /** JSON array explosion through a TYPED `from_json` (partial schema —
    * only the needed subtree is parsed): one row per array element with
    * its position; malformed documents parse to null and drop. The oracle
    * re-walks the array by index with its own parser.
    */
  private val jsonExplodeSeq = Q(
    "json_explode_seq",
    (s, d) => jsonFixture(s, d)
      .select(col("event_id"),
        from_json(col("j"), org.apache.spark.sql.types.StructType.fromDDL(
          "m struct<seq:array<bigint>>"))
          .getField("m").getField("seq").as("sq"))
      .filter(col("sq").isNotNull)
      .select(col("event_id"), posexplode(col("sq")))
      .select(col("event_id"), col("pos").cast("long").as("pos"), col("col").as("v")),
    Some(s"""WITH $JF
      SELECT event_id, CAST(i AS BIGINT) AS pos,
        CAST(json_extract_string(j, '$$.m.seq[' || CAST(i AS VARCHAR) || ']') AS BIGINT) AS v
      FROM (SELECT event_id, j,
          unnest(range(CAST(json_array_length(j::JSON, '$$.m.seq') AS BIGINT))) AS i
        FROM jd WHERE json_valid(j))"""))

  /** Schema-drift profile of a JSON column: top-level key frequencies
    * (`json_object_keys`) plus the malformed-document count — the
    * monitoring query a lake ingest runs to catch producers changing
    * their payload shape. Order-free aggregation; both parsers must agree
    * on exactly which documents are objects and what keys they carry.
    */
  private val jsonKeysProfile = Q(
    "agg_json_keys_profile",
    (s, d) => {
      val ks = jsonFixture(s, d)
        .select(json_object_keys(col("j")).as("ks"))
      ks.filter(col("ks").isNotNull)
        .select(explode(col("ks")).as("key"))
        .groupBy("key").agg(count(lit(1)).as("n"))
        .unionByName(ks.filter(col("ks").isNull)
          .agg(count(lit(1)).as("n")).select(lit("__invalid").as("key"), col("n")))
    },
    Some(s"""WITH $JF
      SELECT key, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(json_keys(j)) AS key FROM jd WHERE json_valid(j)) t
      GROUP BY 1
      UNION ALL
      SELECT '__invalid', CAST(COUNT(*) AS BIGINT) FROM jd WHERE NOT json_valid(j)"""))

  private val sortPagination = Q(
    "sort_pagination",
    (s, d) =>
      evDf(s, d).orderBy(col("value").desc, col("event_id")).limit(100)
        .select("event_id", "user_id", "value"),
    Some(s"""WITH $EV
      SELECT event_id, user_id, value FROM ev ORDER BY value DESC, event_id LIMIT 100"""))

  private val upsertKeyed = Q(
    "snk_upsert_keyed",
    (s, d) => {
      val e = evDf(s, d)
      def aggOf(df: DataFrame) =
        df.groupBy("user_id").agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
      val base = aggOf(e.filter(col("epoch") < MidEpoch))
      val upd = aggOf(e.filter(col("epoch") >= MidEpoch))
      val path = Registry.scratch(s, "upsert", d)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      Incremental.upsertByKey(s, base, path, "user_id")
      Incremental.upsertByKey(s, upd, path, "user_id")
      Snapshots.readCurrent(s, path)
    },
    Some(s"""WITH $EV,
      base AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch < $MidEpoch GROUP BY 1),
      upd AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch >= $MidEpoch GROUP BY 1)
      SELECT COALESCE(u.user_id, b.user_id) AS user_id, COALESCE(u.total, b.total) AS total,
        COALESCE(u.n, b.n) AS n
      FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id"""))

  /** The bucket-pruned twin of `snk_upsert_keyed`: same two upserts through
    * [[graft.operators.BucketedSnapshots.upsertByKey]] (16 hash buckets,
    * only touched buckets rewritten — BucketedSnapshotsSpec counts the
    * untouched dirs being reused), same oracle — the layout must be
    * invisible to the logical result.
    */
  private val upsertBucketed = Q(
    "snk_upsert_bucketed",
    (s, d) => {
      val e = evDf(s, d)
      def aggOf(df: DataFrame) =
        df.groupBy("user_id").agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
      val base = aggOf(e.filter(col("epoch") < MidEpoch))
      val upd = aggOf(e.filter(col("epoch") >= MidEpoch))
      val path = Registry.scratch(s, "upsertb", d)
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      graft.operators.BucketedSnapshots.upsertByKey(s, base, path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.upsertByKey(s, upd, path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.readCurrent(s, path)
    },
    Some(s"""WITH $EV,
      base AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch < $MidEpoch GROUP BY 1),
      upd AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch >= $MidEpoch GROUP BY 1)
      SELECT COALESCE(u.user_id, b.user_id) AS user_id, COALESCE(u.total, b.total) AS total,
        COALESCE(u.n, b.n) AS n
      FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id"""))

  /** The pointer-committed BUCKETED table ([[graft.operators
    * .BucketedSnapshots]]): touched-buckets-only write amplification AND
    * one-atomic-flip commits with snapshot isolation — the same two
    * upserts, but the first commit's version is PINNED and re-read AFTER
    * the second commits ('pinned' rows must equal the base-only state:
    * the second commit reused the untouched bucket dirs and never
    * mutated the pinned manifest's), unioned with the live view
    * ('current' = the full merge). BucketedSnapshotsSpec counts the
    * untouched dirs being literally REUSED across manifests.
    */
  private val upsertBucketedVersioned = Q(
    "snk_upsert_bucketed_versioned",
    (s, d) => {
      val e = evDf(s, d)
      def aggOf(df: DataFrame) =
        df.groupBy("user_id").agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
      val base = aggOf(e.filter(col("epoch") < MidEpoch))
      val upd = aggOf(e.filter(col("epoch") >= MidEpoch))
      val path = Registry.scratch(s, "upsertbv", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val v1 = graft.operators.BucketedSnapshots.upsertByKey(
        s, base, path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.upsertByKey(
        s, upd, path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.readSnapshot(s, path, v1)
        .withColumn("snap", lit("pinned"))
        .unionByName(graft.operators.BucketedSnapshots.readCurrent(s, path)
          .withColumn("snap", lit("current")))
    },
    Some(s"""WITH $EV,
      base AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch < $MidEpoch GROUP BY 1),
      upd AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch >= $MidEpoch GROUP BY 1)
      SELECT user_id, total, n, 'pinned' AS snap FROM base
      UNION ALL
      SELECT COALESCE(u.user_id, b.user_id) AS user_id, COALESCE(u.total, b.total) AS total,
        COALESCE(u.n, b.n) AS n, 'current' AS snap
      FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id"""))

  /** SCHEMA EVOLUTION on a maintained bucketed-versioned table: the update
    * batch ADDS a column (`last_epoch`), the merge null-backfills every
    * not-updated row, untouched buckets keep their old-schema dirs and the
    * merged read unions them by name
    * ([[graft.operators.Incremental.alignSchemas]] +
    * `mergeSchema` reads) — the add-column path a 100 TB maintained table
    * needs. Oracle: the full-outer update-wins merge with NULL
    * `last_epoch` for non-updated users, hash-exact per row. The rejected
    * retype error path is SchemaEvolutionSpec's.
    */
  private val upsertSchemaEvolution = Q(
    "snk_upsert_schema_evolution",
    (s, d) => {
      val e = evDf(s, d)
      val base = e.filter(col("epoch") < MidEpoch)
        .groupBy("user_id").agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
      val upd = e.filter(col("epoch") >= MidEpoch)
        .groupBy("user_id").agg(dsum(col("value")).as("total"), count(lit(1)).as("n"),
          max(col("epoch")).as("last_epoch"))
      val path = Registry.scratch(s, "upsertevo", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.BucketedSnapshots.upsertByKey(s, base, path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.upsertByKey(s, upd, path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.readCurrent(s, path)
    },
    Some(s"""WITH $EV,
      base AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch < $MidEpoch GROUP BY 1),
      upd AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n, MAX(epoch) AS last_epoch
        FROM ev WHERE epoch >= $MidEpoch GROUP BY 1)
      SELECT COALESCE(u.user_id, b.user_id) AS user_id,
        CASE WHEN u.user_id IS NOT NULL THEN u.total ELSE b.total END AS total,
        CASE WHEN u.user_id IS NOT NULL THEN u.n ELSE b.n END AS n,
        u.last_epoch
      FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id"""))

  /** MANIFEST ZONEMAP STATS + data-skipping read on the bucketed-versioned
    * table ([[graft.operators.BucketedSnapshots.readCurrentWhere]]): the
    * first commit DECLARES stat columns (`total`, `n`), the second commit
    * maintains them without re-declaring (sticky via the stats-file
    * header), and the read prunes whole bucket dirs whose per-bucket
    * min/max cannot intersect the range — the Iceberg/Delta data-skipping
    * role at bucket granularity. The residual filter is a plain typed
    * literal comparison (parquet row-group pushdown inside the buckets
    * that ARE read), so the result is exact regardless of pruning —
    * which is what this oracle hash-checks; ZonemapStatsSpec proves the
    * skipping itself (chosen set counted, exactly the intersecting
    * buckets).
    */
  private val snapshotStatsPrunedRead = Q(
    "snapshot_stats_pruned_read",
    (s, d) => {
      val e = evDf(s, d)
      def aggOf(df: DataFrame) =
        df.groupBy("user_id").agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
      val base = aggOf(e.filter(col("epoch") < MidEpoch))
      val upd = aggOf(e.filter(col("epoch") >= MidEpoch))
      val path = Registry.scratch(s, "statsprune", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.BucketedSnapshots.upsertByKey(
        s, base, path, "user_id", nBuckets = 16, statsColumns = Seq("total", "n"))
      graft.operators.BucketedSnapshots.upsertByKey(
        s, upd, path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.readCurrentWhere(
        s, path, "n", Some(BigDecimal(2)), Some(BigDecimal(500000)))
    },
    Some(s"""WITH $EV,
      base AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch < $MidEpoch GROUP BY 1),
      upd AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch >= $MidEpoch GROUP BY 1)
      SELECT * FROM (
        SELECT COALESCE(u.user_id, b.user_id) AS user_id, COALESCE(u.total, b.total) AS total,
          COALESCE(u.n, b.n) AS n
        FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id)
      WHERE n >= 2 AND n <= 500000"""))

  /** STRING zonemap pruning ([[graft.operators.BucketedSnapshots
    * .readCurrentWhereString]]): the string twin of
    * `snapshot_stats_pruned_read` — per-bucket min/max strings ride the
    * stats sidecar URL-safe-Base64-encoded and compare UTF-8 BYTE-WISE
    * (Spark's binary string order; the UTF-16 ordering trap is
    * ZonemapStatsSpec's), the residual is a plain string-literal filter
    * (parquet row-group pushdown). Oracle: the merged rollup filtered to
    * the range.
    */
  private val snapshotStatsPrunedReadStr = Q(
    "snapshot_stats_pruned_read_str",
    (s, d) => {
      val e = evDf(s, d)
      def aggOf(df: DataFrame) =
        df.groupBy("user_id").agg(
          max(concat(col("event_type"), lit("#"),
            pmod(col("user_id"), lit(97L)).cast("string"))).as("last_type"),
          count(lit(1)).as("n"))
      val base = aggOf(e.filter(col("epoch") < MidEpoch))
      val upd = aggOf(e.filter(col("epoch") >= MidEpoch))
      val path = Registry.scratch(s, "statsprunes", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.BucketedSnapshots.upsertByKey(
        s, base, path, "user_id", nBuckets = 16, statsColumns = Seq("last_type"))
      graft.operators.BucketedSnapshots.upsertByKey(
        s, upd, path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.readCurrentWhereString(
        s, path, "last_type", Some("view#2"), Some("view#5"))
    },
    Some(s"""WITH $EV,
      base AS (SELECT user_id, MAX(event_type || '#' || CAST(user_id % 97 AS VARCHAR)) AS last_type,
        COUNT(*) AS n FROM ev WHERE epoch < $MidEpoch GROUP BY 1),
      upd AS (SELECT user_id, MAX(event_type || '#' || CAST(user_id % 97 AS VARCHAR)) AS last_type,
        COUNT(*) AS n FROM ev WHERE epoch >= $MidEpoch GROUP BY 1)
      SELECT * FROM (
        SELECT COALESCE(u.user_id, b.user_id) AS user_id,
          CASE WHEN u.user_id IS NOT NULL THEN u.last_type ELSE b.last_type END AS last_type,
          CASE WHEN u.user_id IS NOT NULL THEN u.n ELSE b.n END AS n
        FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id)
      WHERE last_type >= 'view#2' AND last_type <= 'view#5'"""))

  /** NAMED TAGS on the bucketed-versioned table
    * ([[graft.operators.BucketedSnapshots.tag]]/`readTag`): the
    * training-run reproducibility pin. The FIRST commit is tagged, then
    * two more commits at `keepVersions = 2` push it OUT of the pointer's
    * retained window — the tagged read must still return the exact
    * pinned state (its manifest and bucket dirs survive GC because the
    * tag pins them), while the live read reflects the full merge.
    * TagsSpec proves the GC behavior (untagged siblings deleted, dropTag
    * releases); this row hash-checks both reads.
    */
  private val snapshotTaggedRead = Q(
    "snapshot_tagged_read",
    (s, d) => {
      val e = evDf(s, d)
      def aggOf(df: DataFrame) =
        df.groupBy("user_id").agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
      val base = aggOf(e.filter(col("epoch") < MidEpoch))
      val upd = aggOf(e.filter(col("epoch") >= MidEpoch))
      val path = Registry.scratch(s, "tagread", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val v1 = graft.operators.BucketedSnapshots.upsertByKey(
        s, base, path, "user_id", nBuckets = 16, keepVersions = 2)
      graft.operators.BucketedSnapshots.tag(s, path, "train-run", v1)
      graft.operators.BucketedSnapshots.upsertByKey(
        s, upd, path, "user_id", nBuckets = 16, keepVersions = 2)
      graft.operators.BucketedSnapshots.upsertByKey(
        s, upd, path, "user_id", nBuckets = 16, keepVersions = 2)
      graft.operators.BucketedSnapshots.readTag(s, path, "train-run")
        .withColumn("snap", lit("tagged"))
        .unionByName(graft.operators.BucketedSnapshots.readCurrent(s, path)
          .withColumn("snap", lit("current")))
    },
    Some(s"""WITH $EV,
      base AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch < $MidEpoch GROUP BY 1),
      upd AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch >= $MidEpoch GROUP BY 1)
      SELECT user_id, total, n, 'tagged' AS snap FROM base
      UNION ALL
      SELECT COALESCE(u.user_id, b.user_id) AS user_id, COALESCE(u.total, b.total) AS total,
        COALESCE(u.n, b.n) AS n, 'current' AS snap
      FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id"""))

  /** POINT-LOOKUP read on the bucketed-versioned table
    * ([[graft.operators.BucketedSnapshots.readCurrentKeys]]): a 20-key
    * serve-path lookup that reads ONLY the buckets the key hash maps to
    * (the manifest's `#nBuckets=` arity header makes the read-side hash
    * provably match the commit-side one; ZonemapStatsSpec asserts the
    * scan's inputFiles stay inside the covering buckets and that an
    * arity-changing commit is REJECTED). Oracle: the full merge filtered
    * to the key list.
    */
  private val snapshotPointLookup = Q(
    "snapshot_point_lookup",
    (s, d) => {
      val e = evDf(s, d)
      def aggOf(df: DataFrame) =
        df.groupBy("user_id").agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
      val path = Registry.scratch(s, "pointlk", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.BucketedSnapshots.upsertByKey(
        s, aggOf(e.filter(col("epoch") < MidEpoch)), path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.upsertByKey(
        s, aggOf(e.filter(col("epoch") >= MidEpoch)), path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.readCurrentKeys(
        s, path, "user_id", (1L to 20L).map(identity[Any]))
    },
    Some(s"""WITH $EV,
      base AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch < $MidEpoch GROUP BY 1),
      upd AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch >= $MidEpoch GROUP BY 1)
      SELECT COALESCE(u.user_id, b.user_id) AS user_id, COALESCE(u.total, b.total) AS total,
        COALESCE(u.n, b.n) AS n
      FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id
      WHERE COALESCE(u.user_id, b.user_id) BETWEEN 1 AND 20"""))

  /** INCREMENTAL CHANGE-FEED CONSUMER ([[graft.operators.FeedConsumer]]):
    * the downstream half of the CDF story. The upstream is a
    * bucketed-versioned CDC table built from the same out-of-order `%7`
    * change synthesis as `snk_cdc_apply_bucketed`; the consumer
    * BOOTSTRAPS its rollup from the first commit's snapshot, then
    * maintains it INCREMENTALLY from the manifest-pruned change feed of
    * the second (preimage-aware: a key whose `last_type` changes debits
    * the old group and credits the new). The oracle recomputes the
    * from-scratch rollup of the FINAL table state — so any drift between
    * the incremental path and the truth breaks the hash; exactly-once
    * redo and the data-less-commit path are FeedConsumerSpec's.
    */
  private val snapshotFeedConsume = Q(
    "snapshot_feed_consume",
    (s, d) => {
      val ch = evDf(s, d).select(
        col("user_id"),
        col("event_id").as("seq"),
        when(col("event_id") % 7 === 0, "D")
          .when(col("event_id") % 7 < 3, "I").otherwise("U").as("op"),
        col("event_id").as("last_seq"),
        col("event_type").as("last_type"))
      val up = Registry.scratch(s, "feedup", d)
      val cons = Registry.scratch(s, "feedcons", d)
      Seq(up, cons).foreach { path =>
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      graft.operators.BucketedSnapshots.applyChanges(
        s, ch.filter(col("seq") % 2 === 1), up, "user_id", nBuckets = 16)
      graft.operators.FeedConsumer.drainRollup(
        s, up, cons, "user_id", "last_type", Seq("last_seq"))
      graft.operators.BucketedSnapshots.applyChanges(
        s, ch.filter(col("seq") % 2 === 0), up, "user_id", nBuckets = 16)
      graft.operators.FeedConsumer.drainRollup(
        s, up, cons, "user_id", "last_type", Seq("last_seq"))
      graft.operators.FeedConsumer.readRollup(s, cons)
    },
    Some(s"""WITH $EV,
      ch AS (SELECT user_id, event_id AS seq,
        CASE WHEN event_id % 7 = 0 THEN 'D' WHEN event_id % 7 < 3 THEN 'I' ELSE 'U' END AS op,
        event_type FROM ev),
      w AS (SELECT user_id, seq, op, event_type,
        row_number() OVER (PARTITION BY user_id ORDER BY seq DESC,
          (CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC) AS rn FROM ch),
      fin AS (SELECT user_id, seq AS last_seq, event_type AS last_type
        FROM w WHERE rn = 1 AND op <> 'D')
      SELECT last_type, COUNT(*) AS n, CAST(SUM(last_seq) AS BIGINT) AS sum_last_seq
      FROM fin GROUP BY 1"""),
    bench = true)

  /** The ALWAYS-ON CDF loop ([[graft.streaming.Streams
    * .feedConsumeAvailableNow]]): change records arrive as TWO
    * out-of-order micro-batches (odd seqs then even — the
    * `snk_cdc_apply` slicing); each batch commits a table VERSION and
    * the change-feed consumer drains that commit into its rollup. The
    * final rollup must equal the from-scratch rollup of the final table
    * — seq-aware merging, manifest-pruned feeds, preimage debits, and
    * the consumer offset all have to compose for the hash to land.
    */
  private val streamingFeedConsume = Q(
    "streaming_feed_consume",
    (s, d) => {
      Tables.configure(s)
      val ch = evDf(s, d).select(
        col("user_id"),
        col("event_id").as("seq"),
        when(col("event_id") % 7 === 0, "D")
          .when(col("event_id") % 7 < 3, "I").otherwise("U").as("op"),
        col("event_id").as("last_seq"),
        col("event_type").as("last_type"))
      val base = Registry.scratch(s, "sfeed", d)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      ch.filter(col("seq") % 2 === 1).coalesce(1).write.parquet(s"$base/in")
      ch.filter(col("seq") % 2 === 0).coalesce(1)
        .write.mode("append").parquet(s"$base/in")
      val stream = s.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      graft.streaming.Streams.feedConsumeAvailableNow(stream,
        s"$base/table", s"$base/consumer", s"$base/ckpt",
        "user_id", "last_type", Seq("last_seq"))
        .awaitTermination()
      graft.operators.FeedConsumer.readRollup(s, s"$base/consumer")
    },
    Some(s"""WITH $EV,
      ch AS (SELECT user_id, event_id AS seq,
        CASE WHEN event_id % 7 = 0 THEN 'D' WHEN event_id % 7 < 3 THEN 'I' ELSE 'U' END AS op,
        event_type FROM ev),
      w AS (SELECT user_id, seq, op, event_type,
        row_number() OVER (PARTITION BY user_id ORDER BY seq DESC,
          (CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC) AS rn FROM ch),
      fin AS (SELECT user_id, seq AS last_seq, event_type AS last_type
        FROM w WHERE rn = 1 AND op <> 'D')
      SELECT last_type, COUNT(*) AS n, CAST(SUM(last_seq) AS BIGINT) AS sum_last_seq
      FROM fin GROUP BY 1"""))

  /** The serve hand-off: keyed upsert on a wallet-keyed feature slice, then
    * the serve-boundary camelCase projection — the public output schema the
    * reference's KV loader exposes (wallet_address -> walletAddress,
    * save_defi_features_features_db.py:57, keyed on walletAddress in the
    * store, :31).
    */
  private val upsertServe = Q(
    "snk_upsert_serve",
    (s, d) => {
      val e = evDf(s, d)
      def aggOf(df: DataFrame) =
        df.groupBy(concat(lit("0xw"), col("user_id").cast("string")).as("wallet_address"))
          .agg(dsum(col("value")).as("total_eth_value"), count(lit(1)).as("n_events"))
      val path = Registry.scratch(s, "upserts", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Incremental.upsertByKey(s, aggOf(e.filter(col("epoch") < MidEpoch)), path, "wallet_address")
      Incremental.upsertByKey(s, aggOf(e.filter(col("epoch") >= MidEpoch)), path, "wallet_address")
      Incremental.toServeSchema(Snapshots.readCurrent(s, path))
    },
    Some(s"""WITH $EV,
      base AS (SELECT '0xw' || CAST(user_id AS VARCHAR) AS wa, ${DS("value")} AS total, COUNT(*) AS n
        FROM ev WHERE epoch < $MidEpoch GROUP BY 1),
      upd AS (SELECT '0xw' || CAST(user_id AS VARCHAR) AS wa, ${DS("value")} AS total, COUNT(*) AS n
        FROM ev WHERE epoch >= $MidEpoch GROUP BY 1)
      SELECT COALESCE(u.wa, b.wa) AS "walletAddress",
        COALESCE(u.total, b.total) AS "totalEthValue",
        COALESCE(u.n, b.n) AS "nEvents"
      FROM base b FULL OUTER JOIN upd u ON b.wa = u.wa"""))

  /** EXTERNAL document-store (features-db) sink
    * ([[graft.operators.DocStoreSink.upsertDocuments]] through the
    * [[graft.sources.DocStore]] SPI): the reference's MongoDB leg —
    * key-matched bulk upserts of the serve-schema feature documents
    * (save_defi_features_features_db.py:28-34, chunk fan-out :78-84) —
    * re-expressed as a foreachPartition writer: documents built
    * column-side (`to_json(struct)`, codegen'd), ONE connection per
    * partition, batched bulk writes, exponential-backoff retries, and
    * at-least-once task execution made exactly-once IN EFFECT by the
    * store's key-matched seq-guarded replace (DocStoreSinkSpec drives
    * retries, replays, out-of-order seqs, and CDC tombstones through the
    * failure-injectable [[graft.sources.MemDocStore]]). run() pushes the
    * aggregate TWICE — the reference's daily replay — and reads the store
    * back; equality with the single-push oracle IS the idempotence claim.
    */
  private val docStoreUpsert = Q(
    "snk_docstore_upsert",
    (s, d) => {
      val name = "registry_snk_docstore"
      graft.sources.MemDocStore.clear(name)
      val feats = evDf(s, d)
        .groupBy(concat(lit("0xw"), col("user_id").cast("string")).as("wallet_address"))
        .agg(dsum(col("value")).as("total_eth_value"), count(lit(1)).as("n_events"),
          max(col("epoch")).as("last_epoch"))
      val serve = Incremental.toServeSchema(feats)
      val store = new graft.sources.MemDocStore(name)
      graft.operators.DocStoreSink.upsertDocuments(
        serve, store, "walletAddress", batchSize = 64)
      // the daily replay: pushing the same frame again must converge,
      // never duplicate (replace-equal idempotence)
      graft.operators.DocStoreSink.upsertDocuments(
        serve, store, "walletAddress", batchSize = 64)
      val docs = graft.sources.MemDocStore.contents(name).values.map(_._2).toSeq
      import s.implicits._
      docs.toDF("json")
        .select(from_json(col("json"), serve.schema).as("doc"))
        .select(col("doc.*"))
    },
    Some(s"""WITH $EV
      SELECT '0xw' || CAST(user_id AS VARCHAR) AS "walletAddress",
        ${DS("value")} AS "totalEthValue", COUNT(*) AS "nEvents",
        MAX(epoch) AS "lastEpoch"
      FROM ev GROUP BY 1"""))

  /** Full-refresh (CTAS drop+rebuild) sink round trip, overwrite-of-existing
    * included: a first build writes a STALE slice (pre-mid epochs only), the
    * refresh overwrites with the full rebuild — the oracle aggregates the
    * full input only, so any merge-instead-of-drop leakage of the stale
    * build would break the hash (reference drop + CTAS semantics,
    * save_defi_features_datalake.py:34-53).
    */
  private val ctasFullRefresh = Q(
    "snk_ctas_full_refresh",
    (s, d) => {
      val e = evDf(s, d)
      def aggOf(df: DataFrame) =
        df.groupBy("user_id").agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
      val path = Registry.scratch(s, "ctas", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Incremental.overwriteTable(aggOf(e.filter(col("epoch") < MidEpoch)), path)
      Incremental.overwriteTable(aggOf(e), path)
      s.read.parquet(path)
    },
    Some(s"""WITH $EV
      SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev GROUP BY 1"""))

  private val upsertVersioned = Q(
    "snk_upsert_versioned",
    (s, d) => {
      val e = evDf(s, d)
      def aggOf(df: DataFrame) =
        df.groupBy("user_id").agg(dsum(col("value")).as("total"), count(lit(1)).as("n"))
      val path = Registry.scratch(s, "upsertv", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      Incremental.upsertByKey(s, aggOf(e.filter(col("epoch") < MidEpoch)), path, "user_id")
      Incremental.upsertByKey(s, aggOf(e.filter(col("epoch") >= MidEpoch)), path, "user_id")
      Snapshots.readCurrent(s, path)
    },
    Some(s"""WITH $EV,
      base AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch < $MidEpoch GROUP BY 1),
      upd AS (SELECT user_id, ${DS("value")} AS total, COUNT(*) AS n FROM ev WHERE epoch >= $MidEpoch GROUP BY 1)
      SELECT COALESCE(u.user_id, b.user_id) AS user_id, COALESCE(u.total, b.total) AS total,
        COALESCE(u.n, b.n) AS n
      FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id"""))

  /** Ordered funnel view→click→purchase ([[Behavior.funnel]]): the
    * strictly-increasing min-timestamp chain, one row per user with the
    * chain prefix that was reached. Every stage is a keyed aggregation /
    * join on user — the oracle rebuilds the identical chain.
    */
  private val funnelQ = Q(
    "analytics_funnel_steps",
    (s, d) => graft.operators.Behavior.funnel(
      Tables.events(s, d), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase")),
    Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
      u AS (SELECT DISTINCT user_id FROM e),
      s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, s1.t1, MIN(e.t) AS t2 FROM e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.t > s1.t1 GROUP BY 1, 2),
      s3 AS (SELECT e.user_id, s2.t1, s2.t2, MIN(e.t) AS t3 FROM e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.t > s2.t2 GROUP BY 1, 2, 3)
      SELECT u.user_id, s1.t1, s2.t2, s3.t3,
        CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3 WHEN s2.t2 IS NOT NULL THEN 2
          WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS reached
      FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)"""))

  /** TIMED funnel — the conversion-window form every product-analytics
    * engine ships (Amplitude/Mixpanel semantics: each step's first
    * occurrence within the window of the previous step): view→click→
    * purchase with a 6-hour per-step gap. A user who clicks 7 hours
    * after viewing does NOT convert here but does in
    * `analytics_funnel_steps` — the rows differ exactly where the window
    * binds, which is what the oracle's mirrored gap predicates check.
    */
  private val funnelTimedQ = Q(
    "analytics_funnel_timed",
    (s, d) => graft.operators.Behavior.funnel(
      Tables.events(s, d), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"), maxStepGap = 21600L * 1000000000L),
    Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
      u AS (SELECT DISTINCT user_id FROM e),
      s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, s1.t1, MIN(e.t) AS t2 FROM e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.t > s1.t1
          AND e.t <= s1.t1 + 21600000000000 GROUP BY 1, 2),
      s3 AS (SELECT e.user_id, s2.t1, s2.t2, MIN(e.t) AS t3 FROM e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.t > s2.t2
          AND e.t <= s2.t2 + 21600000000000 GROUP BY 1, 2, 3)
      SELECT u.user_id, s1.t1, s2.t2, s3.t3,
        CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3 WHEN s2.t2 IS NOT NULL THEN 2
          WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS reached
      FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)"""))

  /** CONTIGUOUS sequence match ([[Behavior.sequenceMatch]]): the first
    * view→click→purchase occupying consecutive events of the user's
    * (t, id)-ordered stream — MATCH_RECOGNIZE's adjacent-rows pattern,
    * which the gapped funnel cannot express. The oracle rebuilds every
    * start position with the same window leads and keeps the earliest.
    */
  private val sequenceMatchQ = Q(
    "analytics_sequence_match",
    (s, d) => graft.operators.Behavior.sequenceMatch(
      Tables.events(s, d), "user_id", "event_type", "ts", "event_id",
      Seq("view", "click", "purchase"), contiguous = true),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS t FROM events),
      o AS (SELECT user_id, t, event_id, event_type,
          LEAD(event_type, 1) OVER w AS p1, LEAD(t, 1) OVER w AS q1,
          LEAD(event_type, 2) OVER w AS p2, LEAD(t, 2) OVER w AS q2
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      mt AS (SELECT user_id, t AS t1, q1 AS t2, q2 AS t3,
          row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn
        FROM o WHERE event_type = 'view' AND p1 = 'click' AND p2 = 'purchase'),
      u AS (SELECT DISTINCT user_id FROM e)
      SELECT u.user_id, m.t1, m.t2, m.t3, m.t1 IS NOT NULL AS matched
      FROM u LEFT JOIN (SELECT * FROM mt WHERE rn = 1) m USING (user_id)"""))

  /** GAPPED sequence match ([[Behavior.sequenceMatch]] contiguous=false):
    * the funnel chain semantics through the state-machine fold
    * implementation (one keyed collect + one codegen'd aggregate HOF, no
    * joins) — differentially verified against the oracle's independent
    * min-chain rebuild, and property-tested equal to [[Behavior.funnel]]
    * in BehaviorSpec.
    */
  private val sequenceGappedQ = Q(
    "analytics_sequence_gapped",
    (s, d) => graft.operators.Behavior.sequenceMatch(
      Tables.events(s, d), "user_id", "event_type", "ts", "event_id",
      Seq("signup", "error", "purchase"), contiguous = false),
    Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
      u AS (SELECT DISTINCT user_id FROM e),
      s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
      s2 AS (SELECT e.user_id, s1.t1, MIN(e.t) AS t2 FROM e JOIN s1 USING (user_id)
        WHERE e.event_type = 'error' AND e.t > s1.t1 GROUP BY 1, 2),
      s3 AS (SELECT e.user_id, s2.t1, s2.t2, MIN(e.t) AS t3 FROM e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.t > s2.t2 GROUP BY 1, 2, 3)
      SELECT u.user_id, s1.t1, s2.t2, s3.t3, s3.t3 IS NOT NULL AS matched
      FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)"""))

  /** Streaming sequence match ([[graft.streaming.Streams
    * .sequenceMatchStream]]): the SAME gapped min-chain as
    * `analytics_sequence_gapped`, but driven through a REAL watermarked
    * AvailableNow drain over four arbitrarily-sliced parquet files (one
    * micro-batch each — heavy out-of-order arrival; the 90-day lateness
    * exceeds the corpus's 30-day span, so the watermark contract admits
    * the slicing and EVERY event buffers until final) plus a far-future
    * sentinel that pushes the watermark past every real event so the
    * buffered state drains through the event-time timeout. The oracle is
    * the batch min-chain restricted to matched users — it hash-matches
    * only if buffering, watermark finality, and the (t, id) drain order
    * reproduce batch semantics under the slicing.
    */
  private val streamingSequenceQ = Q(
    "streaming_sequence_match",
    (s, d) => {
      Tables.configure(s)
      val base = Registry.scratch(s, "stream_seq", d)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val ev = Tables.events(s, d).select("user_id", "event_type", "ts", "event_id")
      (0 until 4).foreach(i => ev.filter(col("event_id") % 4 === i)
        .coalesce(1).write.mode("append").parquet(s"$base/in"))
      // sentinel: year-2100 nanos, unmatched type, dummy user — watermark push only
      import s.implicits._
      Seq((-1L, "zz", 4102444800000000000L, -1L))
        .toDF("user_id", "event_type", "ts", "event_id")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      graft.streaming.Streams.sequenceMatchAvailableNow(
        stream, s"$base/out", s"$base/ckpt", "user_id", "event_type", "ts", "event_id",
        Seq("signup", "error", "purchase"), lateness = "90 days").awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("user").as("user_id"),
          element_at(col("ts"), 1).as("t1"),
          element_at(col("ts"), 2).as("t2"),
          element_at(col("ts"), 3).as("t3"))
    },
    Some("""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
      s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
      s2 AS (SELECT e.user_id, s1.t1, MIN(e.t) AS t2 FROM e JOIN s1 USING (user_id)
        WHERE e.event_type = 'error' AND e.t > s1.t1 GROUP BY 1, 2),
      s3 AS (SELECT e.user_id, s2.t1, s2.t2, MIN(e.t) AS t3 FROM e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.t > s2.t2 GROUP BY 1, 2, 3)
      SELECT user_id, t1, t2, t3 FROM s3"""))

  /** Cohort retention matrix ([[Behavior.retentionCohorts]]): cohort =
    * first active day, exact distinct-user counts per (cohort, offset).
    */
  private val retentionQ = Q(
    "analytics_retention_cohorts",
    (s, d) => graft.operators.Behavior.retentionCohorts(
      evDf(s, d), "user_id", "day"),
    Some(s"""WITH $EV,
      a AS (SELECT DISTINCT user_id, day FROM ev),
      c AS (SELECT user_id, MIN(day) AS cohort_day FROM a GROUP BY 1)
      SELECT c.cohort_day, a.day - c.cohort_day AS offset_days,
        COUNT(DISTINCT a.user_id) AS n_active
      FROM a JOIN c USING (user_id) GROUP BY 1, 2"""))

  /** Time-weighted average level per user ([[Behavior.timeWeightedAvg]]):
    * each event's value held until the next event, durations in exact
    * nanos, products the same IEEE doubles both engines, sum in decimal.
    */
  private val twabQ = Q(
    "analytics_time_weighted_avg",
    (s, d) => graft.operators.Behavior.timeWeightedAvg(
      Tables.events(s, d), "user_id", "ts", "event_id", "value"),
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t, value FROM events),
      d AS (SELECT user_id, value,
          LEAD(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dur
        FROM e),
      f AS (SELECT user_id, dur,
          CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vu
        FROM d WHERE dur IS NOT NULL)
      SELECT user_id,
        CAST(SUM(CAST(vu AS HUGEINT) * CAST(dur AS HUGEINT)) AS DOUBLE)
          / 1000000.0 / CAST(SUM(dur) AS DOUBLE) AS twab,
        CAST(SUM(dur) AS BIGINT) AS held_ns
      FROM f GROUP BY user_id"""))

  /** Gap-based sessionization ([[Behavior.sessionize]]): 6-hour
    * inactivity gap over the (t, id)-ordered per-user stream (the median
    * inter-arrival gap in the synthetic stream is ~7.3 h, so the corpus
    * splits into real multi-event sessions, not one-per-user or
    * one-per-event). All integer nanos arithmetic — the oracle rebuilds
    * the identical boundary flags and running session index.
    */
  private val sessionizeQ = Q(
    "analytics_sessionize",
    (s, d) => graft.operators.Behavior.sessionize(
      Tables.events(s, d), "user_id", "ts", "event_id", 21600000000000L),
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t FROM events),
      b AS (SELECT user_id, event_id, t,
          CASE WHEN t - LAG(t) OVER w <= 21600000000000 THEN 0 ELSE 1 END AS nw
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      x AS (SELECT user_id, t,
          CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY t, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM b)
      SELECT user_id, session_idx, MIN(t) AS session_start, MAX(t) AS session_end,
        COUNT(*) AS n_events, MAX(t) - MIN(t) AS dur_ns
      FROM x GROUP BY 1, 2"""))

  /** Markov transition matrix ([[Behavior.transitionMatrix]]): per-user
    * next-event transitions, exact counts, probability = one division of
    * two exact integers.
    */
  private val transitionsQ = Q(
    "analytics_transition_matrix",
    (s, d) => graft.operators.Behavior.transitionMatrix(
      Tables.events(s, d), "user_id", "ts", "event_id", "event_type"),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS t
          FROM events),
      s AS (SELECT event_type AS from_type,
          LEAD(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS to_type
        FROM e),
      c AS (SELECT from_type, to_type, COUNT(*) AS n FROM s
        WHERE to_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
        CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS prob
      FROM c"""))

  /** Delete-aware CDC apply ([[graft.operators.Cdc]]): the event stream
    * recast as keyed change records (op derived `event_id % 7` -> D/I/U,
    * seq = event_id), applied in TWO batches OUT OF ORDER (odd seqs first,
    * then even) — so the run only matches the oracle's direct global
    * argmax if seq-aware merging and delete tombstones actually work; a
    * last-writer-wins upsert would let the second (even) batch clobber
    * newer odd-seq rows and would resurrect deleted keys.
    */
  private val cdcApply = Q(
    "snk_cdc_apply",
    (s, d) => {
      val ch = evDf(s, d).select(
        col("user_id"),
        col("event_id").as("seq"),
        when(col("event_id") % 7 === 0, "D")
          .when(col("event_id") % 7 < 3, "I").otherwise("U").as("op"),
        col("event_id").as("last_seq"),
        col("event_type").as("last_type"),
        col("value").as("last_value"))
      val path = Registry.scratch(s, "cdc", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.Cdc.applyChanges(s, ch.filter(col("seq") % 2 === 1), path, "user_id")
      graft.operators.Cdc.applyChanges(s, ch.filter(col("seq") % 2 === 0), path, "user_id")
      graft.operators.Cdc.readTable(s, path)
    },
    Some(s"""WITH $EV,
      ch AS (SELECT user_id, event_id AS seq,
        CASE WHEN event_id % 7 = 0 THEN 'D' WHEN event_id % 7 < 3 THEN 'I' ELSE 'U' END AS op,
        event_type, value FROM ev),
      w AS (SELECT user_id, seq, op, event_type, value,
        row_number() OVER (PARTITION BY user_id ORDER BY seq DESC,
          (CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC) AS rn FROM ch)
      SELECT user_id, seq AS last_seq, event_type AS last_type, value AS last_value
      FROM w WHERE rn = 1 AND op <> 'D'"""))

  /** The bucket-pruned twin of `snk_cdc_apply` — same two out-of-order
    * batches, same direct-argmax oracle, but through
    * [[graft.operators.BucketedSnapshots.applyChanges]] (16 hash buckets,
    * only touched buckets merged+rewritten; CdcSpec counts untouched
    * buckets being reused) plus a [[graft.operators.BucketedSnapshots
    * .pruneTombstones]] GC pass, which must leave the live view unchanged
    * (it only drops sub-watermark tombstones — rows the oracle never
    * sees). The layout and the GC must both be invisible to the logical
    * result.
    */
  private val cdcApplyBucketed = Q(
    "snk_cdc_apply_bucketed",
    (s, d) => {
      val ch = evDf(s, d).select(
        col("user_id"),
        col("event_id").as("seq"),
        when(col("event_id") % 7 === 0, "D")
          .when(col("event_id") % 7 < 3, "I").otherwise("U").as("op"),
        col("event_id").as("last_seq"),
        col("event_type").as("last_type"),
        col("value").as("last_value"))
      val path = Registry.scratch(s, "cdcb", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.BucketedSnapshots.applyChanges(
        s, ch.filter(col("seq") % 2 === 1), path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.applyChanges(
        s, ch.filter(col("seq") % 2 === 0), path, "user_id", nBuckets = 16)
      graft.operators.BucketedSnapshots.pruneTombstones(s, path, lowWatermark = Long.MaxValue)
      graft.operators.BucketedSnapshots.readTable(s, path)
    },
    Some(s"""WITH $EV,
      ch AS (SELECT user_id, event_id AS seq,
        CASE WHEN event_id % 7 = 0 THEN 'D' WHEN event_id % 7 < 3 THEN 'I' ELSE 'U' END AS op,
        event_type, value FROM ev),
      w AS (SELECT user_id, seq, op, event_type, value,
        row_number() OVER (PARTITION BY user_id ORDER BY seq DESC,
          (CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC) AS rn FROM ch)
      SELECT user_id, seq AS last_seq, event_type AS last_type, value AS last_value
      FROM w WHERE rn = 1 AND op <> 'D'"""),
    bench = true)

  /** RIGHT-TO-BE-FORGOTTEN sweep over the bucketed CDC snapshot
    * ([[graft.operators.Cdc.eraseKeys]]): the `snk_cdc_apply_bucketed`
    * table is built through [[graft.operators.BucketedSnapshots
    * .applyChanges]], then every `user_id % 23 = 5` subject is tombstoned
    * in one delete batch ABOVE the applied seq range, rewriting only the
    * buckets holding subject keys. Output = the erasure AUDIT — computed
    * from the table (existed_before from a pre-apply probe, exists_after
    * by re-reading the committed table), so a silently-failed erasure
    * hash-breaks against the oracle's all-false column.
    */
  private val cdcErasureSweep = Q(
    "dq_erasure_sweep",
    (s, d) => {
      val ch = evDf(s, d).select(
        col("user_id"),
        col("event_id").as("seq"),
        when(col("event_id") % 7 === 0, "D")
          .when(col("event_id") % 7 < 3, "I").otherwise("U").as("op"),
        col("event_id").as("last_seq"),
        col("event_type").as("last_type"),
        col("value").as("last_value"))
      val path = Registry.scratch(s, "cdce", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.BucketedSnapshots.applyChanges(s, ch, path, "user_id", nBuckets = 16)
      val maxSeq = ch.agg(max("seq")).head.getLong(0)
      val subjects = evDf(s, d).select("user_id")
        .where(pmod(col("user_id"), lit(23L)) === 5L).distinct()
      graft.operators.Cdc.eraseKeys(s, path, subjects, "user_id", seq = maxSeq + 1L)
    },
    Some(s"""WITH $EV,
      ch AS (SELECT user_id, event_id AS seq,
        CASE WHEN event_id % 7 = 0 THEN 'D' WHEN event_id % 7 < 3 THEN 'I' ELSE 'U' END AS op
        FROM ev),
      w AS (SELECT user_id, op,
        row_number() OVER (PARTITION BY user_id ORDER BY seq DESC,
          (CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC) AS rn FROM ch),
      live AS (SELECT user_id FROM w WHERE rn = 1 AND op <> 'D'),
      subj AS (SELECT DISTINCT user_id FROM ev WHERE user_id % 23 = 5)
      SELECT s.user_id, (l.user_id IS NOT NULL) AS existed_before,
        FALSE AS exists_after
      FROM subj s LEFT JOIN live l ON l.user_id = s.user_id"""))

  /** CDC apply through the pointer-committed snapshot protocol
    * ([[graft.operators.Snapshots]]), PROVING snapshot isolation + time
    * travel: batch 1 commits version v1; batch 2 commits v2; the query
    * then reads BOTH the pinned v1 snapshot (AFTER v2 committed — rows
    * tagged 'pinned') and the live view ('current'). The oracle computes
    * the batch-1-only argmax for the pinned half and the full argmax for
    * the current half — so if the v2 commit mutated or dropped anything a
    * v1-pinned reader sees, or the pointer flip lost an update, the hash
    * breaks. Same change derivation as `snk_cdc_apply`.
    */
  private val cdcApplyVersioned = Q(
    "snk_cdc_apply_versioned",
    (s, d) => {
      val ch = evDf(s, d).select(
        col("user_id"),
        col("event_id").as("seq"),
        when(col("event_id") % 7 === 0, "D")
          .when(col("event_id") % 7 < 3, "I").otherwise("U").as("op"),
        col("event_id").as("last_seq"),
        col("event_type").as("last_type"),
        col("value").as("last_value"))
      val path = Registry.scratch(s, "cdcv", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val v1 = graft.operators.Cdc.applyChanges(
        s, ch.filter(col("seq") % 2 === 1), path, "user_id")
      graft.operators.Cdc.applyChanges(
        s, ch.filter(col("seq") % 2 === 0), path, "user_id")
      graft.operators.Cdc.readTableAt(s, path, v1).withColumn("snap", lit("pinned"))
        .unionByName(
          graft.operators.Cdc.readTable(s, path).withColumn("snap", lit("current")))
    },
    Some(s"""WITH $EV,
      ch AS (SELECT user_id, event_id AS seq,
        CASE WHEN event_id % 7 = 0 THEN 'D' WHEN event_id % 7 < 3 THEN 'I' ELSE 'U' END AS op,
        event_type, value FROM ev),
      w1 AS (SELECT user_id, seq, op, event_type, value,
        row_number() OVER (PARTITION BY user_id ORDER BY seq DESC,
          (CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC) AS rn
        FROM ch WHERE seq % 2 = 1),
      w2 AS (SELECT user_id, seq, op, event_type, value,
        row_number() OVER (PARTITION BY user_id ORDER BY seq DESC,
          (CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC) AS rn FROM ch)
      SELECT user_id, seq AS last_seq, event_type AS last_type, value AS last_value,
        'pinned' AS snap FROM w1 WHERE rn = 1 AND op <> 'D'
      UNION ALL
      SELECT user_id, seq AS last_seq, event_type AS last_type, value AS last_value,
        'current' AS snap FROM w2 WHERE rn = 1 AND op <> 'D'"""))

  /** CHANGE DATA FEED between two committed table versions
    * ([[graft.operators.BucketedSnapshots.readTableChangesBetween]]) — the
    * incremental-consumer API the commit protocol makes cheap: the feed
    * reads ONLY buckets whose manifest entry changed (untouched dirs are
    * shared between versions, zero bytes). Derivation: the
    * `snk_cdc_apply_versioned` table, v1 = odd-seq changes, v2 = all; the
    * feed is the keyed I/U/D diff of the two LIVE views, deletes carrying
    * their pre-delete payload. The oracle recomputes both live views from
    * the events table and diffs them in SQL — every op and payload column
    * hash-exact. BucketedSnapshotsSpec additionally proves the consumer
    * round trip (v1 + feed == v2) and the manifest pruning (scanned
    * bucket dirs counted).
    */
  private val snapshotChangesFeed = Q(
    "snapshot_changes_feed",
    (s, d) => {
      val ch = evDf(s, d).select(
        col("user_id"),
        col("event_id").as("seq"),
        when(col("event_id") % 7 === 0, "D")
          .when(col("event_id") % 7 < 3, "I").otherwise("U").as("op"),
        col("event_id").as("last_seq"),
        col("event_type").as("last_type"),
        col("value").as("last_value"))
      val path = Registry.scratch(s, "cdf", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val v1 = graft.operators.BucketedSnapshots.applyChanges(
        s, ch.filter(col("seq") % 2 === 1), path, "user_id", nBuckets = 16,
        keepVersions = 3)
      val v2 = graft.operators.BucketedSnapshots.applyChanges(
        s, ch.filter(col("seq") % 2 === 0), path, "user_id", nBuckets = 16,
        keepVersions = 3)
      graft.operators.BucketedSnapshots.readTableChangesBetween(
        s, path, "user_id", v1, v2)
    },
    Some(s"""WITH $EV,
      ch AS (SELECT user_id, event_id AS seq,
        CASE WHEN event_id % 7 = 0 THEN 'D' WHEN event_id % 7 < 3 THEN 'I' ELSE 'U' END AS op,
        event_type, value FROM ev),
      w1 AS (SELECT user_id, seq, op, event_type, value,
        row_number() OVER (PARTITION BY user_id ORDER BY seq DESC,
          (CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC) AS rn
        FROM ch WHERE seq % 2 = 1),
      w2 AS (SELECT user_id, seq, op, event_type, value,
        row_number() OVER (PARTITION BY user_id ORDER BY seq DESC,
          (CASE op WHEN 'D' THEN 2 WHEN 'U' THEN 1 ELSE 0 END) DESC) AS rn FROM ch),
      l1 AS (SELECT user_id, seq AS last_seq, event_type AS last_type, value AS last_value
        FROM w1 WHERE rn = 1 AND op <> 'D'),
      l2 AS (SELECT user_id, seq AS last_seq, event_type AS last_type, value AS last_value
        FROM w2 WHERE rn = 1 AND op <> 'D'),
      df AS (SELECT COALESCE(l2.user_id, l1.user_id) AS user_id,
        CASE WHEN l1.user_id IS NULL THEN l2.last_seq ELSE l1.last_seq END AS f_seq,
        CASE WHEN l1.user_id IS NULL THEN 'I' WHEN l2.user_id IS NULL THEN 'D'
          WHEN (l1.last_seq IS DISTINCT FROM l2.last_seq)
            OR (l1.last_type IS DISTINCT FROM l2.last_type)
            OR (l1.last_value IS DISTINCT FROM l2.last_value) THEN 'U' END AS op,
        CASE WHEN l2.user_id IS NULL THEN l1.last_seq ELSE l2.last_seq END AS last_seq,
        CASE WHEN l2.user_id IS NULL THEN l1.last_type ELSE l2.last_type END AS last_type,
        CASE WHEN l2.user_id IS NULL THEN l1.last_value ELSE l2.last_value END AS last_value
        FROM l1 FULL OUTER JOIN l2 ON l1.user_id = l2.user_id)
      SELECT user_id, last_seq, last_type, last_value, op FROM df WHERE op IS NOT NULL"""))

  /** MERGE-ON-READ DELETE VECTORS ([[graft.operators.BucketedSnapshots
    * .deleteKeys]]): scattered key deletes on a bucketed table write
    * key-sized sidecars instead of rewriting whole buckets (the
    * Iceberg-v2/Delta deletion-vector role, reduced to keys) — the
    * `dq_erasure_sweep` pattern at 100 TB write amplification. Derivation:
    * per-user rollup committed once, then TWO delete commits (`%11 = 3`,
    * `%13 = 5` users) leaving their sidecars OUTSTANDING at read time; the
    * result unions the live read with a stats-pruned range read, so the
    * oracle proves the anti-join fold on both paths (pruning first, fold
    * after — pre-delete bounds stay safe because deletes only narrow).
    * DeleteVectorsSpec additionally MEASURES the write-amplification drop
    * and proves budget folds, compaction folds, re-upsert-once, GC, and
    * tag pinning.
    */
  /** STORAGE-PARTITIONED JOIN of two maintained bucketed tables
    * ([[graft.operators.BucketedSnapshots.readCurrentSPJ]] through
    * [[graft.sources.SnapCatalog]]): both rollups land bucketed on
    * `user_id` at arity 16, the DSv2 scan reports `bucket(16, user_id)`
    * as KeyGroupedPartitioning, and the join plans with ZERO exchanges —
    * SpjSpec asserts the plan shape; this row proves the VALUES through
    * the full path, including the READER-LEVEL delete-vector fold
    * (`%17 = 3` users deleted on the left AFTER the rollup committed,
    * folded during the scan itself so the co-partitioning survives).
    * At 100 TB this is the serve ⋈ feature join with neither side
    * shuffled — the cost the reference's 256-way `address_partition`
    * scheme could only prune around (reference:
    * src/pipelines/analytics/ddl/transpose_borrow_events.sql:4).
    */
  private val joinSpjBucketedTables = Q(
    "join_spj_bucketed_tables",
    (s, d) => {
      val ev = evDf(s, d)
      val left = ev.groupBy("user_id").agg(
        count(lit(1)).as("n_events"), max(col("event_id")).as("max_event"))
      val right = ev.filter(col("event_id") % 2 === 0).groupBy("user_id").agg(
        count(lit(1)).as("n_even"), min(col("event_id")).as("min_even"))
      val pl = Registry.scratch(s, "spjl", d)
      val pr = Registry.scratch(s, "spjr", d)
      Seq(pl, pr).foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
      }
      graft.operators.BucketedSnapshots.upsertByKey(
        s, left, pl, "user_id", 16, keepVersions = 2)
      graft.operators.BucketedSnapshots.upsertByKey(
        s, right, pr, "user_id", 16, keepVersions = 2)
      graft.operators.BucketedSnapshots.deleteKeys(s, pl,
        left.filter(col("user_id") % 17 === 3).select("user_id"), "user_id",
        keepVersions = 2)
      graft.operators.BucketedSnapshots.readCurrentSPJ(s, pl)
        .join(graft.operators.BucketedSnapshots.readCurrentSPJ(s, pr), Seq("user_id"))
    },
    Some(s"""WITH $EV,
      l AS (SELECT user_id, COUNT(*) AS n_events, MAX(event_id) AS max_event
        FROM ev GROUP BY 1),
      r AS (SELECT user_id, COUNT(*) AS n_even, MIN(event_id) AS min_even
        FROM ev WHERE event_id % 2 = 0 GROUP BY 1)
      SELECT l.user_id, l.n_events, l.max_event, r.n_even, r.min_even
      FROM l JOIN r ON l.user_id = r.user_id WHERE l.user_id % 17 <> 3"""),
    bench = true)

  /** PER-BUCKET BLOOM SIDECARS ([[graft.operators.BucketedSnapshots]]
    * `bloomColumns`/`readCurrentEquals`): commit-time filters over a
    * declared high-cardinality string column, probed by equality reads
    * BEFORE opening buckets — the Iceberg bloom-index role for the
    * URL/domain-equality class zonemaps can't prune. Derivation: per-user
    * rollup with a per-user tag string committed once with `tag`
    * declared; the read probes a fixed value list (three present, one
    * absent) and must return exactly the matching rows — a false
    * negative (over-pruned bucket) would drop a row and hash-mismatch.
    * BloomSidecarSpec additionally COUNTS opened buckets against a
    * planted hit/miss matrix and proves carry/drop rules.
    */
  private val snapshotBloomPrunedRead = Q(
    "snapshot_bloom_pruned_read",
    (s, d) => {
      val base = evDf(s, d).groupBy("user_id").agg(count(lit(1)).as("n"))
        .withColumn("tag", concat(lit("u"), col("user_id")))
      val path = Registry.scratch(s, "bloom", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.BucketedSnapshots.upsertByKey(
        s, base, path, "user_id", nBuckets = 16, keepVersions = 2,
        bloomColumns = Seq("tag"))
      graft.operators.BucketedSnapshots.readCurrentEquals(
        s, path, "tag", Seq("u3", "u44", "u77", "absent-x"))
    },
    Some(s"""WITH $EV,
      agg AS (SELECT user_id, COUNT(*) AS n, 'u' || CAST(user_id AS VARCHAR) AS tag
        FROM ev GROUP BY 1)
      SELECT user_id, n, tag FROM agg WHERE tag IN ('u3', 'u44', 'u77', 'absent-x')"""))

  private val snapshotDeleteVectors = Q(
    "snapshot_delete_vectors",
    (s, d) => {
      val base = evDf(s, d).groupBy("user_id").agg(
        count(lit(1)).as("n"), max(col("event_id")).as("max_event"))
      val path = Registry.scratch(s, "dv", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.BucketedSnapshots.upsertByKey(
        s, base, path, "user_id", nBuckets = 16, keepVersions = 3,
        statsColumns = Seq("max_event"))
      graft.operators.BucketedSnapshots.deleteKeys(
        s, path, base.filter(col("user_id") % 11 === 3).select("user_id"),
        "user_id", keepVersions = 3)
      graft.operators.BucketedSnapshots.deleteKeys(
        s, path, base.filter(col("user_id") % 13 === 5).select("user_id"),
        "user_id", keepVersions = 3)
      val live = graft.operators.BucketedSnapshots.readCurrent(s, path)
        .withColumn("readpath", lit("live"))
      val pruned = graft.operators.BucketedSnapshots.readCurrentWhere(
        s, path, "max_event", Some(BigDecimal(100)), None)
        .withColumn("readpath", lit("pruned"))
      live.unionByName(pruned)
    },
    Some(s"""WITH $EV,
      agg AS (SELECT user_id, COUNT(*) AS n, MAX(event_id) AS max_event
        FROM ev GROUP BY 1),
      kept AS (SELECT * FROM agg WHERE user_id % 11 <> 3 AND user_id % 13 <> 5)
      SELECT user_id, n, max_event, 'live' AS readpath FROM kept
      UNION ALL
      SELECT user_id, n, max_event, 'pruned' AS readpath FROM kept
      WHERE max_event >= 100"""))

  /** BRANCHES + WRITE-AUDIT-PUBLISH ([[graft.operators.BucketedSnapshots
    * .branch]]/`commitToBranch`/`publishBranch`) composed with the DQ
    * gate ([[Constraints]]): a staged load that FAILS the gate (`%7`
    * users arrive with a negative count) is audited on its branch and
    * dropped — invisible to main forever; the repaired load (`%5` users'
    * `max_event` bumped by 1000) passes the gate and fast-forward
    * publishes. The oracle is the final MAIN table: if the failing
    * branch had leaked, the negative counts would hash-mismatch; if the
    * publish had not landed, the bumps would be missing. BranchWapSpec
    * additionally proves isolation, the non-fast-forward abort, dv
    * folding on branches, and orphan aging.
    */
  private val snapshotBranchWap = Q(
    "snapshot_branch_wap",
    (s, d) => {
      val base = evDf(s, d).groupBy("user_id").agg(
        count(lit(1)).as("n"), max(col("event_id")).as("max_event"))
      val path = Registry.scratch(s, "wap", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      graft.operators.BucketedSnapshots.upsertByKey(
        s, base, path, "user_id", nBuckets = 16, keepVersions = 3)
      val gate = Seq(Constraints.AnyNegative("no_negative_n", col("n")))
      def audited(name: String, updates: DataFrame): Unit = {
        graft.operators.BucketedSnapshots.branch(s, path, name)
        graft.operators.BucketedSnapshots.commitToBranch(
          s, path, name, updates, "user_id", nBuckets = 16)
        val failed = Constraints.evaluate(
          graft.operators.BucketedSnapshots.readBranch(s, path, name), gate)
          .filter(col("is_fail")).count() > 0
        if (failed) graft.operators.BucketedSnapshots.dropBranch(s, path, name)
        else graft.operators.BucketedSnapshots.publishBranch(s, path, name, keepVersions = 3)
      }
      // the corrupt load: audited, fails, never reaches main
      audited("etl_bad", base.filter(col("user_id") % 7 === 0)
        .select(col("user_id"), lit(-1L).as("n"), col("max_event")))
      // the repaired load: audited, passes, fast-forward publishes
      audited("etl_good", base.filter(col("user_id") % 5 === 0)
        .select(col("user_id"), col("n"), (col("max_event") + 1000L).as("max_event")))
      graft.operators.BucketedSnapshots.readCurrent(s, path)
    },
    Some(s"""WITH $EV,
      agg AS (SELECT user_id, COUNT(*) AS n, MAX(event_id) AS max_event
        FROM ev GROUP BY 1)
      SELECT user_id, n,
        CASE WHEN user_id % 5 = 0 THEN max_event + 1000 ELSE max_event END AS max_event
      FROM agg"""))

  /** METADATA TABLES ([[graft.operators.TableMeta]] —
    * `history`/`files`/`statsTable`, the Iceberg metadata-tables role):
    * a deterministic commit sequence — load (v1, tagged `baseline`),
    * delete every `%3` user as merge-on-read sidecars (v2: every bucket
    * gains one dv at these cardinalities), compact-fold (v3), re-upsert
    * the surviving rows (v4: stats recomputed exactly) — whose manifest
    * facts the oracle RE-DERIVES independently: version liveness and
    * outstanding-sidecar totals per history row, per-bucket file counts
    * at the compacted version (16 buckets × exactly 1 file), the stats
    * sidecar's global bounds (= SQL min/max of the stat column over the
    * surviving rows), and the tag pin. All surfaced as one typed frame,
    * zero data files opened.
    */
  private val snapshotHistoryMeta = Q(
    "snapshot_history_meta",
    (s, d) => {
      val base = evDf(s, d).groupBy("user_id").agg(
        count(lit(1)).as("n"), max(col("event_id")).as("max_event"))
      val path = Registry.scratch(s, "meta", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      import graft.operators.{BucketedSnapshots => BS, TableMeta}
      val v1 = BS.upsertByKey(s, base, path, "user_id", nBuckets = 4,
        keepVersions = 8, statsColumns = Seq("max_event"))
      BS.tag(s, path, "baseline", v1)
      BS.deleteKeys(s, path, base.filter(col("user_id") % 3 === 0).select("user_id"),
        "user_id", keepVersions = 8)
      val v3 = BS.compact(s, path, maxFilesPerBucket = 1, keepVersions = 8)
      BS.upsertByKey(s, BS.readCurrent(s, path), path, "user_id", nBuckets = 4,
        keepVersions = 8, statsColumns = Seq("max_event"))
      val hist = TableMeta.history(s, path).select(
        lit("history").as("kind"), col("version").as("a"),
        when(col("is_live"), 1L).otherwise(0L).as("b"),
        col("delete_vectors").as("c"),
        col("refs").as("note"))
      val fl = TableMeta.files(s, path, Some(v3)).groupBy(lit(1)).agg(
        countDistinct(col("bucket")).as("nb"), count(lit(1)).as("nf"),
        max(col("version")).as("v"))
        .select(lit("files").as("kind"), col("v").as("a"), col("nb").as("b"),
          col("nf").as("c"), lit("").as("note"))
      val st = TableMeta.statsTable(s, path).filter(col("column") === "max_event")
        .groupBy(lit(1)).agg(
          min(col("min").cast("long")).as("lo"), max(col("max").cast("long")).as("hi"),
          max(col("version")).as("v"))
        .select(lit("stats").as("kind"), col("v").as("a"), col("lo").as("b"),
          col("hi").as("c"), lit("").as("note"))
      hist.unionByName(fl).unionByName(st)
    },
    Some(s"""WITH $EV,
      agg AS (SELECT user_id, COUNT(*) AS n, MAX(event_id) AS max_event
        FROM ev GROUP BY 1),
      kept AS (SELECT * FROM agg WHERE user_id % 3 <> 0)
      SELECT 'history' AS kind, CAST(1 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b,
        CAST(0 AS BIGINT) AS c, 'baseline' AS note
      UNION ALL SELECT 'history', 2, 0, 4, ''
      UNION ALL SELECT 'history', 3, 0, 0, ''
      UNION ALL SELECT 'history', 4, 1, 0, ''
      UNION ALL SELECT 'files', 3, 4, 4, ''
      UNION ALL SELECT 'stats', 4,
        (SELECT MIN(max_event) FROM kept), (SELECT MAX(max_event) FROM kept), ''"""))

  /** Regular-grid forward-fill resample ([[graft.operators.Timeseries
    * .resampleFfill]]): the per-user event stream densified onto a 6-hour
    * grid — grid bounds are exact integer bin arithmetic (an epoch-nanos
    * long does not fit a double mantissa; the oracle uses the same
    * `//` ceil/floor divisions), the carried value/timestamp are verbatim
    * row copies picked by the deterministic (t, obs-before-grid, id)
    * union-window order, and `age_ns` is one integer subtraction — every
    * column hash-exact. The oracle rebuilds the grid with
    * `range()` + the same IGNORE NULLS running window.
    */
  private val resampleFfillQ = {
    val step = 21600000000000L // 6 h in nanos
    Q(
      "ts_resample_ffill",
      (s, d) => graft.operators.Timeseries.resampleFfill(
        Tables.events(s, d), "user_id", "ts", "event_id", "value", step),
      Some(s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id AS id, value AS v
          FROM events),
        span AS (SELECT user_id, (MIN(t) + ${step - 1}) // $step AS lo,
            MAX(t) // $step AS hi FROM e GROUP BY 1),
        grid AS (SELECT user_id, unnest(range(lo, hi + 1)) * $step AS t
          FROM span WHERE lo <= hi),
        u AS (SELECT user_id, t, id, v, 0 AS g FROM e
          UNION ALL SELECT user_id, t, NULL, NULL, 1 FROM grid),
        f AS (SELECT user_id, t, g,
            last_value(CASE WHEN g = 0 THEN v END IGNORE NULLS)
              OVER w AS ov,
            last_value(CASE WHEN g = 0 THEN t END IGNORE NULLS)
              OVER w AS ot
          FROM u WINDOW w AS (PARTITION BY user_id ORDER BY t, g, id
            ROWS UNBOUNDED PRECEDING))
        SELECT user_id, t AS grid_ts, ov AS value, ot AS obs_ts, t - ot AS age_ns
        FROM f WHERE g = 1"""))
  }

  /** SCD Type-2 dimension history ([[graft.operators.Cdc.scd2Intervals]]):
    * each user's event_type stream collapsed into validity intervals —
    * consecutive identical values extend a version, a change opens one;
    * `valid_to` = next version's `valid_from` (half-open), null on the
    * current version. All integer/verbatim arithmetic; the oracle replays
    * the same run-detection windows.
    */
  private val scd2Q = Q(
    "scd2_build_intervals",
    (s, d) => graft.operators.Cdc.scd2Intervals(
      Tables.events(s, d).select("user_id", "ts", "event_id", "event_type"),
      "user_id", "ts", "event_id", Seq("event_type")),
    Some(s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id AS id, event_type
        FROM events),
      b AS (SELECT user_id, t, id, event_type,
          CASE WHEN event_type IS NOT DISTINCT FROM LAG(event_type) OVER w
               THEN 0 ELSE 1 END AS nw
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, id)),
      r AS (SELECT *, CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY t, id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM b),
      v AS (SELECT user_id, run AS version_idx, MIN(event_type) AS event_type,
          MIN(t) AS valid_from FROM r GROUP BY 1, 2),
      f AS (SELECT *, LEAD(valid_from) OVER (PARTITION BY user_id
          ORDER BY valid_from) AS valid_to FROM v)
      SELECT user_id, event_type, valid_from, valid_to, version_idx,
        valid_to IS NULL AS is_current FROM f"""))

  /** Point-in-time SCD2 lookup ([[graft.operators.Cdc.scd2Lookup]]):
    * every event probes the Type-2 table built from the SAME stream at
    * its own timestamp (must land in the version it opened or extended —
    * boundary inclusivity checked at every `valid_from`), plus one t=0
    * probe per user (before any version — the null-enrichment path). The
    * oracle is the direct interval-containment join; the engine runs ONE
    * native backward as-of merge with no interval predicate, relying on
    * versions partitioning the timeline.
    */
  private val scd2LookupQ = Q(
    "join_scd2_lookup",
    (s, d) => {
      val ev = Tables.events(s, d)
      val dim = graft.operators.Cdc.scd2Intervals(
        ev.select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", Seq("event_type"))
      val probes = ev.select(col("event_id"), col("user_id"), col("ts").as("t"))
        .unionByName(ev.select(col("user_id")).distinct()
          .select((-col("user_id")).as("event_id"), col("user_id"), lit(0L).as("t")))
      graft.operators.Cdc.scd2Lookup(probes, dim, "user_id", "t", Seq("event_type"))
        .select("event_id", "user_id", "t", "asof_event_type", "asof_valid_to")
    },
    Some(s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id AS id, event_type
        FROM events),
      b AS (SELECT user_id, t, id, event_type,
          CASE WHEN event_type IS NOT DISTINCT FROM LAG(event_type) OVER w
               THEN 0 ELSE 1 END AS nw
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, id)),
      r AS (SELECT *, CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY t, id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM b),
      v AS (SELECT user_id, run, MIN(event_type) AS event_type,
          MIN(t) AS valid_from FROM r GROUP BY 1, 2),
      iv AS (SELECT *, LEAD(valid_from) OVER (PARTITION BY user_id
          ORDER BY valid_from) AS valid_to FROM v),
      probes AS (SELECT id AS event_id, user_id, t FROM e
        UNION ALL SELECT -user_id, user_id, 0 FROM (SELECT DISTINCT user_id FROM e))
      SELECT p.event_id, p.user_id, p.t,
        d.event_type AS asof_event_type, d.valid_to AS asof_valid_to
      FROM probes p LEFT JOIN iv d
        ON d.user_id = p.user_id AND d.valid_from <= p.t
          AND (d.valid_to IS NULL OR p.t < d.valid_to)"""))

  /** STREAMING SCD2 maintenance ([[graft.streaming.Streams
    * .scd2ApplyAvailableNow]]): the change stream drains as three
    * time-ordered micro-batches into the persisted Type-2 table — the
    * applied-batch manifest (committed inside each version) is what makes
    * the non-replay-idempotent apply exactly-once; the oracle rebuilds
    * the whole interval table from scratch, so sliced streaming == one
    * batch build, hash-checked row for row.
    */
  private val streamingScd2Q = Q(
    "streaming_scd2_apply",
    (s, d) => {
      Tables.configure(s)
      val base = Registry.scratch(s, "stream_scd2", d)
      val p = new org.apache.hadoop.fs.Path(base)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val ch = Tables.events(s, d).select("user_id", "ts", "event_id", "event_type")
      val b = ch.agg(min("ts"), max("ts")).head()
      val (mn, mx) = (b.getLong(0), b.getLong(1))
      val (t1, t2) = (mn + (mx - mn) / 3, mn + 2 * (mx - mn) / 3)
      ch.filter(col("ts") <= t1).coalesce(1).write.parquet(s"$base/in")
      ch.filter(col("ts") > t1 && col("ts") <= t2).coalesce(1)
        .write.mode("append").parquet(s"$base/in")
      ch.filter(col("ts") > t2).coalesce(1).write.mode("append").parquet(s"$base/in")
      val stream = s.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      graft.streaming.Streams.scd2ApplyAvailableNow(stream,
        s"$base/out", s"$base/ckpt", "user_id", "ts", "event_id", Seq("event_type"))
        .awaitTermination()
      Snapshots.readCurrent(s, s"$base/out")
    },
    Some(s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id AS id, event_type
        FROM events),
      b AS (SELECT user_id, t, id, event_type,
          CASE WHEN event_type IS NOT DISTINCT FROM LAG(event_type) OVER w
               THEN 0 ELSE 1 END AS nw
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, id)),
      r AS (SELECT *, CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY t, id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM b),
      v AS (SELECT user_id, run AS version_idx, MIN(event_type) AS event_type,
          MIN(t) AS valid_from FROM r GROUP BY 1, 2),
      f AS (SELECT *, LEAD(valid_from) OVER (PARTITION BY user_id
          ORDER BY valid_from) AS valid_to FROM v)
      SELECT user_id, event_type, valid_from, valid_to, version_idx,
        valid_to IS NULL AS is_current FROM f"""))

  /** Incremental SCD2 maintenance ([[graft.operators.Cdc.scd2Apply]]):
    * the change stream split at the watermark midpoint, yesterday's
    * interval table absorbing today's batch — extends-or-closes the open
    * versions, appends the batch's runs, never rewrites closed history —
    * while the ORACLE rebuilds the whole Type-2 table from scratch, so
    * incremental == full recompute is hash-checked row by row.
    */
  private val scd2IncrementalQ = Q(
    "scd2_incremental",
    (s, d) => {
      val ev = Tables.events(s, d).select("user_id", "ts", "event_id", "event_type")
      val cut = MidEpoch * 1000000000L
      val b1 = ev.filter(col("ts") < cut)
      val b2 = ev.filter(col("ts") >= cut)
      graft.operators.Cdc.scd2Apply(
        graft.operators.Cdc.scd2Intervals(b1, "user_id", "ts", "event_id", Seq("event_type")),
        b2, "user_id", "ts", "event_id", Seq("event_type"))
    },
    Some(s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id AS id, event_type
        FROM events),
      b AS (SELECT user_id, t, id, event_type,
          CASE WHEN event_type IS NOT DISTINCT FROM LAG(event_type) OVER w
               THEN 0 ELSE 1 END AS nw
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, id)),
      r AS (SELECT *, CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY t, id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run FROM b),
      v AS (SELECT user_id, run AS version_idx, MIN(event_type) AS event_type,
          MIN(t) AS valid_from FROM r GROUP BY 1, 2),
      f AS (SELECT *, LEAD(valid_from) OVER (PARTITION BY user_id
          ORDER BY valid_from) AS valid_to FROM v)
      SELECT user_id, event_type, valid_from, valid_to, version_idx,
        valid_to IS NULL AS is_current FROM f"""))

  /** Behavioral diversity ([[graft.operators.Behavior.typeEntropy]]):
    * per-user Shannon entropy over event types — exact counts, one
    * quantized log2 term per type, exact integer sums.
    */
  private val typeEntropyQ = Q(
    "analytics_type_entropy",
    (s, d) => graft.operators.Behavior.typeEntropy(
      evDf(s, d).select("user_id", "event_type"), "user_id", "event_type"),
    Some(s"""WITH $EV,
      c AS (SELECT user_id, event_type, COUNT(*) AS c FROM ev GROUP BY 1, 2),
      t AS (SELECT user_id, c, CAST(SUM(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
        FROM c),
      q AS (SELECT user_id, n,
          CAST(FLOOR((CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
            log2(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000000.0) AS BIGINT) AS tu
        FROM t)
      SELECT user_id, MAX(n) AS n_events, COUNT(*) AS n_types,
        CAST(SUM(tu) AS BIGINT) AS entropy_u,
        CAST(CAST(SUM(tu) AS BIGINT) AS DOUBLE) / 1000000000.0 AS entropy
      FROM q GROUP BY 1"""))

  /** Concentration ([[graft.operators.Behavior.giniByGroup]]): Gini of
    * per-user value totals inside each event type — the sorted-rank
    * identity over micro-unit integers, numerator/denominator exact, one
    * final double division (of a double product of two exact ints).
    */
  private val giniQ = Q(
    "analytics_gini_concentration",
    (s, d) => graft.operators.Behavior.giniByGroup(
      evDf(s, d).select("event_type", "user_id", "value"),
      "event_type", "user_id", "value"),
    Some(s"""WITH $EV,
      x AS (SELECT event_type, user_id, ${DS("value")} AS sv FROM ev GROUP BY 1, 2),
      q AS (SELECT event_type, user_id,
          CAST(floor(sv * 1000000.0 + 0.5) AS BIGINT) AS vu FROM x),
      r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY vu, user_id) AS rn,
          CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM q)
      SELECT event_type, MAX(n) AS n_keys,
        CAST(SUM(vu) AS BIGINT) AS total_u,
        CASE WHEN CAST(SUM(vu) AS BIGINT) > 0
          THEN CAST(CAST(SUM((2 * rn - n - 1) * vu) AS BIGINT) AS DOUBLE) /
            (CAST(MAX(n) AS DOUBLE) * CAST(CAST(SUM(vu) AS BIGINT) AS DOUBLE)) END AS gini
      FROM r GROUP BY 1"""))

  /** Robust anomaly flags ([[graft.operators.Behavior.robustAnomalies]]):
    * per-user median/MAD outlier rule at 3 MADs — both statistics are the
    * discrete-selection rank rule (`agg_median_disc`/`agg_mad` stacked),
    * and the flag compare multiplies each side by an exactly-representable
    * integer literal (one IEEE product per side, identical trees both
    * engines), so every flag is hash-exact.
    */
  private val anomalyMadQ = Q(
    "analytics_anomaly_mad",
    (s, d) => graft.operators.Behavior.robustAnomalies(
      evDf(s, d).select("user_id", "event_id", "value"),
      "user_id", "event_id", "value", threshNum = 3L, threshDen = 1L),
    Some(s"""WITH $EV,
      r AS (SELECT user_id, value, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM ev),
      med AS (SELECT user_id, value AS med FROM r WHERE rn = (cnt + 1) // 2),
      dv AS (SELECT e.user_id, e.event_id, e.value, m.med,
          ABS(e.value - m.med) AS dev
        FROM ev e JOIN med m USING (user_id)),
      r2 AS (SELECT user_id, dev, event_id,
        row_number() OVER (PARTITION BY user_id ORDER BY dev, event_id) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM dv),
      mad AS (SELECT user_id, dev AS mad FROM r2 WHERE rn = (cnt + 1) // 2)
      SELECT dv.user_id, dv.event_id, dv.value, dv.med, mad.mad, dv.dev,
        dv.dev * 1.0 > mad.mad * 3.0 AS is_anomaly
      FROM dv JOIN mad USING (user_id)"""))

  /** Integer-exact EWMA + diff/pct-change ([[graft.operators.Timeseries
    * .ewma]], α = 1/4): the order-dependent recursion runs in micro-units
    * with an explicit mathematical floor each step, and the oracle replays
    * it with a RECURSIVE CTE (`//` floors like the engine's pmod-floor),
    * so every smoothed value is hash-exact; delta / pct_change are
    * identical per-row IEEE trees (pct null on zero or absent previous).
    */
  private val ewmaQ = Q(
    "ts_ewma",
    (s, d) => graft.operators.Timeseries.ewma(
      Tables.events(s, d), "user_id", "ts", "event_id", "value", 1L, 4L),
    Some("""WITH RECURSIVE e AS (SELECT user_id, epoch_ns(ts) AS ts, event_id, value,
        CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vu FROM events),
      r AS MATERIALIZED (SELECT *, row_number() OVER (PARTITION BY user_id
        ORDER BY ts, event_id) AS rn FROM e),
      ew AS (
        SELECT user_id, rn, ts, event_id, value, vu AS ewma_u FROM r WHERE rn = 1
        UNION ALL
        SELECT r.user_id, r.rn, r.ts, r.event_id, r.value,
          (1 * r.vu + 3 * ew.ewma_u) // 4 AS ewma_u
        FROM r JOIN ew ON r.user_id = ew.user_id AND r.rn = ew.rn + 1)
      SELECT user_id, ts, event_id, value, ewma_u,
        CAST(ewma_u AS DOUBLE) / 1000000.0 AS ewma,
        value - LAG(value) OVER w AS delta,
        CASE WHEN LAG(value) OVER w <> 0.0
          THEN (value - LAG(value) OVER w) / LAG(value) OVER w END AS pct_change
      FROM ew WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""))

  /** Interval-overlap join ([[Relational.intervalOverlapJoin]]): which
    * OTHER users' sessions ran concurrently with the probe users'
    * ([[graft.operators.Behavior.sessionize]] on both sides, 6 h gap,
    * 1-day bins) — the binned interval×interval equi join with the
    * first-shared-bin once-only rule, hash-checked against DuckDB's
    * direct inequality join (which plans an IEJoin — the single-node
    * luxury the binned form replaces at scale).
    */
  private val intervalOverlapQ = Q(
    "join_interval_overlap",
    (s, d) => {
      val ses = graft.operators.Behavior.sessionize(
        Tables.events(s, d), "user_id", "ts", "event_id", 21600000000000L)
        .select(col("user_id"), col("session_idx"),
          col("session_start"), col("session_end"))
      val probe = ses.filter(pmod(col("user_id"), lit(97L)) === 0)
      graft.operators.Relational.intervalOverlapJoin(
        probe, ses, keyCols = Seq.empty,
        loCol = "session_start", hiCol = "session_end",
        binWidth = 86400000000000L,
        rightValueCols = Seq("user_id", "session_idx"))
        .filter(col("user_id") =!= col("r_user_id"))
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t FROM events),
      b AS (SELECT user_id, event_id, t,
          CASE WHEN t - LAG(t) OVER w <= 21600000000000 THEN 0 ELSE 1 END AS nw
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      x AS (SELECT user_id, t,
          CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY t, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM b),
      ses AS MATERIALIZED (SELECT user_id, session_idx, MIN(t) AS session_start,
          MAX(t) AS session_end FROM x GROUP BY 1, 2),
      p AS (SELECT * FROM ses WHERE user_id % 97 = 0)
      SELECT p.user_id, p.session_idx, p.session_start, p.session_end,
        s.session_start AS r_session_start, s.session_end AS r_session_end,
        s.user_id AS r_user_id, s.session_idx AS r_session_idx
      FROM p JOIN ses s ON p.session_start <= s.session_end
        AND s.session_start <= p.session_end AND s.user_id <> p.user_id"""))

  /** Per-type winsorization ([[graft.operators.Behavior.winsorize]],
    * p = 1/20): clamp into the type's discrete [p, 1-p] quantile range —
    * the rank rule is exact integer arithmetic (ceil via `(n·p + den-1)
    * div den`), the clamp copies existing doubles verbatim, so every
    * clamped value is hash-exact.
    */
  private val winsorizeQ = Q(
    "analytics_winsorize",
    (s, d) => graft.operators.Behavior.winsorize(
      evDf(s, d).select("event_id", "event_type", "value"),
      "event_type", "event_id", "value", pNum = 1L, pDen = 20L),
    Some(s"""WITH $EV,
      r AS (SELECT event_type, event_id, value,
          row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n FROM ev),
      b AS (SELECT event_type,
          MAX(CASE WHEN rn = GREATEST(1, (n * 1 + 19) // 20) THEN value END) AS lo,
          MAX(CASE WHEN rn = n + 1 - GREATEST(1, (n * 1 + 19) // 20) THEN value END) AS hi
        FROM r GROUP BY 1)
      SELECT e.event_id, e.event_type, e.value, b.lo, b.hi,
        LEAST(GREATEST(e.value, b.lo), b.hi) AS value_winsorized
      FROM ev e JOIN b USING (event_type)"""))

  /** Leave-one-out + m-estimate target encoding ([[graft.features
    * .Encoders.targetEncodeLoo]]) of order priority against total price:
    * DuckDB re-derives the decimal category sums, the self-subtraction,
    * the global prior, and both mirrored double quotients per row —
    * 15 k rows, every encoded value bit-exact. (Orders carry no null
    * labels; the null/singleton branches are EncodersSpec territory.)
    */
  private val targetEncodeQ = Q(
    "feature_target_encode_loo",
    (s, d) => graft.features.Encoders.targetEncodeLoo(
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice"),
      "o_orderpriority", "o_totalprice", m = 10L),
    Some("""WITH st AS (SELECT o_orderpriority,
        SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS s, COUNT(o_totalprice) AS n
        FROM orders GROUP BY 1),
      pr AS (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
          / COUNT(o_totalprice) AS prior FROM orders)
      SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice, st.n AS n_cat,
        CAST(st.s - CAST(o.o_totalprice AS DECIMAL(38,6)) AS DOUBLE)
          / CAST(st.n - 1 AS DOUBLE) AS enc_loo,
        (CAST(st.s - CAST(o.o_totalprice AS DECIMAL(38,6)) AS DOUBLE)
          + 10.0 * pr.prior) / CAST(st.n - 1 + 10 AS DOUBLE) AS enc_smooth
      FROM orders o JOIN st USING (o_orderpriority) CROSS JOIN pr"""))

  /** Incremental aggregate-view maintenance ([[graft.operators
    * .Incremental.aggStateApply]]): the events rollup folded in TWO
    * batches (odd event_ids, then even) into a persisted mergeable-partial
    * state table; the oracle recomputes the whole aggregate from scratch —
    * they hash-match only if the decimal partial merge is exactly
    * associative across the slicing.
    */
  private val aggStateQ = Q(
    "snk_agg_incremental",
    (s, d) => {
      val path = Registry.scratch(s, "aggstate", d)
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val ev = evDf(s, d)
      Incremental.aggStateApply(s, ev.filter(col("event_id") % 2 === 1), path,
        Seq("event_type"), "value")
      Incremental.aggStateApply(s, ev.filter(col("event_id") % 2 === 0), path,
        Seq("event_type"), "value")
      Incremental.readAggState(s, path)
    },
    Some(s"""WITH $EV
      SELECT event_type, ${DS("value")} AS sum, COUNT(value) AS cnt,
        MIN(value) AS min, MAX(value) AS max,
        ${DS("value")} / COUNT(value) AS avg
      FROM ev GROUP BY 1"""))

  /** Per-group z-score standardization ([[graft.features.Encoders
    * .standardize]]): mean and population variance from exact decimal
    * sums, then `(x − mean) / sqrt(var)` — safe cross-engine because
    * IEEE 754 requires sqrt CORRECTLY ROUNDED (unlike log/exp), so with
    * bit-identical variance the whole chain is bit-identical. Aggregated
    * per (event_type, zbin) so the oracle checks every row's z through
    * the binning.
    */
  /** Per-group robust scaling ([[graft.features.Encoders.robustScale]]):
    * discrete-pick median/IQR (verbatim input doubles — no decimal
    * machinery needed), final subtract/divide mirrored per row, so every
    * scaled value is hash-exact directly (no binning indirection).
    */
  private val robustScaleQ = Q(
    "feature_robust_scale",
    (s, d) => graft.features.Encoders.robustScale(
      evDf(s, d).select("event_id", "event_type", "value"), "event_type", "value")
      .select("event_id", "event_type", "value", "p50", "iqr", "r"),
    Some(s"""WITH $EV,
      rk AS (SELECT event_type, value,
          row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ev WHERE value IS NOT NULL),
      st AS (SELECT event_type,
          MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN value END) AS p25,
          MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
          MAX(CASE WHEN rn = (n * 75 + 99) // 100 THEN value END) AS p75
        FROM rk GROUP BY 1)
      SELECT ev.event_id, ev.event_type, ev.value, st.p50 AS p50,
        st.p75 - st.p25 AS iqr,
        CASE WHEN ev.value IS NOT NULL AND st.p75 > st.p25
          THEN (ev.value - st.p50) / (st.p75 - st.p25) END AS r
      FROM ev LEFT JOIN st USING (event_type)"""))

  private val standardizeQ = Q(
    "feature_standardize",
    (s, d) => graft.features.Encoders.standardize(
      evDf(s, d).select("event_id", "event_type", "value"), "event_type", "value")
      .filter(col("z").isNotNull)
      .groupBy(col("event_type"), floor(col("z")).cast("long").as("zbin"))
      .agg(count(lit(1)).as("n"), Scalars.dsumQ(col("z")).as("sum_z")),
    Some(s"""WITH $EV,
      st AS (SELECT event_type,
          ${DS("value")} / COUNT(value) AS mean,
          (CAST(SUM(CAST(FLOOR(value * value * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0
            - ${DS("value")} * ${DS("value")} / COUNT(value)) / COUNT(value) AS var
        FROM ev GROUP BY 1),
      z AS (SELECT ev.event_type, (value - mean) / sqrt(var) AS z
        FROM ev JOIN st USING (event_type)
        WHERE value IS NOT NULL AND var > 0)
      SELECT event_type, CAST(FLOOR(z) AS BIGINT) AS zbin, COUNT(*) AS n,
        CAST(SUM(CAST(FLOOR(z * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_z
      FROM z GROUP BY 1, 2"""))

  /** Per-group OLS trend ([[graft.features.Encoders.linearTrend]]) of
    * event value over epoch seconds: DuckDB re-derives the min-shifted x,
    * all four exact sums (decimal / microunit-quantized), and both
    * mirrored closed-form quotients.
    */
  private val linearTrendQ = Q(
    "feature_linear_trend",
    (s, d) => graft.features.Encoders.linearTrend(
      evDf(s, d), "event_type", "epoch", "value"),
    Some(s"""WITH $EV,
      b AS (SELECT event_type, epoch - MIN(epoch) OVER (PARTITION BY event_type) AS x,
          value AS y, epoch FROM ev WHERE epoch IS NOT NULL AND value IS NOT NULL),
      a AS (SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * y * 1000000.0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
            / 1000000.0 AS sxy,
          MIN(epoch) AS x_min
        FROM b GROUP BY 1)
      SELECT event_type, n, x_min,
        CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
          THEN (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)
        END AS slope,
        CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx <> 0
          THEN (sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
            / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx) / CAST(n AS DOUBLE)
        END AS intercept
      FROM a"""))

  /** Chi-squared independence of event type × weekday ([[graft.quality
    * .Constraints.chiSquaredIndependence]]): exact contingency counts,
    * mirrored expecteds, microunit-quantized terms summed to one exact
    * statistic.
    */
  private val chiSquaredQ = Q(
    "dq_chi_squared",
    (s, d) => Constraints.chiSquaredIndependence(
      evDf(s, d).withColumn("weekday", pmod(col("day"), lit(7L))),
      "event_type", "weekday"),
    Some(s"""WITH $EV,
      v AS (SELECT event_type AS a, day % 7 AS b FROM ev
        WHERE event_type IS NOT NULL AND day IS NOT NULL),
      o AS (SELECT a, b, COUNT(*) AS o FROM v GROUP BY 1, 2),
      w AS (SELECT a, b, o,
          CAST(SUM(o) OVER (PARTITION BY a) AS BIGINT) AS rt,
          CAST(SUM(o) OVER (PARTITION BY b) AS BIGINT) AS ct,
          CAST(SUM(o) OVER () AS BIGINT) AS nn FROM o),
      t AS (SELECT o, nn, a, b,
          (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
            * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))
            / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE)) AS term
        FROM w)
      SELECT CAST(SUM(CAST(FLOOR(term * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS chi2,
        (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof,
        MAX(nn) AS n, COUNT(DISTINCT a) AS n_rows_dim, COUNT(DISTINCT b) AS n_cols_dim
      FROM t"""))

  /** Equal-frequency quartile binning ([[graft.features.Encoders
    * .quantileBinEqualFreq]]) of event value micro-units, rolled up per
    * (event_type, bin): DuckDB re-derives the distinct-unit cumulative
    * table, all three ceil-position cuts, and every row's bin label —
    * exact integers end to end.
    */
  private val quantileBinQ = Q(
    "feature_quantile_bin",
    (s, d) => graft.features.Encoders.quantileBinEqualFreq(
      evDf(s, d).select(col("event_type"),
        expr("cast(floor(value * 1000000.0 + 0.5) as bigint)").as("u")),
      "u", nBins = 4)
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"), min("u").as("lo_units"), max("u").as("hi_units")),
    Some(s"""WITH $EV,
      v AS MATERIALIZED (SELECT event_type,
        CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS u FROM ev),
      vc AS (SELECT u, COUNT(*) AS c FROM v GROUP BY u),
      cum AS (SELECT u, CAST(SUM(c) OVER (ORDER BY u ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cv FROM vc),
      tot AS (SELECT COUNT(u) AS n FROM v),
      cuts AS (SELECT
        MIN(CASE WHEN cv >= (n * 1 + 3) // 4 THEN u END) AS c1,
        MIN(CASE WHEN cv >= (n * 2 + 3) // 4 THEN u END) AS c2,
        MIN(CASE WHEN cv >= (n * 3 + 3) // 4 THEN u END) AS c3
        FROM cum CROSS JOIN tot)
      SELECT event_type,
        1 + CAST(u > c1 AS INTEGER) + CAST(u > c2 AS INTEGER) + CAST(u > c3 AS INTEGER) AS bin,
        COUNT(*) AS n, MIN(u) AS lo_units, MAX(u) AS hi_units
      FROM v CROSS JOIN cuts GROUP BY 1, 2"""))

  /** k-anonymity audit ([[graft.quality.Constraints.kAnonymityReport]]):
    * every (event_type, day) equivalence class with its distinct-subject
    * cover and the k=5 violation flag — exact count-distinct, trivially
    * re-derived by the oracle.
    */
  private val kAnonymityQ = Q(
    "dq_k_anonymity",
    (s, d) => Constraints.kAnonymityReport(
      evDf(s, d), Seq("event_type", "day"), "user_id", k = 5L),
    Some(s"""WITH $EV
      SELECT event_type, day, COUNT(DISTINCT user_id) AS n_subjects,
        COUNT(*) AS n_rows, COUNT(DISTINCT user_id) < 5 AS violating
      FROM ev GROUP BY 1, 2"""))

  /** Bloom-runtime-filtered equi join ([[graft.operators.Relational
    * .bloomFilteredJoin]]): lineitem probes a selective orders subset
    * (urgent + high-value) through a Bloom filter on the join key BEFORE
    * the join, then the exact join + a rollup. EXACTNESS is the whole
    * claim — false positives cost only shuffled bytes — so the oracle is
    * the PLAIN join + rollup with no bloom anywhere; a hash mismatch
    * would mean the bloom dropped a matching row (a false negative, which
    * the construction forbids). PlanSpec separately asserts the probe
    * filter sits scan-adjacent under the join.
    */
  private val bloomJoinQ = Q(
    "join_bloom_filtered",
    (s, d) => {
      val small = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      graft.operators.Relational.bloomFilteredJoin(
        Tables.lineitem(s, d).select("l_orderkey", "l_returnflag", "l_extendedprice"),
        small, "l_orderkey", "o_orderkey",
        expectedItems = 100000L, numBits = 1L << 20)
        .groupBy("l_returnflag", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          Scalars.dsum(col("l_extendedprice")).as("revenue"))
    },
    Some(s"""SELECT l_returnflag, o_orderstatus, COUNT(*) AS n,
        ${Registry.Ora.DS("l_extendedprice")} AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
      GROUP BY 1, 2"""),
    planView = Some((s, d) => {
      val small = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      Tables.lineitem(s, d).select("l_orderkey", "l_returnflag", "l_extendedprice")
        .join(small, col("l_orderkey") === col("o_orderkey"), "inner")
        .groupBy("l_returnflag", "o_orderstatus")
        .agg(count(lit(1)).as("n"),
          Scalars.dsum(col("l_extendedprice")).as("revenue"))
    }))

  val all: Seq[Q] = Seq(
    bloomJoinQ, kAnonymityQ, targetEncodeQ, quantileBinQ, aggStateQ, standardizeQ, robustScaleQ,
    streamingSequenceQ, linearTrendQ, chiSquaredQ,
    cdcApply, cdcApplyBucketed, cdcApplyVersioned, snapshotChangesFeed,
    cdcErasureSweep, resampleFfillQ, scd2Q,
    scd2LookupQ, streamingScd2Q, anomalyMadQ, ewmaQ, intervalOverlapQ, winsorizeQ,
    asOfNearestQ, driftPsiQ, tsPipelineQ, scd2IncrementalQ, typeEntropyQ, giniQ,
    funnelQ, funnelTimedQ, sequenceMatchQ, sequenceGappedQ, retentionQ, twabQ, transitionsQ, sessionizeQ,
    q1Agg, perWallet, creditMix, timeSince, positionRollup, conditionalAvg,
    riskFactorStats, weightedAvg, scalarWatermark, firstBlockOfDay, distinctDedup,
    dqConstraints, incrementalWatermark, boundedCatchup, literalPredicates, projStageEvents,
    dateParts, epochExtract, substrBucket, ethConversion, clampDiff,
    sentinelReplace, greatestLeast, coalesceNullif, healthFactorCase,
    equi2Key, asOfPrice, asOfMergeQ, asOfMergeSaltedQ, asOfBinned, asOfForwardQ, asOfMergeForwardQ,
    rangeJoinQ, labeledFeaturesQ,
    antiBlocklist, innerMetadata, fullOuterMerge,
    argmaxLatest, featureChainQ, unionAccountSender, liquidationReassign,
    disjunctiveTheta, countDistinctBelow, semiAddressList, unionAllAddresses,
    pivotEvents, rollupWeekly, cubeWeekly, groupingSetsQ, approxQuantileBound,
    movingSum, medianDisc, medianCont, madDisc, topkPerGroup,
    jsonExtract, jsonExplodeSeq, jsonKeysProfile,
    sortPagination, upsertKeyed, upsertBucketed, upsertBucketedVersioned, upsertVersioned,
    upsertSchemaEvolution, snapshotStatsPrunedRead, snapshotStatsPrunedReadStr,
    snapshotDeleteVectors, snapshotBranchWap, snapshotHistoryMeta, snapshotBloomPrunedRead,
    snapshotPointLookup, snapshotTaggedRead, snapshotFeedConsume,
    streamingFeedConsume, ctasFullRefresh, upsertServe, docStoreUpsert,
    joinSpjBucketedTables)
}
