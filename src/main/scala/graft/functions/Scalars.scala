package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar building blocks shared across the engine.
  *
  * Each function re-expresses a scalar idiom of the reference pipeline
  * (SURVEY.md §2.2) as a codegen-friendly `Column` expression — no UDFs, so
  * every one of these stays inside whole-stage codegen and is pushdown /
  * constant-folding eligible at 100 TB.
  */
object Scalars {

  /** The "no debt" / clamp sentinel of the reference's health factor
    * (reference: src/pipelines/features/transformations/
    * view_defi_historical_health_and_risk_factor.sql:32-39).
    */
  val HealthFactorMax = 1000000.0
  val HealthFactorMin = 0.000001

  /** Sentinel for "never happened" time-since features
    * (reference: defi_features_calculation.sql:162-172).
    */
  val TimeSinceSentinel = 999999999L

  /** The 6-branch health-factor CASE of the reference, factored into ONE
    * function (the reference copy-pastes it 6×; see SURVEY.md §2.2
    * `scalar_health_factor_case`). Semantics preserved branch-for-branch:
    *
    *   - no (or zero/NULL) borrow balance        -> 1e6  ("no debt")
    *   - ratio 0 and balance < 1e-6              -> 1e6
    *   - ratio 0 and balance > 1e-6              -> 1e-6
    *   - ratio 0 (balance == 1e-6 exactly)       -> 1e-6
    *   - ratio < 1e-6                            -> 1e-6
    *   - else                                    -> ratio
    */
  def healthFactor(numerator: Column, borrowBalance: Column): Column = {
    val ratio = numerator / borrowBalance
    when(coalesce(borrowBalance, lit(0.0)) === 0.0, lit(HealthFactorMax))
      .when(ratio === 0.0 && borrowBalance < HealthFactorMin, lit(HealthFactorMax))
      .when(ratio === 0.0 && borrowBalance > HealthFactorMin, lit(HealthFactorMin))
      .when(ratio === 0.0, lit(HealthFactorMin))
      .when(ratio < HealthFactorMin, lit(HealthFactorMin))
      .otherwise(ratio)
  }

  /** `GREATEST(0, a - b)` expressed as the reference's CASE
    * (reference: defi_features_calculation.sql:143-150).
    */
  def clampDiff(a: Column, b: Column): Column =
    when(a - b < 0, lit(0.0)).otherwise(a - b)

  /** `CASE WHEN x = 0 THEN 999999999 ELSE x END` cast BIGINT
    * (reference: defi_features_calculation.sql:162-172).
    */
  def zeroToSentinel(x: Column): Column =
    when(x === 0, lit(TimeSinceSentinel)).otherwise(x).cast("long")

  /** `COALESCE(num / NULLIF(den, 0), 0)` — safe ratio-of-sums
    * (reference: view_defi_current_health_factor_features.sql:207).
    */
  def safeDiv(num: Column, den: Column): Column =
    coalesce(num / when(den === 0, lit(null)).otherwise(den), lit(0.0))

  /** Token-quantity → ETH conversion: `q / 10^decimals`, multiplied by the
    * token price unless the token IS native ETH (zero address)
    * (reference: src/pipelines/analytics/transformations/transformations.sql:29-33).
    */
  val ZeroAddress = "0x0000000000000000000000000000000000000000"
  def toEth(token: Column, quantity: Column, decimals: Column, price: Column): Column =
    when(token === ZeroAddress, quantity / pow(lit(10.0), decimals))
      .otherwise(quantity / pow(lit(10.0), decimals) * price)

  /** 256-way address bucket: first hex byte after "0x"
    * (reference: transformations.sql:38 `SUBSTR(addr, 3, 2)`).
    * Used as the key-partitioning column for analytics tables; at 100 TB
    * this is the co-location key that lets per-wallet aggregations run
    * shuffle-free after one repartition.
    */
  def addressBucket(address: Column): Column = substring(address, 3, 2)

  /** Order-independent exact sum: decimal(38,6) accumulation, double out.
    * Plain double sums differ in the last ulps across partition orders —
    * at 100 TB that's nondeterministic output between runs; the engine
    * standardizes every money/ratio aggregate on this (SURVEY.md §7.4.6).
    *
    * KNOWN DATA CONTRACT — 1e-6 quantization: each input is rounded to 6
    * fractional digits before accumulating, so amounts below 5e-7 (e.g.
    * sub-microtoken dust of 18-decimal assets, if fed in un-scaled native
    * units) vanish from the aggregate. The feature pipeline operates on
    * ETH/USD-denominated doubles where 1e-6 is far below feature
    * resolution, and the DuckDB oracle mirrors the same cast, so parity
    * holds by construction. Callers aggregating raw 18-decimal token
    * quantities should use [[dsumHi]] instead.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(38,6)")).cast("double")

  /** [[dsum]] at decimal(38,18): full wei-scale (18 fractional digits)
    * precision, at the cost of integer headroom (20 digits — still ~1e20,
    * ample for ETH-scale magnitudes).
    */
  def dsumHi(c: Column): Column = sum(c.cast("decimal(38,18)")).cast("double")

  /** Order-independent exact average: decimal sum over non-null count. */
  def davg(c: Column): Column = sum(c.cast("decimal(38,6)")).cast("double") / count(c)

  /** [[davg]] with EXPLICIT microunit quantization: each value becomes
    * `floor(x * 1e6 + 0.5)` as a long before the exact integer sum. The
    * plain decimal(38,6) cast has a real tie hazard — a dyadic double can
    * land exactly on a half-microunit boundary and engines disagree on the
    * tie direction (observed at sf0.1: 11 of ~1500 weighted-risk rows off
    * by one summed microunit) — while scale-18 decimals overflow double's
    * 17 significant digits on the way back out. floor(+0.5) pins the tie
    * INSIDE IEEE arithmetic, which both engines execute identically, and
    * the long sum (~1e15 headroom per group) converts to double exactly.
    */
  def davgQ(c: Column): Column =
    sum(floor(c * lit(1e6) + lit(0.5)).cast("decimal(38,0)")).cast("double") / lit(1e6) / count(c)

  /** [[dsum]] with [[davgQ]]'s explicit microunit quantization — for
    * summing COMPUTED doubles (products, quotients) whose decimal cast
    * would hit the half-microunit tie hazard davgQ documents.
    *
    * The quantized units accumulate in decimal(38,0), NOT a bare long: a
    * squared value near the 1e6 sentinel quantizes to ~1e18 units, so two
    * such rows would silently wrap a long sum under non-ANSI Spark while
    * DuckDB's 128-bit SUM(BIGINT) stays exact — the oracle would diverge
    * only AFTER the engine had already corrupted the result. decimal(38,0)
    * gives 38 digits of integer headroom at identical per-row values.
    */
  def dsumQ(c: Column): Column =
    sum(floor(c * lit(1e6) + lit(0.5)).cast("decimal(38,0)")).cast("double") / lit(1e6)
}
