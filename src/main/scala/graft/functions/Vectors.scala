package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, as pure Column
  * expressions (`zip_with`/`aggregate` — codegen'd, no UDF, no driver loop).
  *
  * Elements are cast to double BEFORE arithmetic so results are reproducible
  * against the DuckDB oracle (float32 accumulation differs).
  */
object Vectors {

  /** Dot product — native codegen'd Catalyst expression
    * ([[graft.functions.expressions.DotProduct]]). Bit-identical to the
    * declarative fold `aggregate(zip_with(a, b, (x,y) => x.cast*y.cast),
    * 0.0, _ + _)` (same element order, same IEEE-754 widening), but that
    * fold runs interpreted per element — the native loop is the hot-path
    * form for ANN over array<float>/array<double> columns.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graftnative.NativeColumns.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Sign-bit bucket for random-hyperplane LSH. Plane weights are a
    * deterministic integer pseudo-random grid,
    * `w(p, i) = ((p * 131 + i * 31) % 17) - 8`, so the identical bucketing is
    * expressible in the DuckDB oracle SQL (no shared hash library needed).
    * `planes` sign bits pack into one integer bucket id, over the planes
    * starting at global plane id `planeOffset` — each LSH band gets its
    * own disjoint plane range, so B banded hash tables are mutually
    * independent.
    *
    * Scale: bucketing turns O(n^2) all-pairs cosine into an equi join on
    * `bucket` — the candidate set per probe is n / 2^planes on average.
    */
  def hyperplaneBucketAt(vec: Column, planeOffset: Int, planes: Int): Column = {
    val bits = (0 until planes).map { p =>
      val g = planeOffset + p
      val proj = aggregate(
        zip_with(
          vec,
          sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * (((lit(g) * 131 + i * 31) % 17) - 8).cast("double")),
        lit(0.0),
        (acc, v) => acc + v)
      when(proj >= 0, lit(1 << p)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** All `bands` band buckets at once (band b = planes
    * [b*planesPerBand, (b+1)*planesPerBand)), as an array to `posexplode`
    * into (band, bucket) candidate keys — the OR-of-ANDs banded LSH
    * construction: a pair is a candidate if ANY band bucket matches, and
    * each band's bucket requires ALL its sign bits to match.
    *
    * Runs as the native codegen'd
    * [[graft.functions.expressions.HyperplaneBuckets]] (one tight loop per
    * row): the declarative per-plane folds ([[bandedBucketsDeclarative]])
    * execute interpreted — bands * planes lambda dispatches per row — and
    * dominated the LSH family's runtime. Arithmetic is bit-identical
    * (NativeExprSpec asserts it), so DuckDB oracle parity is unchanged.
    */
  def bandedBuckets(vec: Column, bands: Int, planesPerBand: Int): Column =
    org.apache.spark.sql.graftnative.NativeColumns.hyperplaneBuckets(vec, bands, planesPerBand)

  /** The declarative reference formulation of [[bandedBuckets]] — kept as
    * the executable spec the native expression is differentially tested
    * against (interpreted; do not use on hot paths).
    */
  def bandedBucketsDeclarative(vec: Column, bands: Int, planesPerBand: Int): Column =
    array((0 until bands).map(b =>
      hyperplaneBucketAt(vec, b * planesPerBand, planesPerBand)): _*)
}
