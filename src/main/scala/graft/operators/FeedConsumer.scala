package graft.operators

import graft.sources.MetaFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTAL CONSUMER of a versioned table's change data feed — the
  * downstream half of the CDF story ([[BucketedSnapshots
  * .readTableChangesBetween]] is the upstream half): maintain a keyed
  * rollup of a 100 TB table by processing ONLY what changed between
  * commits, with exactly-once EFFECT across crashes.
  *
  * Layout under `consumerPath`:
  *   _OFFSET            "upstreamVersion,downstreamBaseVersion" — the last
  *                      upstream version fully applied, and the downstream
  *                      table version that apply committed
  *   rollup/            a [[BucketedSnapshots]] CDC table keyed by the
  *                      group column: `(group, n, <sum per measure>)`
  *
  * One [[drainRollup]] call processes upstream versions
  * `(offset, current]`:
  *
  *  - BOOTSTRAP (no offset): aggregate the live snapshot once, commit it
  *    as the initial rollup.
  *  - INCREMENTAL: read the manifest-pruned feed WITH update preimages
  *    (`I`/`U_post` add, `D`/`U_pre` subtract — a key that moves between
  *    groups debits the old group and credits the new), aggregate the
  *    deltas per group, join against the PINNED downstream base (the
  *    version recorded with the offset, never the live one), and commit
  *    `U` rows with the recomputed totals (or `D` where the group's key
  *    count reaches zero) at `seq = upstream version`.
  *
  * EXACTLY-ONCE BY PINNED-BASE IDEMPOTENCE: the new group totals are a
  * pure function of (pinned base, feed) — they never read the downstream
  * LIVE version — and the CDC apply is seq-keyed. A crash between the
  * downstream commit and the offset write makes the redo recompute
  * byte-identical rows at the same seq and re-apply them onto a table
  * that already holds them: the content converges to the same state, and
  * only then does the offset advance. (This is why the offset records
  * the downstream BASE version and why `keepVersions >= 2` on the rollup
  * table: the pinned base must survive the crashed commit.)
  *
  * Scale shape: the feed reads 2×churn (manifest-pruned); the delta
  * aggregation shuffles churn-sized data on the group key; the base join
  * touches the ROLLUP table (group cardinality, not upstream rows).
  * Measures must be exact-summable (integral or decimal) — doubles would
  * drift between the incremental and from-scratch paths.
  */
object FeedConsumer {

  private def offsetPath(consumerPath: String) = s"$consumerPath/_OFFSET"

  /** The rollup table maintained under the consumer. */
  def rollupPath(consumerPath: String): String = s"$consumerPath/rollup"

  /** `(last fully-applied upstream version, downstream version that apply
    * committed)`, or None before the bootstrap.
    */
  def offset(spark: SparkSession, consumerPath: String): Option[(Long, Long)] =
    MetaFile.read(spark, offsetPath(consumerPath)).flatMap(_.trim.split(",") match {
      case Array(up, down) =>
        for { u <- up.toLongOption; d <- down.toLongOption } yield (u, d)
      case _ => None
    })

  private def writeOffset(
      spark: SparkSession, consumerPath: String, upV: Long, downV: Long): Unit =
    MetaFile.replace(spark, offsetPath(consumerPath), s"$upV,$downV")

  private def aggOf(rows: DataFrame, groupCol: String, measures: Seq[String]): DataFrame =
    rows.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      measures.map(m => sum(col(m)).as(s"sum_$m")): _*)

  /** The tombstone-filtered live rollup. */
  def readRollup(spark: SparkSession, consumerPath: String): DataFrame =
    BucketedSnapshots.readTable(spark, rollupPath(consumerPath))

  /** The PINNED downstream base, read through the SPJ catalog whenever
    * the version carries the bucket-layout headers (always, for tables
    * this consumer committed itself — r15+): the planner sees the rollup
    * table's KeyGroupedPartitioning on `groupCol`, so the base join
    * shuffles ONLY the churn-sized delta/fresh side and the
    * group-cardinality rollup side stays exchange-free (SpjSpec asserts
    * the plan; row-identical to [[BucketedSnapshots.readTableAt]]).
    */
  private def readBase(
      spark: SparkSession, roll: String, v: Long, groupCol: String): DataFrame =
    if (BucketedSnapshots.readBucketKey(spark, roll, v).contains(groupCol))
      BucketedSnapshots.readTableAtSPJ(spark, roll, v)
    else BucketedSnapshots.readTableAt(spark, roll, v)

  /** The incremental rollup update: pinned base left-joined onto the
    * signed per-group deltas, stored types preserved. Factored so the
    * SPJ plan contract is assertable in isolation (SpjSpec).
    */
  private[graft] def nextRollup(
      delta: DataFrame, base: DataFrame, groupCol: String,
      measures: Seq[String]): DataFrame =
    delta.join(base, Seq(groupCol), "left").select(
      col(groupCol) +:
        (coalesce(col("n"), lit(0L)) + col("d_n")).as("n") +:
        measures.map { m =>
          // keep the stored type: Spark widens decimal sums-of-sums,
          // and a widened type would trip the retype rejection in the
          // downstream merge's schema alignment
          val dt = base.schema(s"sum_$m").dataType
          // coalesce BOTH sides: a group whose feed rows all carry NULL
          // for this measure yields d_m = NULL, and base + NULL would
          // null out the stored rollup (diverging from a from-scratch agg)
          (coalesce(col(s"sum_$m"), lit(0).cast(dt)) +
            coalesce(col(s"d_$m"), lit(0).cast(dt)))
            .cast(dt).as(s"sum_$m")
        }: _*)

  /** Process all upstream commits past the offset; returns the downstream
    * rollup version now corresponding to the upstream head (unchanged if
    * already caught up or only data-less commits — e.g. compaction —
    * landed), or None when the upstream table has never committed.
    */
  def drainRollup(
      spark: SparkSession,
      tablePath: String,
      consumerPath: String,
      key: String,
      groupCol: String,
      measures: Seq[String],
      nBuckets: Int = 16,
      keepVersions: Int = 3,
      maxCatchupVersions: Int = 8): Option[Long] = {
    require(keepVersions >= 2,
      "the pinned downstream base must survive a crashed commit: keepVersions >= 2")
    val curUp = BucketedSnapshots.currentVersion(spark, tablePath) match {
      case Some(v) => v
      case None => return None
    }
    val roll = rollupPath(consumerPath)
    offset(spark, consumerPath) match {
      case Some((fromV, downBaseV)) if fromV == curUp =>
        Some(downBaseV) // caught up

      case None =>
        // BOOTSTRAP: the live snapshot aggregated once, as inserts
        val snap = BucketedSnapshots.readTableAt(spark, tablePath, curUp)
        val init = aggOf(snap, groupCol, measures)
          .withColumn("seq", lit(curUp)).withColumn("op", lit("I"))
        val downV = BucketedSnapshots.applyChanges(
          spark, init, roll, groupCol, nBuckets, keepVersions = keepVersions)
        writeOffset(spark, consumerPath, curUp, downV)
        Some(downV)

      case Some((fromV, downBaseV)) if curUp - fromV > maxCatchupVersions =>
        // RE-BOOTSTRAP FALLBACK — bounds the catch-up read after a long
        // outage. The coalesced feed read over (fromV, curUp] replays
        // every intermediate version's touched buckets; on a hot table a
        // long-enough gap degrades that to a near-full-history scan (and
        // upstream retention may have GC'd fromV entirely). Past
        // `maxCatchupVersions`, rebuilding from the LIVE snapshot is
        // strictly cheaper: one snapshot read + one rollup-cardinality
        // anti-join. Exactly-once is preserved — the new totals are a pure
        // function of (snapshot at curUp) and the delete list a pure
        // function of (pinned base, snapshot), so a crashed redo
        // recomputes byte-identical rows at the same seq.
        val snap = BucketedSnapshots.readTableAt(spark, tablePath, curUp)
        val fresh = aggOf(snap, groupCol, measures)
        val base = readBase(spark, roll, downBaseV, groupCol)
        val upserts = fresh
          .withColumn("seq", lit(curUp)).withColumn("op", lit("U"))
        // groups that vanished upstream since the pinned base: tombstone
        val gone = base.join(fresh.select(groupCol), Seq(groupCol), "left_anti")
          .select(
            col(groupCol) +: lit(0L).as("n") +:
              measures.map { m =>
                val dt = base.schema(s"sum_$m").dataType
                lit(null).cast(dt).as(s"sum_$m")
              }: _*)
          .withColumn("seq", lit(curUp)).withColumn("op", lit("D"))
        val downV = BucketedSnapshots.applyChanges(
          spark, upserts.unionByName(gone), roll, groupCol, nBuckets,
          keepVersions = keepVersions)
        writeOffset(spark, consumerPath, curUp, downV)
        Some(downV)

      case Some((fromV, downBaseV)) =>
        val feed = BucketedSnapshots.readTableChangesBetween(
          spark, tablePath, key, fromV, curUp, updatePreimages = true)
        // signed per-group deltas in ONE pass over the feed (adds credit,
        // subs debit): per-row ±1 / ±measure summed directly replaces the
        // previous two-aggregation union (the feed scanned once, one
        // shuffle instead of three); the eager localCheckpoint makes the
        // emptiness probe and the downstream base join share ONE
        // execution — the probe used to run the whole churn-sized DAG a
        // second time before the real consumer re-ran it
        val sign = when(col("op").isin("I", "U_post"), lit(1L)).otherwise(lit(-1L))
        val delta = feed
          .filter(col("op").isin("I", "U_post", "D", "U_pre"))
          .groupBy(groupCol).agg(
            sum(sign).cast("long").as("d_n"),
            measures.map(m =>
              sum(when(sign === lit(1L), col(m)).otherwise(-col(m))).as(s"d_$m")): _*)
          .localCheckpoint(true)
        try {
          if (delta.isEmpty) {
            // data-less upstream commits (compaction): just advance
            writeOffset(spark, consumerPath, curUp, downBaseV)
            return Some(downBaseV)
          }
          // PINNED base — never the live downstream version (idempotent
          // redo); read SPJ so only the churn-sized delta shuffles
          val base = readBase(spark, roll, downBaseV, groupCol)
          val next = nextRollup(delta, base, groupCol, measures)
          val ops = next
            .withColumn("seq", lit(curUp))
            .withColumn("op", when(col("n") === 0L, "D").otherwise("U"))
          val downV = BucketedSnapshots.applyChanges(
            spark, ops, roll, groupCol, nBuckets, keepVersions = keepVersions)
          writeOffset(spark, consumerPath, curUp, downV)
          Some(downV)
        } finally delta.unpersist()
    }
  }
}
