package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture apply: merge batches of keyed change records
  * (insert / update / delete, each carrying a per-key monotone sequence
  * number) into a persisted snapshot table. This is the delete-aware
  * generalization of [[Incremental.upsertByKey]] — the reference's
  * pipelines only ever upsert (save_defi_features_features_db.py:28-34),
  * but a CDC-fed datalake table also has to apply deletes and survive
  * batches arriving OUT OF ORDER and REPLAYED, which last-writer-wins
  * merging cannot do (a late-arriving old batch would clobber newer rows,
  * and a delete would be forgotten the moment a stale update for the same
  * key showed up).
  *
  * Semantics (per key, across every change ever applied): the record with
  * the greatest `(seq, op-rank)` decides the row — if it is a delete the
  * key is absent from [[readTable]], otherwise its payload is the row.
  * Ties on `seq` rank `D > U > I`, so changes sharing a sequence number
  * resolve deterministically (and, for deletes, conservatively). The
  * winning rank PERSISTS as `_rank` metadata so the comparison is the
  * same within a batch and across the merge — batch boundaries can slice
  * the stream arbitrarily, because the winner-of-winners of any partition
  * of a set under one total order IS the set's winner. Correctness needs
  * only that no key ever emits two changes with equal `(seq, op)`.
  *
  * Deletes persist as TOMBSTONES (`_deleted = true` rows keeping their
  * `_seq`): that is what makes out-of-order safe — a stale update arriving
  * after the delete loses to the tombstone's higher seq. Tombstones are
  * dropped by [[pruneTombstones]] (bucketed tables:
  * [[BucketedSnapshots.pruneTombstones]]) once the CDC source's
  * low-watermark guarantees nothing older can still arrive.
  *
  * 100 TB shape: the per-batch reduction is a `groupBy(key).agg(max(struct
  * …)))` — struct field order IS the precedence order — so it partial-
  * aggregates map-side (one candidate per key per input partition crosses
  * the shuffle; a window `row_number` form would sort whole partitions).
  * The merge is one full-outer join per batch on the key, the same shape
  * as the upsert family; at datalake scale the table should live bucketed:
  * [[BucketedSnapshots.applyChanges]] applies this merge rule to the
  * touched buckets only and commits with one pointer flip.
  *
  * Every table here commits through the [[Snapshots]] pointer protocol
  * ([[Snapshots.commitWith]]): the full next snapshot lands in `v=N+1`,
  * then one atomic `_CURRENT` flip publishes it, so each commit returns
  * its version and any retained version reads back through
  * [[readTableAt]] / [[Snapshots.readSnapshot]].
  */
object Cdc {
  /** Persisted per-row metadata: the winning change's sequence number. */
  val SeqMeta = "_seq"

  /** Persisted per-row metadata: true for tombstones. */
  val DeletedMeta = "_deleted"

  /** Persisted per-row metadata: the winning change's op rank (D=2, U=1,
    * I=0) — what makes the equal-seq tie rule identical within a batch and
    * across the persisted merge (an I/U pair sharing a seq resolves to U
    * no matter how batches slice the stream).
    */
  val RankMeta = "_rank"

  /** D > U > I on equal seq; any other op code fails the job. */
  private def opRank(op: Column): Column =
    when(op === "D", 2L).when(op === "U", 1L).when(op === "I", 0L)
      .otherwise(raise_error(concat(
        lit("Cdc.applyChanges: invalid op code '"), op, lit("' (expected I/U/D)"))))

  /** Per-key winner of one change batch as snapshot-schema rows
    * (key, _seq, _deleted, payload…). Map-side-combining aggregate: the
    * max is over a struct whose leading fields are (seq, op-rank), so the
    * precedence order is the struct comparison order and ties beyond it
    * cannot occur under the seq-totally-orders-each-key contract.
    */
  private[graft] def reduceBatch(
      changes: DataFrame, key: String, seqCol: String, opCol: String): DataFrame = {
    val payload = changes.columns.toSeq.filter(c => c != key && c != seqCol && c != opCol)
    val fields = Seq(col(seqCol).as("s"), opRank(col(opCol)).as("r")) ++ payload.map(col)
    changes
      .groupBy(col(key))
      .agg(max(struct(fields: _*)).as("w"))
      .select(Seq(
        col(key),
        col("w.s").as(SeqMeta),
        (col("w.r") === 2L).as(DeletedMeta),
        col("w.r").as(RankMeta)) ++ payload.map(c => col(s"w.`$c`").as(c)): _*)
  }

  /** Seq-aware merge of a reduced batch into the existing snapshot: the
    * incoming row wins iff its `(seq, op-rank)` is strictly greater — the
    * identical total order [[reduceBatch]] maximizes within a batch, so
    * replaying a batch is a no-op, a late-arriving OLD batch cannot
    * clobber newer state, and equal-seq ties (D > U > I) resolve the same
    * way no matter how batches slice the stream.
    */
  private[graft] def mergeSnapshots(existing0: DataFrame, batch0: DataFrame, key: String): DataFrame = {
    // schema evolution: added payload columns null-backfill on the side
    // missing them; retypes are rejected (Incremental.alignSchemas)
    val (existing, batch) = Incremental.alignSchemas(existing0, batch0)
    val cols = batch.columns.toSeq
    val u = batch.select(cols.map(c => col(c).as(s"u_$c")): _*)
    val incomingWins = col(s"u_$key").isNotNull && (col(key).isNull ||
      col(s"u_$SeqMeta") > col(SeqMeta) ||
      (col(s"u_$SeqMeta") === col(SeqMeta) && col(s"u_$RankMeta") > col(RankMeta)))
    existing.join(u, col(key) === col(s"u_$key"), "full_outer")
      .select(cols.map(c => when(incomingWins, col(s"u_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** Apply one change batch to the snapshot table at `path` (created on
    * first use). `changes` = key + `seqCol` (LONG, totally ordering each
    * key's changes) + `opCol` ('I'|'U'|'D') + payload columns; the payload
    * schema must stay stable across batches. Commit is the same pointer
    * flip as [[Incremental.upsertByKey]]: a reader pinned at version N
    * keeps reading exactly N while N+1 commits, and a crash leaves N
    * live. Returns the committed version.
    */
  def applyChanges(
      spark: SparkSession,
      changes: DataFrame,
      path: String,
      key: String,
      seqCol: String = "seq",
      opCol: String = "op"): Long = {
    val batch = reduceBatch(changes, key, seqCol, opCol)
    Snapshots.commitWith(spark, path, {
      case None => batch
      case Some(cur) => mergeSnapshots(cur, batch, key)
    })
  }

  /** The live view: tombstones filtered, metadata dropped. */
  def readTable(spark: SparkSession, path: String): DataFrame =
    stripMeta(Snapshots.readCurrent(spark, path))

  /** RIGHT-TO-BE-FORGOTTEN sweep (GDPR art. 17 / CCPA deletion): tombstone
    * every given subject key in ONE delete batch at `seq` — callers pass a
    * seq ABOVE every applied change so the erasure out-ranks any stale
    * in-flight update (the sticky-tombstone property then keeps the
    * subject dead until [[pruneTombstones]] reclaims the bytes once the
    * source watermark passes the erasure). Works on the plain and the
    * bucketed layout, read from the table itself: a [[BucketedSnapshots]]
    * table (it has a committed version) is swept through
    * [[BucketedSnapshots.applyChanges]] at the bucket count its manifest
    * records, which rewrites ONLY the buckets holding subject keys — the
    * compliance-grade property at 100 TB (erasing 1k subjects must not
    * cost a full-table rewrite).
    *
    * Returns the ERASURE AUDIT, computed from the table and never
    * assumed: `(key, existed_before, exists_after)` — existed_before from
    * a pre-apply live-view probe (materialized BEFORE the rewrite),
    * exists_after from re-reading the committed table; an erasure that
    * silently failed surfaces as `exists_after = true`, which the
    * registry oracle (all-false column) would hash-break on.
    */
  def eraseKeys(
      spark: SparkSession,
      path: String,
      keys: DataFrame,
      keyCol: String,
      seq: Long): DataFrame = {
    val nBuckets = BucketedSnapshots.currentVersion(spark, path).map(v =>
      BucketedSnapshots.readNBuckets(spark, path, v).getOrElse(
        throw new IllegalStateException(
          s"bucketed table at $path has no #nBuckets header — cannot bucket the erasure")))
    def liveView: DataFrame =
      if (nBuckets.isDefined) BucketedSnapshots.readTable(spark, path) else readTable(spark, path)
    val subjects = keys.select(col(keyCol)).distinct().localCheckpoint()
    val existedBefore = liveView.select(col(keyCol))
      .join(subjects, Seq(keyCol), "left_semi").distinct().localCheckpoint()
    val table = if (nBuckets.isDefined) BucketedSnapshots.readCurrent(spark, path)
      else Snapshots.readCurrent(spark, path)
    val payload = table.columns.toSeq
      .filterNot(c => c == keyCol || c == SeqMeta || c == DeletedMeta || c == RankMeta)
    val changes = subjects
      .select(Seq(col(keyCol), lit(seq).as("__seq"), lit("D").as("__op")) ++
        payload.map(c => lit(null).cast(table.schema(c).dataType).as(c)): _*)
    nBuckets match {
      case Some(n) => BucketedSnapshots.applyChanges(spark, changes, path, keyCol, n,
        seqCol = "__seq", opCol = "__op")
      case None => applyChanges(spark, changes, path, keyCol, seqCol = "__seq", opCol = "__op")
    }
    val after = liveView.select(col(keyCol))
      .join(subjects, Seq(keyCol), "left_semi").distinct()
    subjects
      .join(existedBefore.withColumn("__b", lit(true)), Seq(keyCol), "left")
      .join(after.withColumn("__a", lit(true)), Seq(keyCol), "left")
      .select(col(keyCol),
        coalesce(col("__b"), lit(false)).as("existed_before"),
        coalesce(col("__a"), lit(false)).as("exists_after"))
  }

  private def stripMeta(df: DataFrame): DataFrame =
    df.filter(!col(DeletedMeta)).drop(SeqMeta, DeletedMeta, RankMeta)

  /** TIME TRAVEL: the live view exactly as committed at `version` —
    * immutable even while newer versions commit ([[Snapshots.readSnapshot]]
    * fails fast once the version ages out of retention).
    */
  def readTableAt(spark: SparkSession, path: String, version: Long): DataFrame =
    stripMeta(Snapshots.readSnapshot(spark, path, version))

  /** Drop tombstones the CDC source can no longer contradict: once the
    * source's low-watermark guarantees every in-flight change has
    * `seq >= lowWatermark`, a tombstone with `_seq < lowWatermark` can
    * never again out-rank an arriving change, so it is dead weight. Live
    * rows are never pruned. Same pointer commit as the apply path (a
    * version pinned before the prune still reads its tombstones); returns
    * the committed version.
    */
  def pruneTombstones(spark: SparkSession, path: String, lowWatermark: Long): Long =
    Snapshots.commitWith(spark, path, cur =>
      Snapshots.requireLive(path, cur).filter(!col(DeletedMeta) || col(SeqMeta) >= lowWatermark))

  /** SCD Type-2 dimension history from the same change stream
    * [[applyChanges]] consumes — where the snapshot table answers "what is
    * the row NOW", the Type-2 table answers "what was the row at time T"
    * with validity intervals, the standard warehouse shape for
    * slowly-changing dimensions (Kimball SCD2) and the batch twin of the
    * engine's as-of join family (a point-in-time lookup against the output
    * is `valid_from <= t < valid_to`, an interval join [[AsOfJoin]] bins).
    *
    * Semantics: order each key's changes by `(tsCol, idCol)`; collapse
    * CONSECUTIVE RUNS of identical tracked values (a "change" record that
    * does not change the tracked columns extends the current version, it
    * does not open a new one); emit one row per run:
    * `(key, tracked…, valid_from, valid_to, version_idx, is_current)`,
    * `valid_to` = the next version's `valid_from` (null on the current
    * version — half-open intervals, so point lookups never double-match a
    * boundary). `version_idx` is 1-based per key in time order.
    *
    * All integer/verbatim-copy arithmetic (run detection compares values
    * for equality; interval bounds are existing timestamps) — exact on any
    * engine.
    *
    * 100 TB shape: one exchange. Run detection (lag), the run-id running
    * sum, and the version-boundary lead are all windows over the key
    * partitioning, and the per-(key, run) aggregation's grouping keys are
    * a superset of the window key, so Catalyst reuses the single hash
    * exchange end to end ([[graft.operators.Behavior.sessionize]]'s
    * shape). Output size is the number of VALUE CHANGES, not events —
    * the whole point of Type-2 storage at scale.
    */
  /** INCREMENTAL [[scd2Intervals]] maintenance — the production form: a
    * Type-2 table over years of history must absorb today's changes
    * without recomputing every key's full change stream (the
    * [[graft.operators.Dedup]] `dedup_cluster_incremental` discipline
    * applied to dimension history). Contract: every batch row's
    * `(tsCol, idCol)` is STRICTLY LATER than everything already applied
    * for its key (append-only time — the same monotonicity
    * [[Incremental]]'s watermark reads give for free).
    *
    * Semantics = exactly `scd2Intervals(allChangesEverApplied)`:
    *  - the batch's internal runs collapse first ([[scd2Intervals]] on the
    *    batch alone);
    *  - a key's OPEN version either EXTENDS (batch's first run carries the
    *    same tracked values — no new version, its valid_to is the batch's
    *    second run boundary) or CLOSES at the batch's first change
    *    instant;
    *  - batch runs append with version indices continuing the key's
    *    count; closed history rows pass through untouched — which is the
    *    whole point: the table's closed majority is never rewritten.
    *    Incremental == full recompute is property-tested across random
    *    split points (CdcSpec) and hash-checked by the registry row
    *    (`scd2_incremental`: two-batch apply vs the from-scratch oracle).
    *
    * Shape: one [[scd2Intervals]] over the (small) batch + one keyed
    * full-outer of the one-row-per-key OPEN set against the batch's
    * first-run set — the closed history never shuffles.
    */
  def scd2Apply(existing: DataFrame, batch: DataFrame, keyCol: String, tsCol: String,
      idCol: String, trackedCols: Seq[String]): DataFrame = {
    val outCols = (keyCol +: trackedCols) ++
      Seq("valid_from", "valid_to", "version_idx", "is_current")
    val hist = existing.filter(!col("is_current")).select(outCols.map(col): _*)
    val cur = existing.filter(col("is_current"))
      .select((col(keyCol) +: trackedCols.map(c => col(c).as(s"__c_$c"))) ++
        Seq(col("valid_from").as("__c_from"), col("version_idx").as("__c_ver")): _*)
    val runs = scd2Intervals(batch, keyCol, tsCol, idCol, trackedCols)
    val first = runs.filter(col("version_idx") === 1L)
      .select((col(keyCol) +: trackedCols.map(c => col(c).as(s"__f_$c"))) ++
        Seq(col("valid_from").as("__f_from"), col("valid_to").as("__f_to")): _*)
    val j = cur.join(first, Seq(keyCol), "full_outer")
    val sameTracked = trackedCols
      .map(c => col(s"__c_$c") <=> col(s"__f_$c")).reduce(_ && _)
    val touched = col("__f_from").isNotNull
    // the key's (possibly extended or closed) current version
    val curOut = j.filter(col("__c_from").isNotNull).select(
      (col(keyCol) +: trackedCols.map(c => col(s"__c_$c").as(c))) ++ Seq(
        col("__c_from").as("valid_from"),
        when(!touched, lit(null).cast("long"))
          .when(sameTracked, col("__f_to"))
          .otherwise(col("__f_from")).as("valid_to"),
        col("__c_ver").as("version_idx")): _*)
    // batch runs that open NEW versions: all of them for a changed or new
    // key; runs 2.. when the first run merely extended the open version
    val verBase = j.select(col(keyCol),
      coalesce(col("__c_ver"), lit(0L)).as("__base"),
      (col("__c_from").isNotNull && sameTracked).as("__merged"))
    val runsOut = runs.join(verBase, keyCol)
      .filter(!col("__merged") || col("version_idx") > 1L)
      .select((col(keyCol) +: trackedCols.map(col)) ++ Seq(
        col("valid_from"), col("valid_to"),
        (col("version_idx") + col("__base") -
          when(col("__merged"), 1L).otherwise(0L)).as("version_idx")): _*)
    hist.unionByName(
      curOut.unionByName(runsOut)
        .withColumn("is_current", col("valid_to").isNull)
        .select(outCols.map(col): _*))
  }

  /** The persisted-table lifecycle of [[scd2Apply]] — [[applyChanges]]'s
    * shape for interval history: bootstrap on first batch
    * ([[scd2Intervals]] alone), incremental apply afterwards, same
    * pointer commit. The SCD2 rows answer "what was the dimension at
    * business time T", the committed version answers "what did the
    * history TABLE look like as of commit N" (bitemporal when combined).
    * Returns the committed version. Lifecycle covered in CdcSpec:
    * bootstrap + N applies == one full rebuild.
    */
  def scd2ApplyTable(spark: SparkSession, batch: DataFrame, path: String,
      keyCol: String, tsCol: String, idCol: String, trackedCols: Seq[String]): Long =
    Snapshots.commitWith(spark, path, scd2Next(batch, keyCol, tsCol, idCol, trackedCols))

  private def scd2Next(batch: DataFrame, keyCol: String, tsCol: String, idCol: String,
      trackedCols: Seq[String])(cur: Option[DataFrame]): DataFrame = cur match {
    case None => scd2Intervals(batch, keyCol, tsCol, idCol, trackedCols)
    case Some(existing) => scd2Apply(existing, batch, keyCol, tsCol, idCol, trackedCols)
  }

  /** [[scd2ApplyTable]] made exactly-once by [[Incremental.commitOnce]] —
    * the form a streaming caller needs: unlike the CDC argmax or the
    * sketch merges, SCD2 apply is NOT replay-idempotent (re-applying a
    * batch would re-append its runs as duplicate versions), so
    * at-least-once redelivery must be DETECTED. The applied-batch
    * manifest commits inside the new version dir with the data, so a
    * crash between data commit and manifest write is impossible by
    * construction; a replayed `batchId` ≤ the manifest is a no-op.
    * Returns whether the batch applied. The
    * [[graft.streaming.Streams.scd2ApplyAvailableNow]] sink drives this.
    */
  def scd2ApplyTableBatch(spark: SparkSession, batch: DataFrame, path: String,
      keyCol: String, tsCol: String, idCol: String, trackedCols: Seq[String],
      batchId: Long): Boolean =
    Incremental.commitOnce(spark, path, batchId)(
      scd2Next(batch, keyCol, tsCol, idCol, trackedCols))

  /** POINT-IN-TIME lookup against a Type-2 dimension — "what was the
    * dimension row for this key when this fact happened": the standard
    * bitemporal enrichment ([[scd2Intervals]] builds the table, this
    * reads it). Routed through the NATIVE as-of merge exec
    * ([[AsOfJoin.asOfMerge]]) as a backward match on `valid_from`: a
    * key's versions PARTITION its timeline from the first change onward
    * (each `valid_to` IS the next `valid_from`), so the latest
    * `valid_from <= t` version automatically satisfies the half-open
    * containment `t < valid_to` — no interval predicate, no range join,
    * no argmax re-join; one sort-merge pass. Facts before the key's
    * first version (or with unknown keys) get null tracked columns.
    * Output: facts + `asof_<tracked>` + `asof_valid_to` (carried so the
    * containment is visible/hash-checkable, not just argued).
    */
  def scd2Lookup(facts: DataFrame, dim: DataFrame, keyCol: String, factTs: String,
      trackedCols: Seq[String]): DataFrame =
    AsOfJoin.asOfMerge(
      facts,
      dim.select((col(keyCol) +: trackedCols.map(col)) :+
        col("valid_from") :+ col("valid_to"): _*),
      Seq(keyCol), factTs, "valid_from",
      tolerance = Long.MaxValue / 4, // unbounded lookback, overflow-safe
      rightValueCols = trackedCols :+ "valid_to")

  def scd2Intervals(changes: DataFrame, keyCol: String, tsCol: String,
      idCol: String, trackedCols: Seq[String]): DataFrame = {
    require(trackedCols.nonEmpty, "trackedCols must be non-empty")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(idCol))
    val cur = struct(trackedCols.map(col): _*)
    val runId = changes
      // null-safe run detection: lag null (first row) or any tracked-value
      // change (<=> handles null tracked values) opens a new version
      .withColumn("__new", when(cur <=> lag(cur, 1).over(w), 0L).otherwise(1L))
      .withColumn("__run", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val aggs = trackedCols.map(c => first(col(c)).as(c)) :+ min(col(tsCol)).as("valid_from")
    val runs = runId
      .groupBy(col(keyCol), col("__run"))
      .agg(aggs.head, aggs.tail: _*)
    val wk = Window.partitionBy(keyCol).orderBy(col("valid_from"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wk))
      .select((col(keyCol) +: trackedCols.map(col)) ++ Seq(
        col("valid_from"), col("valid_to"),
        col("__run").as("version_idx"),
        col("valid_to").isNull.as("is_current")): _*)
  }
}
