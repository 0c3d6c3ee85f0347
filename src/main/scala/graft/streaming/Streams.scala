package graft.streaming

import graft.functions.Scalars.dsum
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming realizations of the reference's incremental-batch
  * semantics (SURVEY.md §2.7): the daily pipeline is a bounded catch-up
  * loop over an append-only event table with a max-watermark resume point —
  * exactly what `Trigger.AvailableNow` + checkpointed file streams give us
  * natively, with the watermark bookkeeping moved from hand-rolled
  * `MAX(ts)` scans (src/pipelines/utils.py:8-22) into the engine.
  *
  * All entry points return the STREAMING DataFrame (caller picks the sink)
  * or a started query; at 100 TB the file source lists incrementally and
  * each micro-batch is a normal partitioned scan.
  */
object Streams {

  /** Incremental ingest of a parquet event directory: every new file is a
    * micro-batch; `AvailableNow` drains the backlog and stops — the
    * streaming equivalent of the reference's bounded catch-up run
    * (MAX_TIMEWINDOW_DAYS loop, raw/defi_events.py:58).
    */
  def incrementalParquet(spark: SparkSession, path: String, schemaFrom: String): DataFrame = {
    graft.sources.Tables.configure(spark)
    val schema = spark.read.parquet(schemaFrom).schema
    spark.readStream.schema(schema).parquet(path)
  }

  /** Tumbling daily rollup with late-data tolerance: the streaming form of
    * the reference's first-block-of-day downsampling + trailing-7-day
    * lateness allowance (SURVEY.md §2.7). `tsCol` must be a TimestampType
    * column; sums are decimal-exact ([[dsum]]).
    */
  def dailyRollup(
      events: DataFrame,
      tsCol: String,
      keyCols: Seq[String],
      valueCol: String,
      lateness: String = "7 days"): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), "1 day").as("w") +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"), dsum(col(valueCol)).as("total_value"))
      .select(expr("unix_timestamp(w.start) div 86400").as("day") +:
        (keyCols.map(col) :+ col("n_events") :+ col("total_value")): _*)

  /** Append the stream to a partitioned parquet table with exactly-once
    * file-sink semantics (checkpointed), AvailableNow: one call = one
    * drained incremental batch, replacing the reference's
    * `INSERT INTO ... WHERE ts > (SELECT MAX(ts) ...)` pattern.
    */
  def appendAvailableNow(
      stream: DataFrame,
      outPath: String,
      checkpoint: String,
      partitionCols: Seq[String] = Nil): StreamingQuery = {
    val w = stream.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).start()
  }

  /** Streaming AS-OF ENRICHMENT: each micro-batch of facts is enriched
    * against the STATIC versioned-value table with the NATIVE as-of merge
    * ([[graft.operators.AsOfJoin.asOfMerge]] — the custom sort-merge
    * exec) and appended to the parquet sink: the always-on form of the
    * batch price enrichment, with `foreachBatch` supplying exactly the
    * batch-DataFrame seam the native operator already serves. Because the
    * right side is static and each fact's match depends on its OWN row
    * only, the result set is independent of how the input is micro-batched
    * — a drain equals the batch recompute row-for-row (StreamsSpec proves
    * it across a forced multi-batch split; the registry hash-checks the
    * single-drain form against the batch oracle). `foreachBatch` is
    * at-least-once on failure, so each batch OVERWRITES its own
    * deterministic subdirectory (`b<batchId>`) — a replayed batch rewrites
    * identical content instead of appending duplicates; read the sink with
    * `recursiveFileLookup`. At scale the static side re-shuffles per batch
    * on the equi keys while each fact batch is small — callers with a
    * large price table pre-bucket it on the key
    * ([[graft.sources.Layout.writeBucketed]]) so the merge plans with NO
    * exchange on the static side (AsOfMergeSpec's bucketed-layout test).
    */
  def asOfEnrichAvailableNow(
      facts: DataFrame,
      prices: DataFrame,
      keyCols: Seq[String],
      leftTs: String,
      rightTs: String,
      tolerance: Long,
      rightValueCols: Seq[String],
      outPath: String,
      checkpoint: String): StreamingQuery =
    facts.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.AsOfJoin.asOfMerge(
          batch, prices, keyCols, leftTs, rightTs, tolerance, rightValueCols)
          .write.mode("overwrite").parquet(s"$outPath/b$batchId")
      }
      .start()

  /** Streaming SERVE-SINK upsert: each micro-batch is key-merged into the
    * KV table via [[graft.operators.Incremental.upsertByKey]] — the
    * always-on form of the reference's daily features->serving load
    * (save_defi_features_features_db.py: overwrite per key), with
    * `foreachBatch` supplying exactly the batch-DataFrame seam the batch
    * sink already implements. The upsert's pointer commit keeps the serve
    * table readable mid-commit; read it with
    * [[graft.operators.Snapshots.readCurrent]].
    *
    * HIGHEST VERSION WINS — globally, not latest-batch-wins: the batch is
    * unioned with the existing rows OF ITS OWN KEYS before the per-key
    * argmax, so the final table is independent of micro-batch ORDER (file
    * listings carry no time order), of replays (at-least-once delivery
    * re-merges idempotently), and of late data (a stale row can never
    * clobber a newer one already served). Ties on the version break
    * through the full row ordering — deterministic even for same-version
    * duplicates.
    *
    * The pre-merge is semi-join restricted to the batch's keys (broadcast —
    * a micro-batch is small by construction): keys the batch doesn't touch
    * already survive unchanged through [[graft.operators.Incremental
    * .upsertByKey]]'s full-outer merge, so argmaxing them again would be a
    * redundant O(table) shuffle per micro-batch on top of the inherent
    * table rewrite.
    *
    * With `nBuckets` the serve table is a
    * [[graft.operators.BucketedSnapshots]] table: each micro-batch rewrites
    * only its buckets and commits with one pointer flip; read it with
    * [[graft.operators.BucketedSnapshots.readCurrent]].
    */
  def upsertAvailableNow(
      stream: DataFrame,
      outPath: String,
      checkpoint: String,
      key: String,
      versionCol: String,
      nBuckets: Option[Int] = None): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val cols = batch.columns
        val existing = nBuckets match {
          case Some(_) =>
            graft.operators.BucketedSnapshots.currentVersion(spark, outPath)
              .map(v => graft.operators.BucketedSnapshots.readSnapshot(spark, outPath, v))
          case None =>
            graft.operators.Snapshots.currentVersion(spark, outPath)
              .map(v => graft.operators.Snapshots.readSnapshot(spark, outPath, v))
        }
        val all = existing match {
          case None => batch
          case Some(e) => batch.unionByName(e.select(cols.map(col): _*)
            .join(broadcast(batch.select(col(key)).distinct()), Seq(key), "left_semi"))
        }
        val row = struct(cols.map(col): _*)
        val one = all.groupBy(col(key))
          .agg(max_by(row, struct(col(versionCol), row)).as("__r"))
          .select(col("__r.*"))
        nBuckets match {
          // bucketed: the serve table rewrites only the batch's buckets —
          // at a corpus-sized serve table the full-rewrite form is the
          // classic per-micro-batch amplification (see corpusServe)
          case Some(n) =>
            graft.operators.BucketedSnapshots.upsertByKey(spark, one, outPath, key, n)
          case None =>
            graft.operators.Incremental.upsertByKey(spark, one, outPath, key)
        }
        ()
      }
      .start()

  /** STREAMING CDC APPLY: each micro-batch of change records goes through
    * [[graft.operators.Cdc.applyChanges]] — and the merge rule, not the
    * stream engine, carries the correctness: foreachBatch is only
    * at-least-once (a crash between the sink commit and the checkpoint
    * advance replays the batch), and a file source lists new files in no
    * particular order, but applyChanges is replay-idempotent and
    * order-independent by its per-key (seq, op-rank) argmax + sticky
    * tombstones, so the table converges to the same state as one batch
    * apply of the whole stream regardless of slicing, ordering, or replay
    * (StreamsSpec proves multi-batch == batch; the registry row drains
    * hash-scattered files against the direct-argmax oracle). Read the live
    * view with [[graft.operators.Cdc.readTable]]; with `nBuckets` the table
    * is committed through [[graft.operators.BucketedSnapshots.applyChanges]]
    * (touched buckets only) and read with
    * [[graft.operators.BucketedSnapshots.readTable]].
    */
  def cdcApplyAvailableNow(
      stream: DataFrame,
      outPath: String,
      checkpoint: String,
      key: String,
      seqCol: String = "seq",
      opCol: String = "op",
      nBuckets: Option[Int] = None): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) nBuckets match {
          case Some(n) => graft.operators.BucketedSnapshots.applyChanges(
            batch.sparkSession, batch, outPath, key, n, seqCol, opCol)
          case None => graft.operators.Cdc.applyChanges(
            batch.sparkSession, batch, outPath, key, seqCol, opCol)
        }
        ()
      }
      .start()

  /** STREAMING VERSIONED TABLE + INCREMENTAL CONSUMER — the always-on
    * CDF loop: each micro-batch of change records commits a new VERSION
    * of the bucketed serve table ([[graft.operators.BucketedSnapshots
    * .applyChanges]] — touched-buckets write, one pointer flip), then the
    * change-feed consumer ([[graft.operators.FeedConsumer.drainRollup]])
    * drains exactly that commit to maintain its downstream rollup.
    * Replay-safe end to end WITHOUT a batch manifest: a replayed
    * micro-batch re-applies the same seq-keyed changes and converges to
    * byte-identical table content (a new version whose manifest-pruned
    * feed is then EMPTY — the consumer just advances its offset), and the
    * consumer's own crash window is covered by its pinned-base
    * idempotence. The consumer lags the table by at most the in-flight
    * commit, inside the rollup's keepVersions=3 retention.
    */
  def feedConsumeAvailableNow(
      stream: DataFrame,
      tablePath: String,
      consumerPath: String,
      checkpoint: String,
      key: String,
      groupCol: String,
      measures: Seq[String],
      seqCol: String = "seq",
      opCol: String = "op",
      nBuckets: Int = 16): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        if (!batch.isEmpty)
          graft.operators.BucketedSnapshots.applyChanges(
            spark, batch, tablePath, key, nBuckets, seqCol, opCol, keepVersions = 3)
        graft.operators.FeedConsumer.drainRollup(
          spark, tablePath, consumerPath, key, groupCol, measures, nBuckets)
        ()
      }
      .start()

  /** STREAMING SCD2 MAINTENANCE: each micro-batch of change records
    * extends the persisted Type-2 dimension table via
    * [[graft.operators.Cdc.scd2ApplyTableBatch]]. Where the CDC argmax
    * and the sketch merges absorb at-least-once redelivery by algebra,
    * SCD2 apply is NOT replay-idempotent (a re-applied batch would
    * re-append its runs as duplicate versions), so exactly-once here is
    * DETECTED: the applied-batch manifest commits atomically inside the
    * table's pointer commit and a replayed batchId is a no-op — the
    * [[aggStateIngestAvailableNow]] discipline on interval history.
    * Contract inherited from [[graft.operators.Cdc.scd2Apply]]: each
    * batch's `(tsCol, idCol)` must be strictly later than everything
    * already applied for its key (file slices arriving in time order).
    */
  def scd2ApplyAvailableNow(
      stream: DataFrame,
      outPath: String,
      checkpoint: String,
      keyCol: String,
      tsCol: String,
      idCol: String,
      trackedCols: Seq[String]): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Cdc.scd2ApplyTableBatch(
            batch.sparkSession, batch, outPath, keyCol, tsCol, idCol,
            trackedCols, batchId)
          ()
        }
      }
      .start()

  /** STREAMING SKETCH-STATE INGEST: each micro-batch folds its keys into a
    * persisted HLL register table (`statePath`, at most 256 rows at rest)
    * by register-wise max — after any drain the state answers "distinct
    * keys ever seen" in one 256-row read, no matter how much raw data
    * flowed through. Exactness story is [[graft.operators.Cdc]]'s again,
    * one level simpler: register max is associative, commutative AND
    * idempotent, so foreachBatch's at-least-once replay and arbitrary
    * batch slicing are absorbed by the merge itself (a replayed batch
    * max-merges to a no-op). Commit is the [[graft.operators.Snapshots]]
    * pointer protocol: object-store-safe, and a monitoring reader can PIN
    * a sketch version (e.g. "distinct keys as of yesterday's drain") while
    * ingestion keeps committing. Read the state with
    * [[graft.operators.Snapshots.readCurrent]]/`readSnapshot` and estimate
    * with [[graft.functions.Sketches.hllEstimate]].
    */
  def hllIngestAvailableNow(
      stream: DataFrame,
      keyCol: String,
      statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val sk = graft.functions.Sketches.hllSketch(batch, col(keyCol))
          graft.operators.Snapshots.commitWith(spark, statePath, {
            case None => sk
            case Some(cur) => graft.functions.Sketches.hllMerge(sk.unionByName(cur))
          })
          ()
        }
      }
      .start()

  /** STREAMING KMV INGEST — [[hllIngestAvailableNow]]'s twin for the
    * set-algebra sketch: each micro-batch folds its keys' k smallest
    * hashes into the persisted sample ([[graft.functions.Sketches
    * .kmvMerge]] — a re-min of mins, associative, commutative AND
    * idempotent, so at-least-once replay and arbitrary slicing are
    * absorbed by the merge). The at-rest state (≤ k rows) answers
    * distinct-count AND intersection questions against any other KMV
    * sketch via [[graft.functions.Sketches.kmvIntersect2]]. Same pointer
    * commit as [[hllIngestAvailableNow]]; read with
    * [[graft.operators.Snapshots.readCurrent]].
    */
  def kmvIngestAvailableNow(
      stream: DataFrame,
      keyCol: String,
      statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val sk = graft.functions.Sketches.kmvSketch(batch, col(keyCol))
          graft.operators.Snapshots.commitWith(spark, statePath, {
            case None => sk
            case Some(cur) => graft.functions.Sketches.kmvMerge(sk.unionByName(cur))
          })
          ()
        }
      }
      .start()

  /** STREAMING DRIFT INGEST — the serving-side half of
    * [[graft.quality.Constraints.driftPsi]]: each micro-batch's per-bin
    * counts land as a `batch=<id>` OVERWRITE subdir. Counts are NOT
    * idempotent under at-least-once replay (unlike the HLL/KMV merges),
    * so replay safety comes from the DIRECTORY KEY instead: a replayed
    * batch id overwrites its own counts rather than double-counting —
    * the streaming-LSH per-batch-id state discipline. [[driftState]]
    * folds the subdirs into the accumulated actual distribution;
    * `Constraints.driftPsiFromCounts` against a frozen training snapshot
    * is then the always-on drift alarm.
    */
  def driftIngestAvailableNow(
      stream: DataFrame,
      binCol: String,
      statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          batch.groupBy(col(binCol).as("bin")).agg(count(lit(1)).as("n"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$statePath/batch=$batchId")
      }
      .start()

  /** Accumulated per-bin counts across every ingested batch (partition
    * discovery exposes the `batch` dirs; the fold is one tiny keyed sum).
    */
  def driftState(spark: org.apache.spark.sql.SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath).groupBy("bin").agg(sum("n").as("n"))

  /** STREAMING AGGREGATE-STATE INGEST — the always-on form of
    * [[graft.operators.Incremental.aggStateApply]]: each micro-batch's
    * mergeable partials fold into the persisted per-key state through
    * [[graft.operators.Incremental.aggStateApplyBatch]], whose
    * applied-batch manifest commits ATOMICALLY with the data in the
    * state table's pointer commit (read with
    * [[graft.operators.Incremental.readAggState]]) — so
    * foreachBatch's at-least-once redelivery is a detected no-op, not a
    * double-count (a different discipline from the CMS/drift batch-id
    * subdirs: here the state is ONE merged table, so the guard must ride
    * the table's own commit).
    */
  def aggStateIngestAvailableNow(
      stream: DataFrame,
      keyCols: Seq[String],
      measureCol: String,
      statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Incremental.aggStateApplyBatch(
            batch.sparkSession, batch, statePath, keyCols, measureCol, batchId)
          ()
        }
      }
      .start()

  /** STREAMING COUNT-MIN INGEST — the heavy-hitter/frequency half of the
    * sketch-state family: each micro-batch's CMS cells land as a
    * `batch=<id>` OVERWRITE subdir ([[driftIngestAvailableNow]]'s
    * replay-by-directory-key discipline — CMS counts ADD, so the merge is
    * not replay-idempotent and the subdir key must absorb at-least-once
    * redelivery). [[cmsState]] folds the subdirs into the one accumulated
    * sketch that [[graft.functions.Sketches.cmsPointQuery]] and the
    * heavy-hitters report read — the always-on "what's trending in the
    * ingest feed" monitor at O(d·w) state, independent of stream size.
    */
  def cmsIngestAvailableNow(
      stream: DataFrame,
      keyCol: String,
      statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.functions.Sketches.cmsSketch(batch, col(keyCol))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(s"$statePath/batch=$batchId")
      }
      .start()

  /** The accumulated CMS across every ingested batch — one tiny keyed sum
    * over ≤ d·w·batches cell rows, shaped for [[graft.functions.Sketches
    * .cmsPointQuery]]/cmsTopK.
    */
  def cmsState(spark: org.apache.spark.sql.SparkSession, statePath: String): DataFrame =
    graft.functions.Sketches.cmsMerge(
      spark.read.parquet(statePath).select("r", "cell", "cnt"))

  /** STREAMING NEAR-DUP INGEST: each micro-batch of new documents is
    * LSH-checked against the persisted bucket index
    * ([[graft.operators.Dedup.minhashBuckets]] at rest under
    * `statePath/buckets`, document text under `statePath/docs` — the
    * caller seeds both from the existing corpus), then APPENDS its own
    * buckets and docs so later batches dedup against it too — the
    * always-on form of the daily [[graft.operators.Dedup
    * .minhashLshIncremental]] ingest. Each batch also near-dup-checks
    * WITHIN itself (lower id plays the corpus role), so after the drain
    * the emitted pair set is exactly "every new doc x every EARLIER doc
    * (seed corpus, earlier batch, or same batch with lower id)" —
    * independent of how the ingest was split into batches when batches
    * arrive in id order (StreamsSpec proves multi-batch == one-batch).
    *
    * Scale contract inherited from the incremental form: only the BATCH
    * is ever sketched; the corpus contributes its (doc_id, band, bucket)
    * index rows and is re-read only for docs landing in a shared bucket
    * — a day's ingest dedups against a 100 TB history without
    * re-sketching it, and the index grows by exactly the batch's rows.
    *
    * REPLAY SAFETY (at-least-once delivery): every write is an OVERWRITE
    * of a batch-id-keyed subdirectory — pairs under `outPath/b<id>`, and
    * the state appends under `statePath/buckets/b<id>` /
    * `statePath/docs/b<id>` (the caller seeds `statePath/buckets/seed` +
    * `statePath/docs/seed` from the existing corpus). A plain
    * mode-append state write would double the batch's index rows on
    * replay, and duplicated doc rows would then duplicate the verify
    * join's output pairs; idempotent per-batch directories make a replay
    * byte-equivalent to the first run (StreamsSpec re-drains from a
    * wiped checkpoint and asserts state and pairs are unchanged).
    *
    * The state read for batch N sees ONLY `seed` and `b<j>` with j < N:
    * on a full re-drain (wiped checkpoint, retained state/out dirs) the
    * later batches' subdirs are still on disk, and reading them would
    * make the replayed batch N check against its own future — emitting
    * each cross-batch pair twice, once per orientation. Filtering by
    * batch id (rather than deleting, which would destroy retained state
    * the re-drain is about to need) keeps every replay byte-equivalent.
    */
  def lshDedupAvailableNow(
      stream: DataFrame,
      statePath: String,
      outPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      shingleHash: graft.operators.Dedup.ShingleHash = graft.operators.Dedup.XxShingleHash,
      autoCompactMaxSubdirs: Int = 16)
      : StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        import graft.operators.Dedup
        // a checkpoint replaying INTO the compacted region would read its
        // own (folded) state back as corpus and double-count — the
        // forfeited-replay hazard compaction's scaladoc documents. The
        // manifest makes it fail fast instead of silently wrong.
        readCompactionManifest(spark, statePath).foreach { through =>
          if (batchId <= through) throw new IllegalStateException(
            s"lshDedupAvailableNow: state at $statePath was compacted through batch " +
              s"$through but this checkpoint is replaying batch $batchId — a wiped or " +
              "older checkpoint cannot replay into folded state without double-counting; " +
              "reset checkpoint AND state together (re-seed from the corpus)")
        }
        // standing maintenance: fold strictly-earlier batch subdirs into
        // the seed once they accrete past the bound (upTo = batchId keeps
        // a mid-drain restart's own leftover b<batchId> dir unfolded, so
        // the replay filter below still sees it as future state)
        compactLshState(spark, statePath, maxSubdirs = autoCompactMaxSubdirs,
          upTo = batchId)
        // the batch feeds four consumers (vs-index check, within-batch
        // check, bucket append, doc append): pin it once
        val batch = batch0.select(col(idCol), col(textCol)).localCheckpoint()
        // a replayed run leaves b<id> subdirs for THIS and LATER batches
        // on disk — read only seed + strictly-earlier batches, so the
        // batch never checks against its own prior write (self-pairing
        // every doc) or against its future (double-emitting cross-batch
        // pairs on a full re-drain)
        def state(sub: String): DataFrame = {
          val base = new org.apache.hadoop.fs.Path(s"$statePath/$sub")
          val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val past = fs.listStatus(base).toSeq.map(_.getPath).filter { p =>
            val nm = p.getName
            !(nm.length > 1 && nm.head == 'b' && nm.tail.forall(_.isDigit) &&
              nm.tail.toLong >= batchId)
          }
          spark.read.option("recursiveFileLookup", "true")
            .parquet(past.map(_.toString): _*)
        }
        val index = state("buckets")
        val docs = state("docs")
        val vsCorpus = Dedup.minhashLshIncremental(batch, index, docs,
          idCol, textCol, n, k, bands, threshold, shingleHash)
        val within = Dedup.minhashLsh(batch, idCol, textCol,
          n, k, bands, threshold, shingleHash)
          .select(col("doc_id_2").as("new_id"), col("doc_id_1").as("corpus_id"),
            col("jaccard"))
        vsCorpus.unionByName(within)
          .write.mode("overwrite").parquet(s"$outPath/b$batchId")
        Dedup.minhashBuckets(batch, idCol, textCol, n, k, bands, shingleHash)
          .write.mode("overwrite").parquet(s"$statePath/buckets/b$batchId")
        batch.write.mode("overwrite").parquet(s"$statePath/docs/b$batchId")
      }
      .start()

  /** STREAMING PIXEL NEAR-DUP INGEST — [[lshDedupAvailableNow]]'s media
    * sibling: each micro-batch of (id, payload) media rows is decoded to
    * its 64-bit pixel dHash ([[graft.operators.Multimodal.pixelHash]];
    * undecodable payloads drop out and keep the byte-fingerprint family),
    * Hamming-checked against the persisted signature state
    * (`statePath/sigs` — 8-byte rows, seeded from the existing corpus
    * under `sigs/seed`) AND within itself, then appends its own
    * signatures so later batches dedup against it. A re-encoded duplicate
    * of ANY earlier media lands at Hamming 0 the moment it arrives.
    *
    * Replay safety is the per-batch-directory discipline verbatim:
    * pairs OVERWRITE `outPath/b<id>`, signatures OVERWRITE
    * `sigs/b<id>`, and state reads filter to strictly-earlier batch ids —
    * a wiped-checkpoint re-drain over retained state is byte-equivalent.
    * Scale: only 8-byte signatures ever persist or shuffle; the payloads
    * never leave their scan.
    */
  def pixelDedupAvailableNow(
      stream: DataFrame,
      statePath: String,
      outPath: String,
      checkpoint: String,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 2): StreamingQuery =
    mediaHashDedupAvailableNow(stream, statePath, outPath, checkpoint,
      idCol, payloadCol, maxHamming,
      (df, id, payload) => graft.operators.Multimodal.pixelHash(df, id, payload))

  /** The JPEG sibling of [[pixelDedupAvailableNow]]: micro-batches decode
    * through the baseline-JFIF luma path
    * ([[graft.operators.Multimodal.jpegHash]] — Huffman + integer IDCT +
    * EXIF orientation normalization), so a re-encoded OR rotated-via-
    * metadata duplicate of any earlier image lands the moment it arrives.
    * Identical per-batch-dir replay discipline; only 8-byte signatures
    * persist or shuffle.
    */
  def jpegDedupAvailableNow(
      stream: DataFrame,
      statePath: String,
      outPath: String,
      checkpoint: String,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 4): StreamingQuery =
    mediaHashDedupAvailableNow(stream, statePath, outPath, checkpoint,
      idCol, payloadCol, maxHamming,
      (df, id, payload) => graft.operators.Multimodal.jpegHash(df, id, payload))

  /** The WebP sibling of [[pixelDedupAvailableNow]]: micro-batches decode
    * through the full VP8L path
    * ([[graft.operators.Multimodal.webpHash]] — canonical prefix codes,
    * transforms, color cache, LZ77 with the 2-D distance map), so a
    * CDN-re-encoded duplicate (different predictor set / palettization /
    * cache choices) of any earlier image lands the moment it arrives.
    * Identical per-batch-dir replay discipline; only 8-byte signatures
    * persist or shuffle.
    */
  def webpDedupAvailableNow(
      stream: DataFrame,
      statePath: String,
      outPath: String,
      checkpoint: String,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 2): StreamingQuery =
    mediaHashDedupAvailableNow(stream, statePath, outPath, checkpoint,
      idCol, payloadCol, maxHamming,
      (df, id, payload) => graft.operators.Multimodal.webpHash(df, id, payload))

  /** The AUDIO sibling of [[pixelDedupAvailableNow]]: micro-batches decode
    * through the PCM envelope path
    * ([[graft.operators.Multimodal.audioHash]] — RIFF walk + PCM decode +
    * silence trim + 65-window envelope gradient), so a volume-normalized,
    * silence-padded, bit-depth-reduced, or remuxed duplicate of any
    * earlier clip lands the moment it arrives. Identical per-batch-dir
    * replay discipline; only 8-byte signatures persist or shuffle.
    */
  def audioDedupAvailableNow(
      stream: DataFrame,
      statePath: String,
      outPath: String,
      checkpoint: String,
      idCol: String,
      payloadCol: String,
      maxHamming: Int = 2): StreamingQuery =
    mediaHashDedupAvailableNow(stream, statePath, outPath, checkpoint,
      idCol, payloadCol, maxHamming,
      (df, id, payload) => graft.operators.Multimodal.audioHash(df, id, payload)
        .withColumnRenamed("awhash", "pxhash"))

  private def mediaHashDedupAvailableNow(
      stream: DataFrame,
      statePath: String,
      outPath: String,
      checkpoint: String,
      idCol: String,
      payloadCol: String,
      maxHamming: Int,
      hashOf: (DataFrame, String, String) => DataFrame): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch0: DataFrame, batchId: Long) =>
        val spark = batch0.sparkSession
        import graft.operators.Dedup
        val fs = new org.apache.hadoop.fs.Path(statePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val sigs = hashOf(batch0, idCol, payloadCol)
          .filter(col("pxhash").isNotNull)
          .withColumnRenamed("media_id", "doc_id")
          .localCheckpoint()
        val base = new org.apache.hadoop.fs.Path(s"$statePath/sigs")
        val past =
          if (!fs.exists(base)) Seq.empty
          else fs.listStatus(base).toSeq.map(_.getPath).filter { p =>
            val nm = p.getName
            !(nm.length > 1 && nm.head == 'b' && nm.tail.forall(_.isDigit) &&
              nm.tail.toLong >= batchId)
          }
        val corpus =
          if (past.isEmpty) spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("pxhash",
                org.apache.spark.sql.types.LongType))))
          else spark.read.option("recursiveFileLookup", "true")
            .parquet(past.map(_.toString): _*)
        val vsCorpus = Dedup.hammingPairs64Incremental(sigs, corpus, "pxhash", maxHamming)
        val within = Dedup.hammingPairs64(sigs, "pxhash", maxHamming)
          .select(col("doc_id_2").as("new_id"), col("doc_id_1").as("corpus_id"),
            col("hamming"))
        val pairs = vsCorpus.unionByName(within)
          .select(col("new_id").as("media_id_new"), col("corpus_id").as("media_id_old"),
            col("hamming").cast("long").as("hamming"))
          .localCheckpoint()
        if (!pairs.isEmpty)
          pairs.write.mode("overwrite").parquet(s"$outPath/b$batchId")
        if (!sigs.isEmpty)
          sigs.write.mode("overwrite").parquet(s"$statePath/sigs/b$batchId")
      }
      .start()

  /** THE COMPOSED ALWAYS-ON FLAGSHIP: ingest → clean/gate → exact dedup →
    * LSH near-dup vs the persisted index → incremental connected
    * components → delete-aware serve apply, ALL inside one foreachBatch
    * program — the end-to-end streaming form of the batch
    * [[graft.quality.CorpusClean.pipeline]] + serve-upsert composition,
    * with every stage's replay-safety mechanism composed into one
    * exactly-once story (the registry row hash-checks the drained serve
    * table against the full batch recompute; StreamsSpec proves
    * multi-slice == batch, wiped-checkpoint replay == no-op, and the
    * late-merge DEMOTION path).
    *
    * Per micro-batch of raw `(idCol, textCol)` docs (batches must arrive
    * in id order — the [[lshDedupAvailableNow]] convention; a crawl
    * ingest's doc ids are assigned monotonically):
    *
    *  1. GATE + CLEAN: `Text.qualityScore >= 0.6`, whitespace-normalize,
    *     PII-redact — [[graft.quality.CorpusClean.canonicalDocs]]'s
    *     stages, as pure projections on the batch.
    *  2. EXACT DEDUP: md5-digest argmin within the batch, then an
    *     anti-join against the digests of every EARLIER survivor (read
    *     from the docs state — only batch-digest rows cross the wire).
    *  3. NEAR-DUP PAIRS: [[graft.operators.Dedup.minhashLshIncremental]]
    *     against the persisted bucket/doc state + within-batch
    *     [[graft.operators.Dedup.minhashLsh]] — the batch is sketched
    *     once; the 100 TB history contributes index rows only.
    *  4. INCREMENTAL CC: the new pairs extend the persisted assignment
    *     via [[graft.operators.Dedup.connectedComponentsIncremental]]
    *     (star-contraction state, == full recompute by the star
    *     property).
    *  5. SERVE APPLY: the batch's serve DELTA — `I(doc_id, n_tokens)`
    *     for each new survivor that is its cluster's minimum, `D` for
    *     each PREVIOUSLY-KEPT doc a new link just demoted (a later
    *     bridge doc can merge two served clusters; the loser must leave
    *     the serve table) — applied through the delete-aware VERSIONED
    *     table format ([[graft.operators.BucketedSnapshots
    *     .applyChanges]]) with `seq = batchId`: replays are content
    *     no-ops by the (seq, op-rank) argmax, D beats I on the same
    *     batch, a demotion always carries a later seq than its insert,
    *     and each micro-batch rewrites ONLY the serve buckets holding
    *     its changed keys — the serve table is corpus-sized, so a
    *     full-rewrite sink here would be the exact per-batch
    *     amplification the bucketed CDC layout exists to kill. The
    *     merge's existing side reads through the SPJ catalog, so the
    *     per-batch merge shuffles only the BATCH's changes — the serve
    *     table side plans exchange-free (r16; SpjSpec asserts). Read
    *     the live table with [[graft.operators.BucketedSnapshots
    *     .readTable]].
    *
    * REPLAY SAFETY (at-least-once foreachBatch): every state write is an
    * OVERWRITE of a batch-id-keyed subdirectory (`buckets/b<id>`,
    * `docs/b<id>`, `cc/b<id>`), every state read filters to STRICTLY
    * EARLIER batch ids (a replayed batch never sees its own or future
    * writes), the batch's outputs are a deterministic function of those
    * reads, and the serve apply is idempotent — so a crash at ANY point
    * between stage writes replays to the identical end state, and a
    * wiped checkpoint over retained state re-drains byte-equivalently.
    * The CC state is the full (node, cluster) assignment per batch —
    * ≤ |paired docs| rows, Zipf-small next to the corpus.
    */
  def corpusServeAvailableNow(
      stream: DataFrame,
      statePath: String,
      servePath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      n: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      shingleHash: graft.operators.Dedup.ShingleHash = graft.operators.Dedup.Md5ShingleHash,
      serveBuckets: Int = 16)
      : StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        corpusServeBatch(batch, batchId, statePath, servePath, idCol, textCol,
          n, k, bands, threshold, shingleHash, serveBuckets)
      }
      .start()

  /** One [[corpusServeAvailableNow]] micro-batch, package-visible so
    * StreamsSpec can drive replays and crash points directly.
    */
  private[graft] def corpusServeBatch(
      batch0: DataFrame,
      batchId: Long,
      statePath: String,
      servePath: String,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int,
      bands: Int,
      threshold: Double,
      shingleHash: graft.operators.Dedup.ShingleHash,
      serveBuckets: Int = 16,
      skipServeApply: Boolean = false): Unit = {
    val spark = batch0.sparkSession
    import graft.functions.Text
    import graft.operators.{Cdc, Dedup}
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // state reads: strictly-earlier batch subdirs only (the
    // lshDedupAvailableNow replay filter), with typed empties before the
    // first batch ever lands
    def state(sub: String, schema: org.apache.spark.sql.types.StructType): DataFrame = {
      val base = new org.apache.hadoop.fs.Path(s"$statePath/$sub")
      val past =
        if (!fs.exists(base)) Seq.empty
        else fs.listStatus(base).toSeq.map(_.getPath).filter { p =>
          val nm = p.getName
          nm.length > 1 && nm.head == 'b' && nm.tail.forall(_.isDigit) &&
            nm.tail.toLong < batchId
        }
      if (past.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.option("recursiveFileLookup", "true")
        .parquet(past.map(_.toString): _*)
    }
    import org.apache.spark.sql.types._
    val docsSchema = StructType(Seq(
      StructField(idCol, LongType), StructField(textCol, StringType)))
    val bucketsSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("band", IntegerType),
      StructField("bucket", LongType)))
    val ccSchema = StructType(Seq(
      StructField("node", LongType), StructField("cluster", LongType)))
    // 1-2. gate, clean, exact-dedup (within batch, then vs earlier
    // survivors' digests); the result feeds five consumers — pin it once
    val gated = batch0
      .filter(Text.qualityScore(col(textCol)) >= 0.6)
      .select(col(idCol).cast("long").as(idCol),
        Text.redactPii(Text.normalizeWhitespace(col(textCol))).as(textCol))
    val within = gated
      .groupBy(md5(col(textCol)).as("__d"))
      .agg(min_by(struct(col(idCol), col(textCol)), col(idCol)).as("__r"))
      .select(col(s"__r.$idCol").as(idCol), col(s"__r.$textCol").as(textCol),
        col("__d"))
    val priorDocs = state("docs", docsSchema)
    val survivors = within
      .join(priorDocs.select(md5(col(textCol)).as("__d")), Seq("__d"), "left_anti")
      .drop("__d")
      .localCheckpoint()
    // 3. near-dup pairs: vs the accumulated index, and within the batch
    val priorBuckets = state("buckets", bucketsSchema)
    val vsCorpus = Dedup.minhashLshIncremental(survivors, priorBuckets, priorDocs,
      idCol, textCol, n, k, bands, threshold, shingleHash)
      .select(col("new_id").as("pa"), col("corpus_id").as("pb"))
    val newPairs = vsCorpus.unionByName(
      Dedup.minhashLsh(survivors, idCol, textCol, n, k, bands, threshold, shingleHash)
        .select(col("doc_id_1").as("pa"), col("doc_id_2").as("pb")))
      .localCheckpoint()
    // 4. incremental CC over (prior star ∪ new pairs); cc/b<id> holds the
    // FULL post-batch assignment, so the latest strictly-earlier dir IS
    // the prior state
    val ccBase = new org.apache.hadoop.fs.Path(s"$statePath/cc")
    val priorCcDirs =
      if (!fs.exists(ccBase)) Seq.empty
      else fs.listStatus(ccBase).toSeq.map(_.getPath.getName)
        .filter(nm => nm.length > 1 && nm.head == 'b' && nm.tail.forall(_.isDigit))
        .map(_.tail.toLong).filter(_ < batchId)
    val priorCc =
      if (priorCcDirs.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ccSchema)
      else spark.read.parquet(s"$statePath/cc/b${priorCcDirs.max}")
    val newAsg = (
      if (newPairs.isEmpty) priorCc
      else Dedup.connectedComponentsIncremental(priorCc, newPairs, "pa", "pb")
      ).localCheckpoint()
    // 5. the serve delta: inserts for kept new survivors, deletes for
    // docs this batch's links DEMOTED (cluster-min changed under them)
    val demotedNow = newAsg.filter(col("cluster") < col("node")).select("node")
    val demotedBefore = priorCc.filter(col("cluster") < col("node")).select("node")
    val newlyDemoted = demotedNow.join(demotedBefore, Seq("node"), "left_anti")
    val inserts = survivors
      .join(newAsg.withColumnRenamed("node", idCol), Seq(idCol), "left")
      .filter(coalesce(col("cluster"), col(idCol)) === col(idCol))
      .select(col(idCol).as("doc_id"), lit(batchId).as("seq"), lit("I").as("op"),
        Text.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    val deletes = newlyDemoted
      .select(col("node").as("doc_id"), lit(batchId).as("seq"), lit("D").as("op"),
        lit(0L).as("n_tokens"))
    val changes = inserts.unionByName(deletes).localCheckpoint()
    // state writes: idempotent per-batch OVERWRITEs; then the idempotent
    // serve apply — a crash anywhere replays to the identical end state.
    // Writes are SKIPPED when they would add nothing (an empty parquet
    // dir carries no schema and would poison later multi-path reads);
    // the replay filter is unaffected — an absent b<id> dir reads as no
    // data, and the cc reader's latest-earlier fallback returns the same
    // assignment a verbatim rewrite would have held.
    if (!survivors.isEmpty) {
      // a non-empty batch can still bucket empty (all docs under n words
      // have no shingles) — guard each write independently
      val newBuckets = Dedup.minhashBuckets(
        survivors, idCol, textCol, n, k, bands, shingleHash).localCheckpoint()
      if (!newBuckets.isEmpty)
        newBuckets.write.mode("overwrite").parquet(s"$statePath/buckets/b$batchId")
      survivors.write.mode("overwrite").parquet(s"$statePath/docs/b$batchId")
    }
    if (!newPairs.isEmpty)
      newAsg.write.mode("overwrite").parquet(s"$statePath/cc/b$batchId")
    if (!skipServeApply && !changes.isEmpty)
      graft.operators.BucketedSnapshots.applyChanges(
        spark, changes, servePath, "doc_id", serveBuckets)
  }

  /** Maintenance companion to [[lshDedupAvailableNow]]: fold the
    * accumulated per-batch state subdirectories (`b<j>` + `seed`) back
    * into a single `seed` once their count exceeds `maxSubdirs` — without
    * compaction an always-on ingest accretes one directory (several small
    * files) per micro-batch forever, and the recursive state read
    * degrades into a small-files listing storm long before data volume
    * matters. [[lshDedupAvailableNow]] now invokes this automatically at
    * each batch start (with `upTo` = the batch id, so a restarted drain's
    * own in-flight `b<id>` leftover is carried, not folded); it remains
    * callable standalone between drains under the same single-writer
    * contract. Applies to each of `buckets` and `docs`.
    *
    * Correctness under the batch-id read filter: a CONTINUING checkpoint's
    * next batch N reads `seed` + `b<j>` (j < N); folding every existing
    * `b<j>` (all j < N — the previous drain finished) into `seed` changes
    * nothing the filter admits, so post-compaction drains see byte-equal
    * state (StreamsSpec proves drain-after-compaction emits the identical
    * pair set). What compaction DOES forfeit is wiped-checkpoint replay
    * granularity: the folded seed contains batches a restarted-from-zero
    * drain would re-deliver, so checkpoint and state must be retained or
    * reset TOGETHER once compaction has run (operationally: a re-drain
    * from scratch re-seeds from the original corpus). The
    * `_compaction.json` manifest records the folded-through batch id, and
    * [[lshDedupAvailableNow]] refuses a checkpoint replaying at or below
    * it — the forfeit is now detected loudly, never silently wrong.
    *
    * Commit discipline: the folded data is fully written to
    * `<sub>__compact/seed`, then one rename moves the old tree aside and
    * one brings the new tree live ([[graft.sources.Layout.compact]]'s
    * two-rename swap); entry rolls an interrupted previous swap forward,
    * so every crash window leaves a recoverable tree.
    *
    * Returns true if compaction ran (count exceeded the bound).
    */
  def compactLshState(
      spark: SparkSession,
      statePath: String,
      maxSubdirs: Int = 16,
      targetFiles: Int = 8,
      upTo: Long = Long.MaxValue): Boolean = {
    import org.apache.hadoop.fs.Path
    require(maxSubdirs >= 1, "maxSubdirs must be >= 1")
    val fs = new Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchIdOf(name: String): Option[Long] =
      if (name.length > 1 && name.head == 'b' && name.tail.forall(_.isDigit))
        Some(name.tail.toLong)
      else None
    def rollForward(sub: String): Unit = {
      val live = new Path(s"$statePath/$sub")
      val compactDir = new Path(s"$statePath/${sub}__compact")
      val old = new Path(s"$statePath/${sub}__old")
      if (!fs.exists(live) && fs.exists(compactDir)) {
        // crashed between the two renames: bring the compacted tree live
        if (!fs.rename(compactDir, live))
          throw new java.io.IOException(s"compactLshState: failed to restore $live")
      } else if (fs.exists(live) && fs.exists(compactDir)) {
        // crashed while staging: kept subdirs may already have MOVED into
        // the staging tree (the only mutation before the swap) — move them
        // back; the staged `seed` is a fold COPY and can be dropped
        fs.listStatus(compactDir).foreach { st =>
          val nm = st.getPath.getName
          if (nm != "seed" && !fs.exists(new Path(live, nm)))
            fs.rename(st.getPath, new Path(live, nm))
        }
        fs.delete(compactDir, true)
      }
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(compactDir)) fs.delete(compactDir, true)
    }
    Seq("buckets", "docs").foreach(rollForward)
    val nSub = Seq("buckets", "docs").map { sub =>
      fs.listStatus(new Path(s"$statePath/$sub")).count(_.isDirectory)
    }.max
    if (nSub <= maxSubdirs) return false
    // manifest FIRST (the conservative crash order: a manifest claiming
    // more than was folded only produces a spurious fail-fast on replay,
    // never a silent double-count) — record the highest batch id about to
    // fold, so a wiped-checkpoint re-drain can detect it is replaying
    // into folded state
    val maxFolded = Seq("buckets", "docs").flatMap { sub =>
      fs.listStatus(new Path(s"$statePath/$sub")).toSeq
        .flatMap(st => batchIdOf(st.getPath.getName)).filter(_ < upTo)
    }.maxOption
    maxFolded.foreach { j =>
      val prior = readCompactionManifest(spark, statePath).getOrElse(-1L)
      if (j > prior) writeCompactionManifest(spark, statePath, j)
    }
    Seq("buckets", "docs").foreach { sub =>
      val live = new Path(s"$statePath/$sub")
      val compactDir = new Path(s"$statePath/${sub}__compact")
      val old = new Path(s"$statePath/${sub}__old")
      val entries = fs.listStatus(live).toSeq
      // fold the seed + strictly-pre-upTo batches; KEEP later subdirs
      // (a restarted drain's own in-flight batch) by carrying them into
      // the staged tree before the swap
      val (folds, keeps) = entries.partition(st =>
        batchIdOf(st.getPath.getName).forall(_ < upTo))
      spark.read.option("recursiveFileLookup", "true")
        .parquet(folds.map(_.getPath.toString): _*)
        .coalesce(targetFiles) // shuffle-free file-count bound; size for the deployment
        .write.mode("overwrite").parquet(s"$compactDir/seed")
      keeps.foreach { st =>
        if (!fs.rename(st.getPath, new Path(compactDir, st.getPath.getName)))
          throw new java.io.IOException(s"compactLshState: failed to stage ${st.getPath}")
      }
      if (!fs.rename(live, old))
        throw new java.io.IOException(s"compactLshState: failed to move $live aside")
      if (!fs.rename(compactDir, live)) {
        fs.rename(old, live) // roll back
        throw new java.io.IOException(s"compactLshState: failed to commit $compactDir")
      }
      fs.delete(old, true)
    }
    true
  }

  /** The compaction manifest (`_compaction.json` beside the state trees):
    * the highest batch id folded into the seed so far. Read by
    * [[lshDedupAvailableNow]] to refuse a checkpoint replaying into the
    * folded region (which would double-count) with a loud error instead.
    */
  private[graft] def readCompactionManifest(
      spark: SparkSession, statePath: String): Option[Long] = {
    val p = s"$statePath/_compaction.json"
    graft.sources.MetaFile.read(spark, p).map { txt =>
      val node =
        try new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
        catch {
          case e: Exception => throw new java.io.IOException(
            s"corrupt compaction manifest $p — not valid JSON; restore it from " +
              "the state tree's highest folded batch id or delete the state and " +
              s"re-seed (cause: ${e.getMessage})", e)
        }
      val field = node.get("compactedThrough")
      if (field == null || !field.canConvertToLong) throw new java.io.IOException(
        s"corrupt compaction manifest $p — missing/non-integer 'compactedThrough' " +
          s"in: ${node.toString.take(200)}")
      field.asLong()
    }
  }

  /** Written by [[graft.sources.MetaFile.replace]]: a crash mid-write
    * leaves the previous manifest (or none), never a truncated JSON that
    * would brick every later batch, and never no manifest after a
    * compaction (a replay into the folded region would then double-count).
    */
  private def writeCompactionManifest(
      spark: SparkSession, statePath: String, through: Long): Unit =
    graft.sources.MetaFile.replace(
      spark, s"$statePath/_compaction.json", s"""{"compactedThrough":$through}""")

  /** Streaming exact dedup with BOUNDED state: one state entry per key,
    * evicted once the event-time watermark passes `lateness` behind it —
    * the streaming form of [[graft.operators.Dedup.exact]] for an
    * always-on ingest pipeline. Plain `dropDuplicates` on a stream keeps
    * every key forever (state grows with the corpus, OOM at 100 TB);
    * within-watermark dedup holds only the trailing window, which is the
    * correct contract for ingest dedup where duplicates arrive close
    * together (retries, at-least-once upstreams).
    */
  def dedupWithinWatermark(
      stream: DataFrame,
      tsCol: String,
      keys: Seq[String],
      lateness: String): DataFrame =
    stream
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Watermarked stream-stream interval join — the streaming form of the
    * batch as-of/interval enrichment ([[graft.operators.AsOfJoin]]): every
    * right row with `rightTs` in `[leftTs - tolerance, leftTs]` (inclusive)
    * joins its equi-keyed left row. Both sides carry event-time watermarks,
    * and the time-range condition lets Spark bound BOTH join buffers: a
    * buffered row is dropped as soon as the other side's watermark makes a
    * future match impossible — state is O(tolerance + lateness window), not
    * O(stream), which is what makes this runnable forever at ingest scale.
    *
    * `keyPairs` maps left-column -> right-column equi keys (names must
    * differ across sides so the joined schema is unambiguous).
    */
  def intervalJoin(
      left: DataFrame,
      leftTs: String,
      right: DataFrame,
      rightTs: String,
      keyPairs: Seq[(String, String)],
      tolerance: String,
      lateness: String): DataFrame = {
    val l = left.withWatermark(leftTs, lateness)
    val r = right.withWatermark(rightTs, lateness)
    val cond = (keyPairs.map { case (lk, rk) => l(lk) === r(rk) } :+
      (r(rightTs) <= l(leftTs)) :+
      (r(rightTs) >= l(leftTs) - expr(s"INTERVAL $tolerance")))
      .reduce(_ && _)
    l.join(r, cond, "inner")
  }

  /** Streaming event-sequence pattern matching — the always-on form of
    * [[graft.operators.Behavior.sequenceMatch]]'s gapped (first-match,
    * strict time order) semantics, via `flatMapGroupsWithState`: per
    * user, a greedy prefix automaton advances over events in event-time
    * order and emits ONE row `(user, ts)` the moment the pattern
    * completes, with `ts` the matched step times.
    *
    * Correctness under out-of-order arrival: events are BUFFERED until
    * the watermark passes them — only the finalized prefix (event time ≤
    * current watermark) feeds the automaton, sorted by `(t, id)`, so the
    * processed prefix is immutable and the emitted match is exactly the
    * batch operator's on the same (watermark-respecting) data. Events
    * arriving later than `lateness` violate the watermark contract and
    * are ignored, same as every watermarked op here.
    *
    * State is bounded: the buffer holds at most one lateness-window of
    * events per user (an event-time timeout drains it as the watermark
    * advances — no new data needed), and a completed user collapses to a
    * `done` tombstone so re-emission is impossible. Per-user state, keyed
    * shuffle per micro-batch — the [[runningPerKey]] scale posture.
    */
  case class SeqPend(t: Long, id: Long, tp: String)
  case class SeqState(pending: Seq[SeqPend], matched: Seq[Long], done: Boolean)
  case class SeqHit(user: Long, ts: Seq[Long])

  def sequenceMatchStream(
      stream: DataFrame,
      userCol: String,
      typeCol: String,
      nanosCol: String,
      idCol: String,
      pattern: Seq[String],
      lateness: String): Dataset[SeqHit] = {
    require(pattern.nonEmpty && pattern.size <= 8, "1..8 pattern steps")
    val m = pattern.size
    val ss = stream.sparkSession
    import ss.implicits._
    val ev = stream.select(
        col(userCol).cast("long").as("user"), col(typeCol).as("tp"),
        col(nanosCol).as("t"), col(idCol).cast("long").as("id"),
        expr(s"timestamp_micros($nanosCol div 1000)").as("__et"))
      .withWatermark("__et", lateness)
      .as[(Long, String, Long, Long, java.sql.Timestamp)]
    ev.groupByKey(_._1)
      .flatMapGroupsWithState[SeqState, SeqHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, String, Long, Long, java.sql.Timestamp)],
         state: GroupState[SeqState]) =>
          val st0 = state.getOption.getOrElse(SeqState(Nil, Nil, done = false))
          if (st0.done) { rows.foreach(_ => ()); Iterator.empty }
          else {
            val incoming = rows.map(r => SeqPend(r._3, r._4, r._2)).toSeq
            val wmMs = state.getCurrentWatermarkMs()
            val (ready, pend) = (st0.pending ++ incoming)
              .partition(e => e.t / 1000000L <= wmMs)
            var matched = st0.matched.toVector
            ready.sortBy(e => (e.t, e.id)).foreach { e =>
              if (matched.size < m && e.tp == pattern(matched.size) &&
                  (matched.isEmpty || e.t > matched.last)) matched = matched :+ e.t
            }
            if (matched.size == m) {
              state.update(SeqState(Nil, Nil, done = true))
              Iterator.single(SeqHit(user, matched))
            } else {
              state.update(SeqState(pend, matched, done = false))
              // drain the rest when the watermark reaches the earliest
              // buffered event — no new data required
              if (pend.nonEmpty)
                state.setTimeoutTimestamp(pend.map(_.t / 1000000L).min + 1L)
              Iterator.empty
            }
          }
      }
  }

  /** [[sequenceMatchStream]] drained to parquet with `AvailableNow` — the
    * bounded catch-up form (checkpointed: a restarted drain resumes the
    * automaton state, and emitted matches are not re-emitted).
    */
  def sequenceMatchAvailableNow(
      stream: DataFrame,
      outPath: String,
      ckptPath: String,
      userCol: String,
      typeCol: String,
      nanosCol: String,
      idCol: String,
      pattern: Seq[String],
      lateness: String): StreamingQuery =
    sequenceMatchStream(stream, userCol, typeCol, nanosCol, idCol, pattern, lateness)
      .toDF()
      .writeStream.format("parquet")
      .option("path", outPath).option("checkpointLocation", ckptPath)
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()

  /** Per-key running state via mapGroupsWithState: maintains (count,
    * decimal-exact running sum scaled 1e6, max epoch) per key across
    * micro-batches — the stateful form of the reference's per-wallet
    * incremental aggregates. State is a flat case class (Spark-encoded,
    * spillable); timeout is none because the reference's features are
    * all-time aggregates.
    */
  case class KeyState(n: Long, sumMicros: Long, maxEpoch: Long)
  case class KeyUpdate(key: Long, n: Long, total: Double, maxEpoch: Long)

  def runningPerKey(
      events: Dataset[(Long, Double, Long)]): Dataset[KeyUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[KeyState, KeyUpdate](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Double, Long)], state: GroupState[KeyState]) =>
          val prev = state.getOption.getOrElse(KeyState(0L, 0L, 0L))
          var n = prev.n
          var sumMicros = prev.sumMicros
          var maxEpoch = prev.maxEpoch
          rows.foreach { case (_, v, ep) =>
            n += 1
            sumMicros += Math.round(v * 1e6) // exact integer accumulation
            if (ep > maxEpoch) maxEpoch = ep
          }
          state.update(KeyState(n, sumMicros, maxEpoch))
          KeyUpdate(key, n, sumMicros / 1e6, maxEpoch)
      }
  }
}
