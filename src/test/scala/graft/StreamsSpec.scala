package graft

import graft.operators.Snapshots
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Structured Streaming semantics: incremental file drain, running
  * per-key state across micro-batches.
  */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("incrementalParquet + appendAvailableNow: drains once, resumes from checkpoint") {
    val base = "target/tmp/streams_spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")

    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").write.parquet(in)
    val q1 = Streams.appendAvailableNow(
      Streams.incrementalParquet(spark, in, in), out, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() == 2)

    // second batch of files: only the NEW rows flow (checkpointed offset)
    Seq((3L, 30.0)).toDF("k", "v").write.mode("append").parquet(in)
    val q2 = Streams.appendAvailableNow(
      Streams.incrementalParquet(spark, in, in), out, ckpt)
    q2.awaitTermination()
    val rows = spark.read.parquet(out).as[(Long, Double)].collect().toSet
    assert(rows == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)))
  }

  test("upsertAvailableNow: micro-batches key-merge into the serve table") {
    val base = "target/tmp/streams_upsert_spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")

    // batch 1: two keys, key 1 appears twice — max version (7) must win
    Seq((1L, 5L, 10.0), (1L, 7L, 11.0), (2L, 5L, 20.0)).toDF("k", "ver", "v")
      .write.parquet(in)
    Streams.upsertAvailableNow(
      Streams.incrementalParquet(spark, in, in), out, ckpt, "k", "ver")
      .awaitTermination()
    assert(Snapshots.readCurrent(spark, out).as[(Long, Long, Double)].collect().toSet ==
      Set((1L, 7L, 11.0), (2L, 5L, 20.0)))

    // batch 2: update key 2 (newer), insert key 3, and a STALE row for
    // key 1 (ver 3 < served 7) — highest version wins, stale can't clobber
    Seq((2L, 9L, 21.0), (3L, 9L, 30.0), (1L, 3L, 9.0)).toDF("k", "ver", "v")
      .write.mode("append").parquet(in)
    Streams.upsertAvailableNow(
      Streams.incrementalParquet(spark, in, in), out, ckpt, "k", "ver")
      .awaitTermination()
    assert(Snapshots.readCurrent(spark, out).as[(Long, Long, Double)].collect().toSet ==
      Set((1L, 7L, 11.0), (2L, 9L, 21.0), (3L, 9L, 30.0)))
  }

  test("scd2ApplyAvailableNow: sliced drain == one-shot build; wiped-checkpoint replay is a detected no-op") {
    val base = "target/tmp/streams_scd2_spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val ch = Seq(
      (1L, 10L, 1L, "a"), (2L, 15L, 2L, "x"),
      (1L, 30L, 3L, "a"), (1L, 40L, 4L, "b"), (2L, 35L, 5L, "y"),
      (3L, 50L, 6L, "n"), (1L, 60L, 7L, "c"))
      .toDF("k", "t", "id", "v")
    ch.filter(col("t") <= 20L).coalesce(1).write.parquet(s"$base/in")
    ch.filter(col("t") > 20L && col("t") <= 45L).coalesce(1)
      .write.mode("append").parquet(s"$base/in")
    ch.filter(col("t") > 45L).coalesce(1).write.mode("append").parquet(s"$base/in")
    def drain(): Unit = {
      val stream = spark.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      Streams.scd2ApplyAvailableNow(stream, s"$base/out", s"$base/ckpt",
        "k", "t", "id", Seq("v")).awaitTermination()
    }
    drain()
    def table(): Set[Seq[Any]] =
      Snapshots.readCurrent(spark, s"$base/out").collect().map(_.toSeq).toSet
    val got = table()
    val full = graft.operators.Cdc.scd2Intervals(ch, "k", "t", "id", Seq("v"))
      .collect().map(_.toSeq).toSet
    assert(got == full, "sliced streaming build must equal the from-scratch table")
    // a wiped checkpoint replays every batch: the applied-batch manifest
    // (committed inside each version) must make each one a no-op — a
    // re-applied SCD2 batch would otherwise append duplicate versions
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/ckpt"), true)
    drain()
    assert(table() == full, "replayed batches must be detected no-ops")
  }

  test("cdcApplyAvailableNow/upsertAvailableNow bucketed twins land on the plain forms' state") {
    val base = "target/tmp/streams_bucketed_sinks"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    Seq((1L, 1L, "I", "a"), (2L, 2L, "I", "b"), (2L, 4L, "D", "x"), (1L, 5L, "U", "a5"))
      .toDF("k", "seq", "op", "v").repartition(2).write.parquet(s"$base/cin")
    Streams.cdcApplyAvailableNow(
      Streams.incrementalParquet(spark, s"$base/cin", s"$base/cin"),
      s"$base/cout", s"$base/cckpt", "k", nBuckets = Some(4)).awaitTermination()
    assert(graft.operators.BucketedSnapshots.readTable(spark, s"$base/cout")
      .select("k", "v").as[(Long, String)].collect().toSet == Set((1L, "a5")))
    Seq((1L, 5L, 10.0), (1L, 7L, 11.0), (2L, 5L, 20.0)).toDF("k", "ver", "v")
      .write.parquet(s"$base/uin")
    Streams.upsertAvailableNow(
      Streams.incrementalParquet(spark, s"$base/uin", s"$base/uin"),
      s"$base/uout", s"$base/uckpt", "k", "ver", nBuckets = Some(4)).awaitTermination()
    // second drain: stale + newer rows, merged against the bucketed table
    Seq((2L, 9L, 21.0), (1L, 3L, 9.0)).toDF("k", "ver", "v")
      .write.mode("append").parquet(s"$base/uin")
    Streams.upsertAvailableNow(
      Streams.incrementalParquet(spark, s"$base/uin", s"$base/uin"),
      s"$base/uout", s"$base/uckpt", "k", "ver", nBuckets = Some(4)).awaitTermination()
    assert(graft.operators.BucketedSnapshots.readCurrent(spark, s"$base/uout")
      .as[(Long, Long, Double)].collect().toSet ==
      Set((1L, 7L, 11.0), (2L, 9L, 21.0)))
  }

  test("cdcApplyAvailableNow: multi-batch drain == one-batch apply, deletes survive restarts") {
    val base = "target/tmp/streams_cdc_spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")

    // drain 1: insert three keys, then delete key 2 — all in one backlog,
    // file-sliced however the source lists it
    Seq((1L, 1L, "I", "a"), (2L, 2L, "I", "b"), (3L, 3L, "I", "c"), (2L, 4L, "D", "x"))
      .toDF("k", "seq", "op", "v").repartition(3).write.parquet(in)
    Streams.cdcApplyAvailableNow(
      Streams.incrementalParquet(spark, in, in), out, ckpt, "k").awaitTermination()
    def live: Set[(Long, String)] =
      graft.operators.Cdc.readTable(spark, out).select("k", "v").as[(Long, String)]
        .collect().toSet
    assert(live == Set((1L, "a"), (3L, "c")))

    // drain 2 (restart from checkpoint): a STALE update for the deleted key
    // must stay dead; a newer update lands
    Seq((2L, 3L, "U", "stale"), (1L, 5L, "U", "a5"))
      .toDF("k", "seq", "op", "v").write.mode("append").parquet(in)
    Streams.cdcApplyAvailableNow(
      Streams.incrementalParquet(spark, in, in), out, ckpt, "k").awaitTermination()
    assert(live == Set((1L, "a5"), (3L, "c")))

    // the whole stream applied as ONE batch lands on the identical state
    val once = s"$base/once"
    graft.operators.Cdc.applyChanges(spark, spark.read.parquet(in), once, "k")
    assert(graft.operators.Cdc.readTable(spark, once).select("k", "v")
      .as[(Long, String)].collect().toSet == live)
  }

  test("hllIngestAvailableNow: incremental fold == direct sketch; resumed drains extend it") {
    val base = "target/tmp/streams_hll_spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val (in, state, ckpt) = (s"$base/in", s"$base/state", s"$base/ckpt")
    import org.apache.spark.sql.functions.col

    (0L until 5000L).toDF("k").repartition(4).write.parquet(in)
    Streams.hllIngestAvailableNow(
      Streams.incrementalParquet(spark, in, in), "k", state, ckpt).awaitTermination()
    def stateRegs: Map[Long, Long] =
      Snapshots.readCurrent(spark, state).as[(Long, Long)].collect().toMap
    val direct1 = graft.functions.Sketches
      .hllSketch((0L until 5000L).toDF("k"), col("k")).as[(Long, Long)].collect().toMap
    assert(stateRegs == direct1)

    // resume: new keys append-fold into the same state
    (5000L until 9000L).toDF("k").write.mode("append").parquet(in)
    Streams.hllIngestAvailableNow(
      Streams.incrementalParquet(spark, in, in), "k", state, ckpt).awaitTermination()
    val direct2 = graft.functions.Sketches
      .hllSketch((0L until 9000L).toDF("k"), col("k")).as[(Long, Long)].collect().toMap
    assert(stateRegs == direct2)
    // and the estimate off the 256-row state is in band
    val (est, _) = graft.functions.Sketches.hllEstimate(Snapshots.readCurrent(spark, state))
      .as[(Long, Boolean)].head()
    assert(math.abs(est - 9000L) <= 1800L, s"state estimate $est off 9000 by >20%")
  }

  test("asOfEnrichAvailableNow: multi-batch drain == batch asOfMerge, row for row") {
    val base = "target/tmp/streams_asof_spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val facts = (1 to 200).map(i => (i.toLong, s"k${i % 5}", (i * 37 % 500).toLong, i * 1.5))
      .toDF("id", "key", "ts", "qty")
    val prices = (0 until 5).flatMap(k => (0 until 40).map(j =>
      (s"k$k", (j * 12).toLong, k * 100 + j * 0.25))).toDF("key", "pts", "price")
    // two input files -> maxFilesPerTrigger=1 forces a genuine 2-batch drain
    facts.filter($"id" <= 100).write.parquet(s"$base/in")
    facts.filter($"id" > 100).write.mode("append").parquet(s"$base/in")
    val stream = spark.readStream.schema(facts.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    Streams.asOfEnrichAvailableNow(stream, prices, Seq("key"), "ts", "pts",
      tolerance = 50L, rightValueCols = Seq("price"),
      outPath = s"$base/out", checkpoint = s"$base/ckpt")
      .awaitTermination()
    // multiple batch subdirectories must exist: the drain was genuinely
    // multi-batch (maxFilesPerTrigger=1 and each write laid several files)
    val outDirs = new java.io.File(s"$base/out").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b"))
    assert(outDirs.length >= 2, outDirs.mkString(", "))
    val drained = spark.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val batch = graft.operators.AsOfJoin.asOfMerge(facts, prices, Seq("key"), "ts", "pts",
      50L, Seq("price")).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(drained == batch)
    assert(drained.nonEmpty)
  }

  test("lshDedupAvailableNow: multi-batch drain finds exactly the batch LSH pair set; index grows") {
    val base = "target/tmp/streams_lsh_spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    import graft.operators.Dedup
    // corpus of distinct docs; ingest = near-dup mutations of docs 0..5
    // (ids 100..105, one appended token) arriving as TWO micro-batches,
    // PLUS id 106 in the second batch near-dupping id 100 from the FIRST
    // batch — a cross-batch pair, so the replay assertions below actually
    // exercise the batch-id state filter (a fixture with no cross-batch
    // pairs cannot catch a replayed batch reading its own future)
    val texts = (0 until 12).map(i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 40}").mkString(" ")))
    val corpus = texts.toDF("doc_id", "text")
    val ingest = (texts.take(6).map { case (i, t) => (i + 100, t + " xq") } :+
      ((106L, texts.head._2 + " xr")))
      .toDF("doc_id", "text")
    Dedup.minhashBuckets(corpus, "doc_id", "text", n = 3, k = 64, bands = 16)
      .write.parquet(s"$base/state/buckets/seed")
    corpus.write.parquet(s"$base/state/docs/seed")
    def bucketRows(): Long = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$base/state/buckets").count()
    val seedBuckets = bucketRows()
    ingest.filter($"doc_id" < 103).coalesce(1).write.parquet(s"$base/in")
    ingest.filter($"doc_id" >= 103).coalesce(1).write.mode("append").parquet(s"$base/in")
    val stream = spark.readStream.schema(ingest.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    Streams.lshDedupAvailableNow(stream, s"$base/state", s"$base/out", s"$base/ckpt",
      "doc_id", "text", n = 3, k = 64, bands = 16, threshold = 0.5)
      .awaitTermination()
    val outDirs = new java.io.File(s"$base/out").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("b"))
    assert(outDirs.length >= 2, s"drain must be genuinely multi-batch: ${outDirs.toSeq}")
    val drained = spark.read.option("recursiveFileLookup", "true").parquet(s"$base/out")
      .select(least($"new_id", $"corpus_id"), greatest($"new_id", $"corpus_id"))
      .as[(Long, Long)].collect().toSet
    // ground truth: the BATCH pair set over corpus + ingest, restricted to
    // pairs that touch a new doc (ids >= 100 sort above the corpus ids)
    val batchPairs = Dedup.minhashLsh(corpus.unionByName(ingest), "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.5)
      .filter($"doc_id_2" >= 100)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    assert(drained == batchPairs, s"streamed $drained vs batch $batchPairs")
    assert(drained.size >= 8,
      "every planted mutation must match its source, 106 its two sources")
    // the index at rest grew by exactly the ingest's bucket rows
    val grown = bucketRows()
    assert(grown == seedBuckets + 7 * 16, s"seed $seedBuckets -> $grown")
    // REPLAY: wipe the checkpoint and re-drain the identical input — the
    // per-batch overwrite state writes must leave state AND pairs
    // byte-equivalent (a mode-append state would double the index here)
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/ckpt"), true)
    Streams.lshDedupAvailableNow(
      spark.readStream.schema(ingest.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      s"$base/state", s"$base/out", s"$base/ckpt",
      "doc_id", "text", n = 3, k = 64, bands = 16, threshold = 0.5)
      .awaitTermination()
    assert(bucketRows() == grown, "replay must not grow the index")
    // compare as a LIST, not a set: a replayed batch reading its own
    // future emits each cross-batch pair twice (once per orientation, in
    // two output dirs) — set equality would mask exactly that bug
    val replayedRows = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$base/out")
      .select(least($"new_id", $"corpus_id"), greatest($"new_id", $"corpus_id"))
      .as[(Long, Long)].collect().toSeq
    assert(replayedRows.length == replayedRows.toSet.size,
      "each pair emitted exactly once on replay")
    assert(replayedRows.toSet == batchPairs, "replayed pair set identical")
  }

  test("compactLshState: post-compaction drains emit the identical pair set; state files shrink") {
    val base = "target/tmp/streams_lsh_compact"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    import graft.operators.Dedup
    val texts = (0 until 12).map(i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 40}").mkString(" ")))
    val corpus = texts.toDF("doc_id", "text")
    val ingestDF = texts.take(8).map { case (i, t) => (i + 100, t + " xq") }
      .toDF("doc_id", "text")
    def seed(dir: String): Unit = {
      Dedup.minhashBuckets(corpus, "doc_id", "text", n = 3, k = 64, bands = 16)
        .write.parquet(s"$dir/state/buckets/seed")
      corpus.write.parquet(s"$dir/state/docs/seed")
    }
    def writeSlice(dir: String, lo: Int, hi: Int): Unit =
      ingestDF.filter($"doc_id" >= 100 + lo && $"doc_id" < 100 + hi)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    def drain(dir: String): Unit =
      Streams.lshDedupAvailableNow(
        spark.readStream.schema(ingestDF.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
        s"$dir/state", s"$dir/out", s"$dir/ckpt", "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.5).awaitTermination()
    // control: the same four micro-batches with NO compaction
    val ctl = s"$base/ctl"; seed(ctl)
    Seq((0, 2), (2, 4), (4, 6), (6, 8)).foreach { case (l, h) => writeSlice(ctl, l, h) }
    drain(ctl)
    // test path: two batches, compact the accumulated state, two more
    // batches on the SAME checkpoint
    val cmp = s"$base/cmp"; seed(cmp)
    writeSlice(cmp, 0, 2); writeSlice(cmp, 2, 4)
    drain(cmp)
    def stateFiles(): Int = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$cmp/state"), true)
      var n = 0
      while (it.hasNext) { if (!it.next().getPath.getName.startsWith("_")) n += 1 }
      n
    }
    def idxRows(): Long = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$cmp/state/buckets").count()
    val (filesBefore, rowsBefore) = (stateFiles(), idxRows())
    // below the bound: a no-op (3 subdirs: seed + b0 + b1)
    assert(!Streams.compactLshState(spark, s"$cmp/state", maxSubdirs = 8))
    assert(Streams.compactLshState(spark, s"$cmp/state", maxSubdirs = 1, targetFiles = 1))
    assert(idxRows() == rowsBefore, "compaction must not add or drop index rows")
    assert(stateFiles() < filesBefore,
      s"measured file reduction expected: $filesBefore -> ${stateFiles()}")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$cmp/state/buckets"))
      .count(_.isDirectory) == 1, "everything folded into one seed")
    writeSlice(cmp, 4, 6); writeSlice(cmp, 6, 8)
    drain(cmp)
    def pairs(dir: String): Seq[(Long, Long)] = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$dir/out")
      .select(least($"new_id", $"corpus_id"), greatest($"new_id", $"corpus_id"))
      .as[(Long, Long)].collect().toSeq
    val (pc, pm) = (pairs(ctl), pairs(cmp))
    assert(pm.length == pm.toSet.size, "no pair emitted twice across the compaction")
    assert(pm.toSet == pc.toSet, "compaction must be invisible to the emitted pairs")
    assert(pc.toSet.size >= 8, "every planted mutation pairs with its source")
  }

  test("auto-compaction: long drain folds state mid-run, pairs identical; wiped-checkpoint replay fails fast") {
    val base = "target/tmp/streams_lsh_autocompact"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    import graft.operators.Dedup
    val texts = (0 until 12).map(i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 40}").mkString(" ")))
    val corpus = texts.toDF("doc_id", "text")
    val ingestDF = texts.map { case (i, t) => (i + 100, t + " xq") }.toDF("doc_id", "text")
    def seed(dir: String): Unit = {
      Dedup.minhashBuckets(corpus, "doc_id", "text", n = 3, k = 64, bands = 16)
        .write.parquet(s"$dir/state/buckets/seed")
      corpus.write.parquet(s"$dir/state/docs/seed")
    }
    def writeSlice(dir: String, lo: Int, hi: Int): Unit =
      ingestDF.filter($"doc_id" >= 100 + lo && $"doc_id" < 100 + hi)
        .coalesce(1).write.mode("append").parquet(s"$dir/in")
    def drain(dir: String, maxSub: Int): Unit =
      Streams.lshDedupAvailableNow(
        spark.readStream.schema(ingestDF.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
        s"$dir/state", s"$dir/out", s"$dir/ckpt", "doc_id", "text",
        n = 3, k = 64, bands = 16, threshold = 0.5,
        autoCompactMaxSubdirs = maxSub).awaitTermination()
    def pairs(dir: String): Seq[(Long, Long)] = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$dir/out")
      .select(least($"new_id", $"corpus_id"), greatest($"new_id", $"corpus_id"))
      .as[(Long, Long)].collect().toSeq
    // control: same six micro-batches, bound never reached
    val ctl = s"$base/ctl"; seed(ctl)
    (0 until 6).foreach(i => writeSlice(ctl, 2 * i, 2 * i + 2))
    drain(ctl, maxSub = 1000)
    // auto path: bound of 2 subdirs — compaction fires repeatedly MID-DRAIN
    val auto = s"$base/auto"; seed(auto)
    (0 until 6).foreach(i => writeSlice(auto, 2 * i, 2 * i + 2))
    drain(auto, maxSub = 2)
    val pm = pairs(auto)
    assert(pm.length == pm.toSet.size, "no pair emitted twice across auto-compactions")
    assert(pm.toSet == pairs(ctl).toSet, "auto-compaction invisible to the emitted pairs")
    assert(pm.toSet.size >= 12, "every planted mutation pairs with its source")
    // state actually folded: fewer subdirs than batches were processed
    val nSub = fs.listStatus(new org.apache.hadoop.fs.Path(s"$auto/state/buckets"))
      .count(_.isDirectory)
    assert(nSub <= 3, s"auto-compaction must bound subdirs, saw $nSub")
    // the manifest records the folded-through batch id…
    val through = Streams.readCompactionManifest(spark, s"$auto/state")
    assert(through.exists(_ >= 1), s"manifest missing or stale: $through")
    // …and a WIPED-checkpoint re-drain now fails fast with it, instead of
    // silently double-counting folded state
    fs.delete(new org.apache.hadoop.fs.Path(s"$auto/ckpt"), true)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(auto, maxSub = 2)
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg != null && msg.contains(s"batch ${through.get}"),
      s"error must name the manifest batch id: $msg")
  }

  test("sequenceMatchStream: incremental watermark drain == batch; restart never re-emits") {
    val base = "target/tmp/streams_seqmatch"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    // nanos timestamps; per-user chains with intra-slice disorder and a
    // within-lateness straggler crossing a slice boundary
    def sec(n: Long) = n * 1000000000L
    val events = Seq(
      // user 1 matches a-b-c, with b arriving in a LATER slice than c's slice start
      (1L, "a", sec(100), 1L), (1L, "b", sec(250), 2L), (1L, "c", sec(400), 3L),
      // user 2: wrong order (c before a-b) -> no match
      (2L, "c", sec(50), 4L), (2L, "a", sec(300), 5L), (2L, "b", sec(200), 6L),
      // user 3: a-b only -> no match
      (3L, "a", sec(120), 7L), (3L, "b", sec(130), 8L),
      // user 4: duplicate steps + distractors, matches
      (4L, "x", sec(90), 9L), (4L, "a", sec(110), 10L), (4L, "a", sec(115), 11L),
      (4L, "b", sec(111), 12L), (4L, "b", sec(140), 13L), (4L, "c", sec(141), 14L))
    val batchDf = events.toDF("user_id", "event_type", "ts", "event_id")
    val expected = graft.operators.Behavior.sequenceMatch(
      batchDf, "user_id", "event_type", "ts", "event_id",
      Seq("a", "b", "c"), contiguous = false)
      .filter(col("t3").isNotNull)
      .select("user_id", "t1", "t2", "t3").as[(Long, Long, Long, Long)].collect().toSet
    // slices ordered by time but overlapping within the 200 s lateness:
    // slice 1 = t < 150 plus NOTHING; slice 2 = 150..300 plus user 1's
    // straggler b(250) arrives here naturally; slice 3 = rest + sentinel
    val slices = Seq(
      events.filter(_._3 < sec(150)),
      events.filter(e => e._3 >= sec(150) && e._3 < sec(320)),
      events.filter(_._3 >= sec(320)) :+ ((-1L, "zz", sec(100000), -1L)))
    slices.zipWithIndex.foreach { case (sl, i) =>
      sl.toDF("user_id", "event_type", "ts", "event_id")
        .coalesce(1).write.mode("append").parquet(s"$base/in")
      // separate drains per slice = a RESTART between every micro-batch;
      // checkpointed automaton state + sink must neither lose nor re-emit
      Streams.sequenceMatchAvailableNow(
        spark.readStream.schema(batchDf.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
        s"$base/out", s"$base/ckpt", "user_id", "event_type", "ts", "event_id",
        Seq("a", "b", "c"), lateness = "200 seconds").awaitTermination()
    }
    val got = spark.read.parquet(s"$base/out")
      .select(col("user"), element_at(col("ts"), 1), element_at(col("ts"), 2),
        element_at(col("ts"), 3))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got.size == got.toSet.size, "a match was emitted twice across restarts")
    assert(got.toSet == expected, s"stream $got != batch $expected")
    assert(expected.map(_._1) == Set(1L, 4L))
  }

  test("aggStateApplyBatch: replayed batch is a no-op; manifest commits with the data") {
    import graft.operators.Incremental
    val path = "target/tmp/aggstate_batch_spec"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val b1 = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("g", "v")
    val b2 = Seq(("a", 5.0), ("c", 7.0)).toDF("g", "v")
    assert(Incremental.aggStateApplyBatch(spark, b1, path, Seq("g"), "v", 0L))
    // at-least-once redelivery of batch 0: detected, no double count
    assert(!Incremental.aggStateApplyBatch(spark, b1, path, Seq("g"), "v", 0L))
    assert(Incremental.aggStateApplyBatch(spark, b2, path, Seq("g"), "v", 1L))
    assert(!Incremental.aggStateApplyBatch(spark, b2, path, Seq("g"), "v", 1L))
    val st = Incremental.readAggState(spark, path)
      .select("g", "sum", "cnt").as[(String, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(st == Map("a" -> ((9.0, 3L)), "b" -> ((10.0, 1L)), "c" -> ((7.0, 1L))))
    // the manifest lives INSIDE the committed version dir (atomic with data)
    val live = Snapshots.currentVersion(spark, path).get
    assert(fs.exists(new org.apache.hadoop.fs.Path(Snapshots.versionDir(path, live), "_applied.json")))
    assert(Incremental.readAppliedBatch(spark, path, live).contains(1L))
  }

  test("aggStateApplyBatch: a staged but never pointer-committed manifest does not make a replay a no-op") {
    import graft.operators.Incremental
    val path = "target/tmp/aggstate_orphan_manifest_spec"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    val b0 = Seq(("a", 1.0), ("b", 10.0)).toDF("g", "v")
    val b1 = Seq(("a", 5.0), ("c", 7.0)).toDF("g", "v")
    assert(Incremental.aggStateApplyBatch(spark, b0, path, Seq("g"), "v", 0L))
    val live = Snapshots.currentVersion(spark, path).get
    // a crash after batch 1 staged v=N+1 (data + manifest) but before the
    // pointer flip: the orphan claims batch 1, the pointer does not
    val orphan = Snapshots.versionDir(path, live + 1)
    Seq(("a", 99.0)).toDF("g", "v").write.parquet(orphan)
    val out = fs.create(new org.apache.hadoop.fs.Path(orphan, "_applied.json"), true)
    try out.write("""{"appliedThrough":1}""".getBytes("UTF-8")) finally out.close()
    // the redelivered batch 1 applies, and exactly once
    assert(Incremental.aggStateApplyBatch(spark, b1, path, Seq("g"), "v", 1L))
    assert(!Incremental.aggStateApplyBatch(spark, b1, path, Seq("g"), "v", 1L))
    val st = Incremental.readAggState(spark, path)
      .select("g", "sum", "cnt").as[(String, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(st == Map("a" -> ((6.0, 2L)), "b" -> ((10.0, 1L)), "c" -> ((7.0, 1L))))
    assert(Snapshots.currentVersion(spark, path).exists(_ > live + 1),
      "the commit must skip past the orphan's slot, not re-use it")
  }

  test("compaction manifest: corrupt/truncated JSON fails with a clear error, not an NPE") {
    val base = "target/tmp/streams_manifest_corrupt"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    def write(body: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$base/_compaction.json"), true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // truncated mid-write (the crash the temp-then-rename now prevents)
    write("""{"compactedThr""")
    val e1 = intercept[java.io.IOException](Streams.readCompactionManifest(spark, base))
    assert(e1.getMessage.contains("corrupt compaction manifest"), e1.getMessage)
    // valid JSON, wrong shape
    write("""{"somethingElse": 3}""")
    val e2 = intercept[java.io.IOException](Streams.readCompactionManifest(spark, base))
    assert(e2.getMessage.contains("compactedThrough"), e2.getMessage)
    // absent -> None; intact -> Some
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/_compaction.json"), false)
    assert(Streams.readCompactionManifest(spark, base).isEmpty)
    write("""{"compactedThrough": 7}""")
    assert(Streams.readCompactionManifest(spark, base).contains(7L))
  }

  test("intervalJoin: inclusive [ts - tolerance, ts] window, keyed, across streams") {
    implicit val sqlCtx = spark.sqlContext
    val lm = MemoryStream[(Long, Long)]
    val rm = MemoryStream[(Long, Long, Double)]
    val left = lm.toDS().toDF("k", "e").withColumn("lts", timestamp_seconds(col("e")))
    val right = rm.toDS().toDF("rk", "re", "v").withColumn("rts", timestamp_seconds(col("re")))
    val q = Streams.intervalJoin(left, "lts", right, "rts", Seq("k" -> "rk"),
      tolerance = "10 seconds", lateness = "1 minute")
      .select("k", "e", "re", "v")
      .writeStream.format("memory").queryName("ij")
      .outputMode(OutputMode.Append).trigger(Trigger.ProcessingTime(0)).start()
    lm.addData((1L, 100L))
    rm.addData((1L, 90L, 1.0), (1L, 89L, 2.0), (1L, 100L, 3.0), (1L, 101L, 4.0), (2L, 95L, 5.0))
    q.processAllAvailable()
    val rows = spark.table("ij").as[(Long, Long, Long, Double)].collect().toSet
    // 90 is ON the lower bound (inclusive), 89 just below, 101 in the
    // future, key 2 unmatched
    assert(rows == Set((1L, 100L, 90L, 1.0), (1L, 100L, 100L, 3.0)))
    q.stop()
  }

  test("drift ingest: sliced drain == batch counts; wiped-checkpoint replay cannot double-count") {
    val base = "target/tmp/drift_spec"
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val rows = (1 to 200).map(i => Tuple1((i % 7).toLong)).toDF("bin")
    rows.repartition(4, $"bin").write.parquet(s"$base/in")
    def drain(ckpt: String): Unit =
      Streams.driftIngestAvailableNow(
        spark.readStream.schema(rows.schema).option("maxFilesPerTrigger", "1")
          .parquet(s"$base/in"),
        "bin", s"$base/state", s"$base/$ckpt").awaitTermination()
    drain("ckpt1")
    val expect = rows.groupBy("bin").count()
      .as[(Long, Long)].collect().toMap
    def state() = Streams.driftState(spark, s"$base/state")
      .as[(Long, Long)].collect().toMap
    assert(state() == expect)
    // wiped checkpoint: every batch replays; per-batch-id OVERWRITE dirs
    // absorb the replay — counts must NOT double
    drain("ckpt2")
    assert(state() == expect, "replayed drain must overwrite, not accumulate")
  }

  test("runningPerKey: state accumulates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double, Long)]
    val q = Streams.runningPerKey(mem.toDS())
      .writeStream.format("memory").queryName("rpk")
      .outputMode(OutputMode.Update)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    mem.addData((1L, 1.5, 100L), (1L, 2.5, 200L), (2L, 7.0, 50L))
    q.processAllAvailable()
    mem.addData((1L, 1.0, 150L)) // out-of-order epoch; count/sum still grow
    q.processAllAvailable()
    val last = spark.table("rpk").as[Streams.KeyUpdate].collect()
      .groupBy(_.key).map { case (k, us) => k -> us.maxBy(_.n) }
    assert(last(1L).n == 3 && last(1L).total == 5.0 && last(1L).maxEpoch == 200L)
    assert(last(2L).n == 1 && last(2L).total == 7.0 && last(2L).maxEpoch == 50L)
    q.stop()
  }

  test("session_window: an event exactly `gap` after the previous CONTINUES the session") {
    // Pins the merge rule the streaming_session_window oracle mirrors:
    // windows [s, s+gap) and [s+gap, s+2*gap) touch at the boundary and
    // Spark MERGES them (end-inclusive merge; observed live at sf0.1,
    // user 1419). One second beyond the boundary splits.
    val df = Seq((1L, 0L), (1L, 14400L), (2L, 0L), (2L, 14401L))
      .toDF("user_id", "epoch")
      .select(col("user_id"), timestamp_seconds(col("epoch")).as("ts_sec"))
      .groupBy(session_window(col("ts_sec"), "4 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val byUser = df.select(col("user_id"), col("n"))
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byUser(1L) == Seq(2L), "exact-gap events must merge into one session")
    assert(byUser(2L) == Seq(1L, 1L), "gap+1s must split into two sessions")
  }
  // ---- the composed always-on flagship ---------------------------------
  // fixture: S-P-Q overlap structure so the late bridge B pairs with BOTH
  // A and C (J(A,B), J(C,B) >= 0.5) while A-C stay sub-threshold — the
  // transitive merge that DEMOTES an already-served doc. All texts pass
  // the 0.6 quality gate (length + stopword mass).
  private val csS = "the alpha of beta and gamma to delta in epsilon the zeta"
  private val csP = "omikron lambda the sigma upsilon"
  private val csQ = "kappa the hydra mirror bastion"
  private val csD = ("the quick brown fox jumps over a lazy dog and then runs to " +
    "the river in search of shiny pebbles and quiet shade under an old willow")
  private def csDocs: Seq[(Long, String)] = Seq(
    1L -> s"$csS $csP",          // A: kept throughout (cluster min)
    2L -> s"$csS $csQ",          // C: served after slice 0, demoted by B
    3L -> csD,                   // independent: kept throughout
    4L -> s"$csS $csP $csQ",     // B (slice 1): the bridge, arrives demoted
    5L -> csD)                   // exact duplicate of 3: never served

  private def csServe(path: String): Map[Long, Long] =
    graft.operators.BucketedSnapshots.readTable(spark, path)
      .as[(Long, Long)].collect().toMap

  test("corpusServe: fixture pair structure is the transitive bridge (precondition)") {
    import graft.operators.Dedup
    val pairs = Dedup.minhashLsh(
      csDocs.toDF("doc_id", "text"), "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.5,
      shingleHash = Dedup.Md5ShingleHash)
      .select("doc_id_1", "doc_id_2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)),
      s"bridge pairs missing: $pairs")
    assert(!pairs.contains((1L, 2L)), s"A-C must stay sub-threshold: $pairs")
  }

  test("corpusServe: multi-slice drain == one-shot drain; a late bridge DEMOTES a served doc") {
    val base = "target/tmp/streams_corpus_serve"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    def drain(tag: String): Unit = {
      val stream = spark.readStream
        .schema(csDocs.toDF("doc_id", "text").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/$tag/in")
      Streams.corpusServeAvailableNow(stream, s"$base/$tag/state",
        s"$base/$tag/serve", s"$base/$tag/ckpt", "doc_id", "text")
        .awaitTermination()
    }
    // sliced run: {1,2,3} then {4,5}
    csDocs.filter(_._1 <= 3).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$base/sliced/in")
    drain("sliced")
    val afterSlice0 = csServe(s"$base/sliced/serve")
    assert(afterSlice0.keySet == Set(1L, 2L, 3L),
      s"slice 0 must serve all three survivors, got $afterSlice0")
    csDocs.filter(_._1 > 3).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$base/sliced/in")
    drain("sliced")
    val afterSlice1 = csServe(s"$base/sliced/serve")
    assert(afterSlice1.keySet == Set(1L, 3L),
      s"the bridge must demote doc 2 and arrive demoted itself, got $afterSlice1")
    // one-shot run over the identical corpus
    csDocs.toDF("doc_id", "text").coalesce(1).write.parquet(s"$base/oneshot/in")
    drain("oneshot")
    assert(csServe(s"$base/oneshot/serve") == afterSlice1,
      "multi-slice and one-shot drains must converge to the same serve table")
    // and both equal the batch composition computed directly in Spark
    import graft.functions.Text
    import graft.operators.Dedup
    val cleaned = csDocs.toDF("doc_id", "text")
      .filter(Text.qualityScore(col("text")) >= 0.6)
      .select(col("doc_id"), Text.redactPii(Text.normalizeWhitespace(col("text"))).as("text"))
    val exact = cleaned.groupBy(md5(col("text")).as("__d"))
      .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id")).as("__r"))
      .select(col("__r.doc_id").as("doc_id"), col("__r.text").as("text"))
    val bp = Dedup.minhashLsh(exact, "doc_id", "text", n = 3, k = 64, bands = 16,
      threshold = 0.5, shingleHash = Dedup.Md5ShingleHash)
    val cc = Dedup.connectedComponents(bp, "doc_id_1", "doc_id_2")
      .withColumnRenamed("node", "doc_id")
    val batchServe = exact.join(cc, Seq("doc_id"), "left")
      .filter(coalesce(col("cluster"), col("doc_id")) === col("doc_id"))
      .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      .as[(Long, Long)].collect().toMap
    assert(batchServe == afterSlice1, "streaming serve must equal the batch composition")
  }

  test("corpusServe: wiped-checkpoint replay over retained state and serve is a no-op") {
    val base = "target/tmp/streams_corpus_replay"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    csDocs.filter(_._1 <= 3).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$base/in")
    csDocs.filter(_._1 > 3).toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(s"$base/in")
    def drain(): Unit = {
      val stream = spark.readStream
        .schema(csDocs.toDF("doc_id", "text").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
      Streams.corpusServeAvailableNow(stream, s"$base/state",
        s"$base/serve", s"$base/ckpt", "doc_id", "text").awaitTermination()
    }
    drain()
    val before = csServe(s"$base/serve")
    // RAW serve rows including tombstones and seq metadata: a replayed I
    // or D that slipped through would change this set even if the live
    // view looked fine (the versioned format may commit a new VERSION on
    // replay — content idempotence is the contract, so compare the live
    // version's raw stored rows)
    def raw(): Set[Seq[Any]] =
      graft.operators.BucketedSnapshots.readCurrent(spark, s"$base/serve")
        .collect().map(_.toSeq).toSet
    val rawBefore = raw()
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/ckpt"), true)
    drain() // every batch replays against retained state
    assert(csServe(s"$base/serve") == before, "replay must not change the live view")
    assert(raw() == rawBefore, "replay must not add, drop, or mutate any serve row")
  }

  test("corpusServe: a crash between state writes and the serve apply replays to the identical end state") {
    val base = "target/tmp/streams_corpus_crash"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val slice0 = csDocs.filter(_._1 <= 3).toDF("doc_id", "text")
    // manufacture the crash point: batch 0 wrote ALL its state dirs but
    // died before the serve apply and before the checkpoint advanced
    Streams.corpusServeBatch(slice0, 0L, s"$base/state", s"$base/serve",
      "doc_id", "text", 3, 64, 16, 0.5, graft.operators.Dedup.Md5ShingleHash,
      skipServeApply = true)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/serve")),
      "crash point: state written, serve absent")
    // recovery: the stream starts from an empty checkpoint and replays
    // batch 0 over the leftover state — per-batch overwrites make it
    // idempotent, and the serve apply lands exactly once
    slice0.coalesce(1).write.parquet(s"$base/in")
    val stream = spark.readStream.schema(slice0.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/in")
    Streams.corpusServeAvailableNow(stream, s"$base/state",
      s"$base/serve", s"$base/ckpt", "doc_id", "text").awaitTermination()
    assert(csServe(s"$base/serve").keySet == Set(1L, 2L, 3L))
  }
}
