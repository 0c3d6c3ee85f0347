package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EMPTY-INPUT TOTALITY: a production pipeline hits empty inputs on its
  * first run and on empty-partition days — every operator must return an
  * empty (correctly-shaped) result, never throw. The two-phase
  * scalar-literal reads (`agg(...).head()`) are the risk sites: an
  * aggregate over zero rows yields NULL and an unguarded getLong/getDouble
  * NPEs before any plan runs.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def docs0: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emb0: DataFrame =
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  test("dedup family is total on an empty corpus") {
    assert(Dedup.exact(docs0, "doc_id", "text").count() == 0)
    assert(Dedup.fingerprint(docs0, "doc_id", "text").count() == 0)
    assert(Dedup.minhashLsh(docs0, "doc_id", "text",
      n = 3, k = 64, bands = 16, threshold = 0.5).count() == 0)
    assert(Dedup.minhashBuckets(docs0, "doc_id", "text", n = 3, k = 64, bands = 16)
      .count() == 0)
    assert(Dedup.simhashPairs(docs0, "doc_id", "text", maxHamming = 3).count() == 0)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").count() == 0)
    assert(Dedup.duplicateSpans(docs0, "doc_id", "text", k = 3).count() == 0)
    assert(Dedup.spanCoverage(docs0, "doc_id", "text", k = 3).count() == 0)
    assert(Dedup.corpusDiff(docs0, docs0, "doc_id", "text").count() == 0)
    // empty corpus + empty batch through the bloom path (null filter branch)
    assert(Dedup.exactIngestBloom(docs0, docs0, "doc_id", "text",
      expectedItems = 100L, numBits = 1024L).count() == 0)
  }

  test("round-11 operators are total on empty inputs") {
    import graft.features.Encoders
    val big0 = Seq.empty[(Long, String)].toDF("k", "payload")
    val small0 = Seq.empty[(Long, String)].toDF("sk", "tag")
    // bloom join: empty build side short-circuits; empty probe side runs the probe
    assert(graft.operators.Relational.bloomFilteredJoin(
      big0, small0, "k", "sk", 10L, 1024L).count() == 0)
    assert(graft.operators.Relational.bloomFilteredJoin(
      big0, Seq((1L, "t")).toDF("sk", "tag"), "k", "sk", 10L, 1024L).count() == 0)
    // DSIR: empty raw, empty target, empty both
    val docs0x = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    val docs1 = Seq((1L, "a b c", "en")).toDF("doc_id", "text", "lang")
    assert(graft.quality.Selection.dsirSelect(
      docs0x, docs1, "doc_id", "text", Seq("lang"), 64, 5).count() == 0)
    assert(graft.quality.Selection.dsirSelect(
      docs1, docs0x, "doc_id", "text", Seq("lang"), 64, 5).count() == 1)
    assert(graft.quality.Selection.dsirSelect(
      docs0x, docs0x, "doc_id", "text", Seq("lang"), 64, 5).count() == 0)
    // encoders
    val cat0 = Seq.empty[(String, Long, Double)].toDF("cat", "id", "y")
    assert(Encoders.targetEncodeLoo(cat0, "cat", "y", m = 2L).count() == 0)
    assert(Encoders.quantileBinEqualFreq(
      Seq.empty[Long].map(Tuple1(_)).toDF("u"), "u", 4).count() == 0)
    assert(Encoders.standardize(
      Seq.empty[(String, Double)].toDF("g", "x"), "g", "x").count() == 0)
    // k-anonymity
    assert(graft.quality.Constraints.kAnonymityReport(
      Seq.empty[(String, Long)].toDF("q", "s"), Seq("q"), "s", 5L).count() == 0)
    // aggregate state: empty first batch bootstraps a schema-bearing table
    val ap = "target/tmp/empty_aggstate_spec"
    val app = new org.apache.hadoop.fs.Path(ap)
    app.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(app, true)
    val eb = Seq.empty[(String, Double)].toDF("g", "v")
    graft.operators.Incremental.aggStateApply(spark, eb, ap, Seq("g"), "v")
    assert(graft.operators.Incremental.readAggState(spark, ap).count() == 0)
    graft.operators.Incremental.aggStateApply(spark,
      Seq(("a", 1.0)).toDF("g", "v"), ap, Seq("g"), "v")
    graft.operators.Incremental.aggStateApply(spark, eb, ap, Seq("g"), "v")
    assert(graft.operators.Incremental.readAggState(spark, ap).count() == 1)
    // similarity additions
    val embL0 = Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
    assert(graft.operators.Similarity.hardNegatives(
      embL0, embL0, "vec_id", "embedding", "label", 5).count() == 0)
    assert(graft.operators.Similarity.labelNoiseFromTopK(
      Seq.empty[(Long, Long)].toDF("query_id", "neighbor_id"),
      embL0, "vec_id", "label").count() == 0)
  }

  test("round-10 operators are total on empty inputs") {
    // triangles over an empty edge list
    assert(graft.operators.Triangles.perNodeTriangles(
      Seq.empty[(Long, Long)].toDF("u", "v")).count() == 0)
    // sketches over empty frames (estimate floor covered in SketchesSpec)
    val e = Seq.empty[Long].toDF("k")
    assert(graft.functions.Sketches.hllSketch(e, col("k")).count() == 0)
    assert(graft.functions.Sketches.logHistogram(e, col("k")).count() == 0)
    assert(graft.functions.Sketches.cmsSketch(e, col("k")).count() == 0)
    // CDC: an empty FIRST batch bootstraps an empty (schema-bearing) table
    // that later batches merge into; an empty LATER batch is a no-op
    val path = "target/tmp/empty_cdc_spec"
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val empty = Seq.empty[(Long, Long, String, String)].toDF("k", "seq", "op", "v")
    graft.operators.Cdc.applyChanges(spark, empty, path, "k")
    assert(graft.operators.Cdc.readTable(spark, path).count() == 0)
    graft.operators.Cdc.applyChanges(spark,
      Seq((1L, 1L, "I", "a")).toDF("k", "seq", "op", "v"), path, "k")
    graft.operators.Cdc.applyChanges(spark, empty, path, "k")
    assert(graft.operators.Cdc.readTable(spark, path)
      .select("k", "v").as[(Long, String)].collect().toSet == Set((1L, "a")))
    // zone-mapped table over an empty frame: manifest exists, prune total
    val zp = "target/tmp/empty_zonemap_spec"
    val zpp = new org.apache.hadoop.fs.Path(zp)
    zpp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(zpp, true)
    graft.sources.Layout.writeZoneMapped(
      Seq.empty[(Long, String)].toDF("k", "v"), zp, nFiles = 4, rangeCol = "k")
    assert(graft.sources.Layout.readZonePruned(spark, zp, "k", 0L, 100L).count() == 0)
    // grid resample / SCD2 / robust anomalies / label propagation / RRF
    val ets = Seq.empty[(Long, Long, Long, Double)].toDF("k", "t", "id", "v")
    assert(graft.operators.Timeseries.resampleFfill(ets, "k", "t", "id", "v",
      10L).count() == 0)
    val ech = Seq.empty[(Long, Long, Long, String)].toDF("k", "t", "id", "v")
    assert(graft.operators.Cdc.scd2Intervals(ech, "k", "t", "id", Seq("v")).count() == 0)
    val eev = Seq.empty[(Long, Long, Double)].toDF("user_id", "event_id", "value")
    assert(graft.operators.Behavior.robustAnomalies(
      eev, "user_id", "event_id", "value", 3L, 1L).count() == 0)
    val eed = Seq.empty[(Long, Long, Long)].toDF("u", "v", "w")
    assert(graft.operators.LinkRank.labelPropagate(eed, rounds = 3).count() == 0)
    val erl = Seq.empty[(Long, Long, Long)].toDF("qid", "doc_id", "rank")
    assert(graft.quality.Scoring.rrfFuse(Seq(erl), k0 = 60L, maxRank = 10,
      k = 10).count() == 0)
    assert(graft.operators.LinkRank.khopDistances(
      eed.select("u", "v"), eed.select(col("u").as("node")), maxHops = 3).count() == 0)
    assert(graft.operators.Behavior.winsorize(eev, "user_id", "event_id", "value",
      1L, 20L).count() == 0)
    val epr = Seq.empty[(Long, Long)].toDF("doc_id_1", "doc_id_2")
    val rep = graft.operators.Dedup.pairSetReport(epr, epr).head()
    assert(rep.getAs[Long]("n_truth") == 0L && rep.isNullAt(rep.fieldIndex("recall")))
    // late-r10 additions: ewma fold, scd2 incremental apply, nearest as-of,
    // containment index, PSI, interval overlap
    assert(graft.operators.Timeseries.ewma(ets, "k", "t", "id", "v", 1L, 4L).count() == 0)
    val eiv = graft.operators.Cdc.scd2Intervals(ech, "k", "t", "id", Seq("v"))
    assert(graft.operators.Cdc.scd2Apply(eiv, ech, "k", "t", "id", Seq("v")).count() == 0)
    val etr = Seq.empty[(Long, Long, Long)].toDF("id", "k", "ts")
    val epx = Seq.empty[(Long, Long, Double)].toDF("k", "pts", "price")
    assert(graft.operators.AsOfJoin.asOfNearest(etr, epx, Seq("k"), "ts", "pts",
      100L, Seq("price")).count() == 0)
    val edoc = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.Dedup.ngramContainmentIndexed(edoc, "doc_id", "text",
      n = 2, threshold = 0.5).count() == 0)
    val ebin = Seq.empty[Tuple1[Long]].toDF("bin")
    assert(graft.quality.Constraints.driftPsi(ebin, ebin, "bin").count() == 0)
    val eiv2 = Seq.empty[(Long, Long, Long)].toDF("id", "lo", "hi")
    assert(graft.operators.Relational.intervalOverlapJoin(eiv2, eiv2, Seq.empty,
      "lo", "hi", 10L, Seq("id")).count() == 0)
  }

  test("round-12 operators are total on empty inputs") {
    val base = "target/tmp/empty_r12"
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // pointer-committed snapshots: committing an EMPTY frame still yields
    // a readable (zero-row) table — Spark writes a schema-bearing empty
    // part file, the pointer flips normally
    graft.operators.Snapshots.commit(spark, docs0, s"$base/snap")
    assert(graft.operators.Snapshots.readCurrent(spark, s"$base/snap").count() == 0)
    // bucketed snapshots: an empty batch touches no buckets — a NO-OP
    // returning the live version (0 on a never-committed table)
    assert(graft.operators.BucketedSnapshots.upsertByKey(
      spark, docs0, s"$base/bsnap", "doc_id", nBuckets = 4) == 0L)
    val v1 = graft.operators.BucketedSnapshots.upsertByKey(
      spark, Seq((1L, "a")).toDF("doc_id", "text"), s"$base/bsnap", "doc_id", 4)
    assert(graft.operators.BucketedSnapshots.upsertByKey(
      spark, docs0, s"$base/bsnap", "doc_id", 4) == v1,
      "an empty upsert must not advance the version")
    // bucketed CDC: empty change batch no-ops; eraseKeys with no subjects
    // audits empty
    val ch0 = Seq.empty[(Long, Long, String, String)].toDF("k", "seq", "op", "v")
    val c1 = graft.operators.BucketedSnapshots.applyChanges(spark,
      Seq((1L, 1L, "I", "a")).toDF("k", "seq", "op", "v"), s"$base/cdc", "k", 4)
    assert(graft.operators.BucketedSnapshots.applyChanges(spark, ch0, s"$base/cdc", "k", 4) == c1)
    assert(graft.operators.BucketedSnapshots.readTable(spark, s"$base/cdc").count() == 1)
    assert(graft.operators.Cdc.eraseKeys(spark, s"$base/cdc",
      Seq.empty[Long].toDF("k"), "k", seq = 99L).count() == 0)
    assert(graft.operators.BucketedSnapshots.currentVersion(spark, s"$base/cdc").contains(c1),
      "an erasure with no subjects must not advance the version")
    // media / tokenizer / assembly families
    assert(graft.operators.Multimodal.pixelPngCorpus(docs0, "doc_id").count() == 0)
    assert(graft.operators.Multimodal.pixelPairs(
      graft.operators.Multimodal.pixelPngCorpus(docs0, "doc_id")).count() == 0)
    val m0 = graft.functions.Unigram.trainModel(docs0, "text")
    assert(m0.isEmpty)
    assert(graft.quality.Selection.packManifest(
      Seq.empty[(Long, String, Long)].toDF("id", "shard", "n"),
      "id", "n", budget = 100, shardCol = "shard").count() == 0)
    assert(graft.quality.Selection.curriculumInterleave(
      Seq.empty[(Long, String)].toDF("id", "tier"), "tier", "id").count() == 0)
    assert(graft.features.Encoders.robustScale(
      Seq.empty[(Long, String, Double)].toDF("id", "g", "v"), "g", "v").count() == 0)
    assert(graft.operators.Dedup.hammingPairs64Incremental(
      Seq.empty[(Long, Long)].toDF("doc_id", "sig"),
      Seq.empty[(Long, Long)].toDF("doc_id", "sig"), "sig", 2).count() == 0)
  }

  test("round-13 operators are total on empty inputs") {
    import graft.operators.Multimodal
    val ids0 = Seq.empty[Long].toDF("doc_id")
    // the three new media families: empty corpora yield empty pair/cluster
    // sets through the full decode + banding machinery, never a throw
    assert(Multimodal.gifPairs(Multimodal.pixelGifCorpus(ids0, "doc_id")).count() == 0)
    assert(Multimodal.gifClusters(Multimodal.pixelGifCorpus(ids0, "doc_id")).count() == 0)
    assert(Multimodal.audioPairs(Multimodal.pcmWavCorpus(ids0, "doc_id")).count() == 0)
    assert(Multimodal.audioClusters(Multimodal.pcmWavCorpus(ids0, "doc_id")).count() == 0)
    assert(Multimodal.videoPairs(Multimodal.mjpegAviCorpus(ids0, "doc_id")).count() == 0)
    assert(Multimodal.videoClusters(Multimodal.mjpegAviCorpus(ids0, "doc_id")).count() == 0)
    // WARC explode over an empty shard set
    val shards0 = Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload")
    assert(shards0.select(posexplode(
      org.apache.spark.sql.graftnative.NativeColumns.warcRecords(col("payload"))))
      .count() == 0)
    // feed consumer on a never-committed upstream: None, nothing created
    val up = "target/tmp/empty13_up"; val cons = "target/tmp/empty13_cons"
    Seq(up, cons).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }
    assert(graft.operators.FeedConsumer.drainRollup(
      spark, up, cons, "k", "g", Seq("v")).isEmpty)
    assert(graft.operators.FeedConsumer.offset(spark, cons).isEmpty)
    // an EMPTY upsert batch on the versioned table is a no-op, not a crash
    assert(graft.operators.BucketedSnapshots.upsertByKey(
      spark, Seq.empty[(Long, Double)].toDF("k", "v"), up, "k", 4) == 0L)
  }

  test("round-14 operators are total on empty inputs") {
    import graft.operators.{BucketedSnapshots, Multimodal, TableMeta}
    val ids0 = Seq.empty[Long].toDF("doc_id")
    // the two new media families through the full decode + banding
    assert(Multimodal.webpPairs(Multimodal.pixelWebpCorpus(ids0, "doc_id")).count() == 0)
    assert(Multimodal.webpClusters(Multimodal.pixelWebpCorpus(ids0, "doc_id")).count() == 0)
    assert(Multimodal.crossAudioPairs(Multimodal.crossAudioCorpus(ids0, "doc_id")).count() == 0)
    assert(Multimodal.crossAudioClusters(Multimodal.crossAudioCorpus(ids0, "doc_id")).count() == 0)
    // PDF extraction over an empty shard set
    val shards0 = Seq.empty[(Long, Array[Byte])].toDF("doc_id", "payload")
    assert(shards0.select(
      org.apache.spark.sql.graftnative.NativeColumns.pdfText(col("payload")))
      .count() == 0)
    // an EMPTY delete-key frame on a committed table is a no-op version
    val path = "target/tmp/empty14_tbl"
    val hp = new org.apache.hadoop.fs.Path(path)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    val v1 = BucketedSnapshots.upsertByKey(
      spark, Seq((1L, 1.0)).toDF("k", "v"), path, "k", 2)
    assert(BucketedSnapshots.deleteKeys(
      spark, path, Seq.empty[Long].toDF("k"), "k") == v1)
    // ... and a frame of only-null keys is also a no-op
    assert(BucketedSnapshots.deleteKeys(
      spark, path, Seq.empty[Option[Long]].toDF("k")
        .unionByName(Seq(Option.empty[Long]).toDF("k")), "k") == v1)
    // metadata tables on a one-commit table: exactly one history row
    assert(TableMeta.history(spark, path).count() == 1)
    assert(TableMeta.statsTable(spark, path).count() == 0) // no stat columns declared
    // branching an empty-HISTORY table fails loudly, not mysteriously
    val none = "target/tmp/empty14_none"
    val np = new org.apache.hadoop.fs.Path(none)
    np.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(np, true)
    intercept[java.io.FileNotFoundException] {
      BucketedSnapshots.branch(spark, none, "b")
    }
    // history of a never-committed table is an empty frame, not a crash
    assert(TableMeta.history(spark, none).count() == 0)
  }

  test("scoring family is total on an empty corpus (two-phase scalars guarded)") {
    assert(graft.quality.Scoring.unigramSurprisal(docs0, "doc_id", "text").count() == 0)
    assert(graft.quality.Scoring.bigramSurprisal(docs0, "doc_id", "text").count() == 0)
    assert(graft.quality.Scoring.tfidfTopTerms(docs0, "doc_id", "text", k = 5).count() == 0)
    assert(graft.quality.Scoring.gopherRules(docs0, "doc_id", "text").count() == 0)
    assert(graft.quality.Scoring.hashedClassifierScore(docs0, "doc_id", "text").count() == 0)
    assert(graft.quality.Scoring.perplexityBuckets(docs0, "doc_id", "text").count() == 0)
    val tok = docs0.withColumn("n", lit(1L)).withColumn("lang", lit("en"))
    assert(graft.quality.Scoring.mixtureResample(tok, "lang", "doc_id", "n",
      Map("en" -> 1.0)).count() == 0)
  }

  test("round-9 family is total on an empty corpus: HTML pipeline, BPE training, shard shuffle") {
    assert(graft.quality.CorpusClean.pipelineHtml(
      docs0.withColumnRenamed("text", "html")).count() == 0)
    // empty-corpus vocab is empty; tokenizing against it never throws
    // (every char is the -1 unknown)
    val vocab = graft.functions.Bpe.trainVocab(docs0, "text")
    assert(vocab.isEmpty)
    val st = Seq((1L, "ab")).toDF("doc_id", "text")
      .select(graft.functions.Bpe.tokenize(col("text"), vocab).as("st"))
      .select(col("st.n_tokens"), col("st.id_checksum")).as[(Long, Long)].head()
    assert(st == ((2L, -2L)), "two unknown single chars")
    assert(graft.sources.Layout.shardShuffleAssignment(docs0, "doc_id", 4, "s")
      .count() == 0)
    val base = "target/tmp/empty_shard_shuffle"
    graft.sources.Layout.writeShuffledShards(docs0, base, "doc_id", 4)
    assert(spark.read.parquet(base).count() == 0)
  }

  test("perceptron trainer and link rank are total on an empty input") {
    val labeled = docs0.withColumn("y", lit(1L))
    val w = graft.quality.Scoring.trainPerceptron(labeled, "doc_id", "text", "y")
    assert(w.columns.toSeq == Seq("f", "wv") && w.count() == 0)
    val e = Seq.empty[(String, String, Long)].toDF("src", "dst", "w")
    assert(graft.operators.LinkRank.pageRank(e, iters = 3).count() == 0)
    assert(graft.operators.LinkRank.eventBipartiteEdges(
      docs0.withColumn("user_id", lit(1L)).withColumn("event_type", lit("a"))
        .where(lit(false))).count() == 0)
  }

  test("selection family is total on an empty input") {
    val scored = Seq.empty[(Long, Double, String)].toDF("id", "score", "g")
    assert(graft.quality.Selection.filterByScoreQuantile(scored, "score", 0.5).count() == 0)
    assert(graft.quality.Selection.filterByScoreQuantileApprox(scored, "score", 0.5).count() == 0)
    assert(graft.quality.Selection.hashSample(scored, "id", 0.5).count() == 0)
    assert(graft.quality.Selection.stratifiedSample(scored, Seq("g"), "id", k = 3).count() == 0)
    assert(graft.quality.Selection.weightedSample(scored, "id", "score", k = 3).count() == 0)
    assert(graft.quality.Selection.capPerStratum(scored, Seq("g"), "id", "score", k = 3)
      .count() == 0)
    assert(graft.quality.Selection.packByTokenBudget(
      Seq.empty[(Long, Long, String)].toDF("id", "n", "shard"), "id", "n",
      budget = 100L, shardCol = "shard").count() == 0)
  }

  test("similarity family is total on an empty corpus") {
    assert(Similarity.bruteForceTopK(emb0, emb0, "vec_id", "embedding", k = 3).count() == 0)
    assert(Similarity.quantizedTopK(emb0, emb0, "vec_id", "embedding", k = 3).count() == 0)
    assert(Similarity.lshTopK(emb0, emb0, "vec_id", "embedding",
      bands = 2, planesPerBand = 2, k = 3).count() == 0)
    assert(Similarity.kmeansCentroids(emb0, "vec_id", "embedding", k = 4, iters = 1)
      .count() == 0)
    assert(Similarity.ivfTopK(emb0, emb0, "vec_id", "embedding",
      nCentroids = 4, nProbe = 2, k = 3, kmeansIters = 1).count() == 0)
    assert(Similarity.ivfQuantizedTopK(emb0, emb0, "vec_id", "embedding",
      nCentroids = 4, nProbe = 2, k = 3).count() == 0)
    assert(Similarity.pqEncode(emb0, "vec_id", "embedding",
      dim = 16, m = 4, ksub = 4).count() == 0)
    assert(Similarity.pqTopK(emb0, emb0, "vec_id", "embedding",
      dim = 16, m = 4, ksub = 4, k = 3).count() == 0)
    assert(Similarity.ivfPqTopK(emb0, emb0, "vec_id", "embedding",
      dim = 16, m = 4, ksub = 4, nCentroids = 4, nProbe = 2, k = 3).count() == 0)
  }
}
