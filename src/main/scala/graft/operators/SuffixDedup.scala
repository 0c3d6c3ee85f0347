package graft.operators

import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** EXACT-SUBSTRING dedup via a DISTRIBUTED SUFFIX ARRAY — the true
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
  * Better") form the k-gram-window machinery approximates: find every
  * token position covered by a duplicated substring of >= `minTokens`
  * tokens, as adjacent-suffix LCPs over the concatenated corpus.
  *
  * Construction is PREFIX DOUBLING, O(n log n) total work in O(log n)
  * rounds (the scale gate measures the exponent):
  *
  *  1. one global position per token (per-doc offsets by a TWO-PHASE
  *     distributed prefix sum over the doc-length frame — per-partition
  *     subtotals, a partition-count-sized prefix on the driver, then
  *     per-partition running sums; never a single-partition window),
  *     with a UNIQUE boundary sentinel after each doc so no suffix
  *     match crosses a document's end while cross-document boilerplate
  *     still matches;
  *  2. initial ranks = dense rank of the token string (one distributed
  *     sort — never a single-partition window);
  *  3. each round pairs `rank(i)` with `rank(i + h)` (a shifted
  *     self-join on position) and DENSE-RE-RANKS the pairs in one
  *     distributed range sort — rank = key changes strictly before the
  *     row, assigned from driver-collected per-partition edge summaries
  *     (first/last key + change count; the two-phase shape again) —
  *     doubling `h` until every rank is unique; one n-row shuffle per
  *     round, no distinct pass, no rank join-back;
  *  4. suffix order = sort by final rank; each adjacent pair's LCP is
  *     recovered from the SAVED round ranks by the classic descending-
  *     powers walk (log n small joins over the n-1 adjacent pairs — no
  *     quadratic rescan of text);
  *  5. a suffix whose neighbor LCP `L >= minTokens` contributes the
  *     covered interval `[i, i+L)`; the union of those intervals is
  *     EXACTLY the union of duplicated `minTokens`-windows (maximality
  *     of nearest-neighbor LCP in suffix order), which is what the SQL
  *     oracle re-derives independently.
  *
  * Output: `(doc_id, n_tokens, covered_tokens)` — the per-document
  * duplicated-span coverage the span-removal assembler consumes.
  *
  * 100 TB: every step is a shuffle-on-key or a distributed sort; round
  * count grows with log of corpus length, per-round cost is linear.
  * Token payloads leave the scan once (as ranks); text never re-shuffles.
  *
  * CONSTANT-FACTOR SHAPE (r16 optimization round): ONE driver sync per
  * doubling round (the edge-summary collect). The re-ranked round frame is
  * a LAZY columnar cache (`createDataFrame(...).persist`) over the round's
  * sort shuffle — materialized by the next consumer's own job (no per-round
  * checkpoint action or block copy), then scanned as in-memory batches by
  * the self-join and the LCP walk. Rescans of the sorted RDD reuse its
  * shuffle files, so nothing upstream recomputes. The LCP walk is ONE lazy
  * DAG materialized once at its end (it used to checkpoint every step),
  * and suffix-order adjacency is partition-boundary handoff over an EXACT
  * interpolation partitioner on the dense final ranks (p = r*P/n — no
  * sampling pass, no zipWithIndex, no n-row self-join). The tokenization is
  * cached across its three consumers. Bench evidence in
  * OPTIMIZATION_r16.md.
  */
object SuffixDedup {

  /** Exact range partitioner for a DENSE key domain [0, d): partition
    * p = floor(key * numParts / d) — monotone (global sort order across
    * partitions) and sample-free (no extra pass, unlike RangePartitioner).
    * Double math so key*numParts cannot overflow at extreme scale;
    * IEEE multiply/divide are monotone, so order is preserved and equal
    * keys always land together. Density-adaptivity is NOT needed for the
    * final-rank sort (ranks are a dense permutation — perfectly uniform);
    * for the doubling rounds the primary key is the PREVIOUS round's dense
    * rank, so a partition only overfills when one rank-run exceeds n/P
    * rows (a token that is a large fraction of the whole corpus) — and the
    * edge-summary ranker is already correct across partition-spanning
    * runs, so that is a straggler bound, not a correctness edge.
    */
  private final class DenseLongPartitioner(d: Long, parts: Int)
      extends Partitioner {
    require(d > 0 && parts > 0)
    override def numPartitions: Int = parts
    private def part(k: Long): Int = {
      val p = (k.toDouble * parts / d).toInt
      if (p < 0) 0 else if (p >= parts) parts - 1 else p
    }
    override def getPartition(key: Any): Int = key match {
      case (r: Long, _) => part(r)
      case r: Long => part(r)
    }
  }

  def duplicateSpanCoverage(
      docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int): DataFrame = {
    require(minTokens >= 2, "minTokens must be >= 2")
    val spark = docs.sparkSession
    import spark.implicits._
    val dbg = sys.env.contains("SPARK_GRAFT_SUFFIX_DEBUG")
    var t0 = System.nanoTime()
    def mark(s: String): Unit = if (dbg) {
      val t1 = System.nanoTime()
      System.err.println(f"[suffix] $s ${(t1 - t0) / 1e9}%.2f s")
      t0 = t1
    }
    // every persisted RDD lives until the output is materialized (the LCP
    // walk re-scans all rounds), then is freed — leaking them across
    // invocations is the r15 executor-OOM shape
    val pinnedDfs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val pinnedRdds = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[_]]
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    if (sys.env.contains("SPARK_GRAFT_SUFFIX_NOAQE"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {

    // ---- 1. global positions + unique per-doc boundary sentinels ----
    val toks = docs
      .select(col(idCol).cast("long").as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("ws"))
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
      // scanned 3x (doc lengths, vocabulary, position join) — cache the
      // tokenization instead of re-running the per-doc regex split
      .persist(StorageLevel.MEMORY_AND_DISK)
    // per-doc offsets: TWO-PHASE distributed prefix sum over the
    // doc-length frame in doc_id order (the sel_curriculum_interleave
    // ranking pattern) — a global Window.orderBy here would funnel every
    // doc length through ONE task, the classic 10^9-doc straggler
    val lensSorted = toks.groupBy("doc_id")
      .agg((max("pos") + 1).cast("long").as("len"))
      .rdd.map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1) // distributed range sort by doc_id (ascending)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // phase 1: per-partition (subtotal, count) — partition-count-sized
    // collect; the count rides along so nDocs needs no second job
    val partStats = lensSorted.mapPartitionsWithIndex { case (i, it) =>
      var s = 0L; var c = 0L
      it.foreach { kv => s += kv._2 + 1L; c += 1L } // +1: boundary sentinel slot
      Iterator(i -> ((s, c)))
    }.collect().toMap
    val nDocs = partStats.valuesIterator.map(_._2).sum
    // EMPTY corpus (no docs, or every text whitespace-only): nothing can
    // be duplicated — return the empty output frame instead of feeding
    // n = 0 into the partitioners (DenseLongPartitioner requires d > 0)
    if (nDocs == 0L) {
      lensSorted.unpersist(false)
      toks.unpersist()
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("doc_id", LongType),
          StructField("n_tokens", LongType),
          StructField("covered_tokens", LongType))))
    }
    val partBase = {
      val nParts = lensSorted.getNumPartitions
      val arr = new Array[Long](nParts)
      var acc = 0L; var i = 0
      while (i < nParts) { arr(i) = acc; acc += partStats.get(i).fold(0L)(_._1); i += 1 }
      arr
    }
    // dense per-doc index bases (same two-phase shape, over the counts):
    // sentinel ranks derive from THIS index, not the raw doc_id — sparse
    // or giant ids would otherwise push every sentinel key past the
    // round-1 partitioner's domain and clamp them into one partition
    val docBase = {
      val nParts = lensSorted.getNumPartitions
      val arr = new Array[Long](nParts)
      var acc = 0L; var i = 0
      while (i < nParts) { arr(i) = acc; acc += partStats.get(i).fold(0L)(_._2); i += 1 }
      arr
    }
    // phase 2: running offsets within each partition from its base
    val docLens = spark.createDataFrame(
      lensSorted.mapPartitionsWithIndex { case (i, it) =>
        var off = partBase(i); var di = docBase(i)
        it.map { case (d, l) =>
          val o = off; off += l + 1L
          val ix = di; di += 1L
          (d, l, o, ix)
        }
      }).toDF("doc_id", "len", "off", "di")
      .localCheckpoint(true) // consumed 3x: position join, sentinels, output
    lensSorted.unpersist(false)
    mark("offsets")
    // plain keyed join (no broadcast hint): docLens is doc-count-sized —
    // AQE broadcasts it when small, shuffles when a billion docs make a
    // driver-sized broadcast the actual hazard
    val positioned = toks.join(docLens.select("doc_id", "off"), "doc_id")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        (col("off") + col("pos")).as("g"), col("tok"))

    // initial ranks: dense rank of token string (vocabulary-sized sort);
    // sentinels get UNIQUE ranks above every real token's. Two-phase
    // indexing over the sorted vocab (per-partition sizes collected once)
    // replaces zipWithIndex + count — one fewer job each.
    val (tokRanks, nTokRanks) = {
      // vocabulary straight off the cached tokenization: `positioned`
      // would drag the docLens join into this branch (Catalyst can't
      // prune an inner join under distinct), and the join adds nothing —
      // every toks doc_id is in docLens by construction
      val sortedToks = toks.select("tok").distinct()
        .rdd.map(_.getString(0)).sortBy(identity)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val sizes = sortedToks.mapPartitionsWithIndex { case (i, it) =>
        Iterator(i -> it.size.toLong)
      }.collect().toMap
      val nParts = sortedToks.getNumPartitions
      val bases = new Array[Long](nParts)
      var acc = 0L; var i = 0
      while (i < nParts) { bases(i) = acc; acc += sizes.getOrElse(i, 0L); i += 1 }
      pinnedRdds += sortedToks
      val df = spark.createDataFrame(
        sortedToks.mapPartitionsWithIndex { case (i, it) =>
          var r = bases(i)
          it.map { t => val out = (t, r); r += 1L; out }
        }).toDF("tok", "r")
      (df, acc)
    }
    mark("tokRanks")
    // sentinel rank = nTokRanks + dense doc index (di): unique, above
    // every real token's rank, and monotone in doc_id (docLens is sorted
    // by doc_id), so the suffix order is IDENTICAL to ranking by doc_id —
    // but the keys stay inside [0, nTokRanks + nDocs), the exact domain
    // round 1's interpolation partitioner spreads (raw sparse ids would
    // all clamp into the last partition: one straggler carrying every
    // sentinel)
    val sentinels = docLens.select(
      col("doc_id"), lit(null).cast("string").as("tok"),
      (col("off") + col("len")).as("g"), lit(-1L).as("pos"),
      (lit(nTokRanks) + col("di")).as("r"))
      .select(col("doc_id"), col("pos"), col("g"), col("r"))
    // the initial frame is scanned by round 1 (twice), the LCP walk
    // (twice) and the position recovery — cache it; the first consumer
    // materializes it. n is already known from the offset collect
    // (sum of doc lengths + one sentinel per doc), so no count job.
    val initial = positioned.join(tokRanks, "tok")
      .select(col("doc_id"), col("pos"), col("g"), col("r"))
      .unionByName(sentinels)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = partStats.valuesIterator.map(_._1).sum
    // the doubling rounds and the LCP walk only ever need (g, r): doc_id
    // and pos would otherwise ride along through every per-round shuffle
    // (~2x the bytes) just to be read back at the very end — the position
    // recovery joins the (doc_id, pos, g) triplets from `initial` instead
    var rank = initial.select(col("g"), col("r"))
    mark("initialRank")

    // ---- 2/3. prefix doubling; keep each round for the LCP walk ----
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Long, DataFrame)]
    rounds += 0L -> rank // h=1 ranks under key "first 1 token" (power index by shift h)
    var h = 1L
    // initial distinct-rank count is KNOWN (token ranks are dense
    // 0..nTokRanks-1, sentinel ranks nTokRanks+di all unique) — no
    // distinct pass; per round it falls out of the edge summaries
    var distinctRanks = nTokRanks + nDocs
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    while (distinctRanks < n) {
      val shifted = rank.select((col("g") - h).as("g"), col("r").as("r2"))
      val paired = rank.join(shifted, Seq("g"), "left")
        .select(col("g"), col("r"), coalesce(col("r2"), lit(-1L)).as("r2"))
      // dense re-rank in ONE distributed range sort of the positions by
      // their pair key — rank = number of key CHANGES strictly before the
      // row, assigned per partition from driver-collected edge summaries
      // (first/last key + change count per partition: the same two-phase
      // shape as the offset step). The primary sort key is the PREVIOUS
      // round's dense rank, so the exact interpolation partitioner
      // replaces sortByKey's RangePartitioner — no sampling pass over the
      // pair join, and the single driver sync per round is the edge
      // collect. The re-ranked frame is a LAZY leaf over the persisted
      // sorted RDD: consumers re-run the (narrow, cached) assignment map
      // instead of paying a second full materialization per round.
      val keyed = paired.rdd
        .map(r => ((r.getLong(1), r.getLong(2)), r.getLong(0)))
      // NOT persisted: the only rescans (edge collect + the cached-DF
      // materialization below) reuse the shuffle files of this
      // repartitionAndSort — a fetch+merge, not a recompute of the join
      val sortedRdd = keyed
        .repartitionAndSortWithinPartitions(
          new DenseLongPartitioner(distinctRanks, parts))
      val edges = sortedRdd.mapPartitionsWithIndex { case (i, it) =>
        var first: (Long, Long) = null
        var last: (Long, Long) = null
        var changes = 0L
        it.foreach { case (k, _) =>
          if (first == null) first = k
          else if (k != last) changes += 1
          last = k
        }
        Iterator(i -> ((first, last, changes)))
      }.collect().toMap
      val nParts = sortedRdd.getNumPartitions
      val base = new Array[Long](nParts) // rank of each partition's first row
      var acc = 0L                       // rank of the last key seen so far
      var prevLast: (Long, Long) = null
      var p = 0
      while (p < nParts) {
        edges.get(p).filter(_._1 != null).foreach { case (first, last, changes) =>
          if (prevLast != null && first != prevLast) acc += 1
          base(p) = acc
          acc += changes
          prevLast = last
        }
        if (edges.get(p).forall(_._1 == null)) base(p) = acc // empty partition
        p += 1
      }
      distinctRanks = if (prevLast == null) 0L else acc + 1
      val next = spark.createDataFrame(
        sortedRdd.mapPartitionsWithIndex { case (i, it) =>
          var r = base(i)
          var prev: (Long, Long) = null
          it.map { case (k, g) =>
            if (prev != null && k != prev) r += 1
            prev = k
            (g, r)
          }
        }).toDF("g", "r")
        // LAZY columnar cache: materialized by the NEXT round's edge
        // collect (or the walk) as part of its own job — no extra action,
        // and every later scan (self-join second side, walk ra/rb) reads
        // the in-memory columnar batches instead of re-running the
        // RDD->Row conversion. This is the measured winner over both
        // per-round localCheckpoint (extra job + block write per round)
        // and fully-lazy leaves (conversion re-ran per scan).
        .persist(StorageLevel.MEMORY_AND_DISK)
      pinnedDfs += next // walk re-scans every round; freed after output
      h *= 2
      mark(s"round h=$h distinct=$distinctRanks")
      rounds += h -> next // ranks under "first 2h'... " key: shift to pair = h
      rank = next
    }

    // ---- 4. adjacent pairs in suffix order, LCP by descending powers ----
    // suffix order: global sort by final rank. Final ranks are a DENSE
    // UNIQUE permutation of [0, n), so the exact interpolation partitioner
    // is perfectly uniform and adjacency is partition-boundary handoff:
    // each partition emits its internal consecutive pairs plus one pair
    // joining its last element to the next non-empty partition's first
    // element (a partition-count-sized collect) — no zipWithIndex, no
    // n-row self-join.
    val adjacency = {
      val sortedByR = rank.select(col("r"), col("g"))
        .rdd.map(row => (row.getLong(0), row.getLong(1)))
        .repartitionAndSortWithinPartitions(new DenseLongPartitioner(n, parts))
      val heads = sortedByR.mapPartitionsWithIndex { case (i, it) =>
        if (it.hasNext) Iterator(i -> it.next()._2) else Iterator.empty
      }.collect().toMap
      val nP = sortedByR.getNumPartitions
      spark.createDataFrame(
        sortedByR.mapPartitionsWithIndex { case (i, it) =>
          val nextHead: Option[Long] =
            (i + 1 until nP).iterator.flatMap(j => heads.get(j)).nextOption()
          val gs = it.map(_._2)
          if (!gs.hasNext) Iterator.empty[(Long, Long)]
          else {
            var prev = gs.next()
            val internal = gs.map { g => val out = (prev, g); prev = g; out }
            // boundary pair built AFTER internal is exhausted (++ is lazy,
            // so `prev` is this partition's last element by then)
            internal ++ nextHead.iterator.map(hd => (prev, hd))
          }
        }).toDF("ga", "gb")
    }
    // walk saved rounds high->low: extend the common prefix wherever the
    // round's ranks agree at the current lcp offset. The whole walk is ONE
    // lazy DAG — log(LRS) stacked small joins — materialized once at the
    // end (the neighbor-max consumes it twice).
    var pairs = adjacency.withColumn("lcp", lit(0L))
    // descending-width budget for the MINTOKENS PRUNE below: after a
    // round of width w, the remaining rounds can add at most
    // sum(their widths) to a pair's lcp — a pair that provably finishes
    // below minTokens can never set a >= minTokens neighbor max, so it
    // drops out of every remaining (smaller-width) walk join. For the
    // tail rounds this discards the overwhelming majority of adjacent
    // pairs (most neighbor LCPs are 0-1).
    var remainingWidths = rounds.iterator.map(x => math.max(x._1, 1L)).sum
    rounds.reverse.foreach { case (span, rdf) =>
      val width = math.max(span, 1L) // round h covers h tokens (h=0 entry covers 1)
      val ra = rdf.select(col("g").as("qa"), col("r").as("rka"))
      val rb = rdf.select(col("g").as("qb"), col("r").as("rkb"))
      pairs = pairs
        .withColumn("qa", col("ga") + col("lcp"))
        .withColumn("qb", col("gb") + col("lcp"))
        .join(ra, Seq("qa"), "left")
        .join(rb, Seq("qb"), "left")
        .withColumn("lcp",
          when(col("rka").isNotNull && col("rkb").isNotNull &&
            col("rka") === col("rkb"), col("lcp") + width)
            .otherwise(col("lcp")))
        .select("ga", "gb", "lcp")
      remainingWidths -= width
      if (remainingWidths < minTokens)
        pairs = pairs.filter(col("lcp") + remainingWidths >= minTokens)
    }
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    mark("lcpwalk")

    // neighbor LCP per suffix = max over its two order-neighbors
    val neighborLcp = pairs.select(col("ga").as("g"), col("lcp"))
      .unionByName(pairs.select(col("gb").as("g"), col("lcp")))
      .groupBy("g").agg(max("lcp").as("nl"))
      .filter(col("nl") >= minTokens)

    // ---- 5. spans back to (doc, pos); merge + count coverage ----
    val spans = initial.select(col("doc_id"), col("pos"), col("g"))
      .filter(col("pos") >= 0) // sentinels out
      .join(neighborLcp, "g")
      .select(col("doc_id"), col("pos").as("s"),
        (col("pos") + col("nl")).as("e")) // [s, e) in doc-token coords
    // boundary sentinel guarantees e never crosses the doc end.
    // coverage = interval-union length per doc by a SWEEP over each doc's
    // spans in start order: a span contributes max(0, e - max(s, M)),
    // M = running max end over the doc's earlier spans (the sum is
    // invariant to tie order, so the result is deterministic). The
    // explode-to-positions form this replaces generated one row PER
    // COVERED TOKEN and distinct-aggregated them — rows ~ covered corpus
    // size instead of ~ span count. The window partitions BY DOC (never
    // a global orderBy), so parallelism is doc-granular, same as before.
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("s")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val covered = spans
      .withColumn("m", max("e").over(byDoc))
      .select(col("doc_id"),
        greatest(col("e") - greatest(col("s"), coalesce(col("m"), col("s"))),
          lit(0L)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("covered_tokens"))
    val out = docLens.select(col("doc_id"), col("len").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"))
      // materialize the (doc-count-sized) result, then FREE the pinned
      // round RDDs — without this, repeated invocations accumulate every
      // round's block storage and eventually OOM the executors
      .localCheckpoint(true)
    mark("output")
    pinnedDfs.foreach(_.unpersist())
    pinnedRdds.foreach(_.unpersist(false))
    initial.unpersist() // the initial-frame cache
    pairs.unpersist()
    docLens.unpersist()
    toks.unpersist() // the tokenization cache — every persist pairs with an unpersist
    out
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }
}
