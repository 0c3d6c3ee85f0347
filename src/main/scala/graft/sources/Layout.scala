package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical-layout control for the 100 TB path: bucketed tables co-locate
  * rows by key AT REST, so every join/aggregation on the bucket key reads
  * pre-partitioned data and skips the shuffle entirely — the Spark-native
  * replacement for the reference's 256-way `address_partition` directory
  * scheme (SURVEY.md §1.4), which only pruned, never co-located.
  *
  * Pattern: land the analytics tables bucketed by wallet once per refresh;
  * the 9-join feature chain then runs shuffle-free on the wallet key
  * (verified by LayoutSpec's no-Exchange plan assertion).
  */
object Layout {

  /** Write `df` as a bucketed, bucket-sorted managed table. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      nBuckets: Int,
      key: String,
      sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // with the default in-memory catalog, a previous JVM's managed-table
    // FILES survive even though the registration didn't — saveAsTable then
    // fails with LOCATION_ALREADY_EXISTS; clear the leftover location
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(warehouse, table.split('.').last.toLowerCase)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    val w = df.write.mode(SaveMode.Overwrite).bucketBy(nBuckets, key)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Re-attach bucketed FILES to a (possibly fresh) catalog: the restart
    * story. Bucket metadata lives in the catalog, and with the in-memory
    * catalog a JVM restart forgets it while the bucket-suffixed files
    * survive; a restarted app re-issues this DDL and every join/agg on the
    * key is shuffle-free again (LayoutSpec proves it drop/re-attach).
    * With a persistent metastore this is only needed at first registration.
    *
    * `schemaDdl` is the column list (e.g. `"k BIGINT, v DOUBLE"`) — DDL
    * needs it explicitly since bucketed datasource tables don't infer.
    */
  def attachBucketed(
      spark: SparkSession,
      table: String,
      path: String,
      schemaDdl: String,
      nBuckets: Int,
      key: String,
      sortCols: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortCols.nonEmpty) s"SORTED BY (${sortCols.mkString(", ")})" else ""
    spark.sql(s"""CREATE TABLE $table ($schemaDdl) USING PARQUET
      CLUSTERED BY ($key) $sorted INTO $nBuckets BUCKETS
      LOCATION '$path'""")
  }

  /** Write `df` RANGE-CLUSTERED on `rangeCol`: `repartitionByRange` gives
    * each output file a disjoint slice of the key space and the
    * within-partition sort orders rows inside it, so every parquet
    * row-group's min/max stats span a narrow range — a reader filtering
    * `rangeCol BETWEEN a AND b` skips all but the overlapping files/row
    * groups at footer level, before any IO. This is the at-rest layout for
    * monotone scan keys (block number, event time) where bucketing's hash
    * scatter would destroy locality; [[writeBucketed]] remains the choice
    * for equi-JOIN keys.
    *
    * The range boundaries come from Spark's reservoir sample of `df`
    * (one extra pass), so skewed key distributions still yield ~equal-size
    * files — the knob a 100 TB table needs for both pruning AND balanced
    * tasks.
    */
  def writeRangeClustered(
      df: DataFrame,
      path: String,
      nRanges: Int,
      rangeCol: String): Unit =
    df.repartitionByRange(nRanges, org.apache.spark.sql.functions.col(rangeCol))
      .sortWithinPartitions(rangeCol)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Compact a parquet directory's accumulation of small files into
    * `nFiles` larger ones — the standing maintenance op for streaming /
    * incremental-append sinks, where per-micro-batch writes degrade scans
    * to per-file open cost. `sortCol = Some(c)` re-establishes the
    * [[writeRangeClustered]] layout while compacting (footer-stat pruning
    * comes back for free); `None` coalesces WITHOUT a shuffle — each
    * output file is a concatenation of input partitions, so a 100 TB
    * compaction moves no rows between executors.
    *
    * Commit is the [[swapInPlace]] two-rename swap (staging + `__old`
    * backup), because the table is plain Parquet that appending sinks and
    * outside readers share; it carries the swap's CONTRACT: single writer,
    * rename-capable filesystem, and NO concurrent readers across the swap
    * — between the two renames the table path briefly does not exist, so
    * a reader that lists it in that window fails (and should retry). A
    * crash between the renames leaves the table absent until recovery,
    * which is manual but mechanical: whichever of `path__staging` (the
    * fully written compaction) or `path__old` (the pre-compaction table)
    * exists, rename it back to `path` — both are complete,
    * content-identical copies. Deployments needing reader-transparent
    * maintenance keep the table in the [[graft.operators.Snapshots]]
    * pointer layout instead, where the flip is atomic and readers never
    * see a missing table. Content is row-identical by construction —
    * layout only.
    */
  def compact(
      spark: SparkSession,
      path: String,
      nFiles: Int,
      sortCol: Option[String] = None): Unit = {
    import org.apache.spark.sql.functions.col
    require(nFiles >= 1, "nFiles must be >= 1")
    val df = spark.read.parquet(path)
    val compacted = sortCol match {
      case Some(c) => df.repartitionByRange(nFiles, col(c)).sortWithinPartitions(c)
      case None => df.coalesce(nFiles)
    }
    swapInPlace(spark, path)(staging =>
      compacted.write.mode(SaveMode.Overwrite).parquet(staging))
  }

  /** The [[compact]] two-rename commit, factored for ANY staged-write
    * artifact (e.g. [[graft.operators.Similarity.ivfRebuild]]'s
    * index+centroids directory): `write` must produce a COMPLETE
    * replacement of `path` under the staging dir it is given; the swap
    * then moves `path` aside to `path__old` (when a table exists there —
    * the first write just renames staging in), commits staging, and drops
    * the old copy. Same contract as [[compact]]: single writer,
    * rename-capable filesystem, no concurrent readers across the swap; a
    * crash between the renames leaves whichever of `path__staging` /
    * `path__old` survived as a complete copy to rename back (the
    * IvfIndexSpec crash test exercises exactly that window).
    */
  def swapInPlace(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val dst = new Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "__staging")
    val old = new Path(path + "__old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    write(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    val hadPrev = fs.exists(dst)
    if (hadPrev && !fs.rename(dst, old))
      throw new java.io.IOException(s"swapInPlace: failed to move $dst aside")
    if (!fs.rename(tmp, dst)) {
      if (hadPrev) fs.rename(old, dst) // roll back
      throw new java.io.IOException(s"swapInPlace: failed to commit $tmp -> $dst")
    }
    if (hadPrev) fs.delete(old, true)
  }

  /** Zone-map manifest name under a [[writeZoneMapped]] table. */
  val ZoneMapFile = "_ZONEMAP"

  /** [[writeRangeClustered]] plus a ZONE-MAP MANIFEST: one tiny
    * `_ZONEMAP` file recording per-FILE min/max of the cluster key (and
    * any extra integral `statsCols`), so [[readZonePruned]] can drop
    * non-overlapping files ON THE DRIVER, at planning time, without
    * opening a single parquet footer. Parquet's own footer stats prune
    * row-groups too, but only AFTER an open+footer-read per file — at
    * 100 TB with 10^5-10^6 files that is 10^5-10^6 object-store GETs per
    * query before any pruning happens; the manifest makes file-level
    * skipping one small read (this is precisely the role of file stats in
    * the Delta/Iceberg commit logs). Stats columns must be integral
    * (LONG-castable) — the manifest is exact text, no float-format
    * hazards; that covers the monotone scan keys this layout exists for
    * (block number, epoch, ids).
    *
    * The manifest is computed by one column-pruned read-back pass grouped
    * by `input_file_name()` (driver-small result: one row per file) and
    * committed LAST via write-temp-then-rename, so a crash mid-build
    * leaves a table that is merely unpruned, never wrongly pruned.
    */
  def writeZoneMapped(
      df: DataFrame,
      path: String,
      nFiles: Int,
      rangeCol: String,
      statsCols: Seq[String] = Nil): Unit = {
    writeRangeClustered(df, path, nFiles, rangeCol)
    buildZoneMap(df.sparkSession, path, rangeCol +: statsCols)
  }

  /** Build (or rebuild) the `_ZONEMAP` manifest for an EXISTING parquet
    * table, whatever produced its layout — range-clustered, z-ordered
    * ([[writeZOrdered]] + manifests over BOTH dimensions gives
    * rectangle pruning at the manifest level), [[compact]]ed, or
    * externally landed. Decoupled from the writer so maintenance jobs can
    * re-stat after compaction without rewriting data. Written last, by
    * [[MetaFile.replace]]: a crash leaves the previous manifest (or, on
    * the first build, none — an unpruned, never wrongly pruned, table).
    */
  def buildZoneMap(spark: SparkSession, path: String, statsCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions._
    require(statsCols.nonEmpty, "buildZoneMap: need at least one stats column")
    val cols = statsCols.distinct
    val stats = spark.read.parquet(path)
      .select((input_file_name().as("__f")) +: cols.map(c => col(c).cast("long").as(c)): _*)
      .groupBy("__f")
      .agg(min(col(cols.head)).as(s"min_${cols.head}"), (
        Seq(max(col(cols.head)).as(s"max_${cols.head}")) ++
          cols.tail.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))): _*)
      .collect() // one row per file — driver-small by construction
    val lines = stats.map { r =>
      val name = r.getString(0).split('/').last
      val vals = cols.flatMap { c =>
        val mi = r.getAs[Any](s"min_$c"); val ma = r.getAs[Any](s"max_$c")
        Seq(if (mi == null) "null" else mi.toString, if (ma == null) "null" else ma.toString)
      }
      (name +: vals).mkString("\t")
    }
    val header = ("file" +: cols.flatMap(c => Seq(s"min_$c", s"max_$c"))).mkString("\t")
    MetaFile.replace(spark, s"$path/$ZoneMapFile", (header +: lines.toSeq).mkString("\n"))
  }

  /** The files of a [[writeZoneMapped]] table whose `[min, max]` zone for
    * `statsCol` intersects `[lo, hi]` — the driver-side prune decision,
    * exposed for tests and ops. Files whose zone is all-null are skipped
    * for a range predicate (NULL never satisfies BETWEEN); a `statsCol`
    * the manifest doesn't carry is an error (silent no-prune would look
    * like a perf bug at scale).
    */
  def zonePrunedFiles(
      spark: SparkSession, path: String, statsCol: String, lo: Long, hi: Long): Seq[String] =
    zonePruned(path, MetaFile.read(spark, s"$path/$ZoneMapFile").getOrElse(
      throw new java.io.FileNotFoundException(s"no zone map at $path")), statsCol, lo, hi)

  private def zonePruned(
      path: String, zoneMap: String, statsCol: String, lo: Long, hi: Long): Seq[String] = {
    val rows = zoneMap.split("\n").toSeq.map(_.split("\t").toSeq)
    val header = rows.head
    val (miIdx, maIdx) = (header.indexOf(s"min_$statsCol"), header.indexOf(s"max_$statsCol"))
    require(miIdx >= 0 && maIdx >= 0,
      s"zone map at $path has no stats for '$statsCol' (columns: ${header.mkString(",")})")
    rows.tail.filter { r =>
      r(miIdx) != "null" && r(maIdx) != "null" &&
        r(maIdx).toLong >= lo && r(miIdx).toLong <= hi
    }.map(r => s"$path/${r.head}")
  }

  /** Manifest-pruned range scan: read ONLY the overlapping files, then
    * apply the residual `BETWEEN` (zones overlap the range; individual
    * rows may not). Logically identical to
    * `spark.read.parquet(path).filter(col between lo and hi)` — the
    * manifest only removes file opens (ZoneMapSpec proves both). A MISSING
    * manifest (a [[writeZoneMapped]] crashed before its final rename)
    * degrades to the unpruned full scan — slower, never wrong; a PRESENT
    * manifest without the requested column still fails fast (that is a
    * caller bug, not a crash artifact).
    */
  def readZonePruned(
      spark: SparkSession, path: String, statsCol: String, lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = MetaFile.read(spark, s"$path/$ZoneMapFile")
      .map(zonePruned(path, _, statsCol, lo, hi)) match {
      case None => spark.read.parquet(path) // degrade: unpruned
      case Some(Nil) => spark.read.parquet(path).limit(0) // schema-bearing empty
      case Some(files) => spark.read.parquet(files: _*)
    }
    // filter on the raw column when it is already integral, so the residual
    // predicate stays pushable into the parquet scan (a cast would block
    // footer/row-group pushdown and re-read every surviving file fully)
    val c = df.schema(statsCol).dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType =>
        col(statsCol)
      case _ => col(statsCol).cast("long")
    }
    df.filter(c.between(lo, hi))
  }

  /** 2-D Morton (Z-order) value: interleave the low `bits` bits of two
    * NON-NEGATIVE integer columns (`a` takes the odd bit positions). A pure
    * chain of shift/and/or column ops — whole-stage codegen'd, no UDF.
    * Callers with unbounded or skewed domains should pre-bucket each
    * dimension (e.g. `pmod`, quantile rank) into [0, 2^bits).
    */
  def zOrderValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val (ai, bi) = (a.cast("long"), b.cast("long"))
    (0 until bits).map { i =>
      shiftleft(shiftright(ai, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(bi, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
  }

  /** Z-ORDERED at-rest layout: range-slice and sort files by the Morton
    * interleave of TWO columns, so parquet footer min/max stats prune on
    * predicates over EITHER or BOTH dimensions — the multi-dimensional
    * generalization of [[writeRangeClustered]] (which is optimal for one
    * dimension and useless for the other). A rectangle predicate
    * `a IN [a0,a1] AND b IN [b0,b1]` touches only the files whose z-range
    * intersects the rectangle's z-intervals — O(perimeter), not O(table)
    * (LayoutSpec measures it against the 1-D layout of the same rows).
    * Content is byte-identical to the input — layout only.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      nFiles: Int,
      colA: String,
      colB: String,
      bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__z", zOrderValue(col(colA), col(colB), bits))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z") // projection after the sort: per-file order survives
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** HILBERT-ORDERED at-rest layout: [[writeZOrdered]] with the Morton
    * interleave swapped for the Hilbert-curve index
    * ([[org.apache.spark.sql.graftnative.NativeColumns.hilbert2D]]).
    * Hilbert ordering has no quadrant-boundary diagonal jumps —
    * consecutive indices are always grid neighbors — so a rectangle's
    * index-range cover is more contiguous and footer-stat pruning is at
    * least as tight as Morton's at the same file count (LayoutSpec
    * measures both on the same rows). Content byte-identical; layout
    * only.
    */
  def writeHilbertOrdered(
      df: DataFrame,
      path: String,
      nFiles: Int,
      colA: String,
      colB: String,
      bits: Int = 16): Unit = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftnative.NativeColumns
    df.withColumn("__h",
        NativeColumns.hilbert2D(col(colA).cast("long"), col(colB).cast("long"), bits))
      .repartitionByRange(nFiles, col("__h"))
      .sortWithinPartitions("__h")
      .drop("__h")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** The shard + intra-shard order assignment behind
    * [[writeShuffledShards]], exposed as a plain frame so the registry
    * can differentially verify it: `shard = md5_60bit(id || salt) mod
    * nShards`, `__ord = md5_60bit(id || salt || "o")` — two independent
    * keyed hashes, both recomputable by any engine from the row's id
    * alone. Determinism is the whole point: a trainer re-run, a rebuilt
    * cluster, or a different input partitioning produces the SAME global
    * shuffle, so data order (which affects training dynamics) is
    * reproducible and resumable.
    */
  def shardShuffleAssignment(
      df: DataFrame,
      idCol: String,
      nShards: Int,
      salt: String): DataFrame = {
    import org.apache.spark.sql.functions._
    require(nShards >= 1, "nShards must be >= 1")
    df.withColumn("shard",
        pmod(graft.functions.Text.md5Hash64(
          concat(col(idCol).cast("string"), lit(salt))), lit(nShards.toLong)).cast("int"))
      .withColumn("__ord", graft.functions.Text.md5Hash64(
        concat(col(idCol).cast("string"), lit(salt), lit("o"))))
  }

  /** DETERMINISTIC SHARD-SHUFFLE SINK: the reproducible global shuffle a
    * trainer reads. Every row goes to `shard = hash(id)` and lands in its
    * shard's file in `(hash2(id), id)` order — a permutation that is a
    * pure function of the ids, independent of input partitioning, task
    * scheduling, or cluster size (LayoutSpec proves two writes from
    * differently-partitioned inputs produce identical per-shard
    * sequences). One hash-repartition on the shard id + an in-partition
    * sort: at 100 TB this is exactly one shuffle of the corpus, the
    * minimum any global shuffle costs, with no driver-side pass and no
    * global sort (the order key is per-shard, so no range exchange / skew
    * risk; shard sizes are balanced by the uniform hash).
    *
    * Commit: [[swapInPlace]], the same two-rename swap as [[compact]] —
    * a crash leaves the previous table (or a recoverable `__old`), never
    * a half-written shuffle. Same single-writer / rename-capable-FS
    * contract as [[compact]].
    */
  def writeShuffledShards(
      df: DataFrame,
      path: String,
      idCol: String,
      nShards: Int,
      salt: String = "shuf"): Unit = {
    import org.apache.spark.sql.functions.col
    val prepared = shardShuffleAssignment(df, idCol, nShards, salt)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("__ord"), col(idCol))
      .drop("__ord") // projection after the sort: per-file order survives
    // empty input (a pipeline's first run): dynamic partitionBy writes ZERO
    // files and the table becomes unreadable (schema inference fails) —
    // write the empty frame unpartitioned instead, so readers see an empty
    // schema-bearing table; the next non-empty write swaps the whole tree
    val w = prepared.write.mode(SaveMode.Overwrite)
    swapInPlace(df.sparkSession, path)(staging =>
      (if (df.take(1).isEmpty) w else w.partitionBy("shard")).parquet(staging))
  }
}
