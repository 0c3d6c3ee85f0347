package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin
import graft.sources.{Paged, Tables}

/** The reference's four remote-API extractors, run end-to-end through the
  * [[graft.sources.Paged]] DataSource V2 connector and verified against a
  * DuckDB oracle that recomputes the same pagination math from the raw
  * table — if the connector drops, duplicates, or mis-pages a single row,
  * the hash compare fails.
  *
  * Each query (1) materializes the server's pages from the fixture table
  * (the `serve*Pages` generator is the test double of the remote service),
  * (2) reads them back through `spark.read.format("graft-pages")`, and
  * (3) returns the connector's output — page/step/block provenance
  * included, so the oracle checks the pagination structure itself, not
  * just the row set.
  */
object ConnectorQueries {

  /** Hard ceiling on any driver-resident address/key list fed to the
    * bucketed source's IN-filter path. The reference's address-filtered
    * extraction takes the list as an EXTERNAL parameter (chunked 1000 per
    * request); anything larger belongs in a broadcast semi-join, never in
    * a collect.
    */
  val AddressListCap = 10000

  private def root(s: SparkSession, name: String, d: String): String =
    Registry.scratch(s, "pages_" + name, d)

  private val EVENT_DDL =
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"

  /** Reference page size is 10000 (config/settings.toml
    * EXTRACTION_PAGINATION_SIZE); the fixture uses 500 so the test SFs
    * exercise MANY pages — the math is size-independent and the oracle
    * uses the same constant.
    */
  private val PAGE_SIZE = 500

  /** SQL-over-HTTP extraction window + LIMIT/OFFSET pagination
    * (reference: src/pipelines/raw/defi_events.py:59-92): watermark →
    * bounded +10-day catch-up window (MAX_TIMEWINDOW_DAYS=10), ORDER BY
    * timestamp, fixed-size pages. One [[graft.sources.DirPartition]] per
    * page = the reference's thread pool as planner parallelism. `_page` in
    * the output makes the oracle verify the page ASSIGNMENT, not just the
    * window's row set.
    */
  private val httpPaginated = Q(
    "src_sql_http_paginated",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      // watermark = 40% into the observed range — pure integer arithmetic
      // the oracle mirrors exactly; two-phase scalar read, null-guarded
      // like Scoring's (empty source -> empty window -> zero pages)
      val mm = ev.agg(min("ts"), max("ts")).head
      val (w, hi) =
        if (mm.isNullAt(0)) (0L, -1L)
        else {
          val lo = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 2 / 5
          (lo, lo + 864000000000000L) // + 10 days of nanoseconds
        }
      val rt = root(s, "http", d)
      Paged.serveOffsetPages(
        ev.filter(col("ts") > w && col("ts") <= hi), Seq("ts", "event_id"), PAGE_SIZE, rt)
      s.read.format(Paged.FORMAT)
        .option("path", rt).option("mode", "offset").option("schema", EVENT_DDL)
        .load()
    },
    Some(s"""WITH e AS (SELECT event_id, epoch_ns(ts) AS tns, user_id, event_type, value
          FROM events),
        b AS (SELECT MIN(tns) + (MAX(tns) - MIN(tns)) * 2 // 5 AS w FROM e),
        f AS (SELECT e.* FROM e, b
          WHERE e.tns > b.w AND e.tns <= b.w + 864000000000000)
      SELECT event_id, tns AS ts, user_id, event_type, value,
        (ROW_NUMBER() OVER (ORDER BY tns, event_id) - 1) // $PAGE_SIZE AS _page
      FROM f"""))

  /** Per-block point-in-time snapshots (reference:
    * src/pipelines/raw/historical_market_data.py:19-80 + its graphql
    * query): for each day's first block, the state of every market at that
    * block. The snapshot itself is computed with the native as-of merge
    * exec ([[AsOfJoin.asOfMerge]] — `block >= event_id`, latest wins);
    * blocks are fetched one partition each, exactly the reference's
    * per-block thread pool. The oracle recomputes the snapshot with
    * DuckDB's own ASOF JOIN.
    */
  private val blockSnapshot = Q(
    "src_graphql_block_snapshot",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"),
          expr("ts div 86400000000000").as("day"))
      val blocks = e.groupBy("day").agg(min("event_id").as("block")).select("block")
      val pairs = blocks.crossJoin(e.select("event_type").distinct())
      val snap = AsOfJoin.asOfMerge(
          pairs, e.select("event_type", "event_id", "value"),
          keyCols = Seq("event_type"), leftTs = "block", rightTs = "event_id",
          tolerance = Long.MaxValue / 4, rightValueCols = Seq("event_id", "value"))
        .filter(col("asof_event_id").isNotNull) // a type with no events yet at this block: the server returns nothing
        .select(col("block"), col("event_type"),
          col("asof_event_id").as("last_event"), col("asof_value").as("last_value"))
      val rt = root(s, "snap", d)
      Paged.serveSnapshotPages(snap, "block", rt)
      s.read.format(Paged.FORMAT)
        .option("path", rt).option("mode", "snapshot")
        .option("schema", "event_type STRING, last_event BIGINT, last_value DOUBLE")
        .load()
    },
    Some("""WITH e AS (SELECT event_id, event_type, value,
          epoch_ns(ts) // 86400000000000 AS day FROM events),
        blocks AS (SELECT MIN(event_id) AS block FROM e GROUP BY day),
        ty AS (SELECT DISTINCT event_type FROM e),
        pairs AS (SELECT block, event_type FROM blocks CROSS JOIN ty)
      SELECT p.event_type, e.event_id AS last_event, e.value AS last_value,
        p.block AS "_block"
      FROM pairs p ASOF JOIN e
        ON e.event_type = p.event_type AND e.event_id <= p.block"""))

  /** Keyset (`id_gt`) pagination with aliased skip-batches (reference:
    * src/pipelines/raw/historical_account_positions.py:54-168): each
    * request returns `nAliases` sub-pages (skip 0..5k), the next request's
    * cursor is the response's max id. The chain is walked by ONE
    * [[graft.sources.KeysetReader]] — sequential by protocol (each cursor
    * comes from the previous response), with the intra-request parallelism
    * preserved as `alias_idx`. `_step` is derived by the reader from the
    * chain walk itself, so the oracle verifies the cursor arithmetic.
    */
  private val keysetPaginated = Q(
    "src_graphql_keyset_paginated",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val rt = root(s, "keyset", d)
      Paged.serveKeysetPages(ev, "event_id", batchSize = 6000, nAliases = 6, root = rt)
      s.read.format(Paged.FORMAT)
        .option("path", rt).option("mode", "keyset").option("cursorField", "event_id")
        .option("schema",
          "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, alias_idx BIGINT")
        .load()
    },
    Some("""WITH r AS (SELECT event_id, user_id, event_type, value,
          ROW_NUMBER() OVER (ORDER BY event_id) AS rn FROM events)
      SELECT event_id, user_id, event_type, value,
        ((rn - 1) % 6000) // 1000 AS alias_idx,
        (rn - 1) // 6000 AS "_step"
      FROM r"""))

  /** RESUMED keyset extraction: the reference restarts its `id_gt` loop
    * from the last PERSISTED id; here the resume point is the chain
    * cursor at the midpoint batch boundary (the id of ordered row
    * `k*6000`, exactly what a run killed after k batches would have
    * persisted), passed as the connector's `startCursor`. `_step`
    * recounts from 0 within the resumed run; `alias_idx` is page payload
    * and keeps its original values — the oracle verifies both, plus that
    * not one pre-cursor row leaks in.
    */
  private val keysetResume = Q(
    "src_graphql_keyset_resume",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val rt = root(s, "keyres", d)
      val steps = Paged.serveKeysetPages(ev, "event_id", batchSize = 6000, nAliases = 6, root = rt)
      val k = steps / 2
      val cursor =
        if (k == 0) "start"
        else ev.orderBy("event_id").limit((k * 6000).toInt)
          .agg(max("event_id")).head.getLong(0).toString
      s.read.format(Paged.FORMAT)
        .option("path", rt).option("mode", "keyset").option("cursorField", "event_id")
        .option("startCursor", cursor)
        .option("schema",
          "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, alias_idx BIGINT")
        .load()
    },
    Some("""WITH r AS (SELECT event_id, user_id, event_type, value,
          ROW_NUMBER() OVER (ORDER BY event_id) AS rn,
          COUNT(*) OVER () AS n FROM events),
      p AS (SELECT *, (((n + 5999) // 6000) // 2) * 6000 AS skip FROM r)
      SELECT event_id, user_id, event_type, value,
        ((rn - 1) % 6000) // 1000 AS alias_idx,
        (rn - skip - 1) // 6000 AS "_step"
      FROM p WHERE rn > skip"""))

  /** Address-list filtered fetch (reference:
    * src/pipelines/analytics/current_collateral_positions.py:34-136 —
    * `account_in: $address_list` in chunks of 1000): the server shards
    * current positions by `user_id % 16`; the query filters with a plain
    * `.isin(...)`, which reaches the connector as a pushed `In` filter
    * ([[org.apache.spark.sql.connector.read.SupportsPushDownFilters]]) and
    * prunes the scan to the buckets covering the requested addresses, ≤1000
    * addresses per partition.
    *
    * ADDRESS-LIST CONTRACT: the list is an EXTERNALLY-SUPPLIED SMALL
    * parameter — the reference's API takes an explicit `address_list`
    * argument (a watchlist/portfolio, thousands of keys at most) and chunks
    * it 1000 per request; it is driver-resident by nature, NOT derived from
    * the corpus. The fixture's collect below stands in for that external
    * parameter on synthetic data; the connector itself enforces the bound
    * (`maxAddresses`, [[graft.sources.PagedScanBuilder]]) so a misuse with
    * a corpus-sized key set fails fast at planning time instead of
    * collecting it.
    */
  private val addressFiltered = Q(
    "src_graphql_address_filtered",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      import org.apache.spark.sql.expressions.Window
      val cur = ev
        .withColumn("rk", row_number().over(
          Window.partitionBy("user_id", "event_type").orderBy(col("event_id").desc)))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("last_event"), col("value").as("last_value"))
      val rt = root(s, "addr", d)
      Paged.serveBucketedPages(cur, "user_id", nBuckets = 16, root = rt)
      // fixture's stand-in for the externally-given list — CAPPED: the
      // limit(cap+1) bounds the collect itself (an unbounded key set can
      // never reach the driver) and the require makes misuse fail fast
      // with the contract spelled out, instead of silently materializing
      // a corpus-sized list (round-9 directive 8).
      val addrRows = ev.select("user_id").where(pmod(col("user_id"), lit(23L)) === 5L)
        .distinct().limit(ConnectorQueries.AddressListCap + 1).collect()
      require(addrRows.length <= ConnectorQueries.AddressListCap,
        s"address-filtered source: externally-given address list exceeds the " +
          s"${ConnectorQueries.AddressListCap}-key driver-resident cap; filter " +
          "via a broadcast semi-join (join_semi_address_list) instead")
      val addrs = addrRows.map(_.getLong(0)).sorted
      val df = s.read.format(Paged.FORMAT)
        .option("path", rt).option("mode", "bucketed").option("cursorField", "user_id")
        .option("schema",
          "user_id BIGINT, event_type STRING, last_event BIGINT, last_value DOUBLE")
        .load()
      if (addrs.isEmpty) df.where(lit(false))
      else df.where(col("user_id").isin(addrs.map(Long.box): _*))
    },
    Some("""WITH cur AS (SELECT user_id, event_type, event_id, value,
          ROW_NUMBER() OVER (PARTITION BY user_id, event_type
            ORDER BY event_id DESC) AS rk
        FROM events)
      SELECT user_id, event_type, event_id AS last_event, value AS last_value
      FROM cur WHERE rk = 1 AND user_id % 23 = 5"""))

  /** The always-on extraction loop: the offset source as a Structured
    * Streaming micro-batch stream (page counter = offset). The server
    * publishes the watermark window in TWO cycles; an AvailableNow drain
    * runs after each, sharing one checkpoint — the second run must ingest
    * EXACTLY the pages published in between (exactly-once across restart,
    * the page-immutability argument in
    * [[graft.sources.PagedScan.toMicroBatchStream]]'s scaladoc). The
    * oracle recomputes both cycles' page numbering; a dropped or
    * re-ingested page breaks the hash.
    */
  private val streamingPagedIngest = Q(
    "streaming_paged_ingest",
    (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val mm = ev.agg(min("ts"), max("ts")).head
      val (w, hi) =
        if (mm.isNullAt(0)) (0L, -1L)
        else {
          val lo = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) * 2 / 5
          (lo, lo + 864000000000000L)
        }
      val win = ev.filter(col("ts") > w && col("ts") <= hi)
      val wm = win.agg(min("ts"), max("ts")).head
      val mid = if (wm.isNullAt(0)) 0L else (wm.getLong(0) + wm.getLong(1)) / 2
      val rt = root(s, "stream", d)
      val base = Registry.scratch(s, "stream_ingest", d)
      val (out, cp) = (base + "/out", base + "/cp")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      def drain(): Unit = {
        val q = s.readStream.format(Paged.FORMAT)
          .option("path", rt).option("mode", "offset").option("schema", EVENT_DDL)
          .load()
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      Paged.serveOffsetPages(win.filter(col("ts") <= mid), Seq("ts", "event_id"), PAGE_SIZE, rt)
      drain()
      Paged.appendOffsetPages(win.filter(col("ts") > mid), Seq("ts", "event_id"), PAGE_SIZE, rt)
      drain()
      val outSchema = org.apache.spark.sql.types.StructType.fromDDL(EVENT_DDL + ", _page BIGINT")
      if (fs.exists(new org.apache.hadoop.fs.Path(out)))
        s.read.schema(outSchema).parquet(out)
      else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    },
    Some(s"""WITH e AS (SELECT event_id, epoch_ns(ts) AS tns, user_id, event_type, value
          FROM events),
        b AS (SELECT MIN(tns) + (MAX(tns) - MIN(tns)) * 2 // 5 AS w FROM e),
        f AS (SELECT e.* FROM e, b
          WHERE e.tns > b.w AND e.tns <= b.w + 864000000000000),
        m AS (SELECT (MIN(tns) + MAX(tns)) // 2 AS mid FROM f),
        c1 AS (SELECT f.*, ROW_NUMBER() OVER (ORDER BY tns, event_id) AS rn
          FROM f, m WHERE f.tns <= m.mid),
        n1 AS (SELECT (COUNT(*) + $PAGE_SIZE - 1) // $PAGE_SIZE AS p1 FROM c1),
        c2 AS (SELECT f.*, ROW_NUMBER() OVER (ORDER BY tns, event_id) AS rn
          FROM f, m WHERE f.tns > m.mid)
      SELECT event_id, tns AS ts, user_id, event_type, value,
        (rn - 1) // $PAGE_SIZE AS _page FROM c1
      UNION ALL
      SELECT event_id, tns AS ts, user_id, event_type, value,
        n1.p1 + (rn - 1) // $PAGE_SIZE AS _page FROM c2, n1"""))

  /** The always-on POSITIONS drain (reference:
    * src/pipelines/raw/historical_account_positions.py:175-184 — a loop
    * that persists its last `id_gt` id and resumes from it): the keyset
    * chain as a Structured Streaming micro-batch source, offset =
    * (steps, cursor). The server publishes the chain in TWO cycles split
    * at the median id; an AvailableNow drain runs after each on one
    * checkpoint — the second must resume MID-CHAIN from the checkpointed
    * cursor and ingest exactly the appended batches. `_step` numbering is
    * global across the two drains (`stepBase`), so the oracle's two-cycle
    * recompute verifies the resume arithmetic, not just the row set.
    */
  private val streamingKeysetIngest = Q(
    "streaming_keyset_ingest",
    (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val mm = ev.agg(min("event_id"), max("event_id")).head
      val mid = if (mm.isNullAt(0)) 0L else (mm.getLong(0) + mm.getLong(1)) / 2
      val rt = root(s, "kstream", d)
      val base = Registry.scratch(s, "keyset_ingest", d)
      val (out, cp) = (base + "/out", base + "/cp")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ddl = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, alias_idx BIGINT"
      def drain(): Unit = {
        val q = s.readStream.format(Paged.FORMAT)
          .option("path", rt).option("mode", "keyset").option("cursorField", "event_id")
          .option("schema", ddl)
          .load()
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      Paged.serveKeysetPages(ev.filter(col("event_id") <= mid), "event_id",
        batchSize = 6000, nAliases = 6, root = rt)
      drain()
      Paged.appendKeysetPages(ev.filter(col("event_id") > mid), "event_id",
        batchSize = 6000, nAliases = 6, root = rt)
      drain()
      val outSchema = org.apache.spark.sql.types.StructType.fromDDL(ddl + ", _step BIGINT")
      if (fs.exists(new org.apache.hadoop.fs.Path(out)))
        s.read.schema(outSchema).parquet(out)
      else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    },
    Some("""WITH e AS (SELECT event_id, user_id, event_type, value FROM events),
        m AS (SELECT (MIN(event_id) + MAX(event_id)) // 2 AS mid FROM e),
        c1 AS (SELECT e.*, ROW_NUMBER() OVER (ORDER BY event_id) AS rn
          FROM e, m WHERE e.event_id <= m.mid),
        n1 AS (SELECT (COUNT(*) + 5999) // 6000 AS s1 FROM c1),
        c2 AS (SELECT e.*, ROW_NUMBER() OVER (ORDER BY event_id) AS rn
          FROM e, m WHERE e.event_id > m.mid)
      SELECT event_id, user_id, event_type, value,
        ((rn - 1) % 6000) // 1000 AS alias_idx, (rn - 1) // 6000 AS "_step" FROM c1
      UNION ALL
      SELECT event_id, user_id, event_type, value,
        ((rn - 1) % 6000) // 1000 AS alias_idx, n1.s1 + (rn - 1) // 6000 AS "_step"
      FROM c2, n1"""))

  val all: Seq[Q] = Seq(httpPaginated, blockSnapshot, keysetPaginated, keysetResume,
    addressFiltered, streamingPagedIngest, streamingKeysetIngest)
}
