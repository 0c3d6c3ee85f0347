package graftbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream,
  FileInputStream, FileOutputStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.Comparator

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.operators.BucketedSnapshots
import graft.sources.MemDocStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, min, when}

/** Benchmark JVM entry point: `Main <mode> key=value ...`.
  *
  *  - `setup`: start and stop, for one more set-up sample;
  *  - `history`: build `daily_incremental`'s day 1-29 lakehouse and its
  *    doc-store contents into `history=`, in a JVM of its own;
  *  - `run`: one workload in a fresh JVM: the untimed preparation, the
  *    warm-up runs, then the timed runs, each from a restored starting state
  *    and each followed by its output checks.
  *
  * Every mode writes one JSON object to `result=`, including the wall-clock
  * time at which the SparkSession was ready, so each JVM start is one
  * set-up sample. `perturb=` (self-test only) damages one output after
  * each run, before its checks.
  */
object Main {
  val Days = 30

  /** The session `graft.Bench` builds (same extensions, catalog and v2
    * bucketing configs), at `cores` local threads, with all scratch space
    * under `work`.
    */
  def session(cores: Int, work: String): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.catalog.graft", "graft.sources.SnapCatalog")
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val opt = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val work = opt("work")
    val spark = session(opt("cores").toInt, work)
    val readyMs = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("ERROR")
    val result = try {
      mode match {
        case "setup" => Map.empty[String, Any]
        case "history" =>
          buildHistory(spark, s"$work/input", opt("history")); Map.empty[String, Any]
        case "run" => run(spark, opt("workload"), work, opt("history"), opt("seconds").toDouble,
          opt("warm_ups").toInt, opt("trace") == "1", opt("deadline_ms").toLong,
          opt.get("perturb"))
      }
    } finally spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new java.io.File(opt("result")), result + ("ready_ms" -> readyMs))
  }

  private def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val files = Files.walk(p)
      try files.sorted(Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally files.close()
    }
  }

  /** Copy a directory tree. The restore before a timed run uses java.nio
    * only, so it runs none of the engine's or Hadoop's code paths.
    */
  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    val files = Files.walk(src)
    try files.iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally files.close()
  }

  /** Save a doc store's contents (tombstones included) to a file. */
  private def saveStore(name: String, file: String): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(file)))
    try {
      val docs = MemDocStore.rawContents(name)
      out.writeInt(docs.size)
      docs.foreach { case (k, (seq, doc)) =>
        out.writeUTF(k); out.writeLong(seq); out.writeBoolean(doc.isDefined)
        doc.foreach(out.writeUTF)
      }
    } finally out.close()
  }

  /** Refill a doc store from [[saveStore]]'s file, through its writer. */
  private def loadStore(file: String, name: String): Unit = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(file)))
    val ups = ArrayBuffer.empty[(String, Long, String)]
    val dels = ArrayBuffer.empty[(String, Long)]
    try (0 until in.readInt()).foreach { _ =>
      val k = in.readUTF()
      val seq = in.readLong()
      if (in.readBoolean()) ups += ((k, seq, in.readUTF())) else dels += ((k, seq))
    } finally in.close()
    val w = new MemDocStore(name).open()
    try { w.upsertBatch(ups.toArray); w.deleteBatch(dels.toArray) } finally w.close()
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Milliseconds spent in garbage collection by this JVM so far. */
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Reset the resident-memory high-water mark (Linux >= 4.0). */
  private def resetPeakRss(): Unit =
    try Files.write(Paths.get("/proc/self/clear_refs"), "5".getBytes)
    catch { case NonFatal(_) => () }

  /** Resident-memory high-water mark of this process, in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  private def fullPages(work: String) = DailyRun.Pages(
    s"$work/pages/full/events", s"$work/pages/full/positions", s"$work/pages/full/markets")

  private def incrementalPages(work: String) = DailyRun.Pages(
    s"$work/pages/delta/events", s"$work/pages/chain", s"$work/pages/delta/markets")

  private def oracle(name: String): String = graft.registry.Registry.byName(name).oracle.get

  /** The untimed preparation of a daily workload: the API pages the run
    * reads. `daily_incremental` also needs the day 1-29 lakehouse, built
    * once into `history` by [[buildHistory]] (days 1-29 are the same for
    * every seed), whose keyset chain day 30 extends.
    */
  def prep(spark: SparkSession, workload: String, work: String, history: String): Unit = {
    val input = s"$work/input"
    workload match {
      case "daily_full" =>
        val all = col("day") <= Days
        DailyRun.servePages(spark, input, s"$work/pages/full", all)
        DailyRun.servePositions(spark, input, s"$work/pages/full/positions", all, append = false)
      case "daily_incremental" =>
        copyTree(s"$history/chain", s"$work/pages/chain")
        // day 30 as the server answers the next extraction cycle
        val last = col("day") === Days
        DailyRun.servePages(spark, input, s"$work/pages/delta", last)
        DailyRun.servePositions(spark, input, s"$work/pages/chain", last, append = true)
      case _ => ()
    }
  }

  /** Days 1-29 as served on day 29 (`chain`, the positions keyset chain),
    * built by one daily run into the pristine lakehouse (`lake`) and its
    * doc store (`lake.docs`). Built beside `history`, then renamed into
    * place, so a half-built history is never reused.
    */
  def buildHistory(spark: SparkSession, input: String, history: String): Unit = {
    val tmp = s"$history.tmp"
    deleteTree(tmp)
    val hist = col("day") < Days
    DailyRun.servePages(spark, input, s"$tmp/pages", hist)
    DailyRun.servePositions(spark, input, s"$tmp/chain", hist, append = false)
    MemDocStore.clear(DailyRun.Store)
    DailyRun.run(spark, NoTrace, input,
      DailyRun.Pages(s"$tmp/pages/events", s"$tmp/chain", s"$tmp/pages/markets"),
      DailyRun.Lake(s"$tmp/lake"), new MemDocStore(DailyRun.Store), Days - 1L, observe = false)
    saveStore(DailyRun.Store, s"$tmp/lake.docs")
    deleteTree(s"$tmp/pages")
    Files.move(Paths.get(tmp), Paths.get(history), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The registry's oracle SQL the Python-side reference checks run. */
  def oracles(workload: String): Map[String, String] = workload match {
    case "corpus_dedup" =>
      Seq("pipeline_corpus_clean", "dedup_suffix_spans").map(n => n -> oracle(n)).toMap
    case _ => Map("feature_assembly" -> oracle("feature_assembly"))
  }

  /** The workload's runs in this JVM: the untimed preparation, then
    * `warmUps` untimed warm-up runs, then timed runs until `seconds` of them
    * are measured: at least one, none started unless the deadline leaves
    * room for it. The first run is the JVM's cold one (class loading, code
    * generation, JIT). Every run starts from a restored starting state and
    * a collected heap, and every run's outputs, the warm-ups' included, are
    * checked outside the timed region; the peak RSS of each timed run is
    * read before its checks. With `trace`, the census is that of the first
    * timed run, plus the cold run's wall time.
    */
  def run(spark: SparkSession, workload: String, work: String, history: String, seconds: Double,
      warmUps: Int, trace: Boolean, deadlineMs: Long,
      perturb: Option[String]): Map[String, Any] = {
    val p0 = System.nanoTime()
    prep(spark, workload, work, history)
    val prepS = (System.nanoTime() - p0) / 1e9
    val input = s"$work/input"
    val lake = DailyRun.Lake(s"$work/lake")
    val out = s"$work/out"
    val runS, cpuS, rssMb = ArrayBuffer.empty[Double]
    val failures = ArrayBuffer.empty[String]
    var attempted, failed = 0
    var layers = Map.empty[String, Double]
    var spans = Seq.empty[Map[String, Any]]
    var outputs = Option.empty[Seq[String]]
    var measured, coldS, lastS, gcS = 0.0
    while (failed < 3 && (runS.isEmpty || measured < seconds) &&
      System.currentTimeMillis() + lastS * 1000 * 1.5 < deadlineMs) {
      // untimed restore of the starting state
      deleteTree(lake.root)
      deleteTree(out)
      MemDocStore.clear(DailyRun.Store)
      val store = new DailyRun.CountingStore(DailyRun.Store)
      if (workload == "daily_incremental") {
        copyTree(s"$history/lake", lake.root)
        loadStore(s"$history/lake.docs", DailyRun.Store)
      }
      val i = attempted
      val warmUp = i < warmUps
      val census = if (trace && !warmUp) Some(new Census(spark, s"$workload-$i")) else None
      val tracer = census.getOrElse(NoTrace)
      val retries0 = DailyRun.CountingStore.retries.get
      attempted += 1
      // start every run from a collected heap, so no run pays for the
      // garbage of the preparation or of the run before it
      System.gc()
      resetPeakRss()
      val gc0 = gcMs()
      val cpu0 = cpuNs()
      val t0 = System.nanoTime()
      val outcome = try {
        Right(workload match {
          case "corpus_dedup" => Corpus.run(spark, tracer, input, out); None
          case _ => Some(DailyRun.run(spark, tracer, input,
            if (workload == "daily_full") fullPages(work) else incrementalPages(work),
            lake, store, Days.toLong, observe = trace))
        })
      } catch { case NonFatal(e) => Left(e) }
      val s = (System.nanoTime() - t0) / 1e9
      val c = (cpuNs() - cpu0) / 1e9
      val rss = peakRssMb()
      gcS += (gcMs() - gc0) / 1e3
      lastS = s
      outcome match {
        case Left(e) =>
          failed += 1
          failures += s"run $i threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          census.foreach(_.close())
        case Right(res) =>
          if (i == 0) coldS = s
          if (warmUp) gcS = 0.0
          else {
            measured += s
            runS += s
            cpuS += c
            rssMb += rss
          }
          census.foreach { cs =>
            // the census of the first timed run is the one reported
            if (layers.isEmpty) {
              layers = cs.layerMetrics(s) ++ Map("run.cold_s" -> coldS) ++ res.map { o =>
                Map("analytics.kept_ratio" -> o.enrichedOut.toDouble / o.stagedIn,
                  "serve.rows_out" -> o.docsWritten.toDouble,
                  "serve.batch_retries" ->
                    (DailyRun.CountingStore.retries.get - retries0).toDouble)
              }.getOrElse(Map.empty)
              spans = cs.spanRecords
            }
            cs.close()
          }
          // self-test only: damage the outputs the checks must reject
          perturb.foreach {
            case "feature" => DailyRun.perturbFeature(spark, lake, Days.toLong)
            case "document" => DailyRun.perturbDocument(DailyRun.Store)
            case "golden" => () // applied to the exported features below
            case o => Corpus.perturb(spark, input, out, o)
          }
          // untimed output checks; every run must reproduce the first
          val (fp, errs) = workload match {
            case "corpus_dedup" =>
              (Corpus.fingerprints(spark, out), Corpus.check(spark, input, out))
            case _ =>
              (Seq(DailyRun.fingerprint(BucketedSnapshots.readTable(spark, lake.features))),
                DailyRun.check(spark, lake, DailyRun.Store))
          }
          val drift = if (outputs.exists(_ != fp)) Seq("outputs differ from the first run") else Nil
          if (outputs.isEmpty) outputs = Some(fp)
          if ((errs ++ drift).nonEmpty) {
            failed += 1
            failures ++= (errs ++ drift).map(e => s"run $i: $e")
          }
      }
    }
    // the last run's published features, for the DuckDB golden comparison
    if (workload != "corpus_dedup" && runS.nonEmpty) {
      val published = BucketedSnapshots.readTable(spark, lake.features)
      // self-test only: a feature that is wrong yet consistent everywhere
      // the JVM-side checks look, so only the golden table can reject it
      val exported = if (!perturb.contains("golden")) published else {
        val victim = published.agg(min("wallet_address")).head().getString(0)
        published.withColumn("borrow_count", when(col("wallet_address") === victim,
          col("borrow_count") + 1).otherwise(col("borrow_count")))
      }
      exported.write.parquet(s"$out/features")
    }
    Map(
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "prep_s" -> prepS, "cold_s" -> coldS, "gc_s" -> gcS,
      "run_s" -> runS.toSeq, "cpu_s" -> cpuS.toSeq, "peak_rss_mb" -> rssMb.toSeq,
      "layers" -> layers, "spans" -> spans, "oracles" -> oracles(workload))
  }
}
