package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.Session
import graft.registry.Registry
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** DETERMINISTIC execution census per bench query: Spark jobs, stages,
  * tasks, shuffle bytes and spill, counted by a listener while the query
  * runs once (after one untimed warmup run that populates whatever the
  * query would see warm), and `compiles`, the classes Spark's codegen
  * compiled during that run (a warm run that still compiles has outgrown
  * the generated-code cache), and `procs`, the child processes the JVM
  * started during it ([[ProcessStarts]]; a local file system that forks
  * `chmod` or `readlink` per file shows here; Spark's session-artifact
  * cleanup, which runs when the GC gets to it, is not counted).
  * Wall-clock on a shared host swings 2-3x minute to minute, so the
  * optimization loop compares THESE numbers — scheduling
  * sync-points and bytes moved — which do not drift. Run with
  * SPARK_GRAFT_BENCH_ONLY (a comma list of registry rows, bench or not)
  * to scope.
  */
object JobStats {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufR = new AtomicLong
    val shufW = new AtomicLong
    val spill = new AtomicLong
    // detail mode: one line per job (callsite + description) so a
    // commit-heavy query's job count is attributable to its phases
    val detail = sys.env.contains("SPARK_GRAFT_JOBSTATS_DETAIL")
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (detail) {
          // the result stage's name carries the action's callsite
          // ("collect at Foo.scala:123"); planned tasks overcount (skipped
          // stages are listed), so both are printed as attribution hints
          val site = j.stageInfos.lastOption.map(_.name).getOrElse("")
          val nTasks = j.stageInfos.map(_.numTasks).sum
          System.err.println(f"  [job] ${j.jobId}%4d stages=${j.stageInfos.size}%2d tasks=$nTasks%4d $site")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.diskBytesSpilled)
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = ()
    }
    val qs = SparkEntryLike.queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // an explicit list names any registry row; no list means the bench rows
    val names = Registry.all.filter(q => only.fold(q.bench)(_.contains(q.name))).map(_.name)
    println(f"${"query"}%-42s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"shufR MB"}%9s ${"shufW MB"}%9s ${"spill MB"}%9s ${"compiles"}%8s ${"procs"}%6s ${"warm s"}%7s")
    names.foreach { name =>
      val run = qs(name)
      run(spark, sfDir).count() // warmup (cold path, codegen, caches dropped below)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      // drain BEFORE attaching: late-dispatched warmup stage/job events
      // must not land in the measured window's counters
      org.apache.spark.sql.graftnative.PlanProbe.drainListenerBus(spark)
      jobs.set(0); stages.set(0); tasks.set(0); shufR.set(0); shufW.set(0); spill.set(0)
      spark.sparkContext.addSparkListener(listener)
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (dt, procs) = ProcessStarts.during {
        val t0 = System.nanoTime()
        run(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val nProcs = procs.count(e => ProcessStarts.attributable(ProcessStarts.frameClasses(e)))
      // drain the async bus so late events land in THIS query's counters
      // (PlanProbe drains the same way; the bus API is private[spark])
      org.apache.spark.sql.graftnative.PlanProbe.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
      println(f"$name%-42s ${jobs.get}%5d ${stages.get}%7d ${tasks.get}%6d ${shufR.get / 1e6}%9.1f ${shufW.get / 1e6}%9.1f ${spill.get / 1e6}%9.1f $compiles%8d $nProcs%6d $dt%7.2f")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    spark.stop()
  }

  /** Same query map Bench uses (kept tiny to avoid a SparkEntry import
    * cycle in tools).
    */
  private object SparkEntryLike {
    def queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Registry.all.map(q => q.name -> q.run).toMap
  }
}
