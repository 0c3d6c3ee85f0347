package graftbench

import scala.collection.mutable

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Layer spans, measured from outside the engine.
  *
  * `span(layer) { ... }` times the harness's call into one layer. With
  * tracing on, every span also sets a job-group label (`bench:<span id>`),
  * and one [[SparkListener]] charges each job, and each task of the job, to
  * the innermost span that was open when the job started. Layer numbers are
  * exclusive: a span's nested child spans are charged to their own layers.
  */
trait Tracer {
  def span[T](layer: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](layer: String)(body: => T): T = body
}

final class Census(spark: SparkSession, runId: String) extends SparkListener with Tracer {
  import Census._

  private val sc = spark.sparkContext

  private final class Acc {
    var jobs = 0L; var tasks = 0L; var runMs = 0L; var shuffleBytes = 0L
    var spillBytes = 0L; var rows = 0L; var retries = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  // listener-side state, written on the bus thread
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobTimes = mutable.Map.empty[Int, (Long, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val acc = mutable.Map.empty[Int, Acc]

  sc.addSparkListener(this)

  def span[T](layer: String)(body: => T): T = {
    val parent = stack.headOption
    val sp = Span(spans.size + 1, layer, parent.map(_.id).getOrElse(0),
      System.currentTimeMillis(), System.nanoTime())
    spans += sp
    stack = sp :: stack
    sc.setJobGroup(Group + sp.id, layer)
    try body
    finally {
      sp.endNs = System.nanoTime()
      sp.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Group + p.id, p.layer)
        case None => sc.clearJobGroup()
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val sid = g.filter(_.startsWith(Group)).map(_.stripPrefix(Group).toInt).getOrElse(0)
    jobSpan(e.jobId) = sid
    jobTimes(e.jobId) = (e.time, Long.MaxValue)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    acc.getOrElseUpdate(sid, new Acc).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val sid = stageJob.get(e.stageId).flatMap(jobSpan.get).getOrElse(0)
    val a = acc.getOrElseUpdate(sid, new Acc)
    a.tasks += 1
    if (e.taskInfo.attemptNumber > 0) a.retries += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.rows += m.outputMetrics.recordsWritten
    }
  }

  /** Per-layer census of every span opened so far, keyed
    * `<layer>.<metric>`, plus `run.uncovered_s`: `runS` minus the time the
    * top-level spans cover.
    */
  def layerMetrics(runS: Double): Map[String, Double] = {
    BenchBridge.drainListeners(sc)
    synchronized {
      val out = mutable.LinkedHashMap.empty[String, Double]
      def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
      val children = spans.groupBy(_.parent)
      for (sp <- spans) {
        val wallS = (sp.endNs - sp.startNs) / 1e9
        val childS = children.getOrElse(sp.id, Nil).map(c => (c.endNs - c.startNs) / 1e9).sum
        val own = jobSpan.collect { case (j, s) if s == sp.id => jobTimes(j) }.toSeq
        val busyS = unionMs(own.map { case (s, e) =>
          (math.max(s, sp.startMs), math.min(if (e == Long.MaxValue) sp.endMs else e, sp.endMs))
        }) / 1e3
        val a = acc.getOrElse(sp.id, new Acc)
        val l = sp.layer
        add(s"$l.s", wallS - childS)
        add(s"$l.jobs", a.jobs.toDouble)
        add(s"$l.tasks", a.tasks.toDouble)
        add(s"$l.task_s", a.runMs / 1e3)
        add(s"$l.driver_s", math.max(0.0, wallS - childS - busyS))
        add(s"$l.shuffle_mb", a.shuffleBytes / MiB)
        add(s"$l.spill_mb", a.spillBytes / MiB)
        add(s"$l.rows_out", a.rows.toDouble)
        add(s"$l.task_retries", a.retries.toDouble)
      }
      val covered = spans.filter(_.parent == 0).map(s => (s.endNs - s.startNs) / 1e9).sum
      out("run.s") = runS
      out("run.uncovered_s") = runS - covered
      out.toMap
    }
  }

  /** Every span as one record: name, start, end, parent, run id. */
  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "name" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
    "parent" -> s.parent, "run" -> runId))

  def close(): Unit = sc.removeSparkListener(this)
}

object Census {
  private final case class Span(id: Int, layer: String, parent: Int, startMs: Long,
      startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L)

  private val Group = "bench:"
  private val MiB = 1024.0 * 1024.0

  /** Total length of the union of `[start, end)` intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
