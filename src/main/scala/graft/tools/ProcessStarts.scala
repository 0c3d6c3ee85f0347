package graft.tools

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

/** The child processes this JVM starts while a block runs, recorded by an
  * in-process JFR recording of `jdk.ProcessStart` events (with stack
  * traces, so a test can say who forked). A local file system without
  * Hadoop's native library forks `chmod`/`readlink` per file; this is how
  * `JobStats` and `LocalFileSystemSpec` see such a regression.
  */
object ProcessStarts {

  def during[T](body: => T): (T, Seq[RecordedEvent]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      val out = body
      rec.stop()
      val f = Files.createTempFile("graft-procs", ".jfr")
      try {
        rec.dump(f)
        (out, RecordingFile.readAllEvents(f).asScala.toSeq.filter(_.getEventType.getName == "jdk.ProcessStart"))
      } finally Files.deleteIfExists(f)
    } finally rec.close()
  }

  /** The class names of a recorded event's stack frames, innermost first. */
  def frameClasses(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.map(_.getMethod.getType.getName))

  /** Whether a process start belongs to the measured work: Spark's
    * `ArtifactManager` removes a garbage-collected session's artifact dir
    * with a forked `rm -rf` on its cleaner thread, whenever the JVM's GC
    * gets to it, so such a start says nothing about the code measured.
    */
  def attributable(frames: Seq[String]): Boolean =
    !frames.exists(_.startsWith("org.apache.spark.sql.artifact.ArtifactManager"))
}
