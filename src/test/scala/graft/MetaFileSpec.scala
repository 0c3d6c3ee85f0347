package graft

import graft.sources.{Layout, NioRawLocalFileSystem, NioRawLocalFs}
import graft.streaming.Streams
import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The local disk under a `crashtap:` scheme whose rename onto an armed
  * file name throws — a writer dying after it wrote a metadata file's
  * temp copy and before that copy replaced the live file.
  */
class CrashTapFileSystem extends NioRawLocalFileSystem {
  override def getUri: URI = CrashTap.Uri
  override def getScheme: String = CrashTap.Scheme

  override def rename(src: Path, dst: Path): Boolean = {
    if (CrashTap.armed.contains(dst.getName))
      throw new java.io.IOException(s"crash before the rename onto $dst")
    super.rename(src, dst)
  }
}

/** The `FileContext` side: graft's local `FileContext` file system over
  * [[CrashTapFileSystem]].
  */
class CrashTapFs(uri: URI, conf: Configuration)
    extends NioRawLocalFs(uri, conf, new CrashTapFileSystem, CrashTap.Scheme)

object CrashTap {
  val Scheme = "crashtap"
  val Uri: URI = URI.create(s"$Scheme:///")
  @volatile var armed: Set[String] = Set.empty
}

/** A metadata file is replaced, never deleted and re-created: a writer
  * that dies between writing the new text and moving it into place
  * leaves the previous file in force.
  */
class MetaFileSpec extends SparkSpec {
  import spark.implicits._

  private lazy val conf = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set(s"fs.${CrashTap.Scheme}.impl", classOf[CrashTapFileSystem].getName)
    c.set(s"fs.AbstractFileSystem.${CrashTap.Scheme}.impl", classOf[CrashTapFs].getName)
    c
  }

  private def fresh(name: String): String = {
    conf
    val local = new java.io.File(s"target/tmp/metafile_$name").getAbsolutePath
    val path = s"${CrashTap.Scheme}://$local"
    val p = new Path(path)
    p.getFileSystem(conf).delete(p, true)
    path
  }

  /** Run `body` with renames onto `name` crashing. */
  private def crashingOnto[A](name: String)(body: => A): Unit = {
    CrashTap.armed = Set(name)
    try intercept[java.io.IOException](body)
    finally CrashTap.armed = Set.empty
    ()
  }

  test("buildZoneMap: a crash before the rename keeps the previous zone map pruning") {
    val path = fresh("zonemap")
    Layout.writeZoneMapped((0L until 400L).toDF("k"), path, nFiles = 4, rangeCol = "k")
    val pruned = Layout.zonePrunedFiles(spark, path, "k", 0L, 50L)
    assert(pruned.size == 1, s"the range lies in one of 4 files: $pruned")
    (1000L until 1100L).toDF("k").write.mode("append").parquet(path)
    crashingOnto(Layout.ZoneMapFile)(Layout.buildZoneMap(spark, path, Seq("k")))
    assert(Layout.zonePrunedFiles(spark, path, "k", 0L, 50L) == pruned)
    assert(Layout.zonePrunedFiles(spark, path, "k", 1000L, 1100L).isEmpty,
      "the previous zone map (without the appended file) is the one in force")
  }

  test("compactLshState: a crash before the manifest rename keeps the previous folded-through id") {
    val state = fresh("lshstate")
    def batches(names: String*): Unit =
      for (sub <- Seq("buckets", "docs"); n <- names)
        Seq(1L).toDF("x").write.parquet(s"$state/$sub/$n")
    batches("seed", "b0", "b1")
    assert(Streams.compactLshState(spark, state, maxSubdirs = 1))
    assert(Streams.readCompactionManifest(spark, state).contains(1L))
    batches("b2", "b3")
    crashingOnto("_compaction.json")(Streams.compactLshState(spark, state, maxSubdirs = 1))
    assert(Streams.readCompactionManifest(spark, state).contains(1L),
      "a lost manifest would let a replay into the folded region double-count")
  }
}
