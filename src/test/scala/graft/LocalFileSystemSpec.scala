package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.BucketedSnapshots
import graft.plans.GraftExtensions
import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.tools.ProcessStarts
import jdk.jfr.consumer.RecordedEvent
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file:` file system does in-process what Hadoop's
  * `RawLocalFileSystem` does with a `chmod` or `readlink` child process
  * when Hadoop's native library is missing, and nothing else changes:
  * permissions, checksums and rename semantics are the stock ones.
  */
class LocalFileSystemSpec extends SparkSpec {
  import spark.implicits._

  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  private def fresh(name: String): java.nio.file.Path = {
    val dir = Paths.get(s"target/tmp/localfs_$name").toAbsolutePath
    val p = new Path(dir.toUri)
    p.getFileSystem(conf).delete(p, true)
    Files.createDirectories(dir)
  }

  private def hpath(p: java.nio.file.Path): Path = new Path(p.toUri)

  /** permission bits as `stat` reports them, the sticky bit included */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def who(events: Seq[RecordedEvent]): String = events.map { e =>
    val frames = Option(e.getStackTrace).map(_.getFrames.asScala.take(14).map { f =>
      s"${f.getMethod.getType.getName}.${f.getMethod.getName}:${f.getLineNumber}"
    }.mkString("\n    ")).getOrElse("")
    s"${e.getString("command")}\n    $frames"
  }.mkString("\n")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("file: paths resolve to graft's file system in the session") {
    Seq(conf, spark.sessionState.newHadoopConf()).foreach { c =>
      val fs = new Path("file:/tmp").getFileSystem(c)
      assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
      assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
      assert(FileSystem.getLocal(c).isInstanceOf[NioLocalFileSystem])
      val fc = FileContext.getFileContext(URI.create("file:///tmp"), c)
      assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs], fc.getDefaultFileSystem.getClass.getName)
    }
  }

  test("a Parquet write, a keyed merge and a branch publish start no process") {
    val dir = fresh("noproc")
    val table = dir.resolve("t").toString
    def batch(from: Long, to: Long, v: Double) = (from to to).map(i => (i, i * v)).toDF("k", "v")
    BucketedSnapshots.upsertByKey(spark, batch(1, 200, 1.0), table, "k", 4)
    // Spark's executor-metrics probe forks `getconf PAGESIZE` once per JVM,
    // at the first heartbeat: run that one-time fork before the window
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val (_, events) = ProcessStarts.during {
      batch(1, 100, 1.0).write.parquet(dir.resolve("plain").toString)
      BucketedSnapshots.upsertByKey(spark, batch(150, 250, 2.0), table, "k", 4)
      BucketedSnapshots.branch(spark, table, "daily")
      BucketedSnapshots.commitToBranch(spark, table, "daily", batch(240, 260, 3.0), "k", 4)
      BucketedSnapshots.publishBranch(spark, table, "daily")
    }
    assert(events.isEmpty, s"${events.size} process starts:\n${who(events)}")
    val got = BucketedSnapshots.readCurrent(spark, table).select("k", "v").as[(Long, Double)].collect().toMap
    assert(got.size == 260 && got(1L) == 1.0 && got(200L) == 400.0 && got(250L) == 750.0 && got(260L) == 780.0)
    assert(spark.read.parquet(dir.resolve("plain").toString).count() == 100)
  }

  test("JobStats' process count leaves out only Spark's session-artifact cleanup") {
    val artifactCleanup = Seq("java.lang.ProcessBuilder", "org.apache.spark.network.util.JavaUtils",
      "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner", "java.lang.Thread")
    val chmod = Seq("java.lang.ProcessBuilder", "org.apache.hadoop.util.Shell",
      "org.apache.hadoop.fs.RawLocalFileSystem", "org.apache.parquet.hadoop.ParquetFileWriter")
    assert(!ProcessStarts.attributable(artifactCleanup))
    assert(ProcessStarts.attributable(chmod))
    assert(ProcessStarts.attributable(Nil), "a start without a recorded stack counts")
  }

  test("files and dirs get the stock RawLocalFileSystem's permissions and checksums") {
    val dir = fresh("perms")
    val modes = Seq("777", "755", "750", "700", "644", "640", "604", "600", "444", "400", "000")
    def build(fs: FileSystem, root: java.nio.file.Path): Unit = {
      val r = hpath(root)
      fs.mkdirs(new Path(r, "plain"))
      fs.mkdirs(new Path(r, "d750"), new FsPermission("750"))
      fs.create(new Path(r, "default")).close()
      fs.create(new Path(r, "c640"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
      modes.foreach { m =>
        val f = new Path(r, s"f$m")
        val out = fs.create(f)
        out.write(s"mode $m".getBytes(UTF_8))
        out.close()
        fs.setPermission(f, new FsPermission(m))
      }
      fs.mkdirs(new Path(r, "sticky"))
      fs.setPermission(new Path(r, "sticky"), new FsPermission("1777"))
    }
    val stock = new LocalFileSystem(raw(new RawLocalFileSystem))
    val graft = new NioLocalFileSystem
    graft.initialize(URI.create("file:///"), conf)
    build(stock, Files.createDirectory(dir.resolve("stock")))
    build(graft, Files.createDirectory(dir.resolve("graft")))
    def listing(root: java.nio.file.Path): Map[String, Int] =
      Files.list(root).iterator.asScala.map(p => p.getFileName.toString -> mode(p)).toMap
    val want = listing(dir.resolve("stock"))
    assert(want.contains(".f640.crc") && (want("sticky") & 0x200) != 0, want)
    assert(listing(dir.resolve("graft")) == want)
    modes.foreach { m =>
      val crc = s".f$m.crc"
      assert(Files.readAllBytes(dir.resolve("graft").resolve(crc)).sameElements(
        Files.readAllBytes(dir.resolve("stock").resolve(crc))), crc)
    }
  }

  test("rename keeps its NONE / OVERWRITE semantics and symlinks still report as links") {
    val dir = fresh("rename")
    val fs = new Path(dir.toUri).getFileSystem(conf)
    val fc = FileContext.getFileContext(dir.toUri, conf)
    def put(name: String, body: String): Path = {
      val p = new Path(hpath(dir), name)
      val out = fs.create(p)
      out.write(body.getBytes(UTF_8))
      out.close()
      p
    }
    def read(p: Path): String = {
      val in = fs.open(p) // checksummed: a stale .crc would fail here
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
    val (src, dst) = (put("src", "new"), put("dst", "old"))
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(read(dst) == "old" && fs.exists(src))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) == "new" && !fs.exists(src))
    fc.rename(dst, new Path(hpath(dir), "moved"), Options.Rename.NONE)
    assert(read(new Path(hpath(dir), "moved")) == "new")

    val link = Files.createSymbolicLink(dir.resolve("link"), dir.resolve("moved"))
    val stock = raw(new RawLocalFileSystem)
    val graft = raw(new NioRawLocalFileSystem)
    val bare = new Path(link.toString)
    assert(fc.getFileLinkStatus(bare).isSymlink)
    assert(graft.getFileLinkStatus(bare).isSymlink)
    // same answer as the stock class for a bare link, a scheme-qualified
    // link (which Hadoop's code does not see as a link) and a plain file
    Seq(bare, hpath(link), new Path(hpath(dir), "moved")).foreach { p =>
      assert(graft.getFileLinkStatus(p).isSymlink == stock.getFileLinkStatus(p).isSymlink, p)
      assert(graft.getFileLinkStatus(p).getLen == stock.getFileLinkStatus(p).getLen, p)
    }
    assert(!graft.getFileLinkStatus(new Path(hpath(dir), "moved")).isSymlink)
    intercept[java.io.FileNotFoundException](graft.getFileLinkStatus(new Path(hpath(dir), "absent")))
  }

  test("localFsDefaults sets both keys where unset and keeps the values a user set") {
    val keys = Seq("fs.file.impl", "fs.AbstractFileSystem.file.impl")
    val graftClasses = Seq(classOf[NioLocalFileSystem].getName, classOf[NioLocalFs].getName)
    Seq(new Configuration(false), new Configuration()).foreach { c =>
      assert(keys.map(GraftExtensions.localFsDefaults(c).get(_)) == graftClasses)
    }
    val stockClasses = Seq("org.apache.hadoop.fs.LocalFileSystem", "org.apache.hadoop.fs.local.LocalFs")
    Seq(new Configuration(false), new Configuration()).foreach { c =>
      keys.zip(stockClasses).foreach { case (k, v) => c.set(k, v) }
      assert(keys.map(GraftExtensions.localFsDefaults(c).get(_)) == stockClasses)
    }
    val custom = new Configuration(false)
    custom.set(keys.head, "my.LocalFs")
    GraftExtensions.localFsDefaults(custom)
    assert(custom.get(keys.head) == "my.LocalFs" && custom.get(keys(1)) == graftClasses(1))
  }
}
