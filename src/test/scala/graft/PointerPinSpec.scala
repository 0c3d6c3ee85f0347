package graft

import graft.operators.{BucketedSnapshots, CommitConflictException, Incremental, Snapshots}
import graft.sources.NioRawLocalFileSystem
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, Path}

/** The local disk under a `ptrtap:` scheme that counts opens of
  * `_CURRENT` and can run one hook just before a chosen open — the seam a
  * spec needs to land a commit BETWEEN two pointer reads of a writer.
  */
class PointerTapFileSystem extends NioRawLocalFileSystem {
  override def getUri: URI = PointerTap.Uri
  override def getScheme: String = PointerTap.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName == "_CURRENT") PointerTap.beforeRead()
    super.open(f, bufferSize)
  }
}

/** The `FileContext` side of [[PointerTapFileSystem]] (the pointer flip
  * renames through `FileContext`).
  */
class PointerTapFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new PointerTapFileSystem, conf, PointerTap.Scheme, false) {
  override def getUriDefaultPort: Int = -1
}

object PointerTap {
  val Scheme = "ptrtap"
  val Uri: URI = URI.create(s"$Scheme:///")

  private val reads = new AtomicInteger
  @volatile private var hook: Option[(Int, () => Unit)] = None

  /** Count a `_CURRENT` read; run the armed hook (once, disarmed first so
    * its own reads don't re-enter) if this is the read it waits for.
    */
  private[graft] def beforeRead(): Unit = {
    val n = reads.incrementAndGet()
    hook match {
      case Some((at, run)) if at == n =>
        hook = None
        run()
      case _ =>
    }
  }

  /** Run `body` with `between` armed before its `at`-th `_CURRENT` read
    * (0 = never); returns (`_CURRENT` reads made, whether `between` ran,
    * whether `body` aborted with a commit conflict).
    */
  def run(at: Int, between: () => Unit)(body: => Unit): (Int, Boolean, Boolean) = {
    reads.set(0)
    var ran = false
    hook = if (at > 0) Some(at -> (() => { between(); ran = true })) else None
    val conflicted =
      try { body; false }
      catch { case _: CommitConflictException => true }
      finally hook = None
    (reads.get, ran, conflicted)
  }
}

/** One pointer read per commit: a commit takes its merge base and its CAS
  * base from ONE read of `_CURRENT`, so a commit that lands after that
  * read moves the pointer off the CAS base and the flip aborts (or, for
  * the bucketed layout, rebases onto it) instead of dropping it. Each case
  * lands an intervening commit before every `_CURRENT` read the writer
  * makes, and checks that the intervening commit survives.
  */
class PointerPinSpec extends SparkSpec {
  import spark.implicits._

  private lazy val conf = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set(s"fs.${PointerTap.Scheme}.impl", classOf[PointerTapFileSystem].getName)
    c.set(s"fs.AbstractFileSystem.${PointerTap.Scheme}.impl", classOf[PointerTapFs].getName)
    c
  }

  private def fresh(name: String): String = {
    conf
    val local = new java.io.File(s"target/tmp/pointerpin_$name").getAbsolutePath
    val path = s"${PointerTap.Scheme}://$local"
    val p = new Path(path)
    p.getFileSystem(conf).delete(p, true)
    path
  }

  private def rows(pairs: (Long, String)*) = pairs.toDF("k", "v")

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("k").as[Long].collect().toSet

  /** For each `_CURRENT` read `write` makes, on a fresh table from `setup`:
    * land `between` just before that read, run `write`, then
    * `check(write aborted with a conflict)`. Returns how many pointer reads
    * `write` makes when nothing interleaves.
    */
  private def atEveryPointerRead(setup: () => Unit, write: () => Unit,
      between: () => Unit)(check: Boolean => Unit): Int = {
    setup()
    val (reads, _, _) = PointerTap.run(0, between)(write())
    assert(reads >= 1)
    (1 to reads).foreach { at =>
      setup()
      val (_, ran, conflicted) = PointerTap.run(at, between)(write())
      assert(ran, s"no pointer read #$at")
      check(conflicted)
    }
    reads
  }

  test("Snapshots.commitWith: one read pins merge and CAS base; an interleaved commit is never dropped") {
    val path = fresh("plain")
    def upsert(df: org.apache.spark.sql.DataFrame): Unit = {
      Snapshots.commitWith(spark, path, {
        case None => df
        case Some(cur) => Incremental.mergeByKey(cur, df, "k")
      })
      ()
    }
    val reads = atEveryPointerRead(
      setup = () => {
        new Path(path).getFileSystem(conf).delete(new Path(path), true)
        upsert(rows(1L -> "a"))
      },
      write = () => upsert(rows(2L -> "b")),
      between = () => upsert(rows(3L -> "c"))) {
      conflicted =>
        val live = keys(Snapshots.readCurrent(spark, path))
        assert(live.contains(3L), "the intervening commit was dropped")
        assert(live.contains(1L))
        assert(conflicted != live.contains(2L), s"conflicted=$conflicted live=$live")
    }
    assert(reads == 2, s"pin + CAS = 2 reads of _CURRENT per commit, saw $reads")
  }

  test("BucketedSnapshots.upsertByKey: one read pins merge and CAS base; an interleaved commit is never dropped") {
    val path = fresh("bucketed")
    val reads = atEveryPointerRead(
      setup = () => {
        new Path(path).getFileSystem(conf).delete(new Path(path), true)
        BucketedSnapshots.upsertByKey(spark, rows((1L to 8L).map(_ -> "a"): _*), path, "k", 4)
      },
      write = () => BucketedSnapshots.upsertByKey(spark, rows(20L -> "b"), path, "k", 4),
      between = () => BucketedSnapshots.upsertByKey(spark, rows(30L -> "c"), path, "k", 4)) {
      conflicted =>
        val live = keys(BucketedSnapshots.readCurrent(spark, path))
        assert(live.contains(30L), "the intervening commit was dropped")
        assert((1L to 8L).forall(live.contains))
        assert(conflicted != live.contains(20L), s"conflicted=$conflicted live=$live")
    }
    assert(reads == 2, s"pin + CAS = 2 reads of _CURRENT per commit, saw $reads")
  }

  test("BucketedSnapshots.compact and rebucket: an interleaved commit is never dropped") {
    val path = fresh("maint")
    // 8 staging partitions: several part files per bucket, so compact commits
    def setup(): Unit = {
      new Path(path).getFileSystem(conf).delete(new Path(path), true)
      BucketedSnapshots.upsertByKey(spark,
        rows((1L to 200L).map(_ -> "a"): _*).repartition(8), path, "k", 2)
    }
    val between = () => {
      val n = BucketedSnapshots.readNBuckets(spark, path,
        BucketedSnapshots.currentVersion(spark, path).get).get
      BucketedSnapshots.upsertByKey(spark, rows(300L -> "c"), path, "k", n)
      ()
    }
    def check(conflicted: Boolean): Unit = {
      val live = keys(BucketedSnapshots.readCurrent(spark, path))
      assert(live.contains(300L), "the intervening commit was dropped")
      assert((1L to 200L).forall(live.contains))
    }
    val compactReads = atEveryPointerRead(() => setup(),
      () => { BucketedSnapshots.compact(spark, path); () }, between)(check)
    assert(compactReads == 2, s"pin + CAS = 2 reads of _CURRENT per compaction, saw $compactReads")
    // the rewrite reads the pinned version without a second retention
    // check of the pointer
    val rebucketReads = atEveryPointerRead(() => setup(),
      () => { BucketedSnapshots.rebucket(spark, path, "k", 4); () }, between)(check)
    assert(rebucketReads == 2, s"pin + CAS = 2 reads of _CURRENT per rebucket, saw $rebucketReads")
  }

  test("BucketedSnapshots.pruneTombstones: pin + CAS = 2 pointer reads; an interleaved commit is never dropped") {
    val path = fresh("prune")
    def changes(rows: (Long, Long, String)*) = rows.toDF("k", "seq", "op").withColumn("v", $"op")
    val reads = atEveryPointerRead(
      setup = () => {
        new Path(path).getFileSystem(conf).delete(new Path(path), true)
        BucketedSnapshots.applyChanges(spark,
          changes((1L to 8L).map(k => (k, k, if (k <= 4) "D" else "I")): _*), path, "k", 4)
      },
      write = () => { BucketedSnapshots.pruneTombstones(spark, path, lowWatermark = 100L); () },
      between = () => {
        BucketedSnapshots.applyChanges(spark, changes((30L, 1L, "I")), path, "k", 4); ()
      }) {
      conflicted =>
        assert(keys(BucketedSnapshots.readTable(spark, path)) == Set(5L, 6L, 7L, 8L, 30L),
          "the intervening commit was dropped")
        val tombstones = BucketedSnapshots.readCurrent(spark, path)
          .filter(org.apache.spark.sql.functions.col(graft.operators.Cdc.DeletedMeta)).count()
        assert(conflicted || tombstones == 0, s"conflicted=$conflicted tombstones=$tombstones")
    }
    assert(reads == 2, s"pin + CAS = 2 reads of _CURRENT per prune, saw $reads")
  }

  test("BucketedSnapshots.publishBranch: a main commit interleaved at any pointer read aborts the publish") {
    val path = fresh("publish")
    val reads = atEveryPointerRead(
      setup = () => {
        new Path(path).getFileSystem(conf).delete(new Path(path), true)
        BucketedSnapshots.upsertByKey(spark, rows(1L -> "a"), path, "k", 4)
        BucketedSnapshots.branch(spark, path, "wap")
        BucketedSnapshots.commitToBranch(spark, path, "wap", rows(2L -> "b"), "k", 4)
      },
      write = () => { BucketedSnapshots.publishBranch(spark, path, "wap"); () },
      between = () => { BucketedSnapshots.upsertByKey(spark, rows(3L -> "c"), path, "k", 4); () }) {
      conflicted =>
        val live = keys(BucketedSnapshots.readCurrent(spark, path))
        assert(conflicted, "a publish that is no longer a fast-forward must abort")
        assert(live == Set(1L, 3L), s"the intervening main commit was dropped: $live")
    }
    assert(reads == 2, s"pin + CAS = 2 reads of _CURRENT per publish, saw $reads")
  }
}
