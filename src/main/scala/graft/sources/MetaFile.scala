package graft.sources

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/** The one reader and the one writer of graft's small metadata files:
  * table pointers (`_CURRENT`), refs, branches, bucket manifests and their
  * stats and bloom sidecars, feed-consumer offsets, zone maps and the LSH
  * compaction manifest.
  *
  * [[replace]] writes `<path>.tmp`, then renames it over `path` through
  * `FileContext` with `OVERWRITE`: a reader sees the old text or the new
  * text, never a missing or truncated file. On HDFS that rename is atomic;
  * on `file:` paths [[NioRawLocalFs]] makes it one `rename(2)`; an object
  * store deployment swaps it for a single conditional put. Callers that
  * must not overwrite (the bucket manifest's create-exclusive claim) do
  * not use it.
  */
private[graft] object MetaFile {

  /** The file's UTF-8 text, or None when it does not exist. */
  def read(spark: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    }
  }

  /** Atomically replace (or create) `path` with `text`. */
  def replace(spark: SparkSession, path: String, text: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(path)
    val tmp = new Path(path + ".tmp")
    val out = dst.getFileSystem(conf).create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    FileContext.getFileContext(dst.toUri, conf).rename(tmp, dst, Options.Rename.OVERWRITE)
  }
}
