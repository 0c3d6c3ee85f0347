package graftbench

import graft.operators.{Dedup, SuffixDedup}
import graft.quality.CorpusClean
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LLM-data path: corpus cleaning, MinHash-LSH near-duplicate pairs and
  * suffix-array duplicate-span coverage over one generated corpus, each
  * written as its own output table.
  */
object Corpus {
  /** The registry's `dedup_suffix_spans` boilerplate suffix, appended to
    * every third document, so that row's oracle SQL applies unchanged.
    */
  val Boiler = " legal notice all rights reserved contact support team for help today"

  def docs(spark: SparkSession, input: String): DataFrame =
    spark.read.parquet(s"$input/documents.parquet").select("doc_id", "text")

  def run(spark: SparkSession, t: Tracer, input: String, out: String): Unit = {
    val d = docs(spark, input)
    t.span("corpus_clean") {
      CorpusClean.pipeline(d).write.parquet(s"$out/clean")
    }
    t.span("dedup") {
      Dedup.minhashLsh(d, "doc_id", "text", n = 3, k = 64, bands = 16, threshold = 0.5)
        .write.parquet(s"$out/pairs")
    }
    t.span("suffix") {
      val aug = d.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0, concat(col("text"), lit(Boiler)))
          .otherwise(col("text")).as("text"))
      SuffixDedup.duplicateSpanCoverage(aug, "doc_id", "text", 6).write.parquet(s"$out/spans")
    }
  }

  /** Self-test perturbation: drop one row of output `o` ("pairs" loses a
    * planted pair, "clean" loses a surviving document).
    */
  def perturb(spark: SparkSession, input: String, out: String, o: String): Unit = {
    val df = spark.read.parquet(s"$out/$o")
    val victim = if (o == "pairs") spark.read.parquet(s"$input/planted_pairs.parquet").limit(1)
      else df.orderBy("doc_id").limit(1)
    df.join(victim, victim.columns.toSeq, "left_anti").write.parquet(s"$out/$o.perturbed")
    val fs = new org.apache.hadoop.fs.Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/$o"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$out/$o.perturbed"), new org.apache.hadoop.fs.Path(s"$out/$o"))
  }

  /** Order-independent fingerprints of the three outputs. */
  def fingerprints(spark: SparkSession, out: String): Seq[String] =
    Seq("clean", "pairs", "spans").map(o => DailyRun.fingerprint(spark.read.parquet(s"$out/$o")))

  /** Failed checks (empty = all passed): every planted near-duplicate pair
    * must be among the MinHash-LSH pairs.
    */
  def check(spark: SparkSession, input: String, out: String): Seq[String] = {
    val planted = spark.read.parquet(s"$input/planted_pairs.parquet")
    val pairs = spark.read.parquet(s"$out/pairs")
    val missed = planted.join(pairs, Seq("doc_id_1", "doc_id_2"), "left_anti").count()
    if (missed > 0) Seq(s"MinHash-LSH missed $missed of ${planted.count()} planted pairs")
    else Nil
  }
}
