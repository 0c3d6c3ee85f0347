package graft.plans

import graft.functions.expressions.{BlockHash64, DecodeStats, DotProduct, HyperplaneBuckets, ImageDims, NfcNormalize, NormalizeVec, QuantizeInt8, SimHashWords, WavMeta}
import graft.sources.{NioLocalFileSystem, NioLocalFs}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.{SparkConf, SparkContext, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType}

/** SparkSessionExtensions entry point: registers graft's native Catalyst
  * expressions as SQL functions (`graft_dot`, `graft_normalize`,
  * `graft_quantize_int8`, `graft_simhash`, `graft_hyperplane_buckets`) so
  * they work from `spark.sql(...)` anywhere the Column API does, and
  * injects [[RewriteDeclarativeDot]] so plain-Spark HOF dot folds get the
  * native loop automatically. It also sizes Spark's generated-code cache
  * to graft's plan working set ([[GraftExtensions.codegenDefaults]]) and
  * installs a local file system for `file:` paths that starts no `chmod`
  * or `readlink` process ([[GraftExtensions.localFsDefaults]]).
  *
  * Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * programmatically via `SparkSession.builder.withExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def register(
      ext: SparkSessionExtensions,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      builder))

  /** A foldable literal argument (SQL-side parameters like band counts). */
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // extensions are applied after the SparkContext exists and before the
    // session state copies its conf, so defaults set here reach the session
    GraftExtensions.codegenDefaults(SparkEnv.get.conf)
    // before the shared state opens the warehouse dir: the first `file:`
    // FileSystem the JVM caches is built from this conf
    GraftExtensions.localFsDefaults(SparkContext.getOrCreate().hadoopConfiguration)
    // plain-Spark HOF dot folds rewrite to the codegen'd native loop
    ext.injectOptimizerRule(_ => RewriteDeclarativeDot)
    // whole-operator as-of join: AsOfMergeJoinNode -> AsOfMergeJoinExec
    ext.injectPlannerStrategy(_ => AsOfMergeJoinStrategy)
    register(ext, "graft_dot", { args =>
      require(args.length == 2, "graft_dot(a, b) takes exactly two array arguments")
      DotProduct(args.head, args(1))
    })
    register(ext, "graft_normalize", { args =>
      require(args.length == 1, "graft_normalize(vec) takes one array argument")
      NormalizeVec(args.head)
    })
    register(ext, "graft_quantize_int8", { args =>
      require(args.length == 1, "graft_quantize_int8(vec) takes one array argument")
      QuantizeInt8(args.head)
    })
    register(ext, "graft_nfc", { args =>
      require(args.length == 1, "graft_nfc(s) takes one string argument")
      NfcNormalize(args.head)
    })
    register(ext, "graft_simhash", { args =>
      // graft_simhash(words) = xxhash64 token hash; graft_simhash(words, true) = md5
      require(args.nonEmpty && args.length <= 2,
        "graft_simhash(words[, md5]) takes one array argument and an optional boolean literal")
      val md5 = args.lift(1).map {
        case Literal(b: Boolean, BooleanType) => b
        case _ => throw new IllegalArgumentException("graft_simhash: md5 must be a boolean literal")
      }.getOrElse(false)
      SimHashWords(args.head, md5)
    })
    register(ext, "graft_image_dims", { args =>
      require(args.length == 1, "graft_image_dims(payload) takes one binary argument")
      ImageDims(args.head)
    })
    register(ext, "graft_wav_meta", { args =>
      require(args.length == 1, "graft_wav_meta(payload) takes one binary argument")
      WavMeta(args.head)
    })
    register(ext, "graft_blockhash64", { args =>
      require(args.length == 1, "graft_blockhash64(payload) takes one binary argument")
      BlockHash64(args.head)
    })
    register(ext, "graft_decode_stats", { args =>
      require(args.length == 1, "graft_decode_stats(payload) takes one binary argument")
      DecodeStats(args.head)
    })
    register(ext, "graft_hyperplane_buckets", { args =>
      require(args.length == 3,
        "graft_hyperplane_buckets(vec, bands, planesPerBand) takes an array and two int literals")
      HyperplaneBuckets(args.head,
        intLit(args(1), "bands"), intLit(args(2), "planesPerBand"))
    })
  }
}

object GraftExtensions {

  /** Capacity of Spark's JVM-global generated-code cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark default 100, LRU).
    * One daily run (page serving, stage, analytics, the 10 views and
    * assembly, DQ gate, publish, sink) generates ≈ 440-470 distinct
    * classes: that many compiles in a cold run with no eviction. At 100
    * entries every warm rerun evicted and recompiled ≈ 480 of them.
    * 1000 holds that working set about twice over, so the LLM-data
    * operators run in the same JVM do not push it out.
    */
  val CodegenCacheEntries = 1000

  /** Sets graft's codegen defaults on `conf` where the user left them
    * unset, and returns it:
    *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]];
    *  - `spark.sql.codegen.useIdInClassName` = false, so identical
    *    pipelines share one class across codegen stage ids and AQE
    *    re-plans instead of caching one copy per id.
    * The cache is sized when the JVM first generates code; a session built
    * after that keeps the size already in place.
    */
  def codegenDefaults(conf: SparkConf): SparkConf =
    conf.setIfMissing("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .setIfMissing("spark.sql.codegen.useIdInClassName", "false")

  /** Hadoop's own `file:` classes and graft's replacements
    * ([[graft.sources.NioRawLocalFileSystem]]), by configuration key:
    * the checksummed `FileSystem` and the `FileContext` file system.
    */
  private val LocalFsImpls = Seq(
    "fs.file.impl" -> ("org.apache.hadoop.fs.LocalFileSystem", classOf[NioLocalFileSystem].getName),
    "fs.AbstractFileSystem.file.impl" -> ("org.apache.hadoop.fs.local.LocalFs", classOf[NioLocalFs].getName))

  /** Points `file:` paths at graft's fork-free local file system on
    * `conf`, and returns it. Each key is set only where it is unset or
    * still holds Hadoop's default class from `core-default.xml` (which
    * sets `fs.AbstractFileSystem.file.impl`); a value the user set, the
    * stock class included, is kept. Other schemes are not touched.
    */
  def localFsDefaults(conf: Configuration): Configuration = {
    LocalFsImpls.foreach { case (key, (hadoopDefault, graft)) =>
      val v = conf.get(key)
      def fromDefaults = Option(conf.getPropertySources(key)).exists(_.forall(_ == "core-default.xml"))
      if (v == null || (v == hadoopDefault && fromDefaults)) conf.set(key, graft)
    }
    conf
  }
}
