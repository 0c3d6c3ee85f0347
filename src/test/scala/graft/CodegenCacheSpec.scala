package graft

import graft.plans.GraftExtensions
import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics

/** graft sizes Spark's generated-code cache to its plan working set, so a
  * long-lived driver that reruns the same plans stops recompiling them.
  */
class CodegenCacheSpec extends SparkSpec {

  private val MaxEntries = "spark.sql.codegen.cache.maxEntries"
  private val UseId = "spark.sql.codegen.useIdInClassName"

  test("codegenDefaults sets both values when unset and keeps explicit user values") {
    val unset = GraftExtensions.codegenDefaults(new SparkConf(false))
    assert(unset.get(MaxEntries) == GraftExtensions.CodegenCacheEntries.toString)
    assert(unset.get(UseId) == "false")

    val user = GraftExtensions.codegenDefaults(
      new SparkConf(false).set(MaxEntries, "50").set(UseId, "true"))
    assert(user.get(MaxEntries) == "50")
    assert(user.get(UseId) == "true")
  }

  test("a working set above Spark's default 100 entries compiles once, not on every rerun") {
    assert(spark.sparkContext.getConf.get(MaxEntries) == GraftExtensions.CodegenCacheEntries.toString)
    // each pipeline inlines its own literal: ~150 distinct generated classes
    def pass(): Unit = (0 until 150).foreach { i =>
      spark.range(3).selectExpr(s"id * 7 + ${1000 + i} AS x").collect()
    }
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = compiles
    pass()
    assert(compiles - before >= 150, "each pipeline should have generated its own class")
    val warm = compiles
    pass()
    assert(compiles - warm == 0, "the second pass must be served from the codegen cache")
  }
}
