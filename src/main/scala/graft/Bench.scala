package graft

/** Benchmark main: runs the headline queries at SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}. Each query is
  * forced with a count() (full materialization, no driver collect).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val qs = SparkEntry.queries
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.benchQueries.filter(n => only.forall(_.contains(n)))
    // default 8 runs per query: run1 absorbs JVM/codegen warmup (recorded as
    // "cold"); the MEDIAN of runs 2..8 is recorded. A single warm run is a
    // coin flip on this VM (observed ±20% swing, and one r5 run where warm >
    // cold — impossible for the plan, so it was measuring block-manager/GC
    // state). The median needs ≥7 warm samples because the JIT warmup TAIL
    // is 2-3 runs deep for the large-DAG queries — a measured 10-run
    // dedup_minhash_lsh series went 20.4, 6.1, 2.3, 1.7, then plateaued at
    // 1.34-1.50 s: with only 3 warm runs the median lands ON the tail
    // (that was the whole r6 "+34% minhash regression"); with 7 it sits on
    // the plateau and the tail falls in the discarded upper half.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "8").toInt
    val results = names.map { name =>
      var cold = 0.0
      val warm = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (i <- 1 to repeat) {
        val t0 = System.nanoTime()
        // a crashing query must not read as a fast success: negate the
        // elapsed time so failures are visible in the emitted JSON
        val ok =
          try { qs(name)(spark, sfDir).count(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name FAILED: $e"); false }
        var dt = (System.nanoTime() - t0) / 1e9
        if (!ok) dt = -dt
        if (i == 1) cold = dt else warm += dt
        System.err.println(f"[bench] $name run$i $dt%.2f s")
      }
      // median of the warm runs; any failed run (negative) dominates so a
      // crash can never hide behind two healthy runs
      val dt =
        if (warm.isEmpty) cold
        else if (warm.exists(_ < 0)) warm.min
        else { val s = warm.sorted; s(s.size / 2) }
      // per-query isolation (TPC-style): drop this query's cached relations,
      // persisted RDDs, and (via GC -> ContextCleaner) localCheckpoint blocks
      // before the next query starts. Without this, 16 queries' blocks pile
      // up in one block manager and late heavy queries measure EVICTION
      // CHURN, not their plan (feature_assembly swung 3.8s -> 37s run to
      // run). Cleanup sits OUTSIDE the timed region; run2 still reuses
      // run1's warm state for its own query.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      (name, cold, dt) // run1 (cold) + median of warm runs
    }
    // "queries" stays the steady-state number (the long-lived-cluster view);
    // "queries_cold" makes first-run regressions visible alongside it
    val qJson = results.map { case (k, _, w) => "\"" + k + "\":" + w }
      .mkString("{", ",", "}")
    val cJson = results.map { case (k, c, _) => "\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val total = results.map(_._3).sum
    val totalCold = results.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_cold":$totalCold,"queries":$qJson,"queries_cold":$cJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
