package graft.tools

import graft.Session

/** Ad-hoc stage-level profiler for bench investigations (not part of the
  * library surface): times named sub-stages of a query in isolation so a
  * regression can be attributed to the stage that actually moved. Kept in
  * the repo because every perf round needs one; edit the stages freely.
  *
  * Current stages: the feature_assembly breakdown
  * ([[graft.registry.FeaturePipeline.assemblyStages]]) — the r7 verdict
  * flagged the 2.7-3.0 s plateau as the top remaining bench line; this
  * attributes it across the 10 views, the shared persisted inputs, and
  * the final join chain.
  */
object ProfileScratch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    // steady-state attribution: inputs persist ONCE (like the assembly's
    // Boundary.Local steady state the bench measures), then each stage is
    // forced `warm` times from the shared cache — no per-stage isolation,
    // because the question is where time goes INSIDE one warm execution
    val stages = graft.registry.FeaturePipeline.assemblyStages(spark, sfDir)
    def timeIt(name: String, warm: Int = 4)(f: => Long): Unit = {
      val ts = (0 until warm).map { i =>
        val t0 = System.nanoTime
        val n = f
        val dt = (System.nanoTime - t0) / 1e9
        System.err.println(f"[prof] $name run$i rows=$n $dt%.2f s")
        dt
      }
      val med = ts.drop(1).sorted.apply((warm - 1) / 2)
      System.err.println(f"[prof] $name MEDIAN(warm) $med%.2f s")
    }
    stages.foreach { case (name, df) => timeIt(name)(df.count()) }
    spark.stop()
  }
}
