package graft.tools

import graft.Session
import graft.registry.Registry

/** Plan-shape census over EVERY registry query: counts scans, exchanges,
  * aggregates, and the pathological node types in each query's physical
  * plan and prints one line per query sorted by scan count. The r8
  * currentHfF finding (52 scans / 77 exchanges / 122 aggregates for 150
  * output rows — the reference's per-protocol CTE structure transcribed
  * literally multiplies whole sub-plans) motivated making this a sweepable
  * census rather than a one-off explain: at 100 TB a duplicated sub-plan
  * is a duplicated scan of the lake.
  *
  * PlanSpec asserts the hard invariants (no CartesianProduct, no
  * unsanctioned BNLJ) per query; this tool is the ATTRIBUTION surface —
  * run it when a bench line moves, diff the census between commits.
  * Uses the lazy planView where a query declares one, same as PlanSpec,
  * so materialization boundaries can't hide plan shape.
  */
object PlanStats {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    def count(hay: String, needle: String): Int = needle.r.findAllIn(hay).length

    val rows = Registry.all.flatMap { q =>
      try {
        val df = q.planView.getOrElse(q.run)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        // EXECUTED column: run the real query (not the planView) under the
        // scan probe — boundary materializations and two-phase scalar
        // reads fire their own SQL actions, all counted; reused exchanges
        // and cached relations count zero. This is the number that has to
        // stay sane at 100 TB; the lazy column is the derivation shape.
        val (_, acts, rscans) =
          org.apache.spark.sql.graftnative.PlanProbe.measure(spark) {
            q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
        Some((q.name, count(plan, "FileScan"), rscans, acts, count(plan, "Exchange"),
          count(plan, "HashAggregate"), count(plan, "SortMergeJoin"),
          count(plan, "BroadcastHashJoin"), count(plan, "BroadcastNestedLoopJoin"),
          count(plan, "CartesianProduct")))
      } catch {
        case e: Throwable =>
          System.err.println(s"[planstats] ${q.name} SKIP: ${e.getClass.getSimpleName}")
          None
      }
    }
    println(f"${"query"}%-45s ${"lazy"}%5s ${"exec"}%5s ${"acts"}%5s ${"exch"}%5s ${"aggs"}%5s ${"smj"}%4s ${"bhj"}%4s ${"bnlj"}%4s ${"cart"}%4s")
    rows.sortBy(-_._3).foreach { case (n, s, rs, ac, e, a, smj, bhj, bnlj, cart) =>
      println(f"$n%-45s $s%5d $rs%5d $ac%5d $e%5d $a%5d $smj%4d $bhj%4d $bnlj%4d $cart%4d")
    }
    val worstLazy = rows.sortBy(-_._2).take(5).map(r => s"${r._1}=${r._2}").mkString(", ")
    val worstExec = rows.sortBy(-_._3).take(5).map(r => s"${r._1}=${r._3}").mkString(", ")
    System.err.println(s"[planstats] top lazy scan counts: $worstLazy")
    System.err.println(s"[planstats] top EXECUTED scan counts: $worstExec")
    spark.stop()
  }
}
