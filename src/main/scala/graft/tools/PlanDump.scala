package graft.tools

import graft.Session
import graft.registry.Registry

/** Dump `.explain("formatted")` for the bench queries (or an explicit list
  * via SPARK_GRAFT_PLANDUMP_ONLY) into one file per query under the
  * directory given as arg 0 (default plans/r16). Uses the same session
  * shape as Bench so the captured plan is the plan the bench times; uses
  * the lazy planView where a query declares one, same as PlanSpec, so a
  * materialization boundary can't hide the derivation shape.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r16")
    val suffix = args.lift(1).getOrElse("before")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_PLANDUMP_ONLY").map(_.split(",").toSet)
    val names = only.map(_.toSeq.sorted)
      .getOrElse(Registry.all.filter(_.bench).map(_.name))
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      Registry.byName.get(name) match {
        case None => System.err.println(s"[plandump] $name: no such query")
        case Some(q) =>
          try {
            val df = q.planView.getOrElse(q.run)(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            val f = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
            try f.write(txt) finally f.close()
            System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
          } catch {
            case e: Throwable =>
              System.err.println(s"[plandump] $name FAILED: $e")
          }
      }
    }
    spark.stop()
  }
}
