package graft.tools

import java.nio.file.{Files, Paths}

/** Dump explain("formatted") of the bench spelling of each named query to
  * files in one JVM — the plans/rNN before/after evidence capture, or a
  * look at codegen boundaries and pushdown.
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <query> [query ...]
  * Writes <outDir>/<query>_<suffix>.txt for each query (sf dir from
  * SPARK_GRAFT_SF_DIR, default sf0.01 — plan shape, not timing).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    Files.createDirectories(outDir)
    val spark = graft.GraftSession.local()
    names.foreach { name =>
      val df = graft.SparkEntry.benchQueries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      val nEx = "Exchange".r.findAllIn(plan).size
      println(s"[plandump] $name -> ${name}_$suffix.txt (Exchange~$nEx)")
    }
    spark.stop()
  }
}
