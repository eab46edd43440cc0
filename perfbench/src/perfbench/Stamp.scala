package perfbench

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Writes each `ops_breadth` query's bench-spelling output as parquet under
  * `<out>/bench/<name>`, and, where the bench spelling differs from the
  * verify spelling (`SparkEntry.queries`), the verify output under
  * `<out>/verify/<name>`, plus `<out>/oracle_sql.json`, for
  * stamp_reference.py to check against DuckDB and turn into reference row
  * counts.
  *
  *   Stamp <dataDir>/sf0.01 <out>
  */
object Stamp {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    Files.createDirectories(Paths.get(outDir))
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => OpsBreadth.names.contains(k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json(oracles))
    for (name <- OpsBreadth.names) {
      val bench = SparkEntry.benchQueries(name)
      val verify = SparkEntry.queries(name)
      val outs = Seq("bench" -> bench) ++ (if (verify eq bench) Nil else Seq("verify" -> verify))
      for ((kind, fn) <- outs) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$kind/$name")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
