package graft.tools

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender

/** Solo warm timing of bench spellings, one JVM, on Bench's timed action
  * (the noop sink) — isolates a query's own cost from full-bench cache/GC
  * contention when chasing a slow bench line.
  *
  * Each run also records the largest "Broadcasting large task binary"
  * size Spark logs while the query executes. DAGScheduler logs it only
  * past its fixed 1000 KiB line (TaskSetManager.TASK_SIZE_TO_WARN_KIB) and
  * without query context, so this maps warning -> query. A fat task
  * binary is the plan-literal smell: the closure ships a payload
  * (codebook literal, pattern automaton, learned table) with EVERY task
  * instead of once per executor via a broadcast variable.
  *
  * Usage: runMain graft.tools.SoloMulti <sfDir> <runs> [name ...]
  * (every bench spelling when no name is given). Exits 2 when a query
  * crosses the warning line without an [[allowedTaskBin]] entry, 1 when a
  * query fails.
  */
object SoloMulti {
  /** Largest "Broadcasting large task binary with size N KiB" observed
    * while `body` runs; 0 when no warning fired.
    */
  def maxTaskBinaryKiB(body: => Unit): Double = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val pat = """Broadcasting large task binary with size ([\d.]+) (KiB|MiB)""".r.unanchored
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app: AbstractAppender =
      new AbstractAppender("graft-taskbin", null, null, true, Array.empty) {
        override def append(e: LogEvent): Unit =
          e.getMessage.getFormattedMessage match {
            case pat(n, unit) =>
              seen.add(n.toDouble * (if (unit == "MiB") 1024.0 else 1.0))
            case _ => ()
          }
      }
    app.start()
    cfg.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    try body finally {
      cfg.getRootLogger.removeAppender("graft-taskbin")
      ctx.updateLoggers()
      app.stop()
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.foldLeft(0.0)(math.max)
  }

  // Benched queries whose task binary legitimately sits at/over the warn
  // line, each with its boundedness argument — the allowedHints
  // discipline applied to closure size. Anything NOT listed that crosses
  // the threshold is a plan-literal payload regression (the pre-r16
  // dHash63 class: 126 unrolled substr trees at 1.7 MB/task).
  val allowedTaskBin: Map[String, String] = Map(
    "p26_rank_weighted_sample" ->
      ("~1003 KiB at sf0.1: the iterative host-rank fold's accumulated plan " +
        "(rankIterate localCheckpoints per round — closure carries the round's " +
        "lineage, PARAMETER-bounded by the iteration count, never data-proportional)"))

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = args(1).toInt
    val bench = graft.SparkEntry.benchQueries
    val names = if (args.length > 2) args.drop(2).toSeq else bench.keys.toSeq.sorted
    val spark = graft.GraftSession.local()
    var offenders = List.empty[(String, Double)]
    var failed = 0
    names.foreach { name =>
      try {
        val fn = bench(name)
        val (ts, kibs) = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          val kib = maxTaskBinaryKiB {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          spark.catalog.clearCache()
          ((System.nanoTime() - t0) / 1e9, kib)
        }.unzip
        val kib = kibs.max
        val bin =
          if (kib == 0.0) "taskbin<1000KiB"
          else if (allowedTaskBin.contains(name)) f"taskbin=$kib%.1fKiB [allowed: ${allowedTaskBin(name)}]"
          else {
            offenders ::= (name, kib)
            f"taskbin=$kib%.1fKiB <== inspect"
          }
        println(f"[solo] $name min=${ts.min}%.2f runs=${ts.map(t => f"$t%.2f").mkString(",")} $bin")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"[solo] $name FAILED: ${e.getMessage}")
          spark.catalog.clearCache()
      }
    }
    if (offenders.nonEmpty)
      println("[solo] UNADJUDICATED task binaries past 1000 KiB: " + offenders.sortBy(-_._2)
        .map { case (n, k) => f"$n ($k%.1f KiB)" }.mkString(", "))
    spark.stop()
    if (offenders.nonEmpty) sys.exit(2)
    if (failed > 0) sys.exit(1)
  }
}
