package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry
import graft.operators.Dedup

/** Every 44th name of `SparkEntry.benchQueries` in sorted order, at sf0.01,
  * on the noop action, in a seed-drawn order per pass. An operation is one
  * query; its latency runs from the constructor call until the noop write
  * returns. Set-up runs one cold pass. The window runs a fixed number of
  * whole passes, one per two seconds of `--seconds` and at least two, so
  * every run times the same query runs whatever their speed. The query
  * count is odd so that the median falls among one query's runs, not in the
  * gap between two queries.
  */
object OpsBreadth extends Workload {
  val Scale = "sf0.01"
  val Stride = 44
  val WarmupPasses = 1

  def names: Seq[String] =
    SparkEntry.benchQueries.keys.toSeq.sorted.zipWithIndex.collect {
      case (n, i) if i % Stride == 0 => n
    }

  /** View-backed queries memoize their artifact; drop it before each run
    * so the run measures the build, as graft.Bench does. */
  private val rebuild: Map[String, () => Unit] = Map(
    "d2_dedup_minhash_lsh" -> (() => Dedup.clearPairViews()),
    "d6_dedup_clusters" -> (() => Dedup.clearClusterViews()))

  private final case class Run(name: String, pass: Int, startNs: Long, latMs: Double,
      constructMs: Double, execMs: Double, constructSpan: Span, execSpan: Span, rows: Long)

  private val runs = ArrayBuffer.empty[Run]
  private var reference: Map[String, Long] = Map.empty
  private var passes = 0

  /** `{"rows": {"<name>": <count>, ...}}` written by stamp_reference.py. */
  def readReference(path: String): Map[String, Long] = {
    val body = new String(Files.readAllBytes(Paths.get(path)))
    val rows = body.substring(body.indexOf("\"rows\""))
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*(\\d+)".r.findAllMatchIn(rows)
      .map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  private def runOne(ctx: Ctx, name: String, fn: (SparkSession, String) => DataFrame): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.dataDir}/$Scale"
    rebuild.get(name).foreach(_.apply())
    val obs = Observation(s"rows_${runs.size}")
    val op = ctx.tracer.start("ops.query")
    val t0 = System.nanoTime()
    var cSpan: Span = null
    var eSpan: Span = null
    val outcome =
      try {
        val df = ctx.tracer.span("ops.construct", op) { s => cSpan = s; fn(spark, dir) }
        val tc = System.nanoTime()
        ctx.planted()
        ctx.tracer.span("ops.exec", op) { s =>
          eSpan = s
          df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
        }
        Right(tc)
      } catch {
        case e: Throwable => Left(e)
      }
    val t1 = System.nanoTime()
    ctx.tracer.end(op)
    if (op != null) op.attrs("pass") = passes
    ctx.out.attempted += 1
    outcome match {
      case Left(e) => ctx.out.fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(tc) =>
        val rows = obs.get("rows").asInstanceOf[Long]
        val want = reference.get(name)
        if (!want.contains(rows))
          ctx.out.fail(s"$name returned $rows rows, reference ${want.getOrElse("missing")}")
        runs += Run(name, passes, t0, (t1 - t0) / 1e6, (tc - t0) / 1e6, (t1 - tc) / 1e6,
          cSpan, eSpan, rows)
    }
    spark.catalog.clearCache()
  }

  private def pass(ctx: Ctx): Unit = {
    val all = SparkEntry.benchQueries
    val order = new Random(ctx.seed * 1000003L + passes).shuffle(names)
    order.foreach(n => runOne(ctx, n, all(n)))
    passes += 1
  }

  def setup(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    reference = readReference(ctx.referenceFile)
    if (ctx.plantWrongReference) {
      val n = names.head
      reference = reference.updated(n, reference.getOrElse(n, 0L) + 1)
    }
    ctx.out.setup("setup.artifact_ms") = (System.nanoTime() - t0) / 1e6
    val w0 = System.nanoTime()
    (1 to WarmupPasses).foreach(_ => pass(ctx))
    ctx.out.setup("setup.warmup_ms") = (System.nanoTime() - w0) / 1e6
  }

  def run(ctx: Ctx): Unit = {
    ctx.beginWindow()
    (1 to math.max(2, ctx.seconds / 2)).foreach(_ => pass(ctx))
    ctx.endWindow()
    val inWin = runs.filter(r => ctx.inWindow(r.startNs)).toSeq
    inWin.foreach(r => ctx.out.latMs += r.latMs)
    if (ctx.trace) layerMetrics(ctx, inWin)
  }

  private def layerMetrics(ctx: Ctx, inWin: Seq[Run]): Unit = {
    // one noop write per run, completed in run order
    val writes = ctx.plansInWindow().filter(_.noop)
    val perSpan = ctx.counters.spanSnapshot()
    def jobs(s: Span) = if (s == null) 0.0 else perSpan.get(s.id).flatMap(_.get("jobs")).getOrElse(0.0)
    val plans = if (writes.size == inWin.size) writes.map(Some(_)) else inWin.map(_ => None)
    ctx.addPlanPhases(writes)
    val l = ctx.out.layer
    val planMs = inWin.zip(plans).map { case (_, p) =>
      p.map(r => Seq("analysis", "optimization", "planning").map(r.phases.getOrElse(_, 0.0)).sum)
        .getOrElse(0.0)
    }
    l("ops.construct_ms") = inWin.map(_.constructMs).sum
    l("ops.construct_jobs") = inWin.map(r => jobs(r.constructSpan)).sum
    l("ops.exec_ms") = inWin.map(_.execMs).sum - planMs.sum
    l("ops.exec_jobs") = inWin.map(r => jobs(r.execSpan)).sum
    l("ops.queries_without_construct_job") = inWin.count(r => jobs(r.constructSpan) == 0).toDouble
    inWin.zip(planMs).foreach { case (r, pm) =>
      ctx.out.perOp += Map("name" -> r.name, "pass" -> r.pass, "lat_ms" -> r.latMs,
        "construct_ms" -> r.constructMs, "plan_ms" -> pm, "exec_ms" -> (r.execMs - pm),
        "construct_jobs" -> jobs(r.constructSpan), "exec_jobs" -> jobs(r.execSpan),
        "rows" -> r.rows)
    }
  }
}
