package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one run measured: per-operation latencies inside the window, the
  * output checks, set-up times and (traced) per-layer metrics.
  */
final class Outcome {
  val latMs = ArrayBuffer.empty[Double]
  /** Operations completed in the window; -1 means one per latency sample. */
  var completed = -1L
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  var windowS = 0.0
  var retainedHeapMb = 0.0
  val setup: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val layer: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val perOp = ArrayBuffer.empty[Map[String, Any]]

  def fail(msg: String, n: Long = 1L): Unit = synchronized {
    failed += n
    if (failures.size < 20) failures += msg
  }
}

/** Everything a workload needs: the session, its inputs, the tracer and the
  * window edges.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val dataDir: String, val workDir: String,
    val referenceFile: String, val plantSleepMs: Int, val plantWrongReference: Boolean) {
  val out = new Outcome
  val tracer = new Tracer(trace, spark)
  val counters: SparkCounters = if (trace) new SparkCounters(tracer.SpanKey) else null
  val plans: PlanPhases = if (trace) new PlanPhases else null
  val progress: StreamProgress = if (trace) new StreamProgress else null
  if (trace) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(plans)
    spark.streams.addListener(progress)
  }

  @volatile var w0Ns = 0L
  @volatile var w1Ns = Long.MaxValue
  var w0Ms = 0L
  var w1Ms = Long.MaxValue
  private var jvm0 = Map.empty[String, Double]
  private var spark0 = Map.empty[String, Double]

  def inWindow(ns: Long): Boolean = ns >= w0Ns && ns < w1Ns

  /** Pause a callback when the self-check plants a slowdown. */
  def planted(): Unit = if (plantSleepMs > 0) Thread.sleep(plantSleepMs.toLong)

  private def jvmNow(): Map[String, Double] = Map(
    "jvm.gc_ms" -> Jvm.gcMs, "jvm.jit_ms" -> Jvm.jitMs, "codegen.compiles" -> Jvm.codegenCompiles)

  private def sparkNow(): Map[String, Double] =
    if (!trace) Map.empty
    else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      counters.snapshot()
    }

  def beginWindow(): Unit = {
    spark0 = sparkNow()
    jvm0 = jvmNow()
    out.setup("setup_s") = Jvm.uptimeS
    w0Ms = System.currentTimeMillis()
    w0Ns = System.nanoTime()
  }

  /** Close the window: measured time and counter deltas. */
  def endWindow(): Unit = {
    w1Ns = System.nanoTime()
    w1Ms = System.currentTimeMillis()
    out.windowS = (w1Ns - w0Ns) / 1e9
    val jvm1 = jvmNow()
    jvm1.foreach { case (k, v) => out.layer(k) = v - jvm0(k) }
    val s1 = sparkNow()
    for (k <- Seq("jobs", "stages", "tasks", "task_wall_ms", "task_run_ms",
        "task_deserialize_ms", "tasks_failed", "input_bytes", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes") if trace)
      out.layer("spark." + k) = s1.getOrElse(k, 0.0) - spark0.getOrElse(k, 0.0)
  }

  /** SQL actions that ended in the window. */
  def plansInWindow(): Seq[PlanPhases#Rec] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    plans.recs.asScala.filter(r => r.endMs >= w0Ms && r.endMs < w1Ms).toSeq
  }

  def addPlanPhases(rs: Iterable[PlanPhases#Rec]): Unit = {
    def ph(k: String) = rs.map(_.phases.getOrElse(k, 0.0)).sum
    out.layer("ops.plan.analysis_ms") = ph("analysis")
    out.layer("ops.plan.optimization_ms") = ph("optimization")
    out.layer("ops.plan.planning_ms") = ph("planning")
    out.layer("ops.plan_ms") = ph("analysis") + ph("optimization") + ph("planning")
  }

  /** Micro-batch progress of batches that started in the window. */
  def streamInWindow(): Unit = if (trace) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val rs = progress.recs.asScala.filter(r => r.startMs >= w0Ms && r.startMs < w1Ms).toSeq
    val withRows = rs.filter(_.rows > 0)
    def d(k: String) = rs.map(_.durations.getOrElse(k, 0.0)).sum
    out.layer("stream.microbatches") = withRows.size.toDouble
    out.layer("stream.rows_per_microbatch") =
      if (withRows.isEmpty) 0.0 else withRows.map(_.rows).sum.toDouble / withRows.size
    out.layer("stream.latest_offset_ms") = d("latestOffset")
    out.layer("stream.get_batch_ms") = d("getBatch")
    out.layer("stream.query_planning_ms") = d("queryPlanning")
    out.layer("stream.add_batch_ms") = d("addBatch")
    out.layer("stream.wal_commit_ms") = d("walCommit")
    out.layer("stream.trigger_ms") = d("triggerExecution")
  }
}

trait Workload {
  /** Build the workload's inputs and artifacts and warm up. */
  def setup(ctx: Ctx): Unit
  /** Drive the system for the window (between `ctx.beginWindow` and
    * `ctx.endWindow`), then drain and check the outputs. */
  def run(ctx: Ctx): Unit
}

/** Benchmark process: one workload, one seed, one window.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --cores <n> --data <dir> --work <dir> --out <file>
  *        [--trace-out <file>] [--reference <file>]
  *        [--plant-sleep-ms <n>] [--plant-wrong-reference]
  *
  * Writes the raw outcome as JSON to `--out`; `perfbench/run.py` turns it
  * into metrics.
  */
object Main {
  val workloads: Map[String, Workload] = Map(
    "nibbler_push" -> NibblerPush,
    "sink_dedup" -> SinkDedup,
    "ops_breadth" -> OpsBreadth)

  def main(args: Array[String]): Unit = {
    val flags = Set("--plant-wrong-reference")
    val opts = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (flags(args(i))) { opts(args(i)) = "1"; i += 1 }
      else { opts(args(i)) = args(i + 1); i += 2 }
    }
    val name = opts("--workload")
    val workload = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val cores = opts("--cores").toInt
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val ctx = new Ctx(spark, opts("--seed").toLong, opts("--seconds").toInt,
      opts.get("--trace").contains("1"), opts("--data"), opts("--work"),
      opts.getOrElse("--reference", ""), opts.getOrElse("--plant-sleep-ms", "0").toInt,
      opts.contains("--plant-wrong-reference"))
    ctx.out.setup("setup.session_ms") = sessionMs
    workload.setup(ctx)
    workload.run(ctx)
    val o = ctx.out
    // after the workload has drained and stopped, so no micro-batch in
    // flight is counted: what stays is what caches and persist keep
    o.retainedHeapMb = Jvm.retainedHeapMb
    val env = Map("cores" -> cores, "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version, "workload" -> name, "seed" -> ctx.seed)
    val result = Map[String, Any](
      "env" -> env, "window_s" -> o.windowS, "latencies_ms" -> o.latMs,
      "completed" -> (if (o.completed < 0) o.latMs.size.toLong else o.completed),
      "attempted" -> o.attempted, "failed" -> o.failed, "failures" -> o.failures,
      "retained_heap_mb" -> o.retainedHeapMb, "setup" -> o.setup, "layer" -> o.layer,
      "per_op" -> o.perOp)
    Files.writeString(Paths.get(opts("--out")), Json(result))
    opts.get("--trace-out").filter(_ => ctx.trace).foreach(p => writeSpans(ctx, p))
    spark.stop()
  }

  /** One JSON line per span, with the Spark counters its jobs produced. */
  private def writeSpans(ctx: Ctx, path: String): Unit = {
    val perSpan = ctx.counters.spanSnapshot()
    val lines = ctx.tracer.spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json(Map[String, Any]("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> (s.startNs - ctx.w0Ns) / 1e6,
        "dur_ms" -> (if (s.endNs < 0) 0.0 else (s.endNs - s.startNs) / 1e6),
        "attrs" -> s.attrs.toMap, "spark" -> perSpan.getOrElse(s.id, Map.empty)))
    }
    val unattributed = perSpan.get(0L).map(m =>
      Json(Map("id" -> 0, "name" -> "unattributed", "spark" -> m))).toSeq
    Files.write(Paths.get(path), (lines ++ unattributed).asJava)
  }
}
