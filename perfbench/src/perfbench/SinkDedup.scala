package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.Dedup
import graft.streaming.{NibblerSink, SourcePresets, Trigger}

/** Open loop: a generator thread drops one JSONL file of documents into a
  * `SourcePresets.jsonlDir` directory every `PeriodMs`, whatever the sink
  * does. The seed decides which sf0.1 `documents` rows are copied verbatim,
  * which are lightly edited and which documents are fresh. `NibblerSink`
  * runs a processor that calls `Dedup.incrementalNearDupsFromArtifact`
  * against the artifact `Dedup.writeMinhashArtifact` wrote during set-up.
  * An operation is one document whose dedup result has landed; its latency
  * runs from the time its file was due until its micro-batch's processor
  * returns.
  */
object SinkDedup extends Workload {
  val PeriodMs = 250L
  val PerFile = 10
  val TriggerMs = 2000L
  val FullSize = 100L
  val WarmupMs = 6000L
  val DrainTimeoutMs = 60000L
  val IdBase = 1000000000L
  val Schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("created_ms", LongType)))

  private final case class Doc(dueNs: Long, kind: String, src: Long)
  private final case class Batch(startNs: Long, endNs: Long, trigger: Trigger,
      buildMs: Double, execMs: Double, pairs: Int)
  private final case class FileRec(dueNs: Long, lateMs: Double, backlogFiles: Double)

  private val docs = new ConcurrentHashMap[Long, Doc]()
  private val landings = new ConcurrentHashMap[Long, Integer]()
  private val landedNs = new ConcurrentHashMap[Long, Long]()
  private val matches = ConcurrentHashMap.newKeySet[(Long, Long)]()
  private val batches = ArrayBuffer.empty[Batch]
  private val files = ArrayBuffer.empty[FileRec]
  @volatile private var stopGenerator = false
  private var generator: Thread = _
  private var query: StreamingQuery = _
  private var artifact: DataFrame = _

  private def process(ctx: Ctx)(trigger: Trigger, batch: Dataset[Row]): Unit = {
    val start = System.nanoTime()
    val op = ctx.tracer.start("sink.batch")
    ctx.planted()
    val ids = ctx.tracer.span("sink.ids", op)(_ =>
      batch.select("doc_id").collect().map(_.getLong(0)))
    val b0 = System.nanoTime()
    val frame = ctx.tracer.span("dedup.build", op)(_ =>
      Dedup.incrementalNearDupsFromArtifact(batch.select("doc_id", "text"), artifact))
    val b1 = System.nanoTime()
    val pairs = ctx.tracer.span("dedup.exec", op)(_ =>
      frame.select("new_id", "corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))))
    val end = System.nanoTime()
    ctx.tracer.end(op)
    pairs.foreach(matches.add)
    ids.foreach { id =>
      landings.merge(id, 1, (a, b) => a + b)
      landedNs.put(id, end)
    }
    batches.synchronized {
      batches += Batch(start, end, trigger, (b1 - b0) / 1e6, (end - b1) / 1e6, pairs.length)
    }
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val corpusDf = spark.read.parquet(s"${ctx.dataDir}/sf0.1/documents.parquet")
    val corpus = corpusDf.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).filter(_._2 != null)
    val path = s"${ctx.workDir}/minhash"
    Dedup.writeMinhashArtifact(corpusDf, path)
    artifact = spark.read.parquet(path)
    ctx.out.setup("setup.artifact_ms") = (System.nanoTime() - t0) / 1e6

    val inbox = Files.createDirectories(Paths.get(ctx.workDir, "inbox"))
    val staging = Files.createDirectories(Paths.get(ctx.workDir, "staging"))
    query = NibblerSink.start(SourcePresets.jsonlDir(spark, inbox.toString, Schema),
      NibblerSink.Config[Row](process(ctx), size = FullSize, tickerDuration = TriggerMs.millis))

    // verbatim copies come from documents long enough to carry shingles
    val copyable = corpus.filter(_._2.trim.split("\\s+").length >= 5)
    val vocab = corpus.flatMap(_._2.trim.split("\\s+")).distinct.sorted
    val lengths = corpus.map(_._2.trim.split("\\s+").length)
    val rng = new Random(ctx.seed)
    def nextDoc(): (String, String, Long) = {
      val r = rng.nextDouble()
      if (r < 0.3) {
        val (id, text) = copyable(rng.nextInt(copyable.length))
        ("verbatim", text, id)
      } else if (r < 0.6) {
        val (id, text) = copyable(rng.nextInt(copyable.length))
        val toks = text.split(" ")
        toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.length))
        ("edited", toks.mkString(" "), id)
      } else {
        val n = lengths(rng.nextInt(lengths.length))
        ("fresh", Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" "), -1L)
      }
    }
    val g0 = System.nanoTime()
    generator = new Thread(() => {
      var k = 0L
      while (!stopGenerator) {
        val due = g0 + k * PeriodMs * 1000000L
        val wait = (due - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        val lines = (0 until PerFile).map { j =>
          val id = IdBase + k * PerFile + j
          val (kind, text, src) = nextDoc()
          docs.put(id, Doc(due, kind, src))
          Json(Map("doc_id" -> id, "text" -> text, "created_ms" -> System.currentTimeMillis()))
        }
        val tmp = staging.resolve(f"part-$k%08d.jsonl")
        Files.write(tmp, lines.asJava)
        Files.move(tmp, inbox.resolve(tmp.getFileName), StandardCopyOption.ATOMIC_MOVE)
        val backlog = (docs.size - landedNs.size).toDouble / PerFile
        files.synchronized(files += FileRec(due, (System.nanoTime() - due) / 1e6, backlog))
        k += 1
      }
    }, "perfbench-generator")
    val w0 = System.nanoTime()
    generator.start()
    Thread.sleep(WarmupMs)
    ctx.out.setup("setup.warmup_ms") = (System.nanoTime() - w0) / 1e6
  }

  def run(ctx: Ctx): Unit = {
    ctx.beginWindow()
    Thread.sleep(ctx.seconds * 1000L)
    ctx.endWindow()
    ctx.streamInWindow()
    if (ctx.trace) ctx.addPlanPhases(ctx.plansInWindow())
    stopGenerator = true
    generator.join()
    val deadline = System.nanoTime() + DrainTimeoutMs * 1000000L
    while (landedNs.size < docs.size && System.nanoTime() < deadline && query.isActive)
      Thread.sleep(50)
    val err = query.exception
    query.stop()
    val o = ctx.out
    err.foreach(e => o.fail(s"sink query failed: ${e.getMessage}"))
    o.attempted = docs.size
    val all = docs.asScala
    val missing = all.keys.count(id => !landings.containsKey(id))
    if (missing > 0) o.fail(s"$missing documents never landed", missing)
    landings.asScala.foreach { case (id, n) =>
      if (!docs.containsKey(id)) o.fail(s"document $id landed but was never written")
      else if (n > 1) o.fail(s"document $id landed in $n batches")
    }
    val verbatim = all.filter(_._2.kind == "verbatim")
    val notFound = verbatim.count { case (id, d) => !matches.contains((id, d.src)) }
    if (notFound > 0) o.fail(s"$notFound verbatim copies not found", notFound)
    for ((id, d) <- all if ctx.inWindow(d.dueNs) && landedNs.containsKey(id))
      o.latMs += (landedNs.get(id) - d.dueNs) / 1e6
    if (ctx.trace) {
      val l = o.layer
      val bs = batches.synchronized(batches.toVector).filter(b => ctx.inWindow(b.startNs))
      val fs = files.synchronized(files.toVector).filter(f => ctx.inWindow(f.dueNs))
      l("source.files_written") = fs.size.toDouble
      l("source.backlog_files_max") = if (fs.isEmpty) 0.0 else fs.map(_.backlogFiles).max
      l("generator.late_ms_p99") = Stats.quantile(fs.map(_.lateMs), 0.99)
      l("sink.flush.batch_full") = bs.count(_.trigger == Trigger.BatchFull).toDouble
      l("sink.flush.ticker") = bs.count(_.trigger == Trigger.Ticker).toDouble
      l("sink.processor_ms") = bs.map(b => (b.endNs - b.startNs) / 1e6).sum
      l("dedup.build_ms") = bs.map(_.buildMs).sum
      l("dedup.exec_ms") = bs.map(_.execMs).sum
      l("dedup.pairs") = bs.map(_.pairs).sum.toDouble
      l("dedup.exact_found_ratio") =
        if (verbatim.isEmpty) 1.0 else (verbatim.size - notFound).toDouble / verbatim.size
    }
  }
}
