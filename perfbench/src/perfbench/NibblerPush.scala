package perfbench

import java.util.concurrent.CountDownLatch

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Encoder, Encoders}

import graft.streaming.{Nibbler, NibblerConfig, Trigger}

/** A pushed item: its sequence number and when it was handed to `push`. */
final case class Item(seq: Long, pushNs: Long)

/** Closed loop: one producer thread feeds `Nibbler` with the reference
  * defaults (size 100, ticker 1 min, timeout 1 s, receiver capacity = size)
  * in chunks of 1, 10, 100 or 1000 items; chunks of one go through `push`,
  * the others through `pushAll`. The producer pushes decks of four calls,
  * one of each size, in a seed-drawn order. The window opens at a deck
  * boundary after warm-up and closes at the first deck boundary at least
  * `--seconds` later, so every window holds whole decks: the same mix of
  * chunk sizes whatever the seed.
  *
  * The processor checks order and computes a checksum. An operation is one
  * item delivered to the processor; `ops_per_s` counts the items whose
  * processor invocation starts in the window. Latency runs from the push
  * call to the start of the processor invocation holding the item, for
  * every item pushed in the window. The producer keeps pushing after the
  * window until all of those items have been delivered, so none waits for
  * the final ticker flush.
  */
object NibblerPush extends Workload {
  val Size = 100
  val Chunks = Array(1, 10, 100, 1000)
  val WarmupMs = 10000L

  private final case class Flush(startNs: Long, endNs: Long, trigger: Trigger, n: Int,
      firstSeq: Long, pushNs: Array[Long])
  private final case class Call(firstSeq: Long, n: Int, startNs: Long, endNs: Long)

  private implicit val enc: Encoder[Item] = Encoders.product[Item]
  private val flushes = ArrayBuffer.empty[Flush]
  private val calls = ArrayBuffer.empty[Call]
  @volatile private var stopProducer = false
  @volatile private var openRequested = false
  private val opened = new CountDownLatch(1)
  private val closed = new CountDownLatch(1)
  /** Sequence numbers of the first item pushed in the window and the first
    * one pushed after it. */
  @volatile private var winFirst = 0L
  @volatile private var winEnd = Long.MaxValue
  @volatile private var pushed = 0L
  @volatile private var expected = 0L
  @volatile private var checksum = 0L
  private var nibbler: Nibbler[Item] = _
  private var producer: Thread = _

  private def process(ctx: Ctx)(trigger: Trigger, items: Seq[Item]): Unit = {
    val start = System.nanoTime()
    val span = ctx.tracer.start("nibbler.processor")
    ctx.planted()
    items.foreach { it =>
      if (it.seq != expected) {
        ctx.out.fail(s"item ${it.seq} delivered where ${expected} was due")
        expected = math.max(expected, it.seq + 1)
      } else expected += 1
      checksum = checksum * 31 + it.seq
    }
    ctx.tracer.end(span)
    if (span != null) span.add("items", items.size)
    flushes.synchronized {
      flushes += Flush(start, System.nanoTime(), trigger, items.size, items.head.seq,
        items.iterator.map(_.pushNs).toArray)
    }
  }

  def setup(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    nibbler = Nibbler.start(ctx.spark, NibblerConfig[Item](
      processor = process(ctx),
      size = Size, tickerDuration = 1.minute, processingTimeout = 1.second,
      onError = (batch, e) => ctx.out.fail(s"processor error on ${batch.size} items: $e", batch.size)))
    ctx.out.setup("setup.artifact_ms") = (System.nanoTime() - t0) / 1e6
    val rng = new Random(ctx.seed)
    def pushChunk(n: Int): Unit = {
      val first = pushed
      val start = System.nanoTime()
      val op = ctx.tracer.start("nibbler.chunk")
      val push = ctx.tracer.start("nibbler.push", op)
      if (n == 1) nibbler.push(Item(first, start))
      else nibbler.pushAll((0 until n).map(i => Item(first + i, start)))
      ctx.tracer.end(push)
      ctx.tracer.end(op)
      if (op != null) op.add("items", n)
      pushed = first + n
      calls.synchronized(calls += Call(first, n, start, System.nanoTime()))
    }
    producer = new Thread(() => {
      try {
        while (!stopProducer) {
          if (openRequested && opened.getCount > 0) {
            ctx.beginWindow()
            winFirst = pushed
            opened.countDown()
          }
          rng.shuffle(Chunks.toSeq).foreach(n => if (!stopProducer) pushChunk(n))
          if (opened.getCount == 0 && closed.getCount > 0 &&
              System.nanoTime() - ctx.w0Ns >= ctx.seconds * 1000000000L) {
            winEnd = pushed
            ctx.endWindow()
            closed.countDown()
          }
        }
      } catch {
        case NonFatal(e) => ctx.out.fail(s"producer stopped: $e")
      }
      opened.countDown()
      closed.countDown()
    }, "perfbench-producer")
    val w0 = System.nanoTime()
    producer.start()
    Thread.sleep(WarmupMs)
    ctx.out.setup("setup.warmup_ms") = (System.nanoTime() - w0) / 1e6
  }

  def run(ctx: Ctx): Unit = {
    openRequested = true
    closed.await()
    ctx.streamInWindow()
    if (ctx.trace) ctx.addPlanPhases(ctx.plansInWindow())
    val deadline = System.nanoTime() + 60000000000L
    while (expected < winEnd && producer.isAlive && System.nanoTime() < deadline) Thread.sleep(20)
    stopProducer = true
    producer.join()
    nibbler.stop() // drains what was pushed, then flushes the carry
    val o = ctx.out
    o.attempted = pushed
    if (expected != pushed)
      o.fail(s"${pushed - expected} items never reached the processor", pushed - expected)
    val fs = flushes.synchronized(flushes.toVector)
    val inWin = fs.filter(f => ctx.inWindow(f.startNs))
    inWin.filter(f => f.trigger != Trigger.BatchFull || f.n != Size).foreach { f =>
      o.fail(s"in-window flush of ${f.n} items by ${f.trigger}", f.n)
    }
    o.completed = inWin.map(_.n).sum.toLong
    for (f <- fs; k <- 0 until f.n if f.firstSeq + k >= winFirst && f.firstSeq + k < winEnd)
      o.latMs += (f.startNs - f.pushNs(k)) / 1e6
    if (ctx.trace) layerMetrics(ctx, inWin)
  }

  private def layerMetrics(ctx: Ctx, inWin: Seq[Flush]): Unit = {
    val cs = calls.synchronized(calls.toVector)
    val winCalls = cs.filter(c => ctx.inWindow(c.startNs))
    val block = winCalls.map(c => (c.endNs - c.startNs) / 1e6)
    val l = ctx.out.layer
    l("nibbler.push.calls") = winCalls.size.toDouble
    l("nibbler.push.block_ms") = block.sum
    l("nibbler.push.block_p99_ms") = Stats.quantile(block, 0.99)
    // push return -> processor start, per item (0 when the processor took
    // the item before its pushAll call returned)
    val starts = cs.map(_.firstSeq).toArray
    val waits = for (f <- inWin; k <- 0 until f.n) yield {
      val i = java.util.Arrays.binarySearch(starts, f.firstSeq + k) match {
        case j if j >= 0 => j
        case j => -j - 2
      }
      if (i < 0) 0.0 else math.max(0.0, (f.startNs - cs(i).endNs) / 1e6)
    }
    l("nibbler.queue_wait_ms") = Stats.quantile(waits, 0.5)
    l("nibbler.flush.batch_full") = inWin.count(_.trigger == Trigger.BatchFull).toDouble
    l("nibbler.flush.ticker") = inWin.count(_.trigger == Trigger.Ticker).toDouble
    l("nibbler.flush.items_mean") =
      if (inWin.isEmpty) 0.0 else inWin.map(_.n).sum.toDouble / inWin.size
    l("nibbler.processor.busy_ms") = inWin.map(f => (f.endNs - f.startNs) / 1e6).sum
  }
}

object Stats {
  /** Nearest-rank quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
}
