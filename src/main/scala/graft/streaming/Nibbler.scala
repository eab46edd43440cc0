package graft.streaming

import java.util.concurrent.{CancellationException, CountDownLatch, ExecutionException, Executors, ExecutorService, FutureTask, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._
import scala.concurrent.TimeoutException
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger => SSTrigger}

/** Why a batch was flushed — mirrors the reference's two trigger kinds
  * (reference: nibbler.go:18-23).
  */
sealed trait Trigger
object Trigger {
  /** Flushed because the ticker fired with a non-empty batch. */
  case object Ticker extends Trigger
  /** Flushed because the batch reached `size` items. */
  case object BatchFull extends Trigger
}

object Nibbler {
  val DefaultSize = 100
  val DefaultTicker: FiniteDuration = 1.minute
  val DefaultTimeout: FiniteDuration = 1.second

  final class ValidationException(msg: String) extends IllegalArgumentException(msg)
  final class ReceiverClosedException
    extends IllegalStateException("receiver closed: nibbler stopped after processor failure")

  /** New + start in one call (reference: nibbler.go:188-197). */
  def start[T: Encoder](spark: SparkSession, cfg: NibblerConfig[T]): Nibbler[T] = {
    val n = new Nibbler[T](spark, cfg)
    n.start()
    n
  }
}

/** Cooperative cancellation handle for context-aware processors — the
  * analog of the reference's `ctx` carrying `ProcessingTimeout`
  * (nibbler.go:25, :103-106). `isCancelled` flips when the processing
  * deadline elapses (the worker thread is also interrupted), so a looping
  * processor can abort early. As in Go, cancellation is cooperative: a
  * processor that ignores it keeps running, its side effects may still
  * land after the batch was reported failed, and — because processing is
  * strictly serial (nibbler.go blocks until Processor returns) — the NEXT
  * batch waits until the stale invocation actually finishes.
  */
final class BatchContext private[streaming] (deadlineNanos: Long) {
  private[streaming] val cancelFlag = new AtomicBoolean(false)
  /** True once the processing deadline has passed (ctx.Done() analog). */
  def isCancelled: Boolean = cancelFlag.get()
  /** Time left before the processing deadline (ctx.Deadline() analog). */
  def remaining: FiniteDuration =
    math.max(0L, deadlineNanos - System.nanoTime()).nanos
}

/** Config for the micro-batch processor (reference: nibbler.go:27-46).
  *
  * Defaults mirror the reference's `Sanitize` (nibbler.go:48-60):
  * sub-millisecond timeout -> 1s, sub-millisecond ticker -> 1m, size 0 -> 100.
  * A missing processor fails validation (nibbler.go:62-68).
  *
  * Exactly one of `processor` (plain) or `ctxProcessor` (receives the
  * [[BatchContext]] cancellation handle, mirroring the reference's
  * `Processor(ctx, trigger, batch)` signature) must be set.
  */
final case class NibblerConfig[T](
    processor: (Trigger, Seq[T]) => Unit = null,
    size: Int = 0,
    tickerDuration: Duration = Duration.Zero,
    processingTimeout: Duration = Duration.Zero,
    resumeAfterErr: Boolean = false,
    onError: (Seq[T], Throwable) => Unit = null,
    ctxProcessor: (BatchContext, Trigger, Seq[T]) => Unit = null) {

  def sanitized: NibblerConfig[T] =
    copy(
      size = if (size <= 0) Nibbler.DefaultSize else size,
      tickerDuration =
        if (tickerDuration < 1.milli) Nibbler.DefaultTicker else tickerDuration,
      processingTimeout =
        if (processingTimeout < 1.milli) Nibbler.DefaultTimeout else processingTimeout)

  def validate(): Unit = {
    if (processor == null && ctxProcessor == null)
      throw new Nibbler.ValidationException("batch processor cannot be empty")
    if (processor != null && ctxProcessor != null)
      throw new Nibbler.ValidationException(
        "set exactly one of processor and ctxProcessor")
  }
}

/** Embedded micro-batch processor: the reference's `Nibbler[T]`
  * (nibbler.go:75-197) re-expressed on Structured Streaming.
  *
  * Receiver -> `MemoryStream[T]` (a real streaming source); the listen loop
  * is a `StreamingQuery` with a processing-time trigger equal to the ticker
  * duration; each micro-batch is split into `size`-capped slices — full
  * slices flush immediately as `BatchFull` (reference: nibbler.go:160-165),
  * the remainder is carried and flushed by the ticker as `Ticker`
  * (reference: nibbler.go:153-158). Batches are reset only after successful
  * processing (nibbler.go:111-114); on processor error or exception the
  * failure callback runs and `resumeAfterErr` decides continue-vs-stop
  * (nibbler.go:137-149).
  *
  * Each micro-batch is one partition, so one Spark task, however many
  * pushes it holds. Its offset and commit logs go through the session's
  * checkpoint manager: a [[graft.GraftSession]] session registers
  * [[LocalCheckpointFileManager]], which writes them without forking
  * processes; a session built elsewhere keeps Spark's default manager and
  * its per-write `chmod`/`readlink` forks (about 90 ms per micro-batch
  * without libhadoop).
  *
  * Scale note: this class is the embedded, in-app API (driver-side batches,
  * like the reference — batches are `size` items by contract). For
  * cluster-scale streams use [[NibblerSink]], which applies the same
  * size+ticker semantics to distributed `Dataset` micro-batches without
  * collecting to the driver.
  */
final class Nibbler[T: Encoder](spark: SparkSession, rawCfg: NibblerConfig[T]) {
  rawCfg.validate()
  private val cfg = rawCfg.sanitized

  private implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
  /** One partition per micro-batch: without `numPartitions`, MemoryStream
    * plans one input partition per `addData` call, i.e. one Spark task
    * per pushed item, and the batch is collected to the driver anyway.
    */
  private val source = MemoryStream[T](1)
  private val lock = new Object
  private val carry = ArrayBuffer.empty[T]
  private val stopped = new AtomicBoolean(false)
  @volatile private var query: StreamingQuery = _
  private var ticker: ScheduledExecutorService = _
  /** Dedicated single-thread processor executor: invocations queue here,
    * which makes processing strictly serial like the reference's listen
    * loop (nibbler.go blocks until Processor returns) — even a timed-out
    * invocation that ignores cancellation is waited out by the next
    * flush's task before it can start.
    */
  private val worker: ExecutorService = Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "nibbler-processor"); t.setDaemon(true); t
  })
  /** Released when the latest processor invocation has left the worker.
    * `FutureTask.get` can't be used to wait out a STALE invocation:
    * cancel flips get() to throw immediately while the runnable keeps
    * executing.
    */
  @volatile private var inFlight: CountDownLatch = null

  /** Backpressure permits — the reference's buffered channel capacity
    * (`make(chan T, cfg.Size)`, nibbler.go:184): a producer blocks once
    * `size` pushed items are un-drained (not yet received by the listen
    * loop's foreachBatch); the drain releases them. Closed exactly once on
    * stop so blocked producers wake and observe the closed receiver
    * instead of hanging. The capacity is clamped to Int.MaxValue/4:
    * closeReceiver releases Int.MaxValue/2 permits, and Semaphore.release
    * throws past Int.MaxValue total permits.
    */
  private val permits = new java.util.concurrent.Semaphore(math.min(cfg.size, Int.MaxValue / 4))
  private val receiverClosed = new AtomicBoolean(false)
  private def closeReceiver(): Unit =
    if (receiverClosed.compareAndSet(false, true))
      permits.release(Int.MaxValue / 2)

  /** Push one item (reference `Receiver()`, nibbler.go:120-122). BLOCKS
    * once `size` pushed items are un-drained (channel-send semantics,
    * see [[pushAll]]) — in particular, pushing more than `size` items
    * before [[start]] blocks until started.
    * Throws [[Nibbler.ReceiverClosedException]] once the nibbler has
    * stopped after a non-resumable failure — the analog of "send on
    * closed channel".
    */
  def push(item: T): Unit = pushAll(Seq(item))

  /** Push items, BLOCKING per item once `size` are un-drained
    * (the reference's channel-send semantics — a fast producer cannot
    * queue without bound). Items accepted before the block are in the
    * stream, exactly like a partially-completed sequence of channel sends.
    */
  def pushAll(items: Seq[T]): Unit = {
    if (stopped.get()) throw new Nibbler.ReceiverClosedException
    items.foreach { item =>
      permits.acquire()
      if (stopped.get()) {
        permits.release()
        throw new Nibbler.ReceiverClosedException
      }
      source.addData(item)
    }
  }

  def isActive: Boolean = !stopped.get() && query != null && query.isActive

  /** Start listening (reference `Listen()`, nibbler.go:125-150).
    *
    * The QUERY trigger is a fast poll, NOT the ticker: the reference
    * checks batch fullness on every arrival (nibbler.go:160-165), so
    * arrivals must reach foreachBatch promptly — a trigger equal to the
    * ticker would delay full-batch flushes (and drain calls) by up to a
    * whole ticker period. Ticker semantics live in the carry buffer +
    * ticker thread.
    */
  def start(): this.type = {
    val tickMs = cfg.tickerDuration.toMillis
    val pollMs = math.max(1L, math.min(tickMs, 50L))
    query = source.toDS().writeStream
      .queryName(s"nibbler-${System.identityHashCode(this)}")
      .trigger(SSTrigger.ProcessingTime(pollMs))
      .outputMode("append")
      .foreachBatch { (batch: Dataset[T], _: Long) =>
        val items = batch.collect()
        // items have LEFT the channel (the reference's listen loop
        // received them) — free their capacity before processing, like
        // a channel receive does
        if (items.nonEmpty && !receiverClosed.get()) permits.release(items.length)
        lock.synchronized {
          if (!stopped.get()) {
            carry ++= items
            while (carry.length >= cfg.size && !stopped.get())
              flushLocked(Trigger.BatchFull, cfg.size)
          }
        }
      }
      .start()
    ticker = Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "nibbler-ticker"); t.setDaemon(true); t
    })
    ticker.scheduleAtFixedRate(() => tick(), tickMs, tickMs, TimeUnit.MILLISECONDS)
    this
  }

  /** Ticker flush of a non-empty partial batch (nibbler.go:153-158). */
  private def tick(): Unit = lock.synchronized {
    if (!stopped.get() && carry.nonEmpty) flushLocked(Trigger.Ticker, carry.length)
  }

  /** Process `n` items under the processing timeout; reset them from the
    * carry buffer only on success (nibbler.go:98-117). Must hold `lock`.
    *
    * The invocation runs on the dedicated single-thread worker. On timeout
    * the batch context's cancel flag flips and the worker thread is
    * interrupted (FutureTask.cancel(true)) — a cooperative processor
    * observes either within ProcessingTimeout; one that ignores both keeps
    * running (its side effects may still land, as in Go), but strict
    * serialization holds: the next flush's task queues behind it.
    */
  private def flushLocked(trigger: Trigger, n: Int): Unit = {
    // Strictly-serial contract: wait out any stale (timed-out but still
    // running) invocation BEFORE starting this one, so the worker is idle
    // at submission (the invocation starts immediately and its timeout
    // clock measures actual processing) — the reference's listen loop
    // likewise blocks until Processor returns, however late.
    val prev = inFlight
    if (prev != null) prev.await()
    val slice = carry.take(n).toVector
    val ctx = new BatchContext(System.nanoTime() + cfg.processingTimeout.toNanos)
    val exited = new CountDownLatch(1)
    // Count down in run(), not in the callable: a task cancelled on
    // timeout before the worker picked it up never runs its callable, but
    // the executor still calls run() — otherwise the next flush would
    // wait on `exited` forever while holding `lock`.
    val task = new FutureTask[Unit](() =>
      if (cfg.ctxProcessor != null) cfg.ctxProcessor(ctx, trigger, slice)
      else cfg.processor(trigger, slice)) {
      override def run(): Unit = try super.run() finally exited.countDown()
    }
    worker.execute(task)
    inFlight = exited
    val result =
      try {
        task.get(cfg.processingTimeout.toNanos, TimeUnit.NANOSECONDS)
        None
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          ctx.cancelFlag.set(true)
          task.cancel(true) // interrupt the worker thread
          Some(new TimeoutException(
            s"processor exceeded processingTimeout=${cfg.processingTimeout}"))
        case e: ExecutionException =>
          Some(if (e.getCause != null) e.getCause else e) // panic recovery (nibbler.go:81-96)
        case e @ (_: CancellationException | _: InterruptedException) => Some(e)
        case NonFatal(e) => Some(e)
      }
    result match {
      case None =>
        carry.remove(0, n)
      case Some(err) =>
        if (cfg.onError != null)
          try cfg.onError(slice, err) catch { case NonFatal(_) => () }
        if (cfg.resumeAfterErr) {
          // Skip past the failed batch (nibbler.go:146-148).
          carry.remove(0, n)
        } else {
          stopped.set(true)
          closeReceiver() // wake blocked producers -> ReceiverClosedException
          carry.clear()
          stopAsync()
        }
    }
  }

  private def stopAsync(): Unit = {
    val q = query
    val t = ticker
    new Thread(() => {
      try if (q != null && q.isActive) q.stop() catch { case NonFatal(_) => () }
      if (t != null) t.shutdown()
      worker.shutdown() // in-flight invocation may finish; nothing new starts
    }, "nibbler-stopper").start()
  }

  /** Drain everything already pushed through the processor (test/shutdown
    * aid; the reference's tests sleep instead).
    */
  def awaitIdle(): Unit = processAllAvailable()

  def processAllAvailable(): Unit = {
    val q = query
    if (q != null && q.isActive)
      try q.processAllAvailable() catch { case NonFatal(_) => () }
  }

  /** Flush any carried partial batch as a ticker flush, then stop. Safe to
    * call from user threads (never from inside the processor).
    */
  def stop(): Unit = {
    processAllAvailable()
    lock.synchronized {
      if (!stopped.get() && carry.nonEmpty) flushLocked(Trigger.Ticker, carry.length)
      stopped.set(true)
    }
    closeReceiver()
    val q = query
    try if (q != null && q.isActive) q.stop() catch { case NonFatal(_) => () }
    if (ticker != null) ticker.shutdown()
    worker.shutdown()
  }
}
