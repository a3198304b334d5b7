package perfbench

import graft.cdc.{ChunkKey, LogRecord, SnapshotSplit, TableId}
import graft.cdc.provider.{ChangeLogProvider, ForwardingChangeLogProvider}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One recorded interval. `parent` is the id of the span that caused it
  * (0 = none); `batch` the micro-batch id, or -1 outside a stream batch. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long, batch: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def json: String =
    s"""{"id":$id,"name":"$name","start_ns":$startNs,"end_ns":$endNs,"parent":$parent,"batch":$batch}"""
}

/** In-memory span store, written out once when the benchmark ends. Spans
  * are recorded from the benchmark's own code around calls into each
  * layer; a disabled tracer records nothing and costs one branch. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  /** The innermost open span of the querying thread: provider calls made from Spark's
    * executor threads take it as their parent. */
  val current = new AtomicReference[(Long, Long)]((0L, -1L)) // (span id, batch)

  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  def nextId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = if (enabled) spans.add(s)
  def counter(name: String): AtomicLong = counters.computeIfAbsent(name, _ => new AtomicLong())
  /** Forget everything recorded so far (the untimed warm-up). */
  def clear(): Unit = { spans.clear(); counters.clear() }

  /** Time `body` as a span that becomes the parent of spans opened inside it. */
  def span[T](name: String, batch: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val outer = current.get()
      current.set((id, if (batch >= 0) batch else outer._2))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), outer._1, if (batch >= 0) batch else outer._2))
        current.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(n: String): Seq[Span] = all.filter(_.name == n)
  def totalMs(n: String): Double = named(n).map(_.ms).sum

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, all.sortBy(_.startNs).map(_.json).asJava)
  }
}

/** Times every ChangeLogProvider SPI call and wraps the returned iterators
  * to count their records and the time spent inside them. Registered
  * through ProviderRegistry and selected with `provider.name`. */
final class TracedProvider(inner: ChangeLogProvider, tr: Tracer)
    extends ForwardingChangeLogProvider {
  override protected def delegate: ChangeLogProvider = inner
  private val touched = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** A call's span is `provider.first_touch` if it is the first call on
    * this provider (it builds the file indexes), else `name`. */
  private def timed[T](name: String)(body: => T): T = {
    val n = if (touched.compareAndSet(false, true)) "provider.first_touch" else name
    val (parent, batch) = tr.current.get()
    val t0 = System.nanoTime()
    try body finally tr.record(Span(tr.nextId(), n, t0, System.nanoTime(), parent, batch))
  }

  override def currentOffset: Long = timed("provider.current_offset")(super.currentOffset)
  override def keyBounds(t: TableId): (ChunkKey.Key, ChunkKey.Key, Long) =
    timed("provider.plan_probe")(super.keyBounds(t))
  override def nextChunkEnd(t: TableId, from: ChunkKey.Key, chunkSize: Int): Option[ChunkKey.Key] =
    timed("provider.plan_probe")(super.nextChunkEnd(t, from, chunkSize))
  override def logEventsApprox(t: TableId, from: Long, to: Long): Long =
    timed("provider.plan_probe")(super.logEventsApprox(t, from, to))
  override def logShardBoundaries(t: TableId, from: Long, to: Long, n: Int): Seq[ChunkKey.Key] =
    timed("provider.plan_probe")(super.logShardBoundaries(t, from, to, n))
  override def snapshotBase(t: TableId, range: SnapshotSplit): (Long, Iterator[Array[Any]]) = {
    val (off, it) = timed("provider.plan_probe")(super.snapshotBase(t, range))
    (off, new TimedIterator(it, "provider.snapshot_read", tr))
  }
  override def log(t: TableId, from: Long, to: Long): Iterator[LogRecord] =
    new TimedIterator(timed("provider.plan_probe")(super.log(t, from, to)), "provider.log_read", tr)
  override def logForRange(t: TableId, from: Long, to: Long, range: SnapshotSplit): Iterator[LogRecord] =
    new TimedIterator(timed("provider.plan_probe")(super.logForRange(t, from, to, range)),
      "provider.log_read", tr)
}

/** Counts records and busy time of one provider iterator. Its live
  * interval (first access to exhaustion or close) is recorded as a span,
  * the busy time and record count as counters keyed by the span name. */
final class TimedIterator[T](under: Iterator[T], name: String, tr: Tracer)
    extends Iterator[T] with AutoCloseable {
  private val (parent, batch) = tr.current.get()
  private var first = 0L
  private var last = 0L
  private var busy = 0L
  private var n = 0L
  private var done = false

  private def enter(): Long = { val t = System.nanoTime(); if (first == 0L) first = t; t }
  private def exit(t0: Long): Unit = { last = System.nanoTime(); busy += last - t0 }
  override def hasNext: Boolean = {
    val t0 = enter()
    val h = try under.hasNext finally exit(t0)
    if (!h) finish()
    h
  }
  override def next(): T = {
    val t0 = enter()
    try { val v = under.next(); n += 1; v } finally exit(t0)
  }
  override def close(): Unit = {
    under match { case c: AutoCloseable => c.close(); case _ => () }
    finish()
  }
  private def finish(): Unit = if (!done && first != 0L) {
    done = true
    tr.record(Span(tr.nextId(), name, first, last, parent, batch))
    tr.counter(s"$name.busy_ns").addAndGet(busy)
    tr.counter(s"$name.records").addAndGet(n)
  }
}

/** Task-level counters of the Spark engine, summed over every job that
  * ran while the listener was attached. */
final class SparkCounters extends SparkListener {
  val tasks = new AtomicLong(); val runMs = new AtomicLong(); val cpuNs = new AtomicLong()
  val gcMs = new AtomicLong(); val shuffleWrite = new AtomicLong(); val spill = new AtomicLong()
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime); cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime); shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    synchronized {
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  /** max / median task time of the stage with the most tasks. */
  def taskSkew: Double = synchronized {
    if (stageTaskMs.isEmpty) 0.0
    else {
      val widest = stageTaskMs.values.maxBy(_.size).map(_.toDouble).toSeq
      val med = Stats.median(widest)
      if (med <= 0) 1.0 else widest.max / med
    }
  }
}

/** Collects StreamingQueryProgress of every query as the engine reports it. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** Highest source end offset any reported batch has committed. */
  @volatile var lastLogPos = -1L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    q.add(e.progress)
    lastLogPos = math.max(lastLogPos, ProgressLog.logPos(e.progress))
  }
  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    q.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
  def all: Seq[StreamingQueryProgress] = q.asScala.toSeq
  def clear(): Unit = { q.clear(); lastLogPos = -1L }
}

object ProgressLog {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  /** End offset `logPos` of the cdc-log source in a progress record. */
  def logPos(p: StreamingQueryProgress): Long =
    if (p.sources.isEmpty || p.sources.head.endOffset == null) -1L
    else mapper.readTree(p.sources.head.endOffset).get("logPos").asLong()
  /** Wall-clock ms at which the batch's trigger finished (commit included). */
  def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution")
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
}
