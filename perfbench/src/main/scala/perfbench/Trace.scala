package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sds.SdsStore

/** A timed interval at a layer boundary. `parent` is the span that caused
  * it (0 = none); spans of one batch or read share their root's id as
  * `root`. Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, root: Long, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var inputRecords = 0L
  var shuffleWrite = 0L
  var outputBytes = 0L
  var spill = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; inputRecords += o.inputRecords
    shuffleWrite += o.shuffleWrite; outputBytes += o.outputBytes; spill += o.spill
  }
}

/** Spans and counters for the traced run. Spans are kept in memory and
  * written once at the end. A span sets the Spark local property
  * `perfbench.span` on its thread, so every job it submits — including
  * jobs from threads it creates, which inherit local properties — is
  * attributed to the innermost open span. Jobs of a streaming micro-batch
  * outside any span fall to the batch's own span through the engine's
  * `streaming.sql.batchId` property.
  *
  * When disabled, `span` is a plain call: nothing is recorded and no
  * listener is registered. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(1)
  private val spanQueue = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val counters = new ConcurrentHashMap[java.lang.Long, Counters]()
  /** streaming batchId → span id of that micro-batch */
  private val streamSpan = new ConcurrentHashMap[java.lang.Long, java.lang.Long]()
  val progress: java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    new java.util.concurrent.ConcurrentLinkedQueue()

  def spans: Seq[Span] = spanQueue.asScala.toSeq
  def countersOf(id: Long): Counters = counters.getOrDefault(id, new Counters)

  /** Span id of the micro-batch `batchId` (allocated on first use). */
  def streamBatchSpan(batchId: Long): Long =
    streamSpan.computeIfAbsent(batchId, _ => nextId.getAndIncrement()).longValue()

  private def currentSpan: Long = Option(sc.getLocalProperty(SpanKey)).map(_.toLong)
    .orElse(Option(sc.getLocalProperty(BatchIdKey)).map(b => streamBatchSpan(b.toLong)))
    .getOrElse(0L)

  private def currentRoot: Long = Option(sc.getLocalProperty(RootKey)).map(_.toLong)
    .orElse(Option(sc.getLocalProperty(BatchIdKey)).map(b => streamBatchSpan(b.toLong)))
    .getOrElse(0L)

  /** Run `f` inside a span named `name`, child of the innermost open one. */
  def span[T](name: String)(f: => T): T = if (!enabled) f else {
    val id = nextId.getAndIncrement()
    val parent = currentSpan
    val root = if (parent == 0L) id else currentRoot
    val prevSpan = sc.getLocalProperty(SpanKey)
    val prevRoot = sc.getLocalProperty(RootKey)
    sc.setLocalProperty(SpanKey, id.toString)
    sc.setLocalProperty(RootKey, root.toString)
    val t0 = System.nanoTime()
    try f finally {
      spanQueue.add(Span(id, parent, root, name, t0, System.nanoTime()))
      sc.setLocalProperty(SpanKey, prevSpan)
      sc.setLocalProperty(RootKey, prevRoot)
    }
  }

  /** Record a span measured elsewhere (a micro-batch from its progress). */
  def record(s: Span): Unit = if (enabled) spanQueue.add(s)

  private def add(id: Long)(f: Counters => Unit): Unit =
    f(counters.computeIfAbsent(id, _ => new Counters))

  private def spanOf(props: java.util.Properties): Long =
    if (props == null) 0L
    else Option(props.getProperty(SpanKey)).map(_.toLong)
      .orElse(Option(props.getProperty(BatchIdKey)).map(b => streamBatchSpan(b.toLong)))
      .getOrElse(0L)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties)
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, id))
      add(id)(_.jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = Option(stageSpan.get(e.stageId)).fold(0L)(_.longValue())
      val m = e.taskMetrics
      // the listener bus delivers events on one thread: no locking
      add(id) { c =>
        c.tasks += 1
        if (m != null) {
          c.runMs += m.executorRunTime
          c.inputRecords += m.inputMetrics.recordsRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.outputBytes += m.outputMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
  }

  /** Register the listeners (traced runs only). The streaming listener is
    * registered on the session, the job listener on its context. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Sum counters over spans, by id. */
  def sumCounters(ids: Iterable[Long]): Counters = {
    val c = new Counters
    ids.foreach(id => c += countersOf(id))
    c
  }
  def allCounters: Counters = sumCounters(counters.keySet.asScala.map(_.longValue()))
}

object Tracer {
  val SpanKey = "perfbench.span"
  val RootKey = "perfbench.root"
  /** Local property the micro-batch engine sets on its thread. */
  val BatchIdKey = "streaming.sql.batchId"

  /** Total length of the union of intervals — the part of a parent span
    * that child spans cover, when children overlap (up to
    * `Pipeline.MergeParallelism` table merges run at once). */
  def unionNanos(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Pass-through `SdsStore` around the program's store. It records when
  * each `appendBlocks`/`compactBlocks` call returns and with which tag —
  * the moment a batch's blocks become queryable — and, in traced runs,
  * wraps every store call in a span. */
final class TapStore(inner: SdsStore, tracer: Tracer) extends SdsStore {
  private val commits = mutable.ArrayBuffer.empty[(Long, Long)] // (tag, return nanos)

  def table(name: String): DataFrame = tracer.span("store.table")(inner.table(name))
  def live(name: String): DataFrame = tracer.span("store.live")(inner.live(name))
  def applyMerged(name: String, merged: DataFrame, tag: Long): Unit =
    tracer.span("store.applyMerged")(inner.applyMerged(name, merged, tag))
  def compactTo(name: String, full: DataFrame, tag: Long): Unit =
    tracer.span("store.compactTo")(inner.compactTo(name, full, tag))
  def appendBlocks(batch: DataFrame, tag: Long): Unit = {
    tracer.span("store.appendBlocks")(inner.appendBlocks(batch, tag))
    committed(tag)
  }
  def compactBlocks(full: DataFrame, tag: Long): Unit = {
    tracer.span("store.compactBlocks")(inner.compactBlocks(full, tag))
    committed(tag)
  }

  private def committed(tag: Long): Unit = synchronized {
    commits += ((tag, System.nanoTime()))
    notifyAll()
  }

  def commitLog: Seq[(Long, Long)] = synchronized(commits.toSeq)

  /** Highest committed tag so far (0 before the first commit). */
  def lastTag: Long = synchronized(commits.lastOption.fold(0L)(_._1))

  /** First commit at or after `since` with tag ≥ `block`, if any. */
  def commitOf(block: Long, since: Long): Option[Long] = synchronized {
    commits.collectFirst { case (t, at) if at >= since && t >= block => at }
  }

  /** Wait until `commitOf(block, since)` exists, `stop` says give up, or
    * `timeoutMs` passes. */
  def await(block: Long, since: Long, timeoutMs: Long, stop: () => Boolean): Option[Long] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    synchronized {
      var hit = commitOf(block, since)
      while (hit.isEmpty && !stop() && System.nanoTime() < deadline) {
        wait(20)
        hit = commitOf(block, since)
      }
      hit
    }
  }
}
