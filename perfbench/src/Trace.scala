package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Spark work attributed to one bucket (a span, a layer, a window). */
final class Counts {
  val jobs, stages, tasks, runMs, cpuNs, inBytes, inRecords,
      shuffleRead, shuffleWrite, outRecords = new AtomicLong

  def json: String =
    s"""{"jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},""" +
      s""""run_ms":${runMs.get},"cpu_ms":${cpuNs.get / 1000000},""" +
      s""""input_bytes":${inBytes.get},"input_records":${inRecords.get},""" +
      s""""shuffle_read_bytes":${shuffleRead.get},""" +
      s""""shuffle_write_bytes":${shuffleWrite.get},""" +
      s""""output_records":${outRecords.get}}"""
}

/** One timed call into a layer's public function. Spans of one sampled
  * request share `req`; `parent` names the span that wraps this one. */
final case class Span(req: Int, name: String, parent: String,
    startNs: Long, endNs: Long, counts: Counts) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Attributes Spark jobs, stages and tasks to buckets: the traced window,
  * the streaming query's jobs (they carry `sql.streaming.queryId`), and
  * the span in flight, if any. Registered only for traced runs. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val window, stream = new Counts
  @volatile private var current: Counts = null
  private val stageBuckets = new ConcurrentHashMap[Int, Seq[Counts]]()
  val spans = ArrayBuffer.empty[Span]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val streaming = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
    val buckets = Seq(window) ++ (if (streaming) Seq(stream) else Nil) ++ Option(current)
    buckets.foreach(_.jobs.incrementAndGet())
    e.stageIds.foreach(id => stageBuckets.put(id, buckets))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val buckets = stageBuckets.remove(info.stageId)
    if (buckets == null) return
    val m = info.taskMetrics
    buckets.foreach { c =>
      c.stages.incrementAndGet()
      c.tasks.addAndGet(info.numTasks)
      if (m != null) {
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.inBytes.addAndGet(m.inputMetrics.bytesRead)
        c.inRecords.addAndGet(m.inputMetrics.recordsRead)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.outRecords.addAndGet(m.outputMetrics.recordsWritten)
      }
    }
  }

  /** Block until every event posted so far reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  /** Run `body` as span `name` of sampled request `req`; the listener
    * bus is drained before and after, so the span's counts hold exactly
    * the Spark work its call started. Callers run spans one at a time
    * while no other Spark work is in flight. */
  def span[T](req: Int, name: String, parent: String)(body: => T): (T, Span) = {
    drain()
    val c = new Counts
    current = c
    val t0 = System.nanoTime()
    val out = try body finally {
      val t1 = System.nanoTime()
      drain()
      current = null
      spans += Span(req, name, parent, t0, t1, c)
    }
    (out, spans.last)
  }

  def spansJson: String = spans.map { s =>
    s"""{"req":${s.req},"name":${Json.quote(s.name)},""" +
      s""""parent":${Json.quote(s.parent)},"ms":${Json.num(s.ms)},""" +
      s""""spark":${s.counts.json}}"""
  }.mkString("[", ",\n", "]")
}

/** Streaming progress of the ingest query: cumulative input rows (how the
  * carbon writer knows its chunk is committed) and, per trigger, the
  * durations and state-operator numbers the traced report summarizes. */
final class ProgressTracker extends StreamingQueryListener {
  private val lock = new Object
  @volatile private var query: java.util.UUID = null
  private var rows = 0L
  private var failure: Option[String] = None
  val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = lock.synchronized {
    if (e.progress.id == query) {
      rows += e.progress.numInputRows
      if (e.progress.numInputRows > 0) progress += e.progress
      lock.notifyAll()
    }
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = lock.synchronized {
    if (e.id == query) e.exception.foreach(x => failure = Some(x))
    lock.notifyAll()
  }

  /** Follow query `id` from its first batch on. */
  def watch(id: java.util.UUID): Unit = lock.synchronized {
    query = id; rows = 0L; failure = None; progress.clear()
  }

  /** Wait until at least `target` input rows have committed; false on
    * timeout or when the query died. */
  def awaitRows(target: Long, timeoutMs: Long): Boolean = lock.synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (rows < target && failure.isEmpty && System.currentTimeMillis() < deadline)
      lock.wait(math.max(1L, deadline - System.currentTimeMillis()))
    failure.foreach(f => throw new IllegalStateException(s"ingest query failed: $f"))
    rows >= target
  }

  def batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    lock.synchronized(progress.toList)
}
