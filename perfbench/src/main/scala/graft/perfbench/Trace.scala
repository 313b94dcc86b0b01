package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

/** In-memory span recorder. Spans are taken around the calls the
  * benchmark makes into a layer; nothing is written until [[dump]] at
  * the end of the run. A disabled tracer runs the body and records
  * nothing, which is the untraced (end-to-end) configuration. An enabled
  * tracer records the spans of odd micro-batches (and every span not
  * tied to a batch), so one run holds traced and untraced batches side
  * by side and [[Tracer.overheadPct]] compares them. */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val origin = System.nanoTime()

  def traces(batch: Long): Boolean = enabled && (batch < 0 || batch % 2 == 1)

  def span[T](name: String, batch: Long = -1L, parent: Int = -1)(body: Int => T): T =
    if (!traces(batch)) body(-1)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, name, t0, System.nanoTime(), parent, batch))
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def dump(path: java.io.File): Unit = if (enabled) {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ms":${(s.startNs - origin) / 1e6},""" +
        s""""end_ms":${(s.endNs - origin) / 1e6},"parent":${s.parent},"batch":${s.batch}}""")
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, batch: Long)

  /** how much longer the traced samples took than the untraced ones, in
    * percent of the untraced median. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) Double.NaN
    else (Stats.median(traced) - Stats.median(untraced)) / Stats.median(untraced) * 100.0
}

/** Progress events of every streaming query, kept in full (not through
  * `recentProgress`, whose buffer is capped), each stamped with the
  * monotonic time it reached the driver. */
final class ProgressLog(spark: SparkSession) extends StreamingQueryListener {
  import ProgressLog.Event
  private val events = new ConcurrentLinkedQueue[Event]()

  spark.streams.addListener(this)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(Event(e.progress, System.nanoTime()))

  /** progress of the query `id`, in batch order. */
  def of(id: java.util.UUID): Seq[Event] =
    events.asScala.filter(_.p.id == id).toSeq.sortBy(_.p.batchId)

  /** The timed window of a running query, placed by work, not by
    * clock: the first `warm` data batches are the warm-up (`onOpen`
    * marks its end), the next `timed` data batches are the window, so
    * every run measures the same input slice at the same state size.
    * `exhausted` tells whether the query has consumed all its input; a
    * query that does so before the window closes makes the run invalid.
    * Returns the batch that opened the window and the batches inside. */
  def window(q: StreamingQuery, warm: Int, timed: Int, onOpen: () => Unit)(
      exhausted: Seq[Event] => Boolean): (Event, Seq[Event]) = {
    val startNs = System.nanoTime()
    def data = of(q.id).filter(_.p.numInputRows > 0)
    def await(n: Int): Seq[Event] = {
      var d = data
      while (d.length < n) {
        q.exception.foreach(e => throw new IllegalStateException(s"query ${q.id} failed", e))
        require(System.nanoTime() - startNs < 150e9, "the query stalled")
        require(!(d.nonEmpty && exhausted(d)),
          s"invalid run: input exhausted after ${d.length} of $n data batches")
        Thread.sleep(2)
        d = data
      }
      d
    }
    val open = await(warm)(warm - 1)
    onOpen()
    System.err.println("perfbench: warm-up batch ms " +
      data.take(warm).map(e => ProgressLog.dur(e.p, "triggerExecution").toLong).mkString(" "))
    (open, await(warm + timed).slice(warm, warm + timed))
  }
}

object ProgressLog {
  final case class Event(p: StreamingQueryProgress, atNs: Long)

  def dur(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
}

/** Job, stage and task accounting for batch queries: a SparkListener
  * attached for the benchmark's life. [[window]] summarizes the jobs
  * that started inside a wall-clock interval. */
final class JobLog(spark: SparkSession) extends SparkListener {
  import JobLog._
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.time, -1L, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(e.stageId, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }

  /** jobs started in [fromMs, toMs] (epoch ms); the driver gap is the
    * wall interval minus the union of those jobs' spans. */
  def window(fromMs: Long, toMs: Long): Window = {
    def inWindow = jobs.values.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs)
    // listener events arrive asynchronously: wait (bounded) for every
    // job of the window to report its end, which follows its tasks' ends
    val deadline = System.currentTimeMillis() + 5000
    while (inWindow.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    val js = inWindow.toSeq.sortBy(_.startMs)
    val stageIds = js.flatMap(_.stages).toSet
    val ts = tasks.asScala.filter(t => stageIds.contains(t.stage)).toSeq
    var covered = 0L
    var reach = fromMs
    js.foreach { j =>
      val end = math.min(if (j.endMs < 0) toMs else j.endMs, toMs)
      val start = math.max(j.startMs, reach)
      if (end > start) { covered += end - start; reach = end }
    }
    Window(js.size, stageIds.size, ts.size, ts.map(_.runMs.toDouble).sum,
      (toMs - fromMs - covered).toDouble, ts.map(_.shuffleBytes.toDouble).sum,
      ts.map(_.spillBytes.toDouble).sum)
  }
}

object JobLog {
  private final case class Job(startMs: Long, var endMs: Long, stages: Seq[Int])
  private final case class Task(stage: Int, runMs: Long, shuffleBytes: Long, spillBytes: Long)
  final case class Window(jobs: Int, stages: Int, tasks: Int, taskMs: Double,
      driverGapMs: Double, shuffleBytes: Double, spillBytes: Double)
}
