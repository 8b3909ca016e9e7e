package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `parent` is the id of the span that caused
  * it (0 for a root); `req` groups the spans of one request: a query name,
  * a cycle or append index, or a micro-batch id.
  */
final case class Span(id: Long, parent: Long, name: String, req: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded by the benchmark around its own calls into graft and
  * Spark. Held in memory and written out when the run ends. With tracing
  * off, [[span]] only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.synchronized(spans += Span(id, parent, name, req, t0, t1))
      }
    }

  /** Id of the innermost open span on the calling thread, 0 if none. */
  def current: Long = stack.get().headOption.getOrElse(0L)

  /** Records an interval timed on another thread (e.g. Spark's stream
    * thread) as a child of span `parent`.
    */
  def record(name: String, req: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (enabled)
      spans.synchronized(spans += Span(ids.incrementAndGet(), parent, name, req, startNs, endNs))

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Forgets the spans recorded so far (those of the set-ups). */
  def clear(): Unit = spans.synchronized(spans.clear())

  /** Self time per span name, in seconds: each span's duration minus the
    * part of its interval covered by its children.
    */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Tracer.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.durNs - covered).toDouble / 1e9
      }.sum
    }
  }

  def write(file: java.io.File): Unit = {
    val body = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"req":${Json.str(s.req)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(file.toPath, body)
  }
}

object Tracer {
  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Scheduler and task counters from Spark's public listener bus. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasksStarted, tasksEnded = new AtomicLong
  val runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong
  /** Wall-clock end of the most recent job, in System.nanoTime units. */
  val lastJobEndNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lastJobEndNs.set(System.nanoTime())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskStart(e: SparkListenerTaskStart): Unit = tasksStarted.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksEnded.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Listener events arrive asynchronously: wait (bounded) until every
    * started task has reported its end.
    */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (tasksEnded.get < tasksStarted.get && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(50)
  }

  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasksEnded.get.toDouble,
    "task_run_s" -> runMs.get / 1e3, "task_cpu_s" -> cpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spill_bytes" -> spill.get.toDouble)
}

/** One micro-batch trigger: its input rows and phase durations. */
final case class StreamTrigger(batchId: Long, rows: Long, durMs: Map[String, Long])

/** Per-trigger phase durations from Spark's public streaming progress. */
final class StreamProgress extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[StreamTrigger]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
      .map { case (k, v) => k -> v.longValue }.toMap
    buf.synchronized(buf += StreamTrigger(p.batchId, p.numInputRows, d))
  }

  def triggers: Seq[StreamTrigger] = buf.synchronized(buf.toList)

  /** Wait (bounded) until the progress of `batchId` has arrived. */
  def settle(batchId: Long): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (!triggers.exists(_.batchId >= batchId) && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def clear(): Unit = buf.synchronized(buf.clear())
}
