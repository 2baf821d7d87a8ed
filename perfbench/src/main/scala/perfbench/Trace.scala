package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._

/** One timed interval on the `System.nanoTime` clock.
  *
  * `kind` is "call" for a call the harness makes into a graft layer, and
  * "job" or "stage" for Spark work attributed to the innermost call that
  * was open when the job started. `req` names the request the interval
  * belongs to: a question, a curation line, a session.
  */
final case class Span(id: Long, parent: Long, name: String, req: String,
                      kind: String, start: Long, end: Long) {
  def ns: Long = end - start
}

/** Spark task totals: a sum over the tasks of some scope. */
final class Totals {
  var tasks, cpuNs, runMs, gcMs, shWriteBytes, shWriteRecords, shReadBytes,
      spillBytes = 0L

  def add(m: TaskMetrics): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime
    runMs += m.executorRunTime
    gcMs += m.jvmGCTime
    shWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shWriteRecords += m.shuffleWriteMetrics.recordsWritten
    shReadBytes += m.shuffleReadMetrics.totalBytesRead
    spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
  }

  private def zip(o: Totals, f: (Long, Long) => Long): Totals = {
    val t = new Totals
    t.tasks = f(tasks, o.tasks); t.cpuNs = f(cpuNs, o.cpuNs)
    t.runMs = f(runMs, o.runMs); t.gcMs = f(gcMs, o.gcMs)
    t.shWriteBytes = f(shWriteBytes, o.shWriteBytes)
    t.shWriteRecords = f(shWriteRecords, o.shWriteRecords)
    t.shReadBytes = f(shReadBytes, o.shReadBytes)
    t.spillBytes = f(spillBytes, o.spillBytes)
    t
  }

  def plus(o: Totals): Totals = zip(o, _ + _)
  def minus(o: Totals): Totals = zip(o, _ - _)
  def copy: Totals = plus(new Totals)
}

/** Spans around the harness's calls into graft, plus the Spark work each
  * call caused.
  *
  * With `enabled = false` a call is only timed: nothing is kept and no
  * Spark local property is set, so the end-to-end runs carry no tracing
  * cost beyond two clock reads. With `enabled = true` every call is kept
  * as a span, and the span id rides the `perfbench.span` local property
  * so the listener can hang the call's jobs, stages and task totals
  * under it. Spans stay in memory until the run ends.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(1)
  private var open: List[(Long, String)] = Nil // (span id, request), one client thread
  val spans = mutable.ArrayBuffer.empty[Span]
  /** epoch-ms event times → nanoTime clock */
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromMillis(ms: Long): Long = ms * 1000000L - offsetNs

  def newId(): Long = ids.getAndIncrement()

  /** Runs `body` as a call named `name`; returns its result and wall ns. */
  def call[T](name: String, req: String = null)(body: => T): (T, Long) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      return (r, System.nanoTime() - t0)
    }
    val id = newId()
    val parent = open.headOption.map(_._1).getOrElse(0L)
    val rq = Option(req).orElse(open.headOption.map(_._2)).orNull
    val prop = sc.getLocalProperty(Tracer.SpanKey)
    open = (id, rq) :: open
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, System.nanoTime() - t0)
    } finally {
      val t1 = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanKey, prop)
      record(Span(id, parent, name, rq, "call", t0, t1))
    }
  }

  def record(s: Span): Unit = spans.synchronized { spans += s }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Listener behind every counter the harness reports.
  *
  * It always keeps run-wide task totals and job/stage counts. When the
  * tracer is on it also keeps, per call span, the task totals of the
  * jobs that call started, each job and stage as a child span, and the
  * task durations of each stage (for skew).
  */
final class Probe(tracer: Tracer) extends SparkListener {
  val total = new Totals
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val bySpan = mutable.Map.empty[Long, Totals]
  /** stage id → (owning call span, job span) */
  private val stageOwner = mutable.Map.empty[Int, (Long, Long)]
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long)] // job → (span id, call span, start)
  val stageTaskMs = mutable.Map.empty[Long, mutable.ArrayBuffer[Long]] // stage span → task durations
  private val stageSpan = mutable.Map.empty[(Int, Int), Long] // (stage, attempt) → span id

  private def callOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    if (tracer.enabled) {
      val call = callOf(e.properties)
      val id = tracer.newId()
      jobSpan(e.jobId) = (id, call, e.time)
      e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = (call, id))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, call, start) =>
      tracer.record(Span(id, call, "spark.job", null, "job",
        tracer.fromMillis(start), tracer.fromMillis(e.time)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (tracer.enabled)
      stageSpan((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = tracer.newId()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.incrementAndGet()
    val si = e.stageInfo
    for {
      id <- stageSpan.remove((si.stageId, si.attemptNumber()))
      (_, job) <- stageOwner.get(si.stageId)
      s <- si.submissionTime
      c <- si.completionTime
    } tracer.record(Span(id, job, "spark.stage", null, "stage",
      tracer.fromMillis(s), tracer.fromMillis(c)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      total.add(m)
      if (tracer.enabled) {
        stageOwner.get(e.stageId).foreach { case (call, _) =>
          bySpan.getOrElseUpdate(call, new Totals).add(m)
        }
        stageSpan.get((e.stageId, e.stageAttemptId)).foreach { sid =>
          stageTaskMs.getOrElseUpdate(sid, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
        }
      }
    }
  }

  def snapshot: Totals = synchronized(total.copy)
}
