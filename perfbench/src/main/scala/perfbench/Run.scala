package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Planning phases of every finished action, in completion order.
  * Fed from the listener bus, so read it only after a drain. */
final class PlanLog extends QueryExecutionListener {
  /** (epoch ms the first phase started, analysis ms, optimization ms,
    * planning ms) */
  val entries = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    synchronized { entries += ((start, ms("analysis"), ms("optimization"), ms("planning"))) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** One unit of batch work: an insights session or a curation pass.
  * Counter fields are deltas over the unit, read after a bus drain. */
final case class WorkUnit(start: Long, end: Long,
                          busyNs: Long, totals: Totals, jobs: Long,
                          stages: Long, codegenCompiles: Long,
                          codegenNs: Long, plan0: Int, plans: Int)

/** State shared by the workloads of one run: the session, the tracer,
  * the counters, the failure tally, and what goes to the report. */
final class Run(val spark: SparkSession, val tracer: Tracer, val probe: Probe,
                val plans: Option[PlanLog], val cores: Int) {
  val report: ObjectNode = Json.obj()
  val errors: ArrayNode = report.putArray("errors")
  var attempted = 0L
  var failed = 0L
  val units = mutable.ArrayBuffer.empty[WorkUnit]
  /** Wall ns spent in harness-only work (checking) before timing began;
    * excluded from setup_s. */
  var harnessNs = 0L
  var timedStart = 0L
  var timedEnd = 0L
  var timedStartEpochMs = 0L

  def drain(): Unit = org.apache.spark.perfbench.BusDrain(spark.sparkContext)

  /** Runs one operation; a thrown exception counts as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        fail(what, e.toString)
        None
    }
  }

  def fail(what: String, msg: String): Unit = {
    failed += 1
    val o = errors.addObject()
    o.put("op", what)
    o.put("error", msg.take(500))
  }

  def startTimed(): Unit = {
    timedStartEpochMs = System.currentTimeMillis()
    timedStart = System.nanoTime()
  }

  def stopTimed(): Unit = timedEnd = System.nanoTime()

  /** Clears what a finished operation left cached, outside any timed
    * window, so each operation starts from the same session state. */
  def hygiene(): Unit = {
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Runs `body` as one unit of work; `busyNs` is the caller's sum of its
    * timed operations (harness bookkeeping between them excluded). */
  def unit(body: => Long): WorkUnit = {
    drain()
    val t0 = probe.snapshot
    val (j0, s0) = (probe.jobs.get, probe.stages.get)
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val g0 = WholeStageCodegenExec.codeGenTime
    val p0 = plans.map(p => p.synchronized(p.entries.size)).getOrElse(0)
    val start = System.nanoTime()
    val busy = body
    val end = System.nanoTime()
    drain()
    WorkUnit(start, end, busy, probe.snapshot.minus(t0),
      probe.jobs.get - j0, probe.stages.get - s0,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
      WholeStageCodegenExec.codeGenTime - g0, p0,
      plans.map(p => p.synchronized(p.entries.size)).getOrElse(0) - p0)
  }
}

object Digest {
  private val Mod = lit(Int.MaxValue.toLong)

  /** Content digest of a frame: (rows, Σ xxhash64 mod 2³¹−1,
    * Σ murmur3 mod 2³¹−1) over every column of every row. Hashing every
    * column makes the action read the whole output, so no operator is
    * pruned away the way a bare `.count()` lets Catalyst do. Each term is
    * folded below 2³¹ first: ANSI mode fails a plain sum of 64-bit
    * hashes on overflow. Order-independent, so any row order agrees.
    */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq.map(c => df.col(s"`${c.replace("`", "``")}`"))
    df.select(
        pmod(xxhash64(cols: _*), Mod).as("h1"),
        pmod(hash(cols: _*).cast("long"), Mod).as("h2"))
      .agg(count(lit(1)), coalesce(sum(col("h1")), lit(0L)),
        coalesce(sum(col("h2")), lit(0L)))
  }

  def read(digestFrame: DataFrame): String = {
    val r = digestFrame.collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }

  def rows(d: String): Long = d.takeWhile(_ != ':').toLong
}
