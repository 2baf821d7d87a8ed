package perfbench

import com.fasterxml.jackson.databind.node.ObjectNode

/** Per-layer metrics of a traced run, derived from its spans.
  *
  * Only spans inside the timed window count. "Per unit" means per
  * insights session or curation pass. A metric whose layer the workload
  * does not call reads 0.
  */
final class Layers(r: Run) {
  private val all = r.tracer.spans.toSeq
  private val inWindow = all.filter(s => s.start >= r.timedStart && s.end <= r.timedEnd)
  private val calls = inWindow.filter(_.kind == "call")
  private val kids: Map[Long, Seq[Span]] = all.groupBy(_.parent)
  private val nUnits = math.max(1, r.units.size)

  private def named(n: String) = calls.filter(_.name == n)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def medianMs(n: String): Double = median(named(n).map(_.ns / 1e6))

  /** Call spans of the subtree rooted at `s`, `s` included. */
  private def subtree(s: Span): Seq[Span] =
    s +: kids.getOrElse(s.id, Nil).filter(_.kind == "call").flatMap(subtree)

  private def jobsUnder(s: Span): Seq[Span] =
    subtree(s).flatMap(c => kids.getOrElse(c.id, Nil).filter(_.kind == "job"))

  private def stagesUnder(s: Span): Seq[Span] =
    jobsUnder(s).flatMap(j => kids.getOrElse(j.id, Nil).filter(_.kind == "stage"))

  private def totalsUnder(s: Span): Totals =
    subtree(s).flatMap(c => r.probe.bySpan.get(c.id)).foldLeft(new Totals)(_ plus _)

  /** Length of the union of intervals, ns. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  /** Self time: duration minus what its direct children (calls and jobs)
    * cover. */
  private def selfNs(s: Span): Long =
    s.ns - union(kids.getOrElse(s.id, Nil)
      .filter(k => k.kind == "call" || k.kind == "job")
      .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a })

  /** Planning ms (all three phases) of the actions that started inside
    * the span. */
  private def planMs(s: Span): Long =
    r.plans.map(_.entries.toSeq).getOrElse(Nil)
      .filter { e => val t = r.tracer.fromMillis(e._1); t >= s.start && t <= s.end }
      .map(e => e._2 + e._3 + e._4).sum

  private def perUnit(f: WorkUnit => Double): Double = median(r.units.map(f).toSeq)

  def metrics(lines: Seq[String], shuffleLines: Seq[String],
              exactLines: Seq[String], digests: Map[String, String],
              extra: Map[String, Double]): ObjectNode = {
    val o = Json.obj()
    def put(k: String, v: Double): Unit = o.put(k, if (v.isNaN) 0.0 else v)

    // ---- graft.io
    put("io.csv_infer_ms", medianMs("io.csv_infer"))
    put("io.response_ms", medianMs("io.response"))
    put("io.write_shards_s", medianMs("io.write_shards") / 1e3)
    // ---- graft.profile
    put("profile.ms", medianMs("profile.profile"))
    put("profile.metadata_ms", medianMs("profile.metadata"))
    put("profile.jobs", median(named("profile.profile").map(jobsUnder(_).size.toDouble)))
    // ---- graft.query
    val qs = named("insights.question")
    put("query.translate_us", medianMs("query.translate") * 1e3)
    put("query.compile_ms", medianMs("query.compile"))
    put("query.viz_ms", medianMs("query.viz"))
    put("query.plan_ms", median(qs.map(planMs(_).toDouble)))
    put("query.exec_ms", median(qs.map(q =>
      union(jobsUnder(q).map(j => (j.start, j.end))) / 1e6)))
    put("query.jobs_per_q",
      if (qs.isEmpty) 0.0 else qs.map(jobsUnder(_).size).sum.toDouble / qs.size)
    // ---- graft.ext: per curation line, the line's median wall time
    val byLine = named("curation.line").groupBy(_.req)
    lines.foreach { l =>
      put(s"ext.${l}_s", median(byLine.getOrElse(l, Nil).map(_.ns / 1e9)))
    }
    val records = lines.map(l => l ->
      median(byLine.getOrElse(l, Nil).map(totalsUnder(_).shWriteRecords.toDouble))).toMap
    shuffleLines.foreach(l => put(s"ext.${l}_shuffle_records", records(l)))
    val exactRecords = exactLines.map(records).sum
    put("ext.exact_join_yield",
      if (exactRecords > 0) exactLines.map(l => digests.get(l).map(Digest.rows)
        .getOrElse(0L)).sum / exactRecords else 0.0)
    // ---- graft.functions: task CPU of the curation lines per pass
    put("functions.task_cpu_s",
      byLine.values.flatten.map(totalsUnder(_).cpuNs).sum / 1e9 / nUnits)
    // ---- graft.SparkEntry (registry), summed per pass
    def perPass(n: String) = named(n).map(_.ns).sum / 1e9 / nUnits
    put("registry.build_s", perPass("registry.build"))
    put("registry.plan_s", perPass("registry.plan"))
    put("registry.exec_s", perPass("registry.exec"))
    // ---- Spark execution under GraftSession, per unit
    put("spark.jobs", perUnit(_.jobs.toDouble))
    put("spark.stages", perUnit(_.stages.toDouble))
    put("spark.tasks", perUnit(_.totals.tasks.toDouble))
    put("spark.task_cpu_s", perUnit(_.totals.cpuNs / 1e9))
    put("spark.gc_s", perUnit(_.totals.gcMs / 1e3))
    put("spark.shuffle_read_mb", perUnit(_.totals.shReadBytes / 1e6))
    put("spark.spill_mb", perUnit(_.totals.spillBytes / 1e6))
    put("spark.codegen_compiles", perUnit(_.codegenCompiles.toDouble))
    put("spark.codegen_ms", perUnit(_.codegenNs / 1e6))
    val wallMs = r.units.map(u => (u.end - u.start) / 1e6).sum
    put("spark.busy_share",
      if (wallMs > 0) r.units.map(_.totals.runMs).sum / (wallMs * r.cores) else 0.0)
    // driver gap: request wall time not covered by any of its stages
    val requests = calls.filter(s => Set("insights.upload", "insights.question",
      "curation.line", "io.write_shards")(s.name))
    put("spark.driver_gap_s", requests.map(s =>
      s.ns - union(stagesUnder(s).map(st => (st.start, st.end)))).sum / 1e9 / nUnits)
    val skews = inWindow.filter(_.kind == "stage").flatMap { st =>
      r.probe.stageTaskMs.get(st.id).filter(_.size >= r.cores).map { ts =>
        val m = median(ts.map(_.toDouble).toSeq)
        ts.max / math.max(m, 1.0)
      }
    }
    put("spark.task_skew", if (skews.isEmpty) 0.0 else skews.max)
    val plans = r.plans.map(_.entries.toSeq).getOrElse(Nil)
    def phase(i: Int) = perUnit { u =>
      plans.slice(u.plan0, u.plan0 + u.plans).map(e => e.productElement(i)
        .asInstanceOf[Long]).sum.toDouble
    }
    put("spark.plan_analysis_ms", phase(1))
    put("spark.plan_optimization_ms", phase(2))
    put("spark.plan_planning_ms", phase(3))
    extra.foreach { case (k, v) => put(k, v) }
    o
  }

  /** Self ms and call count per span name, per unit: what the compare
    * tool diffs to show where a saving appears. */
  def selfTimes: ObjectNode = {
    val o = Json.obj()
    calls.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      val e = o.putObject(n)
      e.put("self_ms", ss.map(selfNs).sum / 1e6 / nUnits)
      e.put("total_ms", ss.map(_.ns).sum / 1e6 / nUnits)
      e.put("calls", ss.size.toDouble / nUnits)
    }
    val jobs = inWindow.filter(_.kind == "job")
    val e = o.putObject("spark.job")
    e.put("self_ms", union(jobs.map(j => (j.start, j.end))) / 1e6 / nUnits)
    e.put("total_ms", jobs.map(_.ns).sum / 1e6 / nUnits)
    e.put("calls", jobs.size.toDouble / nUnits)
    o
  }

  /** Every span, for offline inspection. */
  def dump(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try all.sortBy(_.start).foreach { s =>
      val n = Json.obj()
      n.put("id", s.id); n.put("parent", s.parent); n.put("name", s.name)
      n.put("req", s.req); n.put("kind", s.kind)
      n.put("start_ns", s.start); n.put("end_ns", s.end)
      r.probe.bySpan.get(s.id).foreach { t =>
        n.put("tasks", t.tasks); n.put("cpu_ns", t.cpuNs)
        n.put("shuffle_write_bytes", t.shWriteBytes)
      }
      w.println(Json.mapper.writeValueAsString(n))
    } finally w.close()
  }
}
