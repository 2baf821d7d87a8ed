package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.functions.Strings
import graft.io.Tables

/** The JVM half of the benchmark: runs one workload from a manifest that
  * `run.py` generated and writes a report for `run.py` to check.
  *
  * Usage: Main <manifest.json> <report.json> <trace 0|1> <cores>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(manifestPath, reportPath, traceArg, coresArg) = args
    val (trace, cores) = (traceArg == "1", coresArg.toInt)
    val manifest = Json.read(manifestPath)
    val work = new File(manifestPath).getAbsoluteFile.getParent
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = GraftSession.local(cores, "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    // the repository's tables are single-row-group files; the floor
    // restores scan parallelism the way graft's own bench does
    spark.conf.set("spark.graft.scan.minPartitions", cores.toString)
    val tracer = new Tracer(trace, spark.sparkContext)
    val probe = new Probe(tracer)
    spark.sparkContext.addSparkListener(probe)
    val plans = if (trace) Some(new PlanLog) else None
    plans.foreach(spark.listenerManager.register)
    val r = new Run(spark, tracer, probe, plans, cores)

    val workload = manifest.get("workload").asText()
    val samples = workload match {
      case "insights" => Insights(r, manifest)
      case "curation" => Curation(r, manifest, work)
    }
    val rep = r.report
    rep.put("workload", workload)
    rep.put("setup_s", (r.timedStartEpochMs - jvmStartMs) / 1e3 - r.harnessNs / 1e9)
    rep.put("timed_s", (r.timedEnd - r.timedStart) / 1e9)
    rep.put("attempted", r.attempted)
    rep.put("failed", r.failed)
    def arr(k: String, xs: Seq[Double]): Unit = {
      val a = rep.putArray(k); xs.foreach(a.add)
    }
    arr("insights_ms", samples.insightsMs)
    arr("question_ms", samples.questionMs)
    arr("batch_ms", samples.batchMs)
    arr("shuffle_write_bytes", r.units.map(_.totals.shWriteBytes.toDouble).toSeq)

    if (trace) {
      val extra = collection.mutable.Map("jvm.peak_rss_mb" -> peakRssMb)
      if (workload == "curation") extra ++= curationExtras(r, manifest, work)
      val layers = new Layers(r)
      val digests = Option(rep.get("digests")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty[String, String])
      rep.set[JsonNode]("layers", layers.metrics(Curation.Lines,
        Seq("q16_jaccard_pairs", "q136_containment_pairs", "q169_containment_gate",
          "q17_minhash_pairs", "q89_incremental_minhash", "q133_leakage_split")
          .filter(_ => workload == "curation"),
        if (workload == "curation")
          Seq("q16_jaccard_pairs", "q136_containment_pairs", "q169_containment_gate")
        else Nil,
        digests, extra.toMap))
      rep.set[JsonNode]("self", layers.selfTimes)
      layers.dump(s"$work/spans.jsonl")
    }
    Json.write(reportPath, rep)
    spark.stop()
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }

  /** Curation-only layer numbers measured after the timed window: the
    * cost per row of four `graft.functions` expressions, each one
    * projection over documents.text with its result read, and the
    * shards' on-disk footprint. */
  private def curationExtras(r: Run, m: JsonNode, work: String): Map[String, Double] = {
    val dir = m.get("data_dir").asText()
    val docs = Tables.documents(r.spark, dir)
    val probes = Seq(
      "functions.nfc_ns_row" -> Strings.nfc(col("text")),
      "functions.word_ngrams_ns_row" ->
        Strings.wordNgrams(lower(col("text")), 3, wholeTextFallback = false),
      "functions.token_stats_ns_row" -> Strings.tokenStats(lower(col("text")), Nil),
      "functions.punct_count_ns_row" -> Strings.punctCount(col("text")))
    val perRow = probes.map { case (k, e) =>
      val d = Digest.frame(docs.select(col("doc_id"), e.as("v")))
      val times = (0 until 4).map { _ =>
        val t0 = System.nanoTime()
        val rows = Digest.rows(Digest.read(d))
        (System.nanoTime() - t0).toDouble / math.max(rows, 1L)
      }.drop(1).sorted
      k -> times(times.size / 2)
    }
    val shards = new File(s"$work/shards.parquet")
    val files = Option(shards.listFiles).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles).toSeq.flatten)
      .filter(f => f.getName.startsWith("part-"))
    val input = new File(s"$dir/documents.parquet").length.toDouble
    perRow.toMap ++ Map(
      "io.files_written" -> files.size.toDouble,
      "io.write_bytes_ratio" -> (if (input > 0) files.map(_.length).sum / input else 0.0))
  }
}
