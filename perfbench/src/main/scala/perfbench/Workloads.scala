package perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.Strings
import graft.io.{Sinks, Tables}

/** End-to-end samples a workload hands back to Main. */
final case class Samples(insightsMs: Seq[Double], questionMs: Seq[Double],
                         batchMs: Seq[Double])

/** Closed loop, one client: per session an upload becomes insights, then
  * a seeded conversation runs over it. Warm-up sessions run first, then
  * every timed session of the manifest. */
object Insights {
  def apply(r: Run, m: JsonNode): Samples = {
    val sessions = Json.elems(m.get("sessions"))
    val (warm, timed) = sessions.partition(_.get("warmup").asBoolean())
    val profiles = r.report.putArray("profiles")
    val responses = r.report.putArray("responses")
    val insightsMs = mutable.ArrayBuffer.empty[Double]
    val questionMs = mutable.ArrayBuffer.empty[Double]

    def session(s: JsonNode, timedRun: Boolean): Unit = {
      val sid = s.get("id").asText()
      val path = s.get("csv").asText()
      val u = r.unit {
        r.attempt(s"$sid upload")(Ask.upload(r, sid, "io.csv_infer")(
          Tables.csvInferFirstRows(r.spark, path))) match {
          case None => 0L
          case Some(up) =>
            if (timedRun) insightsMs += up.ns / 1e6
            val p = profiles.addObject()
            p.put("session", sid)
            p.put("csv", path)
            p.set[JsonNode]("insights", Ask.insightsJson(up.insights))
            up.ns + Ask.conversation(r, up.df, Ask.context(sid, up.meta), sid,
              Json.elems(s.get("questions")).zipWithIndex, responses,
              if (timedRun) Some(questionMs) else None)._2
        }
      }
      if (timedRun) r.units += u
    }

    warm.foreach(session(_, timedRun = false))
    r.startTimed()
    timed.foreach(session(_, timedRun = true))
    r.stopTimed()
    Samples(insightsMs.toSeq, questionMs.toSeq, r.units.map(_.busyNs / 1e6).toSeq)
  }
}

/** Batch over a documents corpus: the ten curation lines through the
  * registry and `write_shards`, with the shards' data card (profile) and
  * the curator's questions about them in between. One warm-up pass
  * writes each line's output for the oracle check; then the manifest's
  * number of timed passes, each line timed with a content digest. */
object Curation {
  val Lines: Seq[String] = Seq("q15_exact_dedup", "q16_jaccard_pairs",
    "q17_minhash_pairs", "q39_pipeline", "q89_incremental_minhash",
    "q103_curation", "q133_leakage_split", "q136_containment_pairs",
    "q151_warc_curation", "q169_containment_gate")
  val Shards = 8
  /** Data cards per pass. */
  val Cards = 4

  /** The quality-gated, exact-deduplicated corpus, one row per surviving
    * document with its shard (`doc_id mod 8`). Survivors come from the
    * registry's exact-dedup line; the gate is q103's token-length,
    * token-size and punctuation rule over `graft.functions`. */
  def gated(r: Run, dir: String): DataFrame = {
    val docs = Tables.documents(r.spark, dir)
    val survivors = SparkEntry.queries("q15_exact_dedup")(r.spark, dir)
    val st = Strings.tokenStats(lower(col("text")), Nil)
    val nTok = st.getField("n_tokens").cast("double")
    val avgLen = when(nTok > 0, st.getField("tok_chars").cast("double") / nTok)
      .otherwise(0.0)
    val nChars = length(col("text")).cast("double")
    val punct = when(nChars > 0,
      Strings.punctCount(col("text")).cast("double") / nChars).otherwise(0.0)
    docs.join(survivors, Seq("doc_id"), "left_semi")
      .filter(nTok.between(10, 500) && avgLen.between(2.0, 10.0) && punct <= 0.05)
      .withColumn("shard", pmod(col("doc_id"), lit(Shards.toLong)).cast("int"))
  }

  def apply(r: Run, m: JsonNode, work: String): Samples = {
    val dir = m.get("data_dir").asText()
    val questions = Json.elems(m.get("questions"))
    val dumpDir = s"$work/dump"
    val shardsDir = s"$work/shards.parquet"
    val digests = r.report.putObject("digests")
    val expected = mutable.Map.empty[String, String]
    val profiles = r.report.putArray("profiles")
    val responses = r.report.putArray("responses")
    val insightsMs = mutable.ArrayBuffer.empty[Double]
    val questionMs = mutable.ArrayBuffer.empty[Double]
    val lineMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val batchMs = mutable.ArrayBuffer.empty[Double]

    /** One line, timed as registry build → plan → digest. Returns its
      * wall ns, or 0 on failure. */
    def line(name: String, pass: String): Long = {
      r.hygiene()
      r.attempt(s"$pass $name") {
        r.tracer.call("curation.line", name) {
          val (df, _) = r.tracer.call("registry.build")(SparkEntry.queries(name)(r.spark, dir))
          val d = Digest.frame(df)
          r.tracer.call("registry.plan")(d.queryExecution.executedPlan)
          r.tracer.call("registry.exec")(Digest.read(d))._1
        }
      } match {
        case Some((dg, ns)) =>
          System.err.println(f"perfbench: $pass $name ${ns / 1e9}%.2f s")
          if (expected.get(name).exists(_ != dg))
            r.fail(s"$pass $name", s"digest $dg != checked ${expected(name)}")
          lineMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ns / 1e6
          ns
        case None => 0L
      }
    }

    /** Warm-up form of a line: its full output is written for the oracle
      * check (the write reads every column, like the digest). */
    def dumpLine(name: String): Unit = {
      r.hygiene()
      val t0 = System.nanoTime()
      r.attempt(s"warm-up $name") {
        SparkEntry.queries(name)(r.spark, dir)
          .write.mode("overwrite").parquet(s"$dumpDir/$name")
      }
      System.err.println(f"perfbench: warm-up $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    def writeShards(pass: String): Long =
      r.attempt(s"$pass write_shards") {
        r.hygiene()
        r.tracer.call("io.write_shards", "write_shards")(
          Sinks.writePartitioned(gated(r, dir), shardsDir, Seq("shard")))._2
      }.getOrElse(0L)

    /** The curated shards' data card, then `block` of the curator's
      * questions about them. Returns the wall ns. */
    def dataCard(pass: String, block: Seq[(JsonNode, Int)], timedRun: Boolean): Long =
      r.attempt(s"$pass data card")(Ask.upload(r, s"$pass.card", "io.read_shards")(
        Tables.table(r.spark, work, "shards"))) match {
        case None => 0L
        case Some(up) =>
          if (timedRun) insightsMs += up.ns / 1e6
          val p = profiles.addObject()
          p.put("session", pass)
          p.set[JsonNode]("insights", Ask.insightsJson(up.insights))
          up.ns + Ask.conversation(r, up.df, Ask.context(pass, up.meta), pass, block,
            responses, if (timedRun) Some(questionMs) else None)._2
      }

    /** One pass: the lines in `Cards` groups, each followed by a data
      * card, so the card samples the whole pass rather than one stretch
      * of it; the questions follow the last card as one conversation;
      * then `write_shards`. The cards read the shards the previous pass
      * wrote (same content). The questions come in one block, not one
      * after every card: the first few questions after a card run 20-30%
      * slower than the rest, by an amount that varies from run to run, and
      * with a block after every card those would set the run's p90.
      * Returns (lines + write_shards ns, all ns). */
    val groups = (0 until Cards).map(i =>
      Lines.slice(i * Lines.size / Cards, (i + 1) * Lines.size / Cards))
    def pass(id: String, timedRun: Boolean, runLine: String => Long): (Long, Long) = {
      var batch, cards = 0L
      groups.zipWithIndex.foreach { case (g, i) =>
        batch += g.map(runLine).sum
        cards += dataCard(id, if (i == Cards - 1) questions.zipWithIndex else Nil, timedRun)
      }
      batch += writeShards(id)
      (batch, batch + cards)
    }

    val oracle = r.report.putObject("oracle_sql")
    Lines.foreach(l => SparkEntry.oracleSql.get(l).foreach(oracle.put(l, _)))

    // ---- warm-up: every step once, the lines writing their outputs
    writeShards("warm-up") // the first cards read these
    pass("warm-up", timedRun = false, name => { dumpLine(name); 0L })
    // the checked result each timed digest must reproduce (harness work,
    // kept out of setup_s)
    val c0 = System.nanoTime()
    Lines.foreach { name =>
      if (new File(s"$dumpDir/$name").isDirectory)
        r.attempt(s"check $name")(Digest.read(Digest.frame(r.spark.read.parquet(s"$dumpDir/$name"))))
          .foreach { d => expected(name) = d; digests.put(name, d) }
    }
    r.harnessNs += System.nanoTime() - c0

    r.startTimed()
    (0 until m.get("passes").asInt()).foreach { n =>
      val id = s"p$n"
      r.units += r.unit {
        val (batch, all) = pass(id, timedRun = true, line(_, id))
        batchMs += batch / 1e6
        all
      }
    }
    r.stopTimed()

    val lines = r.report.putObject("line_ms")
    lineMs.foreach { case (k, v) =>
      val a = lines.putArray(k); v.foreach(a.add)
    }
    Samples(insightsMs.toSeq, questionMs.toSeq, batchMs.toSeq)
  }
}
