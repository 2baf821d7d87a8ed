package perfbench

import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.DataFrame

import graft.io.Sinks
import graft.model.{ConversationContext, DatasetMetadata, QueryIntent}
import graft.profile.Profiler
import graft.query.{NLTranslator, QueryCompiler, QueryJson}

object Json {
  val mapper = new ObjectMapper()
  def obj(): ObjectNode = mapper.createObjectNode()
  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
  def write(path: String, n: JsonNode): Unit =
    mapper.writeValue(new java.io.File(path), n)
  def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}

/** The analyst's path through graft: a dataset becomes insights, then
  * questions become responses. Shared by both workloads — the insights
  * workload asks about CSV uploads, the curation workload about the
  * shards it wrote. */
object Ask {
  private val Epoch = 1700000000L

  final case class Upload(df: DataFrame, meta: DatasetMetadata,
                          insights: Profiler.Insights, ns: Long)

  /** Upload to insights: `read` → `DatasetMetadata.of` → `Profiler.profile`,
    * each a traced call; `ns` is the wall time of all three. */
  def upload(r: Run, req: String, readName: String)(read: => DataFrame): Upload = {
    val ((df, meta, ins), ns) = r.tracer.call("insights.upload", req) {
      val (df, _) = r.tracer.call(readName)(read)
      val (meta, _) = r.tracer.call("profile.metadata")(DatasetMetadata.of(df))
      val (ins, _) = r.tracer.call("profile.profile")(Profiler.profile(df))
      (df, meta, ins)
    }
    Upload(df, meta, ins, ns)
  }

  /** One turn: text → `NLTranslator.translate` → `QueryCompiler.compile`
    * → response (`QueryJson.vizPayload` for chart intents, else
    * `Sinks.jsonArray(_, 100)`) → `ctx.addTurn`. Returns the new context,
    * the response and the turn's wall ns. */
  def turn(r: Run, df: DataFrame, ctx: ConversationContext, text: String,
           req: String): (ConversationContext, String, Long) = {
    val (resp, ns) = r.tracer.call("insights.question", req) {
      val (sq, _) = r.tracer.call("query.translate")(NLTranslator.translate(text, ctx))
      val (plan, _) = r.tracer.call("query.compile")(QueryCompiler.compile(df, sq))
      if (sq.intent == QueryIntent.Visualize)
        r.tracer.call("query.viz")(QueryJson.vizPayload(plan))._1
      else r.tracer.call("io.response")(Sinks.jsonArray(plan, 100))._1
    }
    val next = ctx.addTurn(text, resp, Instant.ofEpochSecond(Epoch + ctx.history.size))
    (next, resp, ns)
  }

  def context(id: String, meta: DatasetMetadata): ConversationContext =
    ConversationContext.create(id, s"job-$id", meta, Instant.ofEpochSecond(Epoch))

  /** Insights as JSON with full-precision numbers, for the checker. */
  def insightsJson(ins: Profiler.Insights): ObjectNode = {
    val o = Json.obj()
    val ds = ins.dataSummary
    o.put("row_count", ds.rowCount)
    val kinds = o.putObject("kinds")
    ds.numericColumns.foreach(kinds.put(_, "numeric"))
    ds.categoricalColumns.foreach(kinds.put(_, "categorical"))
    ds.dateColumns.foreach(kinds.put(_, "date"))
    val cols = o.putArray("columns")
    ins.columnStatistics.foreach { c =>
      val n = cols.addObject()
      n.put("name", c.name)
      n.put("type", c.dataType)
      n.put("nulls", c.nullCount)
      n.put("unique", c.uniqueCount)
      def opt(k: String, v: Option[Double]): Unit =
        v.fold(n.putNull(k))(n.put(k, _))
      opt("min", c.min); opt("max", c.max); opt("mean", c.mean)
      opt("median", c.median); opt("std", c.stdDev)
      opt("p25", c.percentile25); opt("p75", c.percentile75)
      c.frequentValues.foreach { fv =>
        val a = n.putArray("frequent")
        fv.foreach { case (v, k) => a.addArray().add(v).add(k) }
      }
    }
    val corr = o.putObject("correlations")
    ins.correlations.foreach { case (k, v) => corr.put(k, v) }
    o
  }

  /** Asks `questions` (manifest entries with their index) in order over
    * `df`, continuing the conversation `start`; appends each response to
    * `out` and each successful turn's ms to `latencies`. Returns the
    * conversation and the summed wall ns of its turns. */
  def conversation(r: Run, df: DataFrame, start: ConversationContext, sid: String,
                   questions: Seq[(JsonNode, Int)], out: ArrayNode,
                   latencies: Option[collection.mutable.ArrayBuffer[Double]])
      : (ConversationContext, Long) = {
    var ctx = start
    var busy = 0L
    questions.foreach { case (q, k) =>
      val text = q.get("text").asText()
      r.attempt(s"$sid.q$k: $text")(turn(r, df, ctx, text, s"$sid.q$k")).foreach {
        case (next, resp, ns) =>
          ctx = next
          busy += ns
          latencies.foreach(_ += ns / 1e6)
          val o = out.addObject()
          o.put("session", sid)
          o.put("index", k)
          o.put("response", resp)
      }
    }
    (ctx, busy)
  }
}
