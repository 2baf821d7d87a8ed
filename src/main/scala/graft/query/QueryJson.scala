package graft.query

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ArrayNode

import graft.model._
import graft.model.ColumnOperation._

/** JSON ↔ StructuredQuery codec — the properly-implemented version of
  * the reference's LLM-response parser, which is a stub that discards
  * the model output and returns a hard-coded Describe
  * (`/root/reference/src/services/query_translator.rs:145-153`).
  *
  * Accepts the shape the reference's own LLM prompt requests
  * (`query_translator.rs:109-142`):
  * `{"intent": "...", "columns": [...], "operations":
  *   [{"type": "mean|sum|count|group_by|sort_by|filter",
  *     "column": "...", "ascending": true, "operator": ">", "value": "..."}]}`
  *
  * Jackson comes from Spark's own classpath — no new dependency.
  * Malformed documents return Left with a reason (never a silent
  * fallback query).
  */
object QueryJson {

  private val mapper = new ObjectMapper()

  def parse(json: String): Either[String, StructuredQuery] =
    for {
      root <- Try(mapper.readTree(json)).toEither.left.map(e =>
        s"invalid JSON: ${e.getMessage}")
      _ <- Either.cond(root != null && root.isObject, (), "expected a JSON object")
      intent <- parseIntent(Option(root.get("intent")).map(_.asText("")).getOrElse(""))
      ops <- parseOps(root.get("operations"))
    } yield {
      val cols = Option(root.get("columns")).filter(_.isArray)
        .map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Seq.empty)
      StructuredQuery(intent, cols, ops)
    }

  private def parseIntent(s: String): Either[String, QueryIntent] =
    s.toLowerCase match {
      case "aggregate" => Right(QueryIntent.Aggregate)
      case "filter"    => Right(QueryIntent.Filter)
      case "sort"      => Right(QueryIntent.Sort)
      case "describe"  => Right(QueryIntent.Describe)
      case "visualize" => Right(QueryIntent.Visualize)
      case other       => Left(s"unknown intent '$other'")
    }

  private def parseOps(node: JsonNode): Either[String, Seq[ColumnOperation]] = {
    if (node == null || !node.isArray) Right(Seq.empty)
    else {
      val results = node.elements().asScala.map(parseOp).toSeq
      results.collectFirst { case Left(e) => e } match {
        case Some(err) => Left(err)
        case None      => Right(results.collect { case Right(op) => op })
      }
    }
  }

  private def parseOp(n: JsonNode): Either[String, ColumnOperation] = {
    def col = Option(n.get("column")).map(_.asText(""))
      .filter(_.nonEmpty).toRight("operation missing 'column'")
    Option(n.get("type")).map(_.asText("")).getOrElse("").toLowerCase match {
      case "mean" | "avg" | "average" => col.map(Mean)
      case "sum"                      => col.map(Sum)
      case "count"                    => col.map(Count)
      case "group_by" | "groupby"     => col.map(GroupBy)
      case "sort_by" | "sortby" =>
        col.map(SortBy(_,
          ascending = Option(n.get("ascending")).forall(_.asBoolean(true))))
      case "filter" =>
        for {
          c <- col
          opSym <- Option(n.get("operator")).map(_.asText(""))
            .filter(_.nonEmpty).toRight("filter missing 'operator'")
          op <- CompareOp.parse(opSym).toRight(s"unknown operator '$opSym'")
          v <- Option(n.get("value")).map(_.asText())
            .toRight("filter missing 'value'")
        } yield Filter(c, op, v)
      case other => Left(s"unknown operation type '$other'")
    }
  }

  /** Render a StructuredQuery back to the same JSON shape (prompt
    * few-shot construction, logging, round-trip tests). */
  def render(q: StructuredQuery): String = {
    val intent = q.intent match {
      case QueryIntent.Aggregate => "aggregate"
      case QueryIntent.Filter => "filter"
      case QueryIntent.Sort => "sort"
      case QueryIntent.Describe => "describe"
      case QueryIntent.Visualize => "visualize"
    }
    val root = mapper.createObjectNode()
    root.put("intent", intent)
    val colArr = root.putArray("columns")
    q.columns.foreach(colArr.add)
    val opsArr = root.putArray("operations")
    q.operations.foreach { op =>
      val o = opsArr.addObject()
      op match {
        case Mean(c) => o.put("type", "mean").put("column", c)
        case Sum(c) => o.put("type", "sum").put("column", c)
        case Count(c) => o.put("type", "count").put("column", c)
        case GroupBy(c) => o.put("type", "group_by").put("column", c)
        case SortBy(c, asc) =>
          o.put("type", "sort_by").put("column", c).put("ascending", asc)
        case Filter(c, cmp, v) =>
          o.put("type", "filter").put("column", c)
            .put("operator", cmp.symbols.head).put("value", v)
      }
    }
    mapper.writeValueAsString(root)
  }

  /** Chart.js-style visualization payload for a query result — the
    * reference's post-query chart assembly
    * (`/root/reference/src/services/conversation.rs:188-286`):
    * numeric columns → bar chart of their averages; otherwise the first
    * string column → bar chart of its value counts; otherwise a table
    * config. Output shape matches the reference exactly:
    * `{"type":"bar","data":{"labels":[...],"datasets":[{"label":...,
    * "data":[...]}]},"options":{}}`.
    *
    * Like the reference, the chart is built on the driver from the
    * first `limit` rows (compile already caps a Visualize plan at the
    * reference's 100), collected in ONE action: a limit on top of the
    * plan runs as `CollectLimit` (see [[graft.io.Sinks.jsonArray]]), with
    * no exchange. Aggregating
    * under the limit instead (the distributed
    * [[QueryCompiler.vizNumericAverages]] / [[QueryCompiler.vizValueCounts]])
    * costs a single-partition shuffle and a second job for at most 100
    * rows; the results are the same:
    *  - averages: each numeric column's non-null values as doubles,
    *    summed in row order from 0.0 and divided by their count —
    *    Spark's `avg` over the one partition the limit leaves; a column
    *    of all-null cells averages to 0.0, the reference's count == 0
    *    branch (`conversation.rs:216-220`);
    *  - value counts: count desc, then label asc with null first,
    *    labels compared by UTF-8 bytes (Spark's string order) —
    *    deterministic, unlike the reference's map-iteration order.
    * The chooser reads the schema, not sampled values (a numeric column
    * is numeric by type; the reference's parse-a-string-cell heuristic
    * exists because its pipeline is stringly typed).
    */
  def vizPayload(df: org.apache.spark.sql.DataFrame, limit: Int = 100): String = {
    import org.apache.spark.sql.types.StringType
    val sample = df.limit(limit).collect()
    val fields = df.schema.fields.toSeq.zipWithIndex
    val numeric = fields.filter { case (f, _) => QueryCompiler.isNumeric(f.dataType) }
    val strings = fields.filter { case (f, _) => f.dataType == StringType }
    val root = mapper.createObjectNode()
    def bars(labels: Seq[String], label: String, values: ArrayNode): Unit = {
      root.put("type", "bar")
      val data = root.putObject("data")
      val ls = data.putArray("labels")
      labels.foreach(ls.add)
      val ds = data.putArray("datasets").addObject()
      ds.put("label", label)
      ds.set[JsonNode]("data", values)
    }
    if (numeric.nonEmpty) {
      val vals = mapper.createArrayNode()
      numeric.foreach { case (_, i) =>
        val xs = sample.filterNot(_.isNullAt(i)).map(_.getAs[Number](i).doubleValue())
        vals.add(if (xs.isEmpty) 0.0 else xs.foldLeft(0.0)(_ + _) / xs.length)
      }
      bars(numeric.map(_._1.name), "Average", vals)
    } else if (strings.nonEmpty) {
      val (f, i) = strings.head
      val counts = sample.groupMapReduce(r => Option(r.getString(i)))(_ => 1L)(_ + _)
        .toSeq.sortWith { case ((a, n), (b, m)) =>
          n > m || n == m && labelBefore(a, b) }
      val vals = mapper.createArrayNode()
      counts.foreach { case (_, n) => vals.add(n) }
      bars(counts.map(_._1.orNull), s"${f.name} count", vals)
    } else {
      // no chartable columns: table config (conversation.rs:271-286).
      // Cells serialize as typed JSON VALUES (the reference's serde
      // to_string() rendering: null -> null, arrays -> [1.0], numbers
      // bare) — String.valueOf would emit "null" and Scala's
      // WrappedArray(...) toString instead.
      root.put("type", "table")
      val data = root.putObject("data")
      val cols = data.putArray("columns")
      df.columns.foreach(cols.add)
      val rows = data.putArray("rows")
      sample.foreach { r =>
        val arr = rows.addArray()
        df.columns.indices.foreach(i => arr.add(cellNode(r.get(i))))
      }
    }
    root.putObject("options")
    mapper.writeValueAsString(root)
  }

  /** Spark's ascending string order with nulls first: unsigned UTF-8
    * bytes, which differs from `String.compareTo`'s UTF-16 units once a
    * supplementary code point meets U+E000..U+FFFF. */
  private def labelBefore(a: Option[String], b: Option[String]): Boolean =
    (a, b) match {
      case (None, _) => b.nonEmpty
      case (_, None) => false
      case (Some(x), Some(y)) =>
        java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8)) < 0
    }

  /** One table cell as a typed JSON node (see the table branch above).
    * Temporal and other scalar types render via toString — their SQL
    * text form, quoted, matching the reference's string rendering. */
  private def cellNode(v: Any): JsonNode = v match {
    case null => mapper.nullNode()
    case s: String => mapper.getNodeFactory.textNode(s)
    case i: java.lang.Integer => mapper.getNodeFactory.numberNode(i.intValue())
    case l: java.lang.Long => mapper.getNodeFactory.numberNode(l.longValue())
    case d: java.lang.Double => mapper.getNodeFactory.numberNode(d.doubleValue())
    case f: java.lang.Float => mapper.getNodeFactory.numberNode(f.floatValue())
    case s: java.lang.Short => mapper.getNodeFactory.numberNode(s.shortValue())
    case b: java.lang.Byte => mapper.getNodeFactory.numberNode(b.byteValue())
    case b: java.lang.Boolean => mapper.getNodeFactory.booleanNode(b.booleanValue())
    case bd: java.math.BigDecimal => mapper.getNodeFactory.numberNode(bd)
    case bd: scala.math.BigDecimal => mapper.getNodeFactory.numberNode(bd.bigDecimal)
    case seq: scala.collection.Seq[_] =>
      val a = mapper.createArrayNode(); seq.foreach(x => a.add(cellNode(x))); a
    case arr: Array[_] =>
      val a = mapper.createArrayNode(); arr.foreach(x => a.add(cellNode(x))); a
    case m: scala.collection.Map[_, _] =>
      val o = mapper.createObjectNode()
      m.foreach { case (k, x) => o.set[JsonNode](String.valueOf(k), cellNode(x)) }
      o
    case r: org.apache.spark.sql.Row =>
      val a = mapper.createArrayNode()
      (0 until r.length).foreach(i => a.add(cellNode(r.get(i))))
      a
    case other => mapper.getNodeFactory.textNode(other.toString)
  }
}
