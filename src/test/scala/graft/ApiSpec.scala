package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{DeserializeToObjectExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.io.{Sinks, Tables}
import graft.model._
import graft.model.ColumnOperation._
import graft.profile.Profiler
import graft.query.{NLTranslator, QueryCompiler, QueryJson}

/** API-surface specs: SQL extension functions, JSON sinks, Insights
  * serialization, CSV ingestion. */
class ApiSpec extends SparkSpec {
  import spark.implicits._

  test("custom expressions callable from SQL after install") {
    GraftExtensions.install(spark)
    Seq((1L, Array(1.0, 2.0, 3.0))).toDF("id", "v").createOrReplaceTempView("vecs")
    val r = spark.sql(
      "SELECT vec_dot(v, v) AS d, vec_sqnorm(v) AS n FROM vecs").collect().head
    assert(r.getDouble(0) === 14.0 && r.getDouble(1) === 14.0)
  }

  test("json array sink matches the reference's response shape and cap") {
    val df = spark.range(0, 500).selectExpr("id", "id * 2 AS dbl")
    val json = Sinks.jsonArray(df, limit = 100)
    val parsed = spark.read.json(Seq(json.stripPrefix("[").stripSuffix("]")
      .split("(?<=\\}),(?=\\{)").toSeq: _*).toDS())
    assert(parsed.count() === 100) // capped like the reference viz payload
    assert(parsed.columns.sorted === Array("dbl", "id"))
  }

  test("vizPayload: numeric path is the reference's averages bar chart") {
    val df = Seq((1.0, 10L, "a"), (3.0, 30L, "b")).toDF("x", "y", "s")
    val json = QueryJson.vizPayload(df)
    assert(json ===
      """{"type":"bar","data":{"labels":["x","y"],""" +
        """"datasets":[{"label":"Average","data":[2.0,20.0]}]},"options":{}}""")
  }

  test("vizPayload: categorical path counts the first string column") {
    val df = Seq(("a", "z"), ("b", "z"), ("a", "z")).toDF("k", "k2")
    val json = QueryJson.vizPayload(df)
    assert(json ===
      """{"type":"bar","data":{"labels":["a","b"],""" +
        """"datasets":[{"label":"k count","data":[2,1]}]},"options":{}}""")
  }

  test("vizPayload: no chartable columns falls back to a table config") {
    val df = Seq(Tuple1(Array(1.0))).toDF("v")
    val json = QueryJson.vizPayload(df)
    val node = new ObjectMapper().readTree(json)
    assert(node.get("type").asText() === "table")
    assert(node.at("/data/columns/0").asText() === "v")
    assert(node.at("/data/rows").size() === 1)
  }

  test("vizPayload: all-null numeric column averages to 0.0 like the reference") {
    val df = Seq((None: Option[Double], "a")).toDF("x", "s")
    val json = QueryJson.vizPayload(df)
    assert(json.contains(""""data":[0.0]"""))
  }

  test("json file sink round-trips") {
    val dir = Files.createTempDirectory("graft-json").toString + "/out"
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Sinks.writeJson(df, dir)
    val back = spark.read.json(dir)
    assert(back.count() === 2)
    assert(back.select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === Set((1L, "a"), (2L, "b")))
  }

  test("insights JSON is valid and carries the reference field names") {
    val df = Seq((1.0, 2.0, "x"), (2.0, 4.0, "y"), (3.0, 6.0, "x")).toDF("v", "w", "c")
    val json = graft.profile.InsightsJson.render(Profiler.profile(df))
    val parsed = spark.read.json(Seq(json).toDS())
    assert(json.contains(""""ai_analysis":null""")) // reference shape parity
    assert(parsed.columns.sorted ===
      Array("ai_analysis", "column_statistics", "correlations", "data_summary"))
    val row = parsed.selectExpr("data_summary.row_count",
      "data_summary.numeric_columns", "column_statistics[0].name",
      "column_statistics[0].mean").collect().head
    assert(row.getLong(0) === 3L)
    assert(row.getSeq[String](1) === Seq("v", "w"))
    assert(row.getString(2) === "v")
    assert(row.getString(3) === "2.00") // "%.2f" string at the edge
    assert(parsed.selectExpr("correlations.`v-w`").collect().head.getString(0)
      === "1.0000") // perfectly linear fixture
  }

  test("AISummary: fallback policy and serialized shape match the reference") {
    // empty result and outright failure both resolve to the fallback
    val empty = AISummary("  ", Nil, Nil, Nil)
    assert(empty.isEmpty)
    val fb = AISummary.validated(Some(empty), Some("AI timeout after 15 seconds (attempt 2)"))
    assert(fb.summary === "AI analysis could not be generated at this time. " +
      "Last error: AI timeout after 15 seconds (attempt 2)")
    assert(AISummary.validated(None).summary.endsWith("Last error: Unknown"))
    assert(fb.keyInsights === Seq("No insights could be generated from the data."))
    // a real summary passes through untouched
    val real = AISummary("sales trend up", Seq("k1"), Nil,
      Seq(VisualizationRecommendation("bar", "t", "d", Seq("a", "b"))))
    assert(AISummary.validated(Some(real)) === real)
    // serialized inside the Insights document with reference field names
    val df = Seq((1.0, "x")).toDF("v", "c")
    val json = graft.profile.InsightsJson.render(Profiler.profile(df), Some(real))
    val parsed = spark.read.json(Seq(json).toDS())
    val row = parsed.selectExpr("ai_analysis.summary",
      "ai_analysis.key_insights", "ai_analysis.visualization_recommendations[0].chart_type",
      "ai_analysis.visualization_recommendations[0].columns").collect().head
    assert(row.getString(0) === "sales trend up")
    assert(row.getSeq[String](1) === Seq("k1"))
    assert(row.getString(2) === "bar")
    assert(row.getSeq[String](3) === Seq("a", "b"))
  }

  test("partitioned parquet lake write: one directory per partition key") {
    val out = Files.createTempDirectory("graft-lake").toString + "/docs"
    val df = Seq((1L, "en", "a"), (2L, "fr", "b"), (3L, "en", "c"))
      .toDF("doc_id", "lang", "text")
    df.write.partitionBy("lang").mode("overwrite").parquet(out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs === Set("lang=en", "lang=fr"))
    // partition pruning: a lang filter reads only that directory
    val scan = spark.read.parquet(out).filter($"lang" === "en")
    assert(scan.count() === 2)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || scan.inputFiles.forall(_.contains("lang=en")))
  }

  test("writePartitioned: one file per partition, split count honored") {
    import org.apache.spark.sql.functions.input_file_name
    val base = Files.createTempDirectory("graft-wp").toString
    val df = (1L to 300L).map(i => (i, s"k${i % 3}", s"v$i"))
      .toDF("id", "k", "v")
    // default: rows repartition BY the partition column first -> exactly
    // one file per partition directory (not one per input task per dir)
    Sinks.writePartitioned(df, s"$base/one", Seq("k"))
    val one = spark.read.parquet(s"$base/one")
    assert(one.count() === 300L)
    val filesPerDir = one.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
      .groupBy(f => f.split("/").takeWhile(!_.startsWith("part-")).last)
    assert(filesPerDir.keySet === Set("k=k0", "k=k1", "k=k2"))
    filesPerDir.values.foreach(fs => assert(fs.length === 1))
    // filesPerPartition=2: deterministic row-hash split BOUNDS each dir
    // at 2 files (split groups hashing to one shuffle task may merge)
    Sinks.writePartitioned(df, s"$base/two", Seq("k"), filesPerPartition = 2)
    val two = spark.read.parquet(s"$base/two")
    assert(two.count() === 300L)
    val files2 = two.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
      .groupBy(f => f.split("/").takeWhile(!_.startsWith("part-")).last)
    files2.values.foreach(fs => assert(fs.length >= 1 && fs.length <= 2))
    assert(files2.values.map(_.length).sum > 3,
      "the split must actually spread rows beyond one file per dir")
    // sortCols: rows sorted within each file for tight min/max bands
    Sinks.writePartitioned(df, s"$base/sorted", Seq("k"), sortCols = Seq("id"))
    val sorted = spark.read.parquet(s"$base/sorted").filter($"k" === "k1")
      .select("id").collect().map(_.getLong(0))
    assert(sorted.toSeq === sorted.sorted.toSeq)
  }

  test("range-sorted layout gives files disjoint min/max bands") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dst = java.nio.file.Files.createTempDirectory("layout").toString + "/t"
    val df = spark.range(0, 10000).toDF("id")
      .withColumn("id", pmod(hash(col("id")), lit(10000))) // scrambled input
    Sinks.writeRangeSorted(df, dst, Seq("id"), partitions = 4)
    // per-file bands must not overlap: that's what makes footer pruning work
    val bands = spark.read.parquet(dst)
      .groupBy(input_file_name().as("f"))
      .agg(min("id").as("lo"), max("id").as("hi"))
      .orderBy("lo").collect()
    assert(bands.length === 4)
    bands.sliding(2).foreach { case Array(a, b) =>
      assert(a.getInt(2) <= b.getInt(1), "file bands must be disjoint")
    }
    assert(spark.read.parquet(dst).count() === 10000L)
  }

  test("compaction merges a small-files directory, preserving rows") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("frag").toString
    val dst = src + "_compact"
    spark.range(0, 10000).toDF("id").repartition(40)
      .write.mode("overwrite").parquet(src)
    val (before, after) = Sinks.compactParquet(spark, src, dst,
      targetFileBytes = 512L * 1024)
    assert(before === 40)
    assert(after < before)
    assert(spark.read.parquet(dst).count() === 10000L)
    assert(spark.read.parquet(dst).agg(org.apache.spark.sql.functions.sum("id"))
      .first().getLong(0) === 10000L * 9999 / 2)
  }

  test("schema evolution: mergeSchema unions columns across parquet batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evolve").toString
    // batch 1: (doc_id, text); batch 2 adds a lang column
    Seq((1L, "alpha")).toDF("doc_id", "text")
      .write.mode("append").parquet(dir)
    Seq((2L, "beta", "en")).toDF("doc_id", "text", "lang")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("doc_id", "text", "lang"))
    val byId = merged.collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("lang"))).toMap
    assert(byId(1L) === None)       // old rows: evolved column is null
    assert(byId(2L) === Some("en"))
  }

  test("csv source: header + inference, permissive on malformed rows") {
    val p = Files.createTempDirectory("graft-csv").resolve("t.csv")
    Files.writeString(p, "a,b,c\n1,x,2.5\n2,y,3.5\nnot_an_int,z,oops\n")
    val df = Tables.csv(spark, p.toString)
    assert(df.columns === Array("a", "b", "c"))
    assert(df.count() === 3) // malformed row kept as nulls, not a failure
    val types = df.schema.fields.map(_.dataType.simpleString).toSeq
    assert(types.head === "string" || types.head === "int") // inference ran
  }

  test("csvInferFirstRows freezes the reference's 100-row window semantics") {
    val p = Files.createTempDirectory("graft-csv100").resolve("t.csv")
    // numeric for the first rows, textual later: the reference's window
    // keeps the column numeric; whole-file inference widens to string
    Files.writeString(p,
      "a,b\n" + (1 to 5).map(i => s"$i,x$i").mkString("\n") + "\nnot_a_number,y\n")
    val windowed = Tables.csvInferFirstRows(spark, p.toString, rows = 5)
    assert(windowed.schema("a").dataType.simpleString === "int")
    assert(windowed.count() === 6)
    // the non-conforming late cell nulls out under PERMISSIVE
    assert(windowed.filter(windowed("a").isNull).count() === 1)
    val whole = Tables.csv(spark, p.toString)
    assert(whole.schema("a").dataType.simpleString === "string")
  }

  /** Physical operators of `df`'s plan, through AQE's wrapper. */
  private def operators(df: DataFrame): Seq[SparkPlan] =
    operators(df.queryExecution.executedPlan)

  private def operators(plan: SparkPlan): Seq[SparkPlan] = {
    object Plans extends AdaptiveSparkPlanHelper
    Plans.collect(plan) { case p => p }
  }

  private def persistentRdds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def writeCsv(name: String, body: String): Path = {
    val p = Files.createTempDirectory("graft-upload").resolve(name)
    Files.writeString(p, body)
    p
  }

  test("csv ingest: a re-upload at the same path reads the new rows") {
    val p = writeCsv("t.csv", "a,b\n1,x\n2,y\n")
    val first = Tables.csvInferFirstRows(spark, p.toString)
    assert(first.count() === 2)
    Files.writeString(p, "a,b\n1,x\n2,y\n3,z\n4,w\n")
    val second = Tables.csvInferFirstRows(spark, p.toString)
    val fresh = Tables.csv(spark, p.toString)
    try {
      val rows = (1 to 4).zip(Seq("x", "y", "z", "w")).toSet
      assert(second.as[(Int, String)].collect().toSet === rows)
      assert(fresh.as[(Int, String)].collect().toSet === rows)
      assert(first.count() === 4) // refreshed along with the re-upload
    } finally Seq(first, second, fresh).foreach(_.unpersist(blocking = true))
  }

  test("csv ingest: an empty upload fails with a message naming the path") {
    val empty = writeCsv("empty.csv", "")
    Seq[String => Any](Tables.csvInferFirstRows(spark, _), Tables.csv(spark, _))
      .foreach { read =>
        val e = intercept[IllegalArgumentException](read(empty.toString))
        assert(e.getMessage.contains(empty.toString))
      }
    val e = intercept[IllegalArgumentException](Profiler.profile(spark.emptyDataFrame))
    assert(e.getMessage.contains("no columns"))
    // a header with no data rows is a valid, empty table
    val headerOnly = Tables.csvInferFirstRows(spark,
      writeCsv("header.csv", "a,b\n").toString)
    try {
      val ins = Profiler.profile(headerOnly)
      assert(ins.dataSummary.rowCount === 0L)
      assert(ins.columnStatistics.map(_.name) === Seq("a", "b"))
    } finally headerOnly.unpersist(blocking = true)
  }

  test("csv ingest: an upload is parsed once; profile and questions never re-read it") {
    val p = writeCsv("mixed.csv",
      "id,score,city,day\n" +
        "1,1.5,oslo,2024-01-01\n" +
        "2,,bergen,2024-01-02\n" +
        "3,3.5,,2024-01-03\n" +
        "4,4.5,oslo,\n" +
        "5,5.5,bergen,2024-01-05\n")
    val df = Tables.csvInferFirstRows(spark, p.toString)
    assert(df.schema.fields.map(_.dataType.simpleString).toSeq ===
      Seq("int", "double", "string", "date"))
    val before = persistentRdds
    assert(DatasetMetadata.of(df).rowCount === 5L) // builds the cache
    val mine = persistentRdds -- before
    assert(mine.nonEmpty)

    val agg = StructuredQuery(QueryIntent.Aggregate,
      operations = Seq(GroupBy("city"), Mean("score"), SortBy("city", ascending = true)))
    val filter = StructuredQuery(QueryIntent.Filter, columns = Seq("id", "day"),
      operations = Seq(Filter("score", CompareOp.Gt, "2")))
    val chart = StructuredQuery(QueryIntent.Visualize, columns = Seq("score", "id"))
    def answers = (Profiler.profile(df),
      Sinks.jsonArray(QueryCompiler.compile(df, agg)),
      Sinks.jsonArray(QueryCompiler.compile(df, filter)),
      QueryJson.vizPayload(QueryCompiler.compile(df, chart)))
    try {
      val expected = answers
      Files.delete(p)
      assert(answers === expected)
      assert(expected._1.dataSummary.rowCount === 5L)
      assert(expected._3 === """[{"id":3,"day":"2024-01-03"},{"id":4},{"id":5,"day":"2024-01-05"}]""")
      Seq(agg, filter, chart).foreach { q =>
        val ops = operators(QueryCompiler.compile(df, q))
        assert(ops.exists(_.isInstanceOf[InMemoryTableScanExec]))
        assert(!ops.exists(_.isInstanceOf[FileSourceScanExec]))
      }
    } finally df.unpersist(blocking = true)
    assert((persistentRdds intersect mine).isEmpty)
  }

  test("csv ingest: the cache changes no answer, malformed cells included") {
    val p = writeCsv("malformed.csv",
      "id,score,city\n1,1.5,oslo\n2,2.5,bergen\n3,,oslo\n" +
        "not_an_int,4.5,bergen\n5,5.5,trondheim\n")
    val cached = Tables.csvInferFirstRows(spark, p.toString, rows = 3)
    assert(cached.schema("id").dataType.simpleString === "int")
    val plain = spark.read.option("header", "true").schema(cached.schema).csv(p.toString)
    try {
      assert(DatasetMetadata.of(cached).rowCount === 5L)
      assert(!operators(plain).exists(_.isInstanceOf[InMemoryTableScanExec]))
      assert(Profiler.profile(cached) === Profiler.profile(plain))
      val questions = Seq(
        StructuredQuery(QueryIntent.Aggregate,
          operations = Seq(GroupBy("city"), Sum("id"), Count("id"))),
        StructuredQuery(QueryIntent.Filter, columns = Seq("id", "city"),
          operations = Seq(Filter("score", CompareOp.Ge, "2"))),
        // reads only the malformed row's well-formed cells
        StructuredQuery(QueryIntent.Filter, columns = Seq("score", "city"),
          operations = Seq(Filter("city", CompareOp.Eq, "bergen"))))
      questions.foreach { q =>
        def rows(df: DataFrame) =
          QueryCompiler.compile(df, q).collect().map(_.toString).sorted.toSeq
        assert(rows(cached) === rows(plain), q)
      }
      val bergen = QueryCompiler.compile(cached, questions.last).collect()
      assert(bergen.map(r => r.getDouble(0)).sorted.toSeq === Seq(2.5, 4.5))
    } finally cached.unpersist(blocking = true)
  }

  test("partitioned compaction: per-dir merge keeps layout and rows") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("pfrag").toString
    val dst = src + "_compact"
    spark.range(0, 6000).toDF("id")
      .withColumn("lang",
        org.apache.spark.sql.functions.expr("CASE WHEN id % 3 = 0 THEN 'en' WHEN id % 3 = 1 THEN 'fr' ELSE 'de' END"))
      .repartition(10)
      .write.partitionBy("lang").mode("overwrite").parquet(src)
    val report = Sinks.compactPartitionedParquet(spark, src, dst,
      targetFileBytes = 512L * 1024)
    assert(report.keySet === Set("lang=en", "lang=fr", "lang=de"))
    report.values.foreach { case (before, after) => assert(after <= before) }
    val back = spark.read.parquet(dst)
    assert(back.count() === 6000L)
    // partition column survives as a directory-derived column
    assert(back.select("lang").distinct().as[String].collect().toSet
      === Set("en", "fr", "de"))
  }

  /** Runs `body` and returns the jobs it started and the executed plans
    * of the SQL actions it ran. Listener events arrive asynchronously but
    * in order, so a tagged sentinel job flushes them: once its end has
    * been delivered, so has every event posted before it. */
  private def traced(body: => Any): (Int, Seq[SparkPlan]) = {
    val sc = spark.sparkContext
    val tag = "graft.spec.phase"
    val jobs = new AtomicInteger
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val drained = new Semaphore(0)
    val counter = new SparkListener {
      private var sentinel = -1 // touched only on the bus thread
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)).orNull match {
          case "body" => jobs.incrementAndGet()
          case "flush" => sentinel = e.jobId
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinel) drained.release()
    }
    val planner = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def flush(): Unit = {
      sc.setLocalProperty(tag, "flush")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.tryAcquire(30, TimeUnit.SECONDS), "listener bus did not drain")
    }
    sc.addSparkListener(counter)
    spark.listenerManager.register(planner)
    try {
      flush()
      jobs.set(0); plans.clear()
      sc.setLocalProperty(tag, "body")
      body
      flush()
      (jobs.get, plans.asScala.toSeq)
    } finally {
      sc.setLocalProperty(tag, null)
      spark.listenerManager.unregister(planner)
      sc.removeSparkListener(counter)
    }
  }

  private def oldJsonArray(df: DataFrame, n: Int): String =
    df.limit(n).toJSON.collect().mkString("[", ",", "]")

  /** Rows of hostile cells across three partitions: every JSON-escaping,
    * number-rendering and nesting case `toJSON` meets, under column
    * names holding dots, backticks, quotes, spaces and a repeated name. */
  private def hostileFrame(rows: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("unit.price", DoubleType),
      StructField("a`b", StringType),
      StructField("say \"hi\"", DecimalType(12, 3)),
      StructField("day", DateType),
      StructField("at", TimestampType),
      StructField("xs", ArrayType(DoubleType)),
      StructField("m", MapType(StringType, LongType)),
      StructField("s", StructType(Seq(
        StructField("in.ner", StringType),
        StructField("deep", StructType(Seq(StructField("x", FloatType))))))),
      StructField("id", LongType)))
    val doubles = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      -0.0, 0.0, 1e-300, 1.7976931348623157e308, 0.1 + 0.2)
    val texts = Seq("plain", "tab\tnew\nline", "\u000b vt", "quote \" back \\",
      "\ud83d\ude00 smile", "\ud800\udc00 U+10000", "caf\u00e9", "", "\u2028")
    val data = (0 until rows).map[Row] { i =>
      def nth[T](xs: Seq[T]): T = xs(i % xs.size)
      def orNull[T](v: T): Any = if (i % 7 == 3) null else v
      Row(orNull(i), orNull(nth(doubles)), orNull(nth(texts)),
        orNull(java.math.BigDecimal.valueOf(i * 7919L - 400000, 3)),
        orNull(java.sql.Date.valueOf(java.time.LocalDate.of(1969, 12, 31).plusDays(i))),
        orNull(new java.sql.Timestamp(-1000L + i * 86400123L)),
        orNull(Seq(nth(doubles), null, i.toDouble)),
        orNull(Map(nth(texts) -> i.toLong, "k" -> null)),
        orNull(Row(if (i % 3 == 0) null else nth(texts), Row(if (i % 5 == 0) null else i * 0.1f))),
        if (i % 4 == 0) null else Long.MaxValue - i)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  test("jsonArray renders toJSON's bytes with no exchange and no Row round trip") {
    val df = hostileFrame(150)
    Seq(0, 1, 100).foreach { n =>
      val want = oldJsonArray(df, n)
      val (jobs, plans) = traced(assert(Sinks.jsonArray(df, n) === want, s"n = $n"))
      assert(plans.size === 1, s"n = $n")
      val ops = plans.flatMap(operators)
      assert(!ops.exists(_.isInstanceOf[ShuffleExchangeExec]), s"n = $n: $plans")
      assert(!ops.exists(_.isInstanceOf[DeserializeToObjectExec]), s"n = $n: $plans")
      assert(n == 0 || jobs >= 1)
    }
    assert(new ObjectMapper().readTree(Sinks.jsonArray(df, 100)).size() === 100)
  }

  test("jsonArray answers compiled questions as toJSON did") {
    val raw = hostileFrame(150) // a repeated name cannot be referenced
    val df = raw.toDF(raw.columns.toSeq.init :+ "big": _*).drop("s", "m")
    val mapper = new ObjectMapper()
    val unsorted = Seq(
      StructuredQuery(QueryIntent.Filter, columns = Seq("id", "unit.price", "a`b"),
        operations = Seq(Filter("id", CompareOp.Gt, "10"))),
      StructuredQuery(QueryIntent.Describe),
      StructuredQuery(QueryIntent.Aggregate,
        operations = Seq(GroupBy("a`b"), Mean("unit.price"), Count("id"))))
    unsorted.foreach { q =>
      val plan = QueryCompiler.compile(df, q)
      val rows = (s: String) => mapper.readTree(s).elements().asScala.map(_.toString).toSeq
      if (q.intent == QueryIntent.Aggregate) // group order is the exchange's
        assert(rows(Sinks.jsonArray(plan)).sorted === rows(oldJsonArray(plan, 100)).sorted, q)
      else assert(Sinks.jsonArray(plan) === oldJsonArray(plan, 100), q)
    }
    // ties in the sort key may come out in another order: compare keys
    // (-0.0 and 0.0 are one key)
    Seq("unit.price" -> true, "say \"hi\"" -> false, "day" -> true).foreach { case (c, asc) =>
      val plan = QueryCompiler.compile(df, StructuredQuery(QueryIntent.Sort,
        operations = Seq(SortBy(c, asc))))
      val keys = (s: String) => mapper.readTree(s).elements().asScala
        .map(r => Option(r.get(c)).map(_.toString).map(k => if (k == "-0.0") "0.0" else k)).toSeq
      val got = Sinks.jsonArray(plan)
      assert(keys(got) === keys(oldJsonArray(plan, 100)), c)
      assert(mapper.readTree(got).size() === 100)
    }
  }

  /** The chart the distributed ops draw over `df.limit(100)`: today's
    * vizPayload before it collected the sample itself. */
  private def referenceChart(df: DataFrame): (Seq[String], Seq[Double]) = {
    val sample = df.limit(100)
    val numeric = df.schema.fields.filter(f => QueryCompiler.isNumeric(f.dataType)).map(_.name)
    if (numeric.nonEmpty) {
      val r = QueryCompiler.vizNumericAverages(sample, numeric.toSeq).head()
      (numeric.toSeq, numeric.indices.map(i => if (r.isNullAt(i)) 0.0 else r.getDouble(i)))
    } else {
      val c = df.schema.fields.find(_.dataType == StringType).get.name
      val counts = QueryCompiler.vizValueCounts(sample, c).collect()
      (counts.map(_.getString(0)).toSeq, counts.map(_.getLong(1).toDouble).toSeq)
    }
  }

  /** Labels and values of a bar chart; counts are small, exact doubles. */
  private def chartOf(json: String): (Seq[String], Seq[Double]) = {
    val node = new ObjectMapper().readTree(json)
    val labels = node.at("/data/labels").elements().asScala
      .map(n => if (n.isNull) null else n.asText()).toSeq
    val data = node.at("/data/datasets/0/data").elements().asScala
      .map(_.asDouble()).toSeq
    (labels, data)
  }

  test("vizPayload draws the chart the distributed ops drew over the sample") {
    val numSchema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("dec", DecimalType(14, 4)),
      StructField("f", FloatType), StructField("none", DoubleType),
      StructField("s", StringType)))
    val numRows = (0 until 250).map { i =>
      Row(if (i % 9 == 0) null else i * 37 - 900,
        if (i % 11 == 0) null else Long.MaxValue / 3 - i * 1234567L,
        if (i % 13 == 0) null else math.sin(i) * 1e3 + 1e-7 * i,
        if (i % 17 == 0) null else java.math.BigDecimal.valueOf(i * 1234567L + 89, 4),
        if (i % 5 == 0) null else (i * 0.1f),
        null, s"s$i")
    }
    // "\ufffd" sorts before the emoji by UTF-8 bytes, after it by UTF-16
    val labels = Seq("b", "a", null, "\ufffd", "\ud83d\ude00", "a", "c", null, "\ud83d\ude00", "\ufffd")
    val catSchema = StructType(Seq(StructField("day", DateType),
      StructField("label", StringType), StructField("other", StringType)))
    val catRows = (0 until 250).map { i =>
      Row(java.sql.Date.valueOf("2024-01-01"), if (i < 100) labels(i % labels.size) else "late", "x")
    }
    Seq(numSchema -> numRows, catSchema -> catRows).foreach { case (schema, rows) =>
      Seq(37, 250).foreach { n =>
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.take(n), 3), schema)
        val got = chartOf(QueryJson.vizPayload(df))
        val want = referenceChart(df)
        assert(got._1 === want._1)
        // exact: same values summed in the same order
        assert(got._2.map(java.lang.Double.doubleToLongBits) ===
          want._2.map(java.lang.Double.doubleToLongBits), s"$schema $n")
      }
    }
    val cat = chartOf(QueryJson.vizPayload(
      spark.createDataFrame(spark.sparkContext.parallelize(catRows, 3), catSchema)))
    assert(cat === ((Seq(null, "a", "\ufffd", "\ud83d\ude00", "b", "c"),
      Seq(20.0, 20.0, 20.0, 20.0, 10.0, 10.0))))
  }

  /** A cached upload like an insights session's, `DatasetMetadata.of` run. */
  private def upload(name: String, body: String): DataFrame = {
    val df = Tables.csvInferFirstRows(spark, writeCsv(name, body).toString)
    DatasetMetadata.of(df)
    df
  }

  test("one action per answer: rows, sort, describe and chart each run one job") {
    val df = upload("sales.csv", "id,price,region\n" +
      (1 to 500).map(i => s"$i,${i % 37}.5,r${i % 6}").mkString("\n") + "\n")
    try {
      val questions = Seq(
        StructuredQuery(QueryIntent.Filter, columns = Seq("id", "region"),
          operations = Seq(Filter("price", CompareOp.Gt, "2"))),
        StructuredQuery(QueryIntent.Sort, operations = Seq(SortBy("price", ascending = false))),
        StructuredQuery(QueryIntent.Describe),
        StructuredQuery(QueryIntent.Describe, operations = Seq(SortBy("id", ascending = false))))
      questions.foreach { q =>
        val plan = QueryCompiler.compile(df, q)
        assert(traced(Sinks.jsonArray(plan))._1 === 1, q)
      }
      Seq(Seq("price", "id"), Seq("region")).foreach { cols =>
        val plan = QueryCompiler.compile(df, StructuredQuery(QueryIntent.Visualize, columns = cols))
        assert(traced(QueryJson.vizPayload(plan))._1 === 1, cols)
      }
    } finally df.unpersist(blocking = true)
  }

  test("column names with dots, backticks and spaces answer like plain names") {
    val names = Seq("unit.price" -> "unitprice", "a`b" -> "ab", "region name" -> "region")
    val body = (1 to 60).map(i =>
      s"${i % 7}.25,${i % 4},${Seq("north", "south", "east")(i % 3)}").mkString("\n") + "\n"
    val odd = upload("odd.csv", names.map(_._1).mkString(",") + "\n" + body)
    val plain = upload("plain.csv", names.map(_._2).mkString(",") + "\n" + body)
    def rename(s: String) = names.foldLeft(s) { case (t, (o, p)) => t.replace(o, p) }
    try {
      assert(odd.columns.toSeq === names.map(_._1))
      val (a, b) = (Profiler.profile(odd), Profiler.profile(plain))
      assert(a.columnStatistics.map(c => c.copy(name = rename(c.name))) === b.columnStatistics)
      assert(a.correlations.map { case (k, v) => rename(k) -> v } === b.correlations)
      assert(rename(a.dataSummary.toString) === b.dataSummary.toString)
      Seq("average unit.price by region name" -> "average unitprice by region",
        "show rows where unit.price > 2" -> "show rows where unitprice > 2",
        "sort by unit.price" -> "sort by unitprice",
        "chart unit.price and a`b" -> "chart unitprice and ab",
        "chart region name" -> "chart region").foreach { case (o, p) =>
        def answer(df: DataFrame, text: String) = {
          val q = NLTranslator.translate(text, df.schema)
          val plan = QueryCompiler.compile(df, q)
          (q.intent, if (q.intent == QueryIntent.Visualize) QueryJson.vizPayload(plan)
                     else Sinks.jsonArray(plan))
        }
        val (oq, oa) = answer(odd, o)
        val (pq, pa) = answer(plain, p)
        assert(oq === pq, o)
        assert(rename(oa) === pa, o)
        assert(oa.contains(names.find(n => o.contains(n._1)).get._1), o)
      }
    } finally Seq(odd, plain).foreach(_.unpersist(blocking = true))
  }

  test("GraftSession clone carries the zstd parquet codec") {
    val s = GraftSession.local(4)
    assert(s.conf.get("spark.sql.parquet.compression.codec") === "zstd")
  }
}
