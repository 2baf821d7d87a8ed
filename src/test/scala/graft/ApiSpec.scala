package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.io.{Sinks, Tables}
import graft.model.DatasetMetadata
import graft.profile.Profiler

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
    val json = graft.query.QueryJson.vizPayload(df)
    assert(json ===
      """{"type":"bar","data":{"labels":["x","y"],""" +
        """"datasets":[{"label":"Average","data":[2.0,20.0]}]},"options":{}}""")
  }

  test("vizPayload: categorical path counts the first string column") {
    val df = Seq(("a", "z"), ("b", "z"), ("a", "z")).toDF("k", "k2")
    val json = graft.query.QueryJson.vizPayload(df)
    assert(json ===
      """{"type":"bar","data":{"labels":["a","b"],""" +
        """"datasets":[{"label":"k count","data":[2,1]}]},"options":{}}""")
  }

  test("vizPayload: no chartable columns falls back to a table config") {
    val df = Seq(Tuple1(Array(1.0))).toDF("v")
    val json = graft.query.QueryJson.vizPayload(df)
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(node.get("type").asText() === "table")
    assert(node.at("/data/columns/0").asText() === "v")
    assert(node.at("/data/rows").size() === 1)
  }

  test("vizPayload: all-null numeric column averages to 0.0 like the reference") {
    val df = Seq((None: Option[Double], "a")).toDF("x", "s")
    val json = graft.query.QueryJson.vizPayload(df)
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
    import graft.model.{AISummary, VisualizationRecommendation}
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
  private def operators(df: DataFrame): Seq[SparkPlan] = {
    object Plans extends AdaptiveSparkPlanHelper
    Plans.collect(df.queryExecution.executedPlan) { case p => p }
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
    import graft.model._
    import graft.model.ColumnOperation._
    import graft.query.{QueryCompiler, QueryJson}
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
    import graft.model._
    import graft.model.ColumnOperation._
    import graft.query.QueryCompiler
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

  test("GraftSession clone carries the zstd parquet codec") {
    val s = GraftSession.local(4)
    assert(s.conf.get("spark.sql.parquet.compression.codec") === "zstd")
  }
}
