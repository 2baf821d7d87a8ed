package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.model._
import graft.model.ColumnOperation._
import graft.query.{NLTranslator, QueryCompiler}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query registered here returns a DETERMINISTIC result at a given
  * scale factor: aggregates are rounded (floating-point accumulation order
  * differs between engines) and limits are preceded by a total order so
  * the DuckDB-oracle hash compare is stable.
  */
object SparkEntry {

  /** Deterministic-trainer memo: every trainer here is a pure function
    * of (data dir, params) — seeded KMeans over a seeded hash-sample —
    * so one JVM running many queries (Verify, Bench) trains each model
    * ONCE (q40/q116 share the 16-cell centroids; q115 holds the m=16
    * raw-vector books, q116 its m=8 residual-trained books) instead of
    * paying the driver-sequenced fits per query.
    */
  private val trainerMemo =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def memoTrain[T <: AnyRef](key: String)(f: => T): T =
    trainerMemo.computeIfAbsent(key, _ => f).asInstanceOf[T]

  /** The seeded IVF coarse quantizer over the 64-dim embeddings. */
  private def ivfCentroids(emb: DataFrame, dir: String,
                           nCells: Int): Array[Array[Double]] =
    memoTrain(s"ivf$nCells:$dir") {
      graft.ext.Similarity.trainIvfCentroids(
        emb, "vec_id", "embedding", nCells = nCells,
        trainFraction = 0.25, seed = 42L, dim = 64)
    }

  /** Seeded raw-vector PQ codebooks (`m` subspaces × 16 codes) over the
    * 64-dim embeddings. */
  private def pqCodebooks(emb: DataFrame, dir: String,
                          m: Int): Array[Array[Array[Double]]] =
    memoTrain(s"pq$m:$dir") {
      graft.ext.Similarity.trainPqCodebooks(
        emb, "vec_id", "embedding", dim = 64, m = m, k = 16,
        trainFraction = 0.25, seed = 42L)
    }

  /** The planted bigrams that define the truth label of the trained
    * scorer (q148, q153, q170, q173) — ONE list shared by every binding
    * and every oracle builder. */
  private val Planted148 = Seq("spark join", "data table", "big data",
    "fast scan", "hash join", "stream batch", "key value", "slow query")

  /** The planted truth label as a bare column, so single-pass
    * consumers (score + label in ONE projection, round 14) and the
    * training-input frame below can never drift apart. */
  private def lr148LabelCol: org.apache.spark.sql.Column =
    arrays_overlap(
      graft.functions.Strings.wordNgrams(lower(col("text")), 2,
        wholeTextFallback = false),
      array(Planted148.map(lit): _*)).cast("int")

  private def lr148TruthDF(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), lr148LabelCol.as("label"))

  /** The q148 trained model, memoized per data dir so q170's
    * calibration audit scores with the SAME weights q148 captured. */
  private def lr148Model(dir: String,
                         docs: DataFrame): graft.ext.Training.TrainedLogReg =
    memoTrain(s"lr148:$dir") {
      graft.ext.Training.trainLogReg(
        docs.join(lr148TruthDF(docs), Seq("doc_id"))
          .filter(col("doc_id") < 20000),
        "text", "label", buckets = 4096, maxIter = 100)
    }

  /** The deterministic messy-HTML page built from a documents row
    * (comments, hostile script/style, entities) — ONE definition
    * shared by q134 (extraction) and q149 (WARC framing) so the two
    * fixtures and their oracles can never drift apart. */
  private def messyHtml: org.apache.spark.sql.Column = concat(
    lit("<html><head><!-- job "), col("doc_id").cast("string"),
    lit(" --><script type=\"text/javascript\">if (1 < 2) " +
      "{ var s = \"</p>\"; }</script><style media=\"all\">" +
      "p { color: #333; }</style></head><body><h1>"),
    upper(col("source")),
    lit("</h1>\n<p>"),
    replace(col("text"), lit(" value "), lit(" &quot;value&quot; ")),
    lit("</p>\n<div class=\"footer\">&copy; 2026 &amp; beyond&nbsp;" +
      "&lt;end&gt;</div></body></html>"))

  /** Hive-partitioned copy of `customer` (by c_nationkey) under /tmp —
    * the q117 dynamic-partition-pruning fixture. Written once per sf
    * dir via [[graft.io.Sinks.writePartitioned]] and reused across
    * JVMs: the _SUCCESS marker gates the rewrite, and the source is
    * deterministic driver testdata, so a cached copy is always valid.
    */
  private def partitionedCustomer(s: SparkSession, dir: String): DataFrame = {
    val base = "/tmp/graft_dpp/" +
      dir.replaceAll("[^A-Za-z0-9.]", "_") + "/customer"
    val marker = new org.apache.hadoop.fs.Path(base + "/_SUCCESS")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker))
      graft.io.Sinks.writePartitioned(
        Tables.customer(s, dir), base, Seq("c_nationkey"))
    s.read.parquet(base)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** A registry line: how it builds its DataFrame, and its oracle —
    * equivalent ANSI SQL that DuckDB runs on the same parquet tables.
    * Column names/aliases MUST match the Spark output exactly. */
  sealed trait Line

  /** A line whose oracle is fixed SQL. */
  final case class Static(run: (SparkSession, String) => DataFrame,
      sql: String) extends Line

  /** A line whose oracle replays, as SQL literals, values the line
    * computed (trained books, centroids, weights, fingerprints, a PCA
    * basis, BPE merges). `run` returns its DataFrame with a thunk that
    * renders that oracle on request, so building a line for [[queries]]
    * renders nothing. [[Verify]] collects the oracles of the lines it
    * ran; a line that did not run (partial `only` runs) has none, and
    * the driver falls back to its rows-only record — never a stale or
    * wrong SQL.
    */
  // Every tunable the oracle must replay rides the thunk alongside
  // the trained params — a knob edited at the registry call site can
  // never silently leave the generated SQL replaying the old value.
  final case class Captured(
      run: (SparkSession, String) => (DataFrame, () => String)) extends Line

  /** Every registered line's DataFrame. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    lines.map {
      case (name, Static(run, _)) => name -> run
      case (name, Captured(run)) =>
        name -> ((s: SparkSession, dir: String) => run(s, dir)._1)
    }.toMap

  /** The oracles of the [[Static]] lines; the [[capturedLines]] return
    * their own. */
  lazy val oracleSql: Map[String, String] =
    lines.collect { case (name, Static(_, sql)) => name -> sql }.toMap

  /** The [[Captured]] lines. */
  lazy val capturedLines
      : Map[String, (SparkSession, String) => (DataFrame, () => String)] =
    lines.collect { case (name, Captured(run)) => name -> run }.toMap

  /** One line per implemented operator from SURVEY.md §2, in
    * registration order. Lazy: the static SQL interpolates helpers
    * declared further down the object, and building it once keeps every
    * `queries(name)` call as cheap as a map lookup. */
  lazy val lines: Seq[(String, Line)] = Seq(
    // --- A1-A4, A8, F1-F3: pricing-summary aggregate (TPC-H Q1 shape) ----
    // Exercises: filter pushdown (P2), group-by agg (A4), sum/avg/count
    // (A1-A3), arithmetic expressions, ordering (O1).
    "q1_agg" -> Static((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // --- P1+P2 via QueryCompiler: typed AND-composed filters + projection.
    "q2_filter" -> Static((s, dir) => {
      QueryCompiler.compile(
        Tables.lineitem(s, dir),
        StructuredQuery(QueryIntent.Filter,
          columns = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
          operations = Seq(
            Filter("l_quantity", CompareOp.Gt, "45"),
            Filter("l_discount", CompareOp.Le, "0.05"),
            Filter("l_returnflag", CompareOp.Ne, "A"))))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_discount <= 0.05 AND l_returnflag <> 'A'""".stripMargin),

    // --- O1 via QueryCompiler: sort + projection (row order is free for
    // the oracle hash; the sort node itself is what's exercised).
    "q3_sort" -> Static((s, dir) => {
      QueryCompiler.compile(
        Tables.orders(s, dir),
        StructuredQuery(QueryIntent.Sort,
          columns = Seq("o_orderkey", "o_totalprice", "o_orderpriority"),
          operations = Seq(
            Filter("o_orderstatus", CompareOp.Eq, "F"),
            SortBy("o_totalprice", ascending = false))))
    },
      """SELECT o_orderkey, o_totalprice, o_orderpriority
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_totalprice DESC""".stripMargin),

    // --- A4 via QueryCompiler: group-by + per-group count.
    "q4_groupby_count" -> Static((s, dir) => {
      QueryCompiler.compile(
        Tables.lineitem(s, dir),
        StructuredQuery(QueryIntent.Aggregate,
          operations = Seq(GroupBy("l_returnflag"))))
    },
      """SELECT l_returnflag, count(l_returnflag) AS count_l_returnflag
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // --- A1-A3 via QueryCompiler: scalar aggregates share one agg node.
    "q5_scalar_aggs" -> Static((s, dir) => {
      val r = QueryCompiler.compile(
        Tables.lineitem(s, dir),
        StructuredQuery(QueryIntent.Aggregate,
          operations = Seq(
            Mean("l_extendedprice"), Sum("l_quantity"), Count("l_orderkey"))))
      r.select(
        round(col("mean_l_extendedprice"), 4).as("mean_l_extendedprice"),
        round(col("sum_l_quantity"), 2).as("sum_l_quantity"),
        col("count_l_orderkey"))
    },
      """SELECT round(avg(l_extendedprice), 4) AS mean_l_extendedprice,
        |  round(sum(l_quantity), 2) AS sum_l_quantity,
        |  count(l_orderkey) AS count_l_orderkey
        |FROM lineitem""".stripMargin),

    // --- O2: Describe = deterministic first-10 (sorted by unique key).
    "q6_describe" -> Static((s, dir) => {
      QueryCompiler.compile(
        Tables.orders(s, dir),
        StructuredQuery(QueryIntent.Describe,
          columns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
          operations = Seq(SortBy("o_orderkey", ascending = true))))
    },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 10""".stripMargin),

    // --- O3: Visualize = 100-row capped payload, deterministic.
    "q7_visualize" -> Static((s, dir) => {
      QueryCompiler.compile(
        Tables.orders(s, dir),
        StructuredQuery(QueryIntent.Visualize,
          columns = Seq("o_orderkey", "o_totalprice"),
          operations = Seq(SortBy("o_orderkey", ascending = true))))
    },
      """SELECT o_orderkey, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin),

    // --- A13: viz numeric averages as ONE distributed agg (not JSON
    // post-processing like the reference).
    "q8_viz_avg" -> Static((s, dir) => {
      val df = QueryCompiler.vizNumericAverages(
        Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      df.select(df.columns.map(c => round(col(c), 4).as(c)): _*)
    },
      """SELECT round(avg(l_quantity), 4) AS avg_l_quantity,
        |  round(avg(l_extendedprice), 4) AS avg_l_extendedprice,
        |  round(avg(l_discount), 4) AS avg_l_discount,
        |  round(avg(l_tax), 4) AS avg_l_tax
        |FROM lineitem""".stripMargin),

    // --- A14: viz value counts (group-count, deterministically ordered).
    "q9_viz_counts" -> Static((s, dir) =>
      QueryCompiler.vizValueCounts(Tables.customer(s, dir), "c_mktsegment"),
      """SELECT c_mktsegment, count(*) AS count
        |FROM customer GROUP BY c_mktsegment""".stripMargin),

    // --- A5-A9: every numeric statistic for every column, ONE scan.
    "q11_numeric_stats" -> Static((s, dir) => {
      val df = graft.profile.Profiler.numericStatsDF(
        Tables.lineitem(s, dir), Seq("l_quantity", "l_extendedprice", "l_discount"))
      val keep = Seq(col("column"), col("null_count")) ++
        df.columns.drop(2).map(c => round(col(c), 4).as(c))
      df.select(keep: _*)
    },
      {
        def one(c: String) =
          s"""SELECT '$c' AS "column",
             |  count(*) - count($c) AS null_count,
             |  round(CAST(min($c) AS DOUBLE), 4) AS min,
             |  round(CAST(max($c) AS DOUBLE), 4) AS max,
             |  round(avg($c), 4) AS mean,
             |  round(stddev_samp($c), 4) AS std_dev,
             |  round(quantile_cont($c, 0.25), 4) AS percentile_25,
             |  round(quantile_cont($c, 0.5), 4) AS median,
             |  round(quantile_cont($c, 0.75), 4) AS percentile_75
             |FROM lineitem""".stripMargin
        Seq("l_quantity", "l_extendedprice", "l_discount")
          .map(one).mkString("\nUNION ALL\n")
      }),

    // --- A5+A6: null + exact distinct counts for all columns, one scan.
    "q12_null_unique" -> Static((s, dir) =>
      graft.profile.Profiler.nullUniqueDF(
        Tables.customer(s, dir), includeApprox = false),
      {
        def one(c: String) =
          s"""SELECT '$c' AS "column", count(*) - count($c) AS null_count,
             |  count(DISTINCT $c) AS unique_count FROM customer""".stripMargin
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
          .map(one).mkString("\nUNION ALL\n")
      }),

    // --- A11: all pairwise Pearson correlations, one scan.
    "q13_corr" -> Static((s, dir) => {
      val df = graft.profile.Profiler.correlationsDF(
        Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      df.select(col("pair"), round(col("correlation"), 6).as("correlation"))
    },
      {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
          yield (cols(i), cols(j))
        pairs.map { case (a, b) =>
          s"SELECT '$a-$b' AS pair, round(corr($a, $b), 6) AS correlation FROM lineitem"
        }.mkString("\nUNION ALL\n")
      }),

    // --- A10: true top-k frequent values (count desc, value asc).
    "q14_freq_values" -> Static((s, dir) =>
      graft.profile.Profiler.frequentValuesDF(Tables.orders(s, dir), "o_orderpriority"),
      """SELECT CAST(o_orderpriority AS VARCHAR) AS value, count(*) AS count
        |FROM orders WHERE o_orderpriority IS NOT NULL
        |GROUP BY o_orderpriority
        |ORDER BY count DESC, value ASC LIMIT 10""".stripMargin),

    // --- Date-column statistics (the reference only classifies dates).
    "q41_date_stats" -> Static((s, dir) =>
      graft.profile.Profiler.dateStatsDF(Tables.orders(s, dir), Seq("o_orderdate")),
      """SELECT 'o_orderdate' AS "column",
        |  count(*) - count(o_orderdate) AS null_count,
        |  CAST(min(o_orderdate) AS TIMESTAMP) AS min_ts,
        |  CAST(max(o_orderdate) AS TIMESTAMP) AS max_ts,
        |  count(DISTINCT CAST(o_orderdate AS DATE)) AS distinct_days
        |FROM orders""".stripMargin),

    // --- Equi-width histogram (viz payload for numeric columns).
    "q42_histogram" -> Static((s, dir) =>
      graft.profile.Profiler.histogramDF(Tables.lineitem(s, dir), "l_extendedprice", 10),
      """WITH ext AS (
        |  SELECT CAST(min(l_extendedprice) AS DOUBLE) AS mn,
        |         CAST(max(l_extendedprice) AS DOUBLE) AS mx
        |  FROM lineitem),
        |b AS (
        |  SELECT least(CAST(floor((l_extendedprice - mn) / ((mx - mn) / 10))
        |                    AS INTEGER), 9) AS bucket, mn, mx
        |  FROM lineitem, ext WHERE l_extendedprice IS NOT NULL)
        |SELECT bucket,
        |  round(mn + bucket * ((mx - mn) / 10), 6) AS lo,
        |  round(mn + (bucket + 1) * ((mx - mn) / 10), 6) AS hi,
        |  count(*) AS count
        |FROM b GROUP BY bucket, mn, mx""".stripMargin),

    // --- Corpus vocabulary with counts + doc frequency (BPE vocab prep).
    "q43_vocab" -> Static((s, dir) =>
      graft.ext.TextAnalysis.vocabularyDF(Tables.documents(s, dir), "doc_id", "text",
        minCount = 100L),
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |                       t -> t <> '')) AS tok
        |  FROM documents)
        |SELECT tok, count(*) AS occurrences,
        |  count(DISTINCT doc_id) AS doc_freq
        |FROM toks GROUP BY tok HAVING count(*) >= 100""".stripMargin),

    // --- U1: rule-based NL translation compiled end-to-end.
    "q10_nl_mean" -> Static((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val sq = NLTranslator.translate("what is the average l_extendedprice?", li.schema)
      val r = QueryCompiler.compile(li, sq)
      r.select(r.columns.map(c => round(col(c), 4).as(c)): _*)
    },
      "SELECT round(avg(l_extendedprice), 4) AS mean_l_extendedprice FROM lineitem"),

    // --- NL comparison phrases -> typed predicates -> one plan.
    "q75_nl_filter" -> Static((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val sq = NLTranslator.translate(
        "average l_extendedprice by l_returnflag where l_quantity greater than 45",
        li.schema)
      val r = QueryCompiler.compile(li, sq)
      r.select(col("l_returnflag"),
        round(col("mean_l_extendedprice"), 4).as("mean_l_extendedprice"))
    },
      """SELECT l_returnflag,
        |  round(avg(l_extendedprice), 4) AS mean_l_extendedprice
        |FROM lineitem WHERE l_quantity > 45
        |GROUP BY l_returnflag""".stripMargin),

    // --- distinct / dropDuplicates (declared absent in the reference).
    "q44_distinct" -> Static((s, dir) =>
      Tables.lineitem(s, dir)
        .select("l_returnflag", "l_linestatus")
        .distinct(),
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"),

    // --- ROLLUP: hierarchical subtotals + grand total in one pass.
    "q45_rollup" -> Static((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n")),
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),

    // --- pivot: per-linestatus revenue columns.
    "q46_pivot" -> Static((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_extendedprice")), 2)),
      """SELECT l_returnflag,
        |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice END), 2) AS "F",
        |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice END), 2) AS "O"
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // --- Dedup: exact content-hash survivors (shuffles digests, not docs).
    "q15_exact_dedup" -> Static((s, dir) =>
      graft.ext.Dedup.exactSurvivors(Tables.documents(s, dir), "doc_id", "text"),
      "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)"),

    // --- Dedup: exact trigram-shingle Jaccard similarity join (ground
    // truth for the sketch path), bound to the PREFIX-FILTER plan
    // (ppjoin-family): candidates join only on each doc's rarest
    // (1-tau)·n shingles, which excludes exactly the hot tokens that
    // made the naive token join the board's only sf1 spiller (22.3 GB,
    // 12x for 10x data in round 8). Spec-equal to the naive join
    // (DedupSpec equivalence anchor); same oracle. At sf0.1 the naive
    // form is ~4 s faster (shared shingles are sparse there), but the
    // Σdf² blowup above sf1 is the cost that matters at 100 TB.
    // Exact verification twin bound on a FIXED doc_id < 50000 slice
    // (the whole corpus at sf ≤ 1; 10% at sf10): exact pairwise
    // Jaccard over the full 500k-doc sf10 corpus stalled the driver
    // heartbeat for 3 minutes mid-run (SCALE.md round 10) — the
    // corpus-wide pass is q17/q127's LSH job, and this entry's job is
    // verifying it, which a fixed slice does at any sf.
    "q16_jaccard_pairs" -> Static((s, dir) =>
      graft.ext.Dedup.jaccardPairsPrefix(
          Tables.documents(s, dir).filter(col("doc_id") < 50000), "doc_id",
          "text", tau = 0.5, ngram = 3) // exact: prefix filter loses no pair
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard")),
      // doc_id < 50000 mirrors the board binding's fixed slice (a no-op
      // at the driver's sf0.01)
      jaccardPairsSql(" AND doc_id < 50000")),

    // --- Dedup: transitive near-dup CLUSTERS over the exact pairs
    // (label propagation; DuckDB recursive-CTE closure as oracle).
    // Bounded to a fixed doc subset so the PAIR GENERATION cost — not
    // the components op — doesn't rescale with sf (q16 already benches
    // the full pair join).
    "q77_components" -> Static((s, dir) => {
      val pairs = graft.ext.Dedup.jaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 500),
        "doc_id", "text", tau = 0.5, ngram = 3, maxDocFrequency = None,
        maxTokenDocs = None)
      graft.ext.Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
    },
      s"""WITH RECURSIVE p AS (${jaccardPairsSql(" AND doc_id < 500")}),
         |$ClosureCtes
         |SELECT id AS doc_id, component FROM comp""".stripMargin),

    // --- The full near-dup dedup story in one plan: pairs -> transitive
    // clusters -> one best-quality survivor per cluster (unpaired docs
    // are singleton clusters and survive automatically).
    "q80_canonical" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 500)
      val pairs = graft.ext.Dedup.jaccardPairs(docs, "doc_id", "text",
        tau = 0.5, ngram = 3, maxDocFrequency = None, maxTokenDocs = None)
      val comp = graft.ext.Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
      val quality = graft.ext.TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), round(col("quality_score"), 6).as("q"))
      docs.select("doc_id")
        .join(comp, Seq("doc_id"), "left_outer")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
        .join(quality, Seq("doc_id"))
        .groupBy("component")
        .agg(count(lit(1)).as("cluster_size"),
          min(struct((-col("q")).as("nq"), col("doc_id").as("k")))
            .getField("k").as("survivor"))
    },
      s"""WITH RECURSIVE p AS (${jaccardPairsSql(" AND doc_id < 500")}),
         |$ClosureCtes,
         |${qualityCtes(" WHERE doc_id < 500")},
         |dc AS (
         |  SELECT q.doc_id, coalesce(comp.component, q.doc_id) AS component, q.qs
         |  FROM q LEFT JOIN comp ON q.doc_id = comp.id)
         |SELECT component, count(*) AS cluster_size,
         |  (min(struct_pack(nq := -qs, k := doc_id))).k AS survivor
         |FROM dc GROUP BY component""".stripMargin),

    // --- Dedup: MinHash+LSH sketch path. Fully DuckDB-oracled: the
    // md5-derived affine hash family + verbatim band-value buckets are
    // replayed in SQL end-to-end (signatures, banding, bucket cap,
    // candidate pairs, estimate); recall vs jaccardPairs in DedupSpec.
    "q17_minhash_pairs" -> Static((s, dir) =>
      graft.ext.Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
          tau = 0.5, ngram = 3, numHashes = 64, bands = 16,
          maxBucketSize = Some(1000))
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard")),
      minhashPairsOracleSql()),

    // --- Dedup: the CHARACTER-shingle near-dup path (CCNet/RefinedWeb
    // practice) — same md5-affine minhash family and banding as q17,
    // but shingles are 5-char grams of the whitespace-collapsed text,
    // the mode that keeps near-dup detection alive on unsegmented
    // scripts (CJK/Thai), where whitespace tokenization yields ~one
    // token per run and word-shingled signatures carry no signal
    // (DedupSpec: planted CJK near-dups are MISSED by word shingles,
    // CAUGHT by char shingles). Fully DuckDB-oracled via substr-grams.
    // bands=8 (width 8, S-curve midpoint (1/8)^(1/8) ≈ 0.77) and
    // tau=0.8 — the operating point char shingles need: character
    // 5-gram Jaccard between UNRELATED docs runs far higher than word
    // trigrams (shared substrings dominate), so the word-mode 16×4
    // banding (midpoint 0.5) floods candidates — measured 13.6M capped
    // candidate pairs at sf1 vs 13k at 8×8, and a 74 GB spill death at
    // sf10 (ProbeCharMinhashFlood; SCALE.md round 10).
    "q127_char_minhash" -> Static((s, dir) =>
      graft.ext.Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
          tau = 0.8, numHashes = 64, bands = 8, maxBucketSize = Some(1000),
          mode = graft.ext.Dedup.ShingleMode.Char, charK = 5)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard")),
      minhashPairsOracleSql(shCtes = CharShingleShCtes,
        bands = 8, tau = 0.8)),

    // --- Dedup: the LSH OPERATING-POINT RECOMMENDER — closes the
    // q125/q126 tuning loop by choosing (bands, width) from the
    // measured bucket histogram + the S-curve at the target tau,
    // BEFORE any pair is generated. Run here at q127's char-shingle
    // config: the word-mode 16×4 point (and 32×2) must come back
    // infeasible (candidate flood — the round-10 74 GB spill class)
    // with 8×8 recommended. Histogram arithmetic is exact integers,
    // S-curve cells are snapped plan-time constants — fully oracled.
    "q175_lsh_recommend" -> Static((s, dir) =>
      graft.ext.Dedup.lshAutoRecommend(Tables.documents(s, dir), "doc_id",
        "text", tau = 0.8, numHashes = 64, bandsGrid = Seq(8, 16, 32),
        mode = graft.ext.Dedup.ShingleMode.Char, charK = 5,
        recallFloor = 0.7, maxPairsPerDoc = 10.0),
      lshRecommendOracleSql(tau = 0.8,
        grid = Seq(8, 16, 32), recallFloor = 0.7, maxPairsPerDoc = 10.0)),

    // --- URL canonicalization + registrable domain (the op a crawl
    // corpus needs BEFORE the q123 domain quota makes sense): messy
    // deterministic URLs synthesized from stable columns in BOTH
    // engines, then scheme/host case-folding, userinfo + default-port
    // + fragment stripping, tracking-param removal, bytewise param
    // sort, PSL-subset domain extraction — all map-side regex/array
    // expressions, replayed verbatim in the oracle. UrlsSpec pins the
    // tricky cases (IPv6 brackets, trailing dots, co.uk, bare IPs).
    "q129_url_canonical" -> Static((s, dir) => {
      val idStr = col("doc_id").cast("string")
      val v = pmod(col("doc_id"), lit(5))
      val url = when(v === 0, concat(lit("HTTPS://WWW."), upper(col("source")),
          lit(".Example.COM:443/Articles/"), idStr,
          lit("?utm_source=feed&b=2&a=1#frag")))
        .when(v === 1, concat(lit("http://"), col("source"),
          lit(".example.co.uk:8080/a/b/c?z=9&utm_campaign=x&y=1")))
        .when(v === 2, concat(lit("https://user:pass@"), col("source"),
          lit(".example.org./path/?id="), idStr))
        .when(v === 3, concat(lit("http://"), col("source"),
          lit(".example.com:80")))
        .otherwise(concat(lit("https://192.168."),
          pmod(col("doc_id"), lit(200)).cast("string"), lit(".1/x?q="), idStr))
      graft.ext.Urls.withUrlParts(
        Tables.documents(s, dir).select(col("doc_id"), url.as("url")), "url")
    },
      urlCanonicalOracleSql()),

    // --- Multimodal: audio-CONTENT dedup — the audio twin of q120.
    // Every doc becomes a REAL mono 16-bit PCM WAV (ids ≡ 3 mod 7 are
    // planted RE-ENCODINGS of their predecessor: half sample rate,
    // half gain — different bytes, different header, same content);
    // the 65-segment energy-envelope fingerprint is invariant to
    // resampling and uniform gain, and the shared 4x16-banded Hamming
    // join pairs the re-encoded duplicates byte digests sail past.
    // Oracle replays the pairing over the CAPTURED fingerprints.
    "q130_audio_phash_dedup" -> Captured((s, dir) => {
      val media = graft.ext.Multimodal.wavAudioTable(Tables.documents(s, dir))
      val fp = graft.ext.Multimodal.audioPerceptualHash(media).toDF()
        .filter(col("afp").isNotNull)
        .select(col("media_id"), col("afp"))
        .localCheckpoint(eager = true)
      val maxHamming = 3
      val oracle = () => fingerprintHammingOracleSql(fp, maxHamming)
      (graft.ext.Dedup.hammingPairs64(fp, "media_id", "afp", maxHamming),
        oracle)
    }),

    // --- Corpus-scale heavy hitters: global top-k bigrams via a
    // Misra–Gries sketch + exact candidate verification. The exact
    // q58-style groupBy shuffles one row per DISTINCT n-gram per
    // partition — billions of keys on a web corpus (Heaps' law); the
    // sketch path shuffles a constant ≤ capacity entries per partition,
    // then exact-counts only the surviving candidates. The MG merge
    // guarantee makes the output provably EQUAL to the brute-force
    // "HAVING cnt·(capacity+1) > N, top k" the oracle computes.
    "q131_heavy_hitters" -> Static((s, dir) =>
      graft.ext.Sketches.heavyHitters(Tables.documents(s, dir), "text",
        k = 20, ngram = 2, capacity = 4096),
      // q131: brute-force replay of the sketch's contract — exact bigram
      // counts, keep cnt·(capacity+1) > N (integer arithmetic, no float
      // boundary), top k by (cnt desc, term asc). capacity=4096, k=20
      // mirror the Spark binding.
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT unnest(CASE WHEN len(ts) >= 2
        |    THEN [array_to_string(ts[i:i+1], ' ') FOR i IN range(1, len(ts))]
        |    ELSE CAST([] AS VARCHAR[]) END) AS term
        |  FROM toks),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY term),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM g)
        |SELECT term, cnt FROM c, n
        |WHERE cnt * 4097 > total
        |ORDER BY cnt DESC, term ASC LIMIT 20""".stripMargin),

    // --- Learned quality classifier (fastText-style hashed-n-gram
    // linear inference): the main quality filter of modern curation
    // stacks — one codegen'd dot product per doc (weights ride
    // addReferenceObj), zero shuffle. Weights here are the md5-derived
    // demo table so DuckDB regenerates them; real deployments load
    // offline-trained weights (ClassifierSpec trains/scores separable
    // planted classes). Score snapped with the shared repr-robust
    // floor form; keep decided on the RAW score in both engines.
    "q128_quality_classifier" -> Static((s, dir) =>
      graft.ext.TextAnalysis.classifierScores(
          Tables.documents(s, dir).filter(col("text").isNotNull),
          "doc_id", "text",
          weights = graft.functions.HashedNgramScorer.md5Weights(256),
          bias = -0.05)
        .select(col("doc_id"), col("n_features"),
          graft.functions.Rounding.reprRound6(col("score")).as("score"),
          col("keep")),
      classifierOracleSql()),

    // --- Dedup: sampled LSH recall/precision audit — "does THIS
    // (numHashes, bands) config even GENERATE the true near-dup pairs
    // as candidates?", answered on a deterministic fixed-size sample
    // (exact Jaccard truth vs pure banding collisions), so the exact
    // quadratic path never touches the full corpus. Same sketch
    // config as q17; one summary row.
    "q125_lsh_audit" -> Static((s, dir) =>
      graft.ext.Dedup.lshRecallAudit(Tables.documents(s, dir), "doc_id",
        "text", tau = 0.5, ngram = 3, numHashes = 64, bands = 16,
        sampleSize = 500),
      lshAuditOracleSql()),

    // --- Dedup: the audit over a BANDING GRID — the tuning loop,
    // priced as one audit: sample/truth/signatures computed once, only
    // banding + collision join re-run per config. Recall rises and
    // precision falls monotonically down the rows (narrower bands can
    // only ADD collisions).
    "q126_lsh_tuning_grid" -> Static((s, dir) =>
      graft.ext.Dedup.lshRecallAuditGrid(Tables.documents(s, dir), "doc_id",
        "text", tau = 0.5, ngram = 3, numHashes = 64,
        bandsGrid = Seq(8, 16, 32), sampleSize = 500),
      lshAuditGridOracleSql(Seq(8, 16, 32))),

    // --- Dedup: INCREMENTAL minhash — a ~10% arriving batch (doc_id %
    // 10 = 7: sf-proportional, the real small-batch-vs-big-catalog
    // shape) checked against itself and the signature catalog of
    // everything already ingested. Same hash family as q17, so the
    // oracle replays both sides exactly.
    "q89_incremental_minhash" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      val catalog = graft.ext.Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 10 =!= 7), "doc_id", "text", 3, 64)
      val batch = graft.ext.Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 10 === 7), "doc_id", "text", 3, 64)
      graft.ext.Dedup.incrementalMinhashPairs(batch, catalog,
          tau = 0.5, bands = 16, maxBucketSize = Some(1000))
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
    },
      // identical sketch replay, restricted to pairs touching the
      // doc_id % 10 = 7 batch slice
      minhashPairsOracleSql(" AND (c.id_a % 10 = 7 OR c.id_b % 10 = 7)")),

    // --- Dedup: SimHash fingerprints + banded Hamming pairs (rows-only).
    // DuckDB-oracled end-to-end: md5-derived hash bits, majority votes,
    // fingerprint assembly, 16-bit banding and Hamming refine all replay
    // in SQL.
    "q18_simhash_pairs" -> Static((s, dir) =>
      graft.ext.Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3),
      // Replays the engine's md5-sign-LSH blocking exactly: same ±1 plane
      // per (table, plane, dim-index) from md5("t:p:i"), same sign-bit
      // buckets, same candidate self-join, same exact-cosine refine.
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    t -> t <> '')) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id,
        |        ('0x' || substr(md5(tok), 1, 8))::BIGINT AS lo,
        |        ('0x' || substr(md5(tok), 9, 8))::BIGINT AS hi
        |      FROM toks),
        |votes AS (
        |  SELECT doc_id, j.j,
        |    sum(CASE WHEN ((CASE WHEN j.j < 32 THEN lo >> j.j
        |                         ELSE hi >> (j.j - 32) END) & 1) = 1
        |        THEN 1 ELSE -1 END) AS v
        |  FROM h, range(64) j(j) GROUP BY 1, 2),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN v > 0 THEN
        |          (CASE WHEN j = 63 THEN -9223372036854775808
        |                ELSE 1::BIGINT << j END)
        |        ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY 1),
        |banded AS (
        |  SELECT doc_id, simhash, b.b, ((simhash >> (b.b * 16)) & 65535) AS bucket
        |  FROM fp, range(4) b(b)),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    bit_count(xor(a.simhash, b.simhash)) AS hamming
        |  FROM banded a JOIN banded b
        |    ON a.b = b.b AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3""".stripMargin),

    // --- Dedup: embedding-cosine near-dup pairs, scale path: sign-LSH
    // blocking (md5-derived ±1 hyperplanes, replayed exactly by the
    // oracle in SQL) → exact cosine refine on candidates only. The exact
    // all-pairs cosinePairs stays as the DedupSpec verification path.
    "q19_cosine_pairs" -> Static((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // plane count scales with corpus size (constant bucket occupancy;
      // the count is parquet-metadata cheap). The oracle replays the
      // same integer formula in its `np` CTE — 8 at the oracle SFs.
      // bucket cap ON (no-op at the oracle SFs, verified): clustered
      // embedding geometry packs correlated vectors into shared buckets
      // regardless of plane count — the sf10 run measured the uncapped
      // candidate shuffle at ~200x the sf1 volume (SCALE.md round 8)
      graft.ext.Dedup.cosinePairsBlocked(
          emb, "vec_id", "embedding", 0.3,
          tables = 16,
          nPlanes = graft.ext.Similarity.adaptivePlanes(emb.count()),
          dim = 64, maxBucketSize = Some(1000))
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    },
      s"""WITH ${blockedCosineCandCtes()}
         |SELECT c.id_a, c.id_b,
         |  round(list_cosine_similarity(a.ve, b.ve), 6) AS cosine
         |FROM cand c
         |JOIN v a ON c.id_a = a.vec_id
         |JOIN v b ON c.id_b = b.vec_id
         |WHERE round(list_cosine_similarity(a.ve, b.ve), 6) >= 0.3""".stripMargin),

    // --- Similarity: exact cosine top-k (queries broadcast, windowed rank).
    "q20_ann_topk" -> Static((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .select(col("qid"), col("id"), round(col("cosine"), 6).as("cosine"), col("rank"))
    },
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sims AS (SELECT qid, id, list_cosine_similarity(v, qv) AS cosine
        |         FROM c, q WHERE id <> qid),
        |rk AS (SELECT qid, id, cosine,
        |       row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
        |       FROM sims)
        |SELECT qid, id, round(cosine, 6) AS cosine, rank FROM rk WHERE rank <= 10""".stripMargin),

    // --- Similarity: LSH-bucketed ANN over the md5-replayable sign
    // planes — the oracle regenerates the buckets, so the whole ANN
    // result is DuckDB-checked; recall vs brute force in SimilaritySpec.
    "q21_lsh_topk" -> Static((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.Similarity.signLshCosineTopK(
          emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10,
          tables = 12, nPlanes = 4, dim = 64)
        .select(col("qid"), col("id"), round(col("cosine"), 6).as("cosine"), col("rank"))
    },
      s"""WITH ${signLshCandCtes()},
         |rk AS (SELECT qid, id, cosine,
         |       row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id ASC) AS rank
         |       FROM sims)
         |SELECT qid, id, round(cosine, 6) AS cosine, rank FROM rk WHERE rank <= 10""".stripMargin),

    // --- Similarity: IVF ANN (k-means coarse quantizer + cell probing).
    // Training is seeded-deterministic, so the centroids are CAPTURED
    // and the whole assign/probe/rank replays in DuckDB — full hash
    // oracle, no longer rows-only. Recall floor in SimilaritySpec.
    "q40_ivf_topk" -> Captured((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ctrs = ivfCentroids(emb, dir, nCells = 16)
      // library-default nProbe (8/16): the spec's 0.9 recall floor
      val nProbe = 8
      val oracle = () => ivfTopkOracleSql(ctrs, nProbe)
      (graft.ext.Similarity.ivfCosineTopKWith(
          emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nProbe, ctrs)
        .select(col("qid"), col("id"),
          graft.functions.Rounding.reprRound6(col("cosine")).as("cosine"),
          col("rank")), oracle)
    }),

    // --- Corpus release diff: distinct contents added/removed/retained
    // between two snapshots. Overlapping doc_id ranges model a real
    // release (v1 = ids < 300, v2 = ids >= 100): the shared middle is
    // the retained class, v1's head was dropped, v2's tail is new.
    "q111_content_diff" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.Dedup.contentDiff(
        docs.filter(col("doc_id") < 300), docs.filter(col("doc_id") >= 100),
        "text")
    },
      """WITH o AS (
        |  SELECT DISTINCT md5(text) AS d, 1 AS mo FROM documents
        |  WHERE doc_id < 300),
        |n AS (
        |  SELECT DISTINCT md5(text) AS d, 1 AS mn FROM documents
        |  WHERE doc_id >= 100)
        |SELECT CASE
        |    WHEN mo IS NOT NULL AND mn IS NOT NULL THEN 'retained'
        |    WHEN mn IS NOT NULL THEN 'added'
        |    ELSE 'removed' END AS status,
        |  count(*) AS n_digests
        |FROM o FULL OUTER JOIN n ON o.d IS NOT DISTINCT FROM n.d
        |GROUP BY 1""".stripMargin),

    // --- PQ-ADC approximate top-k: rank from 4-byte codes alone (the
    // 1e9-vector scan shape). Training is seeded-deterministic, so the
    // trained books are CAPTURED and replayed as a DuckDB literal table
    // (the q24 pattern) — full hash oracle, not rows-only.
    "q112_pq_topk" -> Captured((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // m = 4 subspaces: codebook training is m driver-sequenced
      // k-means fits, the whole cost of this query at bench scale —
      // 4×16-dim books keep the ADC shape at half the fits
      val books = pqCodebooks(emb, dir, m = 4)
      val oracle = () => pqTopkOracleSql(books)
      (graft.ext.Similarity.pqCosineTopKWith(
          emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, dim = 64, books)
        .select(col("qid"), col("id"),
          graft.functions.Rounding.reprRound6(col("cosine_adc"))
            .as("cosine_adc"), col("rank")), oracle)
    }),

    // --- Product quantization: m codebook codes per vector (m·log2 k
    // bits vs 32·dim — the compression that puts 1e9 vectors in RAM),
    // plus the reconstruction audit. Codes dump as a "-"-joined STRING:
    // an array column would crash the driver's rows-only sort (pandas
    // can't order ndarrays — seen in CORRECTNESS_r04), and the captured
    // codebooks give the oracle a full argmin-encode replay anyway.
    "q110_pq_encode" -> Captured((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val books = pqCodebooks(emb, dir, m = 8)
      val oracle = () => pqEncodeOracleSql(books)
      (graft.ext.Similarity.pqQuantizeWith(emb, "vec_id", "embedding", 64, books)
        .select(col("vec_id"), concat_ws("-", col("codes")).as("codes"),
          col("mse"), col("cos_q")), oracle)
    }),

    // --- PQ-ADC search + exact re-rank: codes-only scan keeps
    // k*refine candidates, true vectors re-score ONLY those (broadcast
    // candidate ids — full vectors never shuffle). The two-stage shape
    // every production ANN runs at 1e9 vectors; recall floor 0.9 in
    // SimilaritySpec. Same captured-codebook oracle replay as q112.
    "q115_pq_refined" -> Captured((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // m=16/refine=16: what the near-random fixture needs for the 0.9
      // recall floor (SimilaritySpec has the measured sweep)
      val books = pqCodebooks(emb, dir, m = 16)
      val (k, refine) = (10, 16)
      val oracle = () => pqRefinedOracleSql(books, k * refine)
      (graft.ext.Similarity.pqCosineTopKRefinedWith(
          emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k, dim = 64, books, refine)
        .select(col("qid"), col("id"),
          graft.functions.Rounding.reprRound6(col("cosine")).as("cosine"),
          col("rank")), oracle)
    }),

    // --- IVF-PQ ANN (the FAISS IVFADC composition): one scan builds
    // the (cell, codes, norm) index; queries probe nProbe cells, score
    // members from CODES alone, exact-rerank the ADC top-(k*refine).
    // Codebooks are RESIDUAL-trained (v - centroid(cell)) at m=8 —
    // HALF the m=16 raw-book code budget this entry used pre-residual,
    // same 0.94 recall@10 at nProbe=10 (measured sweep in
    // SimilaritySpec). Both trainers captured -> full DuckDB replay.
    "q116_ivf_pq" -> Captured((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val ctrs = ivfCentroids(emb, dir, nCells = 16)
      val books = memoTrain(s"pqres8:$dir") {
        graft.ext.Similarity.trainPqCodebooks(
          graft.ext.Similarity.ivfResiduals(
            emb, "vec_id", "embedding", 64, ctrs),
          "id", "rv", dim = 64, m = 8, k = 16,
          trainFraction = 0.25, seed = 42L)
      }
      val (k, nProbe, refine) = (10, 10, 16)
      val oracle = () => ivfPqOracleSql(ctrs, books, nProbe, k * refine)
      (graft.ext.Similarity.ivfPqTopKWith(
          emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k, dim = 64, nProbe, ctrs, books, refine)
        .select(col("qid"), col("id"),
          graft.functions.Rounding.reprRound6(col("cosine")).as("cosine"),
          col("rank")), oracle)
    }),

    // --- Partitioned lake layout + DYNAMIC partition pruning: the fact
    // side reads a hive-partitioned copy of customer (written once per
    // sf dir via Sinks.writePartitioned, partitioned by c_nationkey);
    // joining it to the region-filtered nation dim makes the planner
    // seed the fact scan's PartitionFilters with a runtime IN-filter
    // from the dim's broadcast (dynamicpruningexpression — pinned in
    // PlanAuditSpec). Directory-level skipping before a single file is
    // listed: the dominant scan-reduction mechanism on a real
    // date/source-partitioned 100 TB lake, where static predicates
    // rarely name the partition column directly.
    "q117_dpp_join" -> Static((s, dir) => {
      val fact = partitionedCustomer(s, dir)
      val dim = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
      fact.join(broadcast(dim), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("total_acctbal"))
    },
      // q117 reads a hive-partitioned COPY of customer; content is
      // identical to the source table, so the oracle replays the join on
      // the original parquet directly.
      """SELECT n_name,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  round(sum(c_acctbal), 2) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin),

    // --- Text: token statistics (whitespace + BPE-ish regex), map-side.
    "q22_token_counts" -> Static((s, dir) =>
      graft.ext.TextAnalysis.tokenCounts(Tables.documents(s, dir), "doc_id", "text"),
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS n_ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
        |  length(text) AS n_chars
        |FROM documents""".stripMargin),

    // --- Text: heuristic quality score with auditable components.
    "q23_quality" -> Static((s, dir) => {
      val q = graft.ext.TextAnalysis.qualityScore(Tables.documents(s, dir), "doc_id", "text")
      q.select(col("doc_id"), col("n_tokens"),
        round(col("punct_ratio"), 6).as("punct_ratio"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        round(col("avg_token_len"), 6).as("avg_token_len"),
        round(col("quality_score"), 6).as("quality_score"))
    },
      {
        val stop = graft.ext.TextAnalysis.Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
        s"""WITH t AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
           |    length(text) * 1.0 AS n_chars,
           |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) * 1.0 AS punct
           |  FROM documents),
           |u AS (
           |  SELECT doc_id,
           |    CAST(len(toks) AS DOUBLE) AS n_tokens,
           |    CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END AS punct_ratio,
           |    CASE WHEN len(toks) > 0
           |      THEN len(list_filter(toks, x -> list_contains($stop, x))) * 1.0 / len(toks)
           |      ELSE 0.0 END AS stopword_ratio,
           |    CASE WHEN len(toks) > 0
           |      THEN list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks)
           |      ELSE 0.0 END AS avg_token_len
           |  FROM t)
           |SELECT doc_id, n_tokens,
           |  round(punct_ratio, 6) AS punct_ratio,
           |  round(stopword_ratio, 6) AS stopword_ratio,
           |  round(avg_token_len, 6) AS avg_token_len,
           |  round(0.4 * least(n_tokens, 100.0) / 100.0
           |      + 0.3 * (1.0 - least(punct_ratio * 5.0, 1.0))
           |      + 0.3 * least(stopword_ratio * 4.0, 1.0), 6) AS quality_score
           |FROM u""".stripMargin
      }),

    // --- Text: trigram-profile language ID (oracled: the profile vote is
    // replayed in SQL against the same literal trigram table; accuracy on
    // real multilingual sentences asserted in TextAnalysisSpec).
    "q24_lang_id" -> Static((s, dir) =>
      graft.ext.TextAnalysis.languageId(Tables.documents(s, dir), "doc_id", "text"),
      {
        // replay the vote against the SAME literal profile table the engine
        // broadcasts — built from TrigramProfiles so the two cannot drift
        val prof = graft.ext.TextAnalysis.TrigramProfiles.toSeq.sortBy(_._1)
          .flatMap { case (l, ts) => ts.map(t => s"('$l', '$t')") }
          .mkString(", ")
        s"""WITH norm AS (
           |  SELECT doc_id, text,
           |    regexp_replace(regexp_replace(lower(text), '[^\\p{L} ]', ' ', 'g'),
           |                   ' +', ' ', 'g') AS t
           |  FROM documents),
           |tri AS (
           |  SELECT doc_id,
           |    unnest(list_transform(generate_series(1, length(t) - 2),
           |                          i -> substr(t, i, 3))) AS trigram
           |  FROM norm WHERE length(t) >= 3),
           |prof(lang, trigram) AS (VALUES $prof),
           |hits AS (
           |  SELECT tri.doc_id, prof.lang, count(*) AS h
           |  FROM tri JOIN prof ON tri.trigram = prof.trigram
           |  GROUP BY 1, 2),
           |best AS (
           |  SELECT doc_id, lang, h,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang ASC) AS rn
           |  FROM hits),
           |feats AS (
           |  SELECT doc_id,
           |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) * 1.0
           |      / greatest(length(text), 1) AS cjk,
           |    len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
           |                    x -> length(x) > 0)) AS ntoks
           |  FROM norm)
           |SELECT f.doc_id,
           |  CASE WHEN f.cjk > 0.05 THEN 'zh'
           |       WHEN coalesce(b.h, 0) = 0 THEN 'und'
           |       ELSE b.lang END AS detected_lang,
           |  round(coalesce(b.h, 0) * 1.0 / greatest(f.ntoks, 1), 4) AS confidence
           |FROM feats f
           |LEFT JOIN (SELECT doc_id, lang, h FROM best WHERE rn = 1) b USING (doc_id)""".stripMargin
      }),

    // --- Text: rolling-hash document fingerprints (oracled: md5-derived
    // token hash is bit-identical cross-engine; collision and
    // order-sensitivity properties in spec).
    "q25_fingerprint" -> Static((s, dir) =>
      graft.ext.TextAnalysis.fingerprint(Tables.documents(s, dir), "doc_id", "text"),
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |                    x -> length(x) > 0),
        |        t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 2147483647)),
        |    (a, b) -> (a * 1000003 + b) % 2147483647) AS fingerprint
        |FROM documents""".stripMargin),

    // --- Joins: TPC-H Q5 shape — two big-table joins (shuffled) + three
    // explicitly broadcast dimension joins; one partial+final agg.
    "q26_join_revenue" -> Static((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
    },
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin),

    // --- Joins: Q3 shape — big-big join, grouped revenue, deterministic
    // top-20 (rounded revenue + key tiebreak).
    "q27_join_topn" -> Static((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(20)
    },
      """SELECT l_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 20""".stripMargin),

    // --- Window functions: rank + frame-bounded running sum + lag.
    "q28_window_rank" -> Static((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .withColumn("running_sum",
          round(sum(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .filter(col("rn") <= 100)
    },
      """SELECT * FROM (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    row_number() OVER w AS rn,
        |    round(sum(o_totalprice) OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC
        |      ROWS UNBOUNDED PRECEDING), 2) AS running_sum,
        |    lag(o_totalprice, 1) OVER w AS prev_price
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice DESC, o_orderkey ASC))
        |WHERE rn <= 100""".stripMargin),

    // --- Set operations: UNION / INTERSECT / EXCEPT (distinct semantics).
    "q29_setops" -> Static((s, dir) => {
      val f = Tables.orders(s, dir).filter(col("o_orderstatus") === "F").select("o_custkey")
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "O").select("o_custkey")
      val u = f.union(o).distinct().agg(count(lit(1)).as("n"))
        .select(lit("union").as("op"), col("n"))
      val i = f.intersect(o).agg(count(lit(1)).as("n"))
        .select(lit("intersect").as("op"), col("n"))
      val e = f.except(o).agg(count(lit(1)).as("n"))
        .select(lit("except").as("op"), col("n"))
      u.union(i).union(e)
    },
      """SELECT 'union' AS op, count(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  UNION SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |UNION ALL
        |SELECT 'intersect', count(*) FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |UNION ALL
        |SELECT 'except', count(*) FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')""".stripMargin),

    // --- Streaming surface, batch-checkable: tumbling windows.
    "q30_tumbling" -> Static((s, dir) =>
      graft.streaming.Events.tumblingCounts(Tables.events(s, dir), "1 hour"),
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
        |  time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL '1 hour' AS window_end,
        |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2, 3""".stripMargin),

    // --- Sliding windows (2h every 30m: each event in 4 windows).
    "q31_sliding" -> Static((s, dir) =>
      graft.streaming.Events.slidingCounts(Tables.events(s, dir), "2 hours", "30 minutes"),
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |w AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts)
        |           - (k * INTERVAL '30 minutes') AS window_start,
        |         event_type, value
        |  FROM e, (VALUES (0), (1), (2), (3)) AS offs(k))
        |SELECT window_start,
        |  window_start + INTERVAL '2 hours' AS window_end,
        |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2, 3""".stripMargin),

    // --- Session windows per user (1h gap; end = last event + gap).
    "q32_session" -> Static((s, dir) =>
      graft.streaming.Events.sessionCounts(Tables.events(s, dir), "1 hour"),
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |flags AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL '1 hour'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sess AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                     ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flags)
        |SELECT min(ts) AS session_start,
        |  max(ts) + INTERVAL '1 hour' AS session_end,
        |  user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM sess GROUP BY user_id, sid""".stripMargin),

    // --- JSON extraction from the events props column.
    "q33_json" -> Static((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(round(avg(col("k")), 4).as("avg_k"), count(col("k")).as("n")),
      """SELECT event_type,
        |  round(avg(CAST(props ->> '$.k' AS INTEGER)), 4) AS avg_k,
        |  count(CAST(props ->> '$.k' AS INTEGER)) AS n
        |FROM events GROUP BY event_type""".stripMargin),

    // --- Multimodal: binary payload + typed metadata -> batched
    // per-partition feature extraction (decode stubbed; SQL-checkable
    // columns oracle-verified, hash/intensity covered in spec).
    "q34_media_features" -> Static((s, dir) => {
      val media = graft.ext.Multimodal.mediaTable(Tables.documents(s, dir))
      graft.ext.Multimodal.mediaFeatures(media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"))
    },
      // mean_intensity as codepoint-average is valid because the corpus is
      // ASCII (verified): UTF-8 bytes == codepoints.
      """SELECT doc_id AS media_id,
        |  (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
        |  octet_length(encode(text)) AS n_bytes,
        |  CAST(((doc_id % 64) + 1) * 16 AS INTEGER) AS width,
        |  CAST(((doc_id % 48) + 1) * 16 AS INTEGER) AS height,
        |  round(list_sum(list_transform(regexp_extract_all(text, '[\s\S]'),
        |        c -> ascii(c))) * 1.0 / greatest(length(text), 1), 4) AS mean_intensity
        |FROM documents""".stripMargin),

    // --- Multimodal: metadata-driven frame sampling (pure expressions).
    "q35_frame_sample" -> Static((s, dir) =>
      graft.ext.Multimodal.frameSample(
        graft.ext.Multimodal.mediaTable(Tables.documents(s, dir)), nth = 24),
      """SELECT doc_id AS media_id,
        |  CAST((n_chars % 240) + 1 AS INTEGER) AS n_frames,
        |  CAST(unnest(range(0, (n_chars % 240) + 1, 24)) AS INTEGER) AS frame_idx
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin),

    // --- End-to-end training-data pipeline: exact dedup -> quality
    // gate -> per-language corpus stats. The composed plan stays one
    // DAG: dedup digest shuffle, map-side quality arithmetic, one
    // final aggregation.
    "q39_pipeline" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      val surviving = graft.ext.Dedup.exactDedup(docs, "doc_id", "text")
      // Round 14: the quality gate rides the survivor projection
      // (keepCols) instead of a SECOND evaluation of the dedup lineage
      // plus a corpus-wide doc_id semi-join (4 scans + 3 joins → 2
      // scans + exactDedup's designed digest semi-join only). Same
      // rows: the removed join was 1:1 on unique doc_id and the gate
      // is per-row deterministic. The fence keeps PushDownPredicates
      // from inlining the token_stats chain 4x into the Filter
      // condition (measured in the un-fenced plan; FilterExec does no
      // subexpression elimination — the q151 lesson).
      graft.ext.TextAnalysis.optimizerFence(
          graft.ext.TextAnalysis.qualityScore(surviving, "doc_id", "text",
            keepCols = Seq("lang", "n_chars")))
        .filter(col("quality_score") >= 0.55)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
    },
      {
        val stop = graft.ext.TextAnalysis.Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
        s"""WITH surv AS (
           |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
           |d AS (SELECT documents.* FROM documents JOIN surv USING (doc_id)),
           |t AS (
           |  SELECT doc_id, lang, n_chars,
           |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
           |    length(text) * 1.0 AS nc,
           |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) * 1.0 AS punct
           |  FROM d),
           |u AS (
           |  SELECT doc_id, lang, n_chars,
           |    CAST(len(toks) AS DOUBLE) AS n_tokens,
           |    CASE WHEN nc > 0 THEN punct / nc ELSE 0.0 END AS punct_ratio,
           |    CASE WHEN len(toks) > 0
           |      THEN len(list_filter(toks, x -> list_contains($stop, x))) * 1.0 / len(toks)
           |      ELSE 0.0 END AS stopword_ratio
           |  FROM t),
           |scored AS (
           |  SELECT doc_id, lang, n_chars,
           |    0.4 * least(n_tokens, 100.0) / 100.0
           |      + 0.3 * (1.0 - least(punct_ratio * 5.0, 1.0))
           |      + 0.3 * least(stopword_ratio * 4.0, 1.0) AS quality_score
           |  FROM u)
           |SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
           |FROM scored WHERE quality_score >= 0.55
           |GROUP BY lang""".stripMargin
      }),

    // --- Range join: events into 2h maintenance windows (every 6h),
    // binned equi-join + exact refine instead of a nested-loop range join.
    "q48_range_join" -> Static((s, dir) => {
      val windows = s.range(0, 120).select(
        col("id").as("window_id"),
        (lit(1704067200L) + col("id") * 21600).cast("timestamp").as("lo"),
        (lit(1704067200L) + col("id") * 21600 + 7200).cast("timestamp").as("hi"))
      graft.ext.Joins.rangeJoinBinned(
          Tables.events(s, dir), windows, "ts", "lo", "hi", binSeconds = 7200)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    },
      """WITH w AS (
        |  SELECT i AS window_id,
        |    make_timestamp((1704067200 + i * 21600) * 1000000) AS lo,
        |    make_timestamp((1704067200 + i * 21600 + 7200) * 1000000) AS hi
        |  FROM range(0, 120) t(i))
        |SELECT window_id, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events e JOIN w
        |  ON CAST(e.ts AS TIMESTAMP) >= w.lo AND CAST(e.ts AS TIMESTAMP) < w.hi
        |GROUP BY window_id""".stripMargin),

    // --- CUBE: all grouping-set combinations in one pass.
    "q49_cube" -> Static((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n")),
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),

    // --- As-of join: latest same-user 'error' at or before each
    // 'click' (union-scan formulation, one shuffle; DuckDB native
    // ASOF JOIN as oracle).
    "q47_asof_join" -> Static((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "event_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .select("user_id", "event_id", "ts")
      graft.ext.Joins.asofJoin(clicks, errors, "user_id", "ts", "ts")
    },
      """SELECT l.user_id, l.event_id, CAST(l.ts AS TIMESTAMP) AS ts,
        |  r.event_id AS event_id_r, CAST(r.ts AS TIMESTAMP) AS ts_r
        |FROM (SELECT * FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
        |ON l.user_id = r.user_id
        |  AND CAST(l.ts AS TIMESTAMP) >= CAST(r.ts AS TIMESTAMP)""".stripMargin),

    // --- SQL surface: spark.sql over registered views (same catalog
    // names as the oracle's).
    "q36_sql" -> Static((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT o_orderpriority, count(*) AS n,
              |  round(avg(o_totalprice), 4) AS avg_price
              |FROM orders GROUP BY o_orderpriority""".stripMargin)
    },
      """SELECT o_orderpriority, count(*) AS n,
        |  round(avg(o_totalprice), 4) AS avg_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // --- Skew tool: salted join, row-identical to the plain join the
    // oracle runs (salt spreads each hot key over N reducers).
    "q38_salted_join" -> Static((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_quantity")
      val ords = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ext.Joins.saltedJoin(li, ords, "l_orderkey", salt = 8)
        .groupBy("o_orderpriority")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
    },
      """SELECT o_orderpriority, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),

    // --- SQL surface: custom codegen expression callable from SQL via
    // the function registry (GraftExtensions).
    "q37_sql_vec" -> Static((s, dir) => {
      Tables.registerAll(s, dir)
      graft.GraftExtensions.install(s)
      s.sql("""SELECT vec_id,
              |  round(vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
              |                CAST(embedding AS ARRAY<DOUBLE>)), 4) AS sq_norm
              |FROM embeddings""".stripMargin)
    },
      """SELECT vec_id,
        |  round(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                           CAST(embedding AS DOUBLE[])), 4) AS sq_norm
        |FROM embeddings""".stripMargin),

    // --- Semi/anti joins: existence tests without payload duplication
    // (the build side ships only the key column; no row multiplication).
    "q50_semi_anti" -> Static((s, dir) => {
      val cust = Tables.customer(s, dir)
      val ordKeys = Tables.orders(s, dir).select(col("o_custkey").as("c_custkey"))
      val withO = cust.join(ordKeys, Seq("c_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .select(lit("with_orders").as("op"), col("c_mktsegment"), col("n"))
      val without = cust.join(ordKeys, Seq("c_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
        .select(lit("without_orders").as("op"), col("c_mktsegment"), col("n"))
      withO.union(without)
    },
      """SELECT 'with_orders' AS op, c_mktsegment, count(*) AS n
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment
        |UNION ALL
        |SELECT 'without_orders', c_mktsegment, count(*)
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment""".stripMargin),

    // --- Unpivot/melt: wide metric columns -> long (metric, value) rows.
    "q51_unpivot" -> Static((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") < 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_discount").cast("double").as("l_discount"),
          col("l_tax").cast("double").as("l_tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "value"),
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |  CAST(l_quantity AS DOUBLE) AS value
        |FROM lineitem WHERE l_orderkey < 1000
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount',
        |  CAST(l_discount AS DOUBLE)
        |FROM lineitem WHERE l_orderkey < 1000
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', CAST(l_tax AS DOUBLE)
        |FROM lineitem WHERE l_orderkey < 1000""".stripMargin),

    // --- Per-group cap: at most 3 docs per language by (n_chars desc,
    // doc_id asc) — the "cap documents per domain" pipeline op.
    "q52_group_topk" -> Static((s, dir) =>
      graft.ext.Sampling.capPerGroup(
        Tables.documents(s, dir).select("doc_id", "lang", "n_chars"),
        Seq("lang"), Seq(col("n_chars").desc, col("doc_id").asc), k = 3),
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 3""".stripMargin),

    // --- Deterministic argmax/argmin per group via lexicographic struct
    // extrema (no separate join-back pass).
    "q53_argmax" -> Static((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          max(struct(col("o_totalprice").as("p"), col("o_orderkey").as("k")))
            .getField("k").as("best_orderkey"),
          round(max(col("o_totalprice")), 2).as("max_price"),
          min(struct(col("o_totalprice").as("p"), col("o_orderkey").as("k")))
            .getField("k").as("worst_orderkey")),
      """SELECT o_orderpriority,
        |  (max(struct_pack(p := o_totalprice, k := o_orderkey))).k AS best_orderkey,
        |  round(max(o_totalprice), 2) AS max_price,
        |  (min(struct_pack(p := o_totalprice, k := o_orderkey))).k AS worst_orderkey
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // --- Distributed label centroids (IVF cell refresh / class
    // prototypes), exploded to (label, dim, value) for the oracle.
    "q54_centroids" -> Static((s, dir) => {
      val c = graft.ext.Similarity.labelCentroids(
        Tables.embeddings(s, dir), "embedding", "label")
      c.select(col("label"), col("dim"), round(col("value"), 6).as("value"))
    },
      """SELECT label, CAST(i AS INTEGER) AS dim,
        |  round(avg(CAST(embedding[CAST(i + 1 AS INTEGER)] AS DOUBLE)), 6) AS value
        |FROM embeddings CROSS JOIN range(0, 64) t(i)
        |WHERE i < len(embedding)
        |GROUP BY label, i""".stripMargin),

    // --- GROUPING SETS: disjoint per-flag and per-status rollups plus
    // the grand total in ONE pass (one Expand, one aggregation).
    "q55_grouping_sets" -> Static((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n,
              |  round(sum(l_extendedprice), 2) AS sum_price
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin),

    // --- Deterministic hash sampling: ~10% of orders by key hash,
    // reproducible across runs/engines/partitionings (map-side filter).
    "q56_sample" -> Static((s, dir) =>
      graft.ext.Sampling.hashSample(Tables.orders(s, dir), "o_orderkey", 0.1, "s1")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price")),
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE substr(md5('s1' || CAST(o_orderkey AS VARCHAR)), 1, 4) < '199a'
        |GROUP BY o_orderstatus""".stripMargin),

    // --- Text cleaning: URL/email scrub + whitespace collapse.
    "q57_clean" -> Static((s, dir) =>
      graft.ext.TextAnalysis.cleanText(Tables.documents(s, dir), "doc_id", "text"),
      """WITH s AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, 'https?://\S+', ' ', 'g') AS no_url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, 'https?://\S+')) AS n_urls,
        |    len(regexp_extract_all(no_url,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |    trim(regexp_replace(regexp_replace(no_url,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
        |      '\s+', ' ', 'g')) AS clean_text
        |  FROM s)
        |SELECT doc_id, n_urls, n_emails, clean_text,
        |  length(clean_text) AS clean_chars
        |FROM c""".stripMargin),

    // --- Word bigram statistics (collocations for tokenizer merges).
    "q58_bigrams" -> Static((s, dir) =>
      graft.ext.TextAnalysis.ngramStats(Tables.documents(s, dir), "doc_id", "text",
        n = 2, minCount = 25L),
      s"""WITH ${wordToksCte("toks", "documents")},
         |g AS (
         |  SELECT doc_id, unnest(CASE WHEN len(ts) >= 2
         |    THEN [array_to_string(ts[i:i+1], ' ') FOR i IN range(1, len(ts))]
         |    ELSE CAST([] AS VARCHAR[]) END) AS ngram
         |  FROM toks)
         |SELECT ngram, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
         |FROM g GROUP BY ngram HAVING count(*) >= 25""".stripMargin),

    // --- Train/test split: disjoint, exhaustive, key-stable.
    "q59_train_test" -> Static((s, dir) =>
      graft.ext.Sampling.trainTestSplit(Tables.documents(s, dir), "doc_id", 0.2, "s1")
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), round(avg(col("n_chars")), 4).as("avg_chars")),
      """SELECT CASE WHEN substr(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 4)
        |         < '3333' THEN 'test' ELSE 'train' END AS split,
        |  lang, count(*) AS n, round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY 1, 2""".stripMargin),

    // --- Incremental exact dedup: a new batch against the accumulated
    // digest catalog — how dedup actually runs batch-over-batch.
    "q60_incremental" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      val seen = graft.ext.Dedup.digestCatalog(docs.filter(col("doc_id") < 250), "text")
      graft.ext.Dedup.incrementalSurvivors(
        docs.filter(col("doc_id") >= 250), seen, "doc_id", "text")
    },
      """WITH seen AS (
        |  SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id < 250),
        |surv AS (
        |  SELECT md5(text) AS digest, min(doc_id) AS doc_id
        |  FROM documents WHERE doc_id >= 250 GROUP BY 1)
        |SELECT doc_id FROM surv
        |WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.digest = surv.digest)""".stripMargin),

    // --- Quantile bucketing via the threshold path: exact interpolated
    // quantiles (= DuckDB quantile_cont) over a FIXED 50k-orderkey
    // slice (the q16 twin convention — exact percentile's final merge
    // buffers every distinct value, the board's worst superlinear line
    // at sf10 when fed the full table), broadcast back as a map-side
    // comparison chain over the FULL corpus — no global one-task sort,
    // no corpus-sized aggregation buffer. quantileBuckets (approx
    // sketch, constant buffer) is the unbounded-corpus variant,
    // spec-tracked; exactQuantileThresholds itself now THROWS above
    // its row gate rather than silently absorbing a corpus.
    "q61_quantile_buckets" -> Static((s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      val ts = graft.ext.Sampling.exactQuantileThresholds(
        o.filter(col("o_orderkey") < 50000), "o_totalprice", 4)
      graft.ext.Sampling.bucketByThresholds(o, "o_totalprice", ts)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("min_price"),
          round(max(col("o_totalprice")), 2).as("max_price"))
    },
      """WITH t AS (
        |  SELECT round(quantile_cont(o_totalprice, 0.25), 4) AS t1,
        |         round(quantile_cont(o_totalprice, 0.50), 4) AS t2,
        |         round(quantile_cont(o_totalprice, 0.75), 4) AS t3
        |  FROM orders WHERE o_orderkey < 50000)
        |SELECT bucket, count(*) AS n,
        |  round(min(o_totalprice), 2) AS min_price,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM (SELECT o_totalprice,
        |        CASE WHEN o_totalprice <= t1 THEN 1
        |             WHEN o_totalprice <= t2 THEN 2
        |             WHEN o_totalprice <= t3 THEN 3
        |             ELSE 4 END AS bucket
        |      FROM orders, t)
        |GROUP BY bucket""".stripMargin),

    // --- LEFT OUTER join: customers keep a row even with zero orders
    // (count(o_orderkey) counts matches only — 0 for the null side).
    "q62_left_outer" -> Static((s, dir) => {
      val ords = Tables.orders(s, dir)
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
      Tables.customer(s, dir)
        .join(ords, Seq("c_custkey"), "left_outer")
        .groupBy("c_mktsegment")
        .agg(count(col("o_orderkey")).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_cust"))
    },
      """SELECT c_mktsegment, count(o_orderkey) AS n_orders,
        |  count(DISTINCT c_custkey) AS n_cust
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin),

    // --- FULL OUTER join with genuine one-sided keys: per-customer
    // F-order vs O-order counts (a customer may have only one kind).
    "q63_full_outer" -> Static((s, dir) => {
      val o = Tables.orders(s, dir)
      val f = o.filter(col("o_orderstatus") === "F").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_f"))
      val p = o.filter(col("o_orderstatus") === "O").groupBy("o_custkey")
        .agg(count(lit(1)).as("n_o"))
      f.join(p, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("n_f"), lit(0L)).as("n_f"),
          coalesce(col("n_o"), lit(0L)).as("n_o"))
    },
      """WITH f AS (SELECT o_custkey, count(*) AS n_f FROM orders
        |           WHERE o_orderstatus = 'F' GROUP BY 1),
        |p AS (SELECT o_custkey, count(*) AS n_o FROM orders
        |      WHERE o_orderstatus = 'O' GROUP BY 1)
        |SELECT coalesce(f.o_custkey, p.o_custkey) AS o_custkey,
        |  coalesce(n_f, 0) AS n_f, coalesce(n_o, 0) AS n_o
        |FROM f FULL OUTER JOIN p ON f.o_custkey = p.o_custkey""".stripMargin),

    // --- Scalar + IN subqueries through the SQL surface (Catalyst
    // rewrites both to joins; no correlated-loop execution).
    "q64_subquery" -> Static((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT o_orderstatus, count(*) AS n
              |FROM orders
              |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
              |  AND o_custkey IN (SELECT c_custkey FROM customer
              |                    WHERE c_mktsegment = 'BUILDING')
              |GROUP BY o_orderstatus""".stripMargin)
    },
      """SELECT o_orderstatus, count(*) AS n
        |FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |  AND o_custkey IN (SELECT c_custkey FROM customer
        |                    WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderstatus""".stripMargin),

    // --- Analytic-window completeness: dense_rank / percent_rank /
    // cume_dist / first over one window definition.
    "q65_window_analytics" -> Static((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .withColumn("drank", dense_rank().over(w))
        .withColumn("prank", round(percent_rank().over(w), 6))
        .withColumn("cdist", round(cume_dist().over(w), 6))
        .withColumn("top_key", first(col("o_orderkey")).over(w))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
        .filter(col("rn") <= 50)
    },
      """SELECT * FROM (
        |  SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    row_number() OVER w AS rn,
        |    dense_rank() OVER w AS drank,
        |    round(percent_rank() OVER w, 6) AS prank,
        |    round(cume_dist() OVER w, 6) AS cdist,
        |    first_value(o_orderkey) OVER w AS top_key,
        |    lead(o_totalprice, 1) OVER w AS next_price
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |               ORDER BY o_totalprice DESC, o_orderkey ASC))
        |WHERE rn <= 50""".stripMargin),

    // --- Temporal functions: year/quarter/month extraction + month
    // truncation + day arithmetic against a fixed epoch.
    "q66_date_funcs" -> Static((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
        .groupBy(
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("m"),
          date_trunc("month", col("o_orderdate")).as("month_start"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"),
          max(datediff(col("o_orderdate"), lit("2024-01-01").cast("date")))
            .as("max_days_from_epoch")),
      """SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q,
        |  month(o_orderdate) AS m,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS sum_price,
        |  max(datediff('day', DATE '2024-01-01',
        |      CAST(o_orderdate AS DATE))) AS max_days_from_epoch
        |FROM orders GROUP BY 1, 2, 3, 4""".stripMargin),

    // --- String-function surface incl. edit distance (levenshtein is
    // defined identically in Spark and DuckDB).
    "q67_strings" -> Static((s, dir) =>
      Tables.customer(s, dir)
        .filter(col("c_custkey") < 100)
        .select(col("c_custkey"),
          upper(col("c_name")).as("up"),
          substring(col("c_name"), 1, 8).as("prefix"),
          length(col("c_name")).as("len"),
          concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"),
          levenshtein(col("c_mktsegment"), lit("BUILDING")).as("lev")),
      """SELECT c_custkey, upper(c_name) AS up,
        |  substr(c_name, 1, 8) AS prefix, length(c_name) AS len,
        |  concat_ws('|', c_mktsegment, c_name) AS tagged,
        |  levenshtein(c_mktsegment, 'BUILDING') AS lev
        |FROM customer WHERE c_custkey < 100""".stripMargin),

    // --- C4-style boilerplate: lines shared across >= 3 documents.
    "q68_boilerplate" -> Static((s, dir) =>
      graft.ext.TextAnalysis.boilerplateLines(
        Tables.documents(s, dir), "doc_id", "text", minDocFrequency = 3L),
      """WITH lines AS (
        |  SELECT doc_id, trim(unnest(string_split(text, chr(10)))) AS line
        |  FROM documents)
        |SELECT md5(line) AS line_digest, count(DISTINCT doc_id) AS doc_freq
        |FROM lines WHERE length(line) > 0
        |GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3""".stripMargin),

    // --- Corpus report: per (lang, source) doc/token/char rollup — the
    // dataset card a training corpus ships with.
    "q69_corpus_report" -> Static((s, dir) => {
      // explicit whitespace class + sum/count avg: bit-stable vs oracle
      // across regex engines and float accumulation orders
      val toks = size(filter(split(col("text"), "[ \\t\\n\\f\\r]+"),
        t => length(t) > 0))
      Tables.documents(s, dir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(toks.cast("long")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          round(sum(col("n_chars")) * lit(1.0) / count(lit(1)), 4)
            .as("avg_chars"))
    },
      // Note CAST(sum(...) AS BIGINT): DuckDB promotes integer sums to
      // HUGEINT, which driver-side dataframe conversion renders as float64
      // → hash mismatch (r01's only reds). Explicit whitespace class keeps
      // tokenization identical across regex engines/versions.
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
        |      t -> t <> ''))) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(CAST(sum(n_chars) AS BIGINT) * 1.0 / count(*), 4) AS avg_chars
        |FROM documents GROUP BY lang, source""".stripMargin),

    // --- Gopher-style quality gates: auditable per-rule booleans.
    "q70_quality_rules" -> Static((s, dir) =>
      graft.ext.TextAnalysis.qualityRules(
        Tables.documents(s, dir), "doc_id", "text",
        minTokens = 10L, maxTokens = 500L,
        minAvgTokenLen = 2.0, maxAvgTokenLen = 10.0,
        maxPunctRatio = 0.05),
      s"""WITH ${qualityGateCtes()}
         |SELECT doc_id,
         |  $QualityFlagCols
         |FROM u""".stripMargin),

    // --- Time-series resample to a 1h grid with forward fill (gap bins
    // materialized from a distributed spine; no driver collect).
    "q71_resample" -> Static((s, dir) => {
      val r = graft.streaming.Events.resampleFfill(
        Tables.events(s, dir), "ts", "event_type", "value", stepSeconds = 3600L)
      // floor(x*1e4 + 0.5)/1e4, NOT round(x, 4): a bin avg of 2-dp
      // values can land exactly on a 4-dp half (e.g. 1512.12/32 =
      // 47.25375), where Spark rounds the shortest decimal REPR (up)
      // but DuckDB rounds the actual double (down). The scaled-floor
      // form is IEEE-exact ops on the same double — identical in both.
      r.select(col("event_type"), col("bin"), col("n_events"),
        (floor(col("value_ffill") * 1e4 + 0.5) / 1e4).as("value_ffill"))
    },
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(to_timestamp(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600)
        |         AS TIMESTAMP) AS bin,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(30,9))) AS DOUBLE)
        |      / count(value) AS v
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT min(bin) AS mn, max(bin) AS mx FROM b),
        |spine AS (
        |  SELECT k.event_type,
        |    unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bin
        |  FROM (SELECT DISTINCT event_type FROM events) k, bounds),
        |j AS (
        |  SELECT s.event_type, s.bin, coalesce(b.n, 0) AS n_events, b.v
        |  FROM spine s LEFT JOIN b
        |    ON s.event_type = b.event_type AND s.bin = b.bin)
        |SELECT event_type, bin, n_events,
        |  floor(last_value(v IGNORE NULLS) OVER (PARTITION BY event_type
        |    ORDER BY bin ROWS UNBOUNDED PRECEDING) * 1e4 + 0.5) / 1e4
        |    AS value_ffill
        |FROM j""".stripMargin),

    // --- Cross join (deliberately dimension×dimension only): the
    // region × nation grid with a membership flag.
    "q72_cross" -> Static((s, dir) =>
      Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))
        .crossJoin(Tables.nation(s, dir).select(
          col("n_nationkey"), col("n_name"), col("n_regionkey")))
        .select(col("r_name"), col("n_name"),
          (col("n_regionkey") === col("r_regionkey")).as("in_region")),
      """SELECT r_name, n_name, n_regionkey = r_regionkey AS in_region
        |FROM region CROSS JOIN nation""".stripMargin),

    // --- BPE train+encode, surfaced as the oracle-checkable invariant
    // summary (the q81 precedent: the iterative argmax-merge recurrence
    // is not SQL-expressible, but rank/score/concat/vocab violations
    // are identically zero for a correct table, word count and
    // character mass are conserved by encoding, and each merge adds
    // exactly one vocab entry — all computable by the oracle from the
    // input alone). The classic merge sequence itself is pinned in
    // TextAnalysisSpec.
    "q82_bpe" -> Static((s, dir) =>
      graft.ext.TextAnalysis.bpeInvariantSummary(
        Tables.documents(s, dir), "doc_id", "text", numMerges = 4),
      // BPE invariants, computed from the INPUT independently of the
      // argmax-merge recurrence: violation counters are identically zero
      // for any correct table/encoding; word count and character mass
      // come from the raw split (encoding emits exactly one end-of-word
      // token per word and conserves codepoint mass net of markers); a
      // correct 4-merge train grows the vocab by exactly 4.
      // FIXTURE-DEPENDENT pins: n_merges = vocab_size_minus_base = 4
      // requires the corpus to support >= 4 merges with score >= 2 and
      // DISTINCT concatenations (early stop / colliding concats would
      // make a CORRECT run red). TextAnalysisSpec's "q82 fixture
      // supports the pinned merge count" guard asserts exactly this on
      // the sf0.01 oracle corpus, so drift fails loud in CI first.
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |    x -> length(x) > 0)) AS word
        |  FROM documents)
        |SELECT CAST(4 AS BIGINT) AS n_merges,
        |  CAST(0 AS BIGINT) AS rank_violations,
        |  CAST(0 AS BIGINT) AS score_violations,
        |  CAST(0 AS BIGINT) AS concat_violations,
        |  CAST(4 AS BIGINT) AS vocab_size_minus_base,
        |  CAST(0 AS BIGINT) AS vocab_violations,
        |  CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(length(word)) AS BIGINT) AS token_mass
        |FROM w""".stripMargin),

    // --- Tokenizer APPLICATION + multilingual fertility audit: the
    // trained merge table ENCODES the corpus (the trainer's own fold —
    // merges in rank order, one non-overlapping left-to-right pass
    // each), then per language: words, distinct words, chars, BPE
    // tokens, fertility (tokens/word) and chars/token — the equity
    // numbers that catch a vocab silently taxing under-represented
    // languages with 2x sequence length. Training is deterministic, so
    // the merges are CAPTURED and the oracle replays the encode fold
    // merge-for-merge (one replace per rank over a noncharacter-
    // separated symbol string), then the same vocab-keyed aggregation —
    // a full hash oracle for the encoder, strictly stronger than q82's
    // invariant summary.
    "q176_bpe_fertility" -> Captured((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = memoTrain(s"bpe12:$dir") {
        graft.ext.TextAnalysis.bpeTrain(docs, "doc_id", "text",
            numMerges = 12)
          .orderBy("rank").collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
      }
      val oracle = () => bpeFertilityOracleSql(merges)
      (graft.ext.TextAnalysis.bpeFertilityByLang(
        docs, "text", "lang", merges.map { case (_, l, r) => (l, r) }), oracle)
    }),

    // --- Boilerplate REMOVAL (q68 surfaces the digests; this is the
    // clean-text output a pipeline actually ships): lines anti-joined
    // against the broadcast boilerplate set, reassembled in order; docs
    // that were all boilerplate survive with empty text.
    "q83_strip_boilerplate" -> Static((s, dir) =>
      graft.ext.TextAnalysis.stripBoilerplate(
        Tables.documents(s, dir), "doc_id", "text", minDocFrequency = 3L),
      s"""WITH $DocLinesCtes,
         |bp AS (
         |  SELECT md5(line) AS d FROM lines
         |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
         |kept AS (
         |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
         |  FROM lines WHERE md5(line) NOT IN (SELECT d FROM bp)
         |  GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN kept k USING (doc_id)""".stripMargin),

    // --- Multimodal: REAL header parsing — payloads carry genuine
    // PNG/GIF headers (built with unhex expressions), the JVM parser
    // reads dims back from the BYTES, and the oracle checks them
    // against the metadata formulas computed independently. Audio rows
    // are unparseable on purpose (the null path).
    "q88_image_dims" -> Static((s, dir) =>
      graft.ext.Multimodal.imageHeaderDims(
        graft.ext.Multimodal.mediaTableHeadered(Tables.documents(s, dir)))
        .toDF(),
      """SELECT doc_id AS media_id,
        |  CASE WHEN text IS NOT NULL AND doc_id % 3 = 0 THEN 'png'
        |       WHEN text IS NOT NULL AND doc_id % 3 = 2 THEN 'gif' END AS format,
        |  CASE WHEN text IS NOT NULL AND doc_id % 3 <> 1
        |       THEN CAST((doc_id % 64 + 1) * 16 AS INT) END AS width,
        |  CASE WHEN text IS NOT NULL AND doc_id % 3 <> 1
        |       THEN CAST((doc_id % 48 + 1) * 16 AS INT) END AS height
        |FROM documents""".stripMargin),

    // --- Multimodal: image-CONTENT dedup — the perceptual twin of q18.
    // Every doc becomes a REAL 16x16 BMP (ids ≡ 3 mod 7 are planted
    // +8-brightness RE-ENCODINGS of their predecessor); the JDK codec
    // decodes actual pixels, deterministic integer dHash fingerprints
    // them, and the shared 4x16-banded Hamming join pairs near-dups —
    // re-encoded/brightness-shifted duplicate images that byte-level
    // digests (q15) sail past. The oracle replays the pairing in SQL
    // over the CAPTURED fingerprints (the decode itself is not
    // SQL-expressible; the capture is the narrow 16 B/image frame the
    // plan shuffles anyway, collected ONLY to render the oracle).
    "q120_image_phash_dedup" -> Captured((s, dir) => {
      val media = graft.ext.Multimodal.bmpImageTable(Tables.documents(s, dir))
      // fingerprints feed the capture AND both join sides: eager
      // checkpoint once (the SCALE.md multi-consumer rule)
      val fp = graft.ext.Multimodal.imagePerceptualHash(media).toDF()
        .filter(col("dhash").isNotNull)
        .select(col("media_id"), col("dhash"))
        .localCheckpoint(eager = true)
      val maxHamming = 2
      val oracle = () => fingerprintHammingOracleSql(fp, maxHamming)
      (graft.ext.Dedup.hammingPairs64(fp, "media_id", "dhash", maxHamming),
        oracle)
    }),

    // --- Benchmark decontamination: distinct 5-gram overlap of each
    // corpus doc (doc_id >= 100) against the "benchmark" slice
    // (doc_id < 100) — the eval-leakage audit a training pipeline runs
    // before every corpus release. Benchmark digests broadcast; the
    // corpus never shuffles.
    "q86_decontaminate" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.Dedup.contaminationStats(
        docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
        "doc_id", "text", ngram = 5, minOverlap = 1L)
    },
      s"""WITH ${contaminationHitsCtes(5)}
         |SELECT d.doc_id,
         |  coalesce(h.n, 0) AS n_shared_ngrams,
         |  coalesce(h.n, 0) >= 1 AS contaminated
         |FROM documents d
         |LEFT JOIN hits h ON d.doc_id IS NOT DISTINCT FROM h.doc_id
         |WHERE d.doc_id >= 100""".stripMargin),

    // --- Bloom-prefiltered decontamination: the shape for a benchmark
    // suite too big to broadcast exactly — a compact no-false-negative
    // bloom gate rides the corpus scan map-side, then ONLY the
    // surviving candidate sliver exact-confirms against the digest
    // catalog (shuffle join, never a full-corpus x catalog join).
    // Phase 2 restores exact semantics, so the oracle is the plain
    // exact-decontamination SQL — bit-identical output by construction.
    "q122_bloom_decontaminate" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.Dedup.decontaminateBloom(
          docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
          "doc_id", "text", ngram = 6, minOverlap = 2L, fpp = 0.01)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    },
      // The bloom path is EXACT by construction (no-false-negative gate +
      // exact confirm), so the oracle is plain exact decontamination at
      // the same (ngram=6, minOverlap=2) setting — no sketch replay.
      s"""WITH ${contaminationHitsCtes(6)}
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d
         |LEFT JOIN hits h ON d.doc_id IS NOT DISTINCT FROM h.doc_id
         |WHERE d.doc_id >= 100 AND coalesce(h.n, 0) < 2""".stripMargin),

    // --- PII scrubbing: typed placeholders + per-kind counts. Pure
    // map-side regex over the scan (patterns chosen to behave
    // identically in Java regex and RE2, so the oracle replays exactly).
    "q84_pii_scrub" -> Static((s, dir) =>
      graft.ext.TextAnalysis.piiScrub(Tables.documents(s, dir), "doc_id", "text"),
      {
        // same regex constants the engine compiles — no drift possible
        val em = graft.ext.TextAnalysis.EmailRe
        val ip = graft.ext.TextAnalysis.Ipv4Re
        val ph = graft.ext.TextAnalysis.PhoneRe
        s"""WITH e AS (
           |  SELECT doc_id, text,
           |    regexp_replace(text, '$em', '<EMAIL>', 'g') AS te
           |  FROM documents),
           |i AS (
           |  SELECT doc_id, text, te,
           |    regexp_replace(te, '$ip', '<IP>', 'g') AS ti
           |  FROM e)
           |SELECT doc_id,
           |  regexp_replace(ti, '$ph', '<PHONE>', 'g') AS clean_text,
           |  len(regexp_extract_all(text, '$em')) AS n_emails,
           |  len(regexp_extract_all(te, '$ip')) AS n_ips,
           |  len(regexp_extract_all(ti, '$ph')) AS n_phones
           |FROM i""".stripMargin
      }),

    // --- Gopher-style repetition filters: duplicate-line fractions +
    // top word-bigram coverage, the cheap templated-spam signals.
    "q85_repetition" -> Static((s, dir) =>
      graft.ext.TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_lines"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          col("top_bigram"),
          round(col("top_bigram_frac"), 6).as("top_bigram_frac")),
      """WITH d AS (SELECT doc_id, text, length(text) AS n_chars FROM documents),
        |l0 AS (SELECT doc_id, trim(unnest(string_split(text, chr(10)))) AS line FROM d),
        |lc AS (SELECT doc_id, line, count(*) AS c
        |       FROM l0 WHERE length(line) > 0 GROUP BY 1, 2),
        |ls AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |         (sum(c) - count(*)) * 1.0 / sum(c) AS dup_line_frac,
        |         sum(CASE WHEN c > 1 THEN (c - 1) * length(line) ELSE 0 END) * 1.0
        |           / greatest(sum(c * length(line)), 1) AS dup_line_char_frac
        |       FROM lc GROUP BY 1),
        |t AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
        |        x -> length(x) > 0) AS toks FROM d),
        |bg0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |          i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |        FROM t WHERE len(toks) >= 2),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg0 GROUP BY 1, 2),
        |tb AS (SELECT doc_id, bg, c,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bg ASC) AS rn
        |       FROM bc)
        |SELECT d.doc_id,
        |  coalesce(ls.n_lines, 0) AS n_lines,
        |  round(coalesce(ls.dup_line_frac, 0), 6) AS dup_line_frac,
        |  round(coalesce(ls.dup_line_char_frac, 0), 6) AS dup_line_char_frac,
        |  coalesce(tb.bg, '') AS top_bigram,
        |  round(coalesce(tb.c * length(tb.bg) * 1.0 / greatest(d.n_chars, 1), 0), 6)
        |    AS top_bigram_frac
        |FROM d
        |LEFT JOIN ls USING (doc_id)
        |LEFT JOIN (SELECT doc_id, bg, c FROM tb WHERE rn = 1) tb USING (doc_id)""".stripMargin),

    // --- TRUE greedy sequence packing. The pack ids themselves are a
    // sequential greedy recurrence (not SQL-expressible; the exact
    // sequence is pinned in TextAnalysisSpec), so the REGISTERED query
    // emits the per-group invariant summary an oracle CAN check
    // independently from the input: every doc packed exactly once
    // (n_docs), tokens conserved (total_tokens), no multi-doc pack over
    // budget (overfull_packs = 0), oversize docs always isolated
    // (oversize_shared_packs = 0, and exactly one pack per oversize
    // doc). A dropped doc, double assignment, overfilled bin, or
    // oversize-sharing bug all flip a column.
    "q81_packing" -> Static((s, dir) => {
      val budget = 2000L
      graft.ext.TextAnalysis.packGreedy(
          Tables.documents(s, dir), "doc_id", "text", "lang", budgetTokens = budget)
        .groupBy("group", "pack")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("pack_tokens"),
          max((col("n_tokens") > budget).cast("long")).as("has_oversize"))
        .groupBy("group")
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("pack_tokens")).as("total_tokens"),
          sum(when(col("n_docs") > 1 && col("pack_tokens") > budget, 1L)
            .otherwise(0L)).as("overfull_packs"),
          sum(when(col("has_oversize") === 1L && col("n_docs") > 1, 1L)
            .otherwise(0L)).as("oversize_shared_packs"),
          sum(col("has_oversize")).as("oversize_packs"))
    },
      // Packing invariants, computed from the INPUT independently of the
      // greedy pack assignment: doc and token conservation come from the
      // raw table; the violation counters are identically zero for any
      // correct packing; oversize isolation means exactly one pack per
      // oversize (> budget) doc.
      """WITH t AS (
        |  SELECT lang AS "group",
        |    coalesce(CAST(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
        |      x -> length(x) > 0)) AS BIGINT), 0) AS n
        |  FROM documents)
        |SELECT "group", count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS total_tokens,
        |  CAST(0 AS BIGINT) AS overfull_packs,
        |  CAST(0 AS BIGINT) AS oversize_shared_packs,
        |  CAST(sum(CASE WHEN n > 2000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS oversize_packs
        |FROM t GROUP BY 1""".stripMargin),

    // --- C4-style corpus-wide line dedup: each distinct line keeps its
    // first (doc_id, pos) occurrence; later occurrences are removed and
    // docs reassemble in order.
    "q90_dedup_lines" -> Static((s, dir) =>
      graft.ext.TextAnalysis.dedupLines(Tables.documents(s, dir), "doc_id", "text"),
      s"""WITH $DocLinesCtes,
         |ranked AS (
         |  SELECT doc_id, pos, line,
         |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
         |  FROM lines),
         |kept AS (
         |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
         |  FROM ranked WHERE rn = 1
         |  GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(k.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN kept k USING (doc_id)""".stripMargin),

    // --- Mixture sampling: a reproducible ~3000-token per-lang subset
    // (md5-ordered fill — how a target language mixture is drawn from
    // an over-represented corpus without shuffling anything but ids).
    "q87_token_budget_sample" -> Static((s, dir) =>
      graft.ext.TextAnalysis.sampleByTokenBudget(
        Tables.documents(s, dir), "doc_id", "text", "lang",
        budgetTokens = 3000L),
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    coalesce(CAST(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
        |      x -> length(x) > 0)) AS BIGINT), 0) AS n_tokens,
        |    md5('graft:' || CAST(doc_id AS VARCHAR)) AS ord
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    (sum(n_tokens) OVER (PARTITION BY lang ORDER BY ord, doc_id
        |       ROWS UNBOUNDED PRECEDING) - n_tokens) AS cum
        |  FROM t)
        |SELECT doc_id, lang, n_tokens FROM c WHERE cum < 3000""".stripMargin),

    // --- Corpus sharding: per-lang consecutive ~2000-token shards
    // (how a corpus is cut into training-chunk files, deterministically).
    "q78_sharding" -> Static((s, dir) =>
      graft.ext.TextAnalysis.shardByTokenBudget(
          Tables.documents(s, dir), "doc_id", "text", "lang", budgetTokens = 2000L)
        .groupBy("lang", "shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens")),
      // Integer // division (no float intermediate) + CAST(sum AS BIGINT)
      // (HUGEINT promotion — see q69 note) keep this bit-stable driver-side.
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    coalesce(CAST(len(list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
        |         x -> x <> '')) AS BIGINT), 0) AS n_tokens
        |  FROM documents),
        |s AS (
        |  SELECT lang, n_tokens,
        |    (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tokens) // 2000 AS shard
        |  FROM t)
        |SELECT lang, CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
        |FROM s GROUP BY 1, 2""".stripMargin),

    // --- Join-key skew report: the pre-join diagnostic that picks
    // between plain shuffle, AQE skew handling, and salting.
    "q79_skew" -> Static((s, dir) => {
      val r = graft.profile.Profiler.keySkewDF(Tables.lineitem(s, dir), "l_orderkey", 10)
      r.select(col("key"), col("count"), col("share"))
    },
      """SELECT CAST(l_orderkey AS VARCHAR) AS key, count(*) AS count,
        |  round(count(*) * 1.0 /
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
        |    6) AS share
        |FROM lineitem WHERE l_orderkey IS NOT NULL
        |GROUP BY 1 ORDER BY count DESC, key ASC LIMIT 10""".stripMargin),

    // --- Deterministic grouped MODE: most frequent value with explicit
    // (count desc, value asc) tie policy — built-in mode() leaves ties
    // engine-defined, so it can never hash-match an oracle.
    "q73_mode" -> Static((s, dir) =>
      Tables.orders(s, dir)
        .filter(col("o_orderpriority").isNotNull) // null ties order differs per engine
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("c"))
        .groupBy("o_orderstatus")
        .agg(min(struct((-col("c")).as("nc"), col("o_orderpriority").as("v")))
            .getField("v").as("mode_priority"),
          max(col("c")).as("mode_count")),
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS c
        |  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1, 2),
        |r AS (
        |  SELECT o_orderstatus, o_orderpriority, c,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY c DESC, o_orderpriority ASC) AS rn
        |  FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |  c AS mode_count
        |FROM r WHERE rn = 1""".stripMargin),

    // --- Value-RANGE window frame: per-event trailing-hour activity
    // (frame bounded by the ORDER-BY VALUE, not row offsets — ties and
    // gaps handled identically in any engine, so it oracles exactly).
    "q76_trailing_window" -> Static((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(unix_timestamp(col("ts")).cast("long"))
        .rangeBetween(-3599L, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("n_trailing_hour", count(lit(1)).over(w))
        .withColumn("sum_trailing_hour", round(sum(col("value")).over(w), 2))
        .select("event_id", "user_id", "n_trailing_hour", "sum_trailing_hour")
    },
      """SELECT event_id, user_id,
        |  count(*) OVER w AS n_trailing_hour,
        |  round(sum(value) OVER w, 2) AS sum_trailing_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
        |  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)""".stripMargin),

    // --- Grouped exact quantiles: per-group median/p25/p75 in one agg
    // (exact `percentile`; the approx sketch path is Profiler's
    // exact=false switch).
    "q74_grouped_quantiles" -> Static((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(
          graft.functions.Rounding.reprRound4(
            expr("percentile(o_totalprice, 0.25)")).as("p25"),
          graft.functions.Rounding.reprRound4(
            expr("percentile(o_totalprice, 0.5)")).as("median"),
          graft.functions.Rounding.reprRound4(
            expr("percentile(o_totalprice, 0.75)")).as("p75"),
          count(lit(1)).as("n")),
      """SELECT o_orderpriority,
        |  floor(quantile_cont(o_totalprice, 0.25) * 1e4 + 0.5) / 1e4 AS p25,
        |  floor(quantile_cont(o_totalprice, 0.5) * 1e4 + 0.5) / 1e4 AS median,
        |  floor(quantile_cont(o_totalprice, 0.75) * 1e4 + 0.5) / 1e4 AS p75,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // --- TF-IDF keyword extraction: top-3 characteristic terms per doc
    // (ranked on the ROUNDED score so cross-engine ln ulps can't flip
    // the order; tie → term asc).
    "q91_tfidf" -> Static((s, dir) =>
      graft.ext.TextAnalysis.tfidfTopTerms(
        Tables.documents(s, dir), "doc_id", "text", k = 3),
      """WITH tf AS (
        |  SELECT doc_id, tok AS term, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(string_split_regex(lower(text),
        |            '[ \t\n\f\r]+'), t -> t <> '')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(1.0 * n.n_docs / dfreq.df), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |rk AS (
        |  SELECT doc_id, term, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf DESC, term ASC) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tfidf, rank FROM rk WHERE rank <= 3""".stripMargin),

    // --- k-NN classification: label the first 20 embeddings by majority
    // vote of their 10 nearest (cosine) among the rest. Bounded-heap
    // neighbor stage; labels join the tiny top-k stream.
    "q92_knn" -> Static((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.ext.Similarity.knnClassify(
        e.filter(col("vec_id") >= 20), e.filter(col("vec_id") < 20),
        "vec_id", "embedding", "label", k = 10)
    },
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings WHERE vec_id >= 20),
        |sims AS (SELECT qid, id, label, list_cosine_similarity(v, qv) AS cos
        |         FROM c, q),
        |rk AS (SELECT qid, label,
        |       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC)
        |         AS rank
        |       FROM sims),
        |votes AS (SELECT qid, label, count(*) AS votes
        |          FROM rk WHERE rank <= 10 GROUP BY 1, 2),
        |best AS (SELECT qid, label AS predicted_label, votes,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY votes DESC, label ASC) AS rn
        |         FROM votes)
        |SELECT qid, predicted_label, votes FROM best WHERE rn = 1""".stripMargin),

    // --- Deterministic training-shard shuffle: md5 shard + in-shard
    // position — the reproducible "global shuffle" of a corpus into
    // training files, no RNG state, no global sort.
    "q93_shuffle_shards" -> Static((s, dir) =>
      graft.ext.Sampling.shuffleShards(
          Tables.orders(s, dir), "o_orderkey", nShards = 8)
        .select("o_orderkey", "shard", "pos"),
      """WITH t AS (
        |  SELECT o_orderkey,
        |    md5('graft:' || CAST(o_orderkey AS VARCHAR)) AS h
        |  FROM orders),
        |s AS (
        |  SELECT o_orderkey, h,
        |    ('0x' || substr(h, 1, 15))::BIGINT % 8 AS shard
        |  FROM t)
        |SELECT o_orderkey, shard,
        |  row_number() OVER (PARTITION BY shard ORDER BY h, o_orderkey) AS pos
        |FROM s""".stripMargin),

    // --- Unicode NFC canonicalization (custom codegen expression; a
    // UDF here would break whole-stage codegen on a pass that touches
    // every corpus byte).
    "q94_nfc" -> Static((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.Strings.nfc(col("text")).as("text_nfc")),
      "SELECT doc_id, nfc_normalize(text) AS text_nfc FROM documents"),

    // --- Per-group IQR outlier gate: Tukey fences + outside counts
    // (fences broadcast back onto the scan; big side never shuffles).
    "q95_iqr_outliers" -> Static((s, dir) =>
      graft.profile.Profiler.iqrOutliersDF(
        Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice"),
      """WITH q AS (
        |  SELECT l_returnflag,
        |    floor(quantile_cont(l_extendedprice, 0.25) * 1e4 + 0.5) / 1e4
        |      AS p25,
        |    floor(quantile_cont(l_extendedprice, 0.75) * 1e4 + 0.5) / 1e4
        |      AS p75
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |  GROUP BY 1),
        |f AS (
        |  SELECT l_returnflag,
        |    p25 - 1.5 * (p75 - p25) AS lo,
        |    p75 + 1.5 * (p75 - p25) AS hi
        |  FROM q)
        |SELECT l.l_returnflag, count(*) AS n,
        |  CAST(sum(CASE WHEN l.l_extendedprice < f.lo THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_below,
        |  CAST(sum(CASE WHEN l.l_extendedprice > f.hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_above,
        |  min(f.lo) AS lo, min(f.hi) AS hi
        |FROM lineitem l JOIN f
        |  ON l.l_returnflag IS NOT DISTINCT FROM f.l_returnflag
        |WHERE l.l_extendedprice IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // --- Character-distribution entropy: the cheap gibberish detector.
    // 37 fixed replace-folds inside the scan — zero shuffle (the
    // explode-per-character alternative exchanges one row per corpus
    // byte).
    "q96_char_entropy" -> Static((s, dir) =>
      graft.ext.TextAnalysis.charEntropy(
        Tables.documents(s, dir), "doc_id", "text"),
      {
        // counts generated from the SAME alphabet constant the engine
        // folds over, in the same order — the two cannot drift
        val counts = graft.ext.TextAnalysis.EntropyAlphabet
          .map(ch => s"length(t) - length(replace(t, '$ch', ''))")
          .mkString(",\n    ")
        s"""WITH base AS (
           |  SELECT doc_id, lower(text) AS t, length(text) AS n_chars
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, n_chars, length(t) * 1.0 AS n, list_value(
           |    $counts) AS ks
           |  FROM base),
           |e AS (
           |  SELECT doc_id, n_chars, n,
           |    list_concat(ks, list_value(
           |      CAST(n AS BIGINT) - list_aggregate(ks, 'sum'))) AS kall
           |  FROM c)
           |SELECT doc_id, n_chars,
           |  CASE WHEN n_chars IS NULL THEN NULL
           |    WHEN n > 0 THEN round(0.0 - list_aggregate(list_transform(kall,
           |      k -> CASE WHEN k > 0 THEN k / n * ln(k / n) ELSE 0.0 END),
           |      'sum'), 4)
           |    ELSE 0.0 END AS char_entropy
           |FROM e""".stripMargin
      }),

    // --- Unigram-LM surprisal: −avg ln p̂(term) with add-one smoothing
    // — the statistical quality score next to the heuristic gates.
    "q97_surprisal" -> Static((s, dir) =>
      graft.ext.TextAnalysis.unigramSurprisal(
        Tables.documents(s, dir), "doc_id", "text"),
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text),
        |      '[ \t\n\f\r]+'), t -> t <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |tc AS (SELECT term, sum(tf) AS tc FROM tf GROUP BY 1),
        |tot AS (SELECT sum(tc) AS total, count(*) AS v FROM tc)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(0.0 - sum(tf * ln((tc + 1.0) / (total + v))) / sum(tf), 4)
        |    AS surprisal
        |FROM tf JOIN tc USING (term) CROSS JOIN tot
        |GROUP BY 1""".stripMargin),

    // --- Mixture rebalancing plan: the per-language keep fractions
    // realizing the LARGEST corpus with exactly the target shares
    // (bottleneck rule: T = min available/target). zh untargeted ->
    // dropped (0.0); de is the binding constraint at these shares.
    "q108_mixture_plan" -> Static((s, dir) =>
      graft.ext.Sampling.mixturePlan(
        Tables.documents(s, dir), "lang", "n_chars",
        Map("en" -> 0.5, "fr" -> 0.2, "de" -> 0.2, "es" -> 0.1)),
      // mirrors the engine's FULL OUTER exactly: a targeted-but-absent
      // group gets its own (available 0, NULL plan) row and drives
      // t_max to 0 (infeasibility self-enforcing), instead of the old
      // covered-share heuristic that NULLed every present group
      """WITH t(g, ts) AS (VALUES
        |    ('en', 0.5), ('fr', 0.2), ('de', 0.2), ('es', 0.1)),
        |c AS (
        |  SELECT lang AS g, CAST(sum(n_chars) AS DOUBLE) AS available
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
        |  GROUP BY 1),
        |a AS (
        |  SELECT coalesce(c.g, t.g) AS g,
        |    coalesce(c.available, 0.0) AS available,
        |    CAST(t.ts AS DOUBLE) AS ts
        |  FROM c FULL OUTER JOIN t ON c.g IS NOT DISTINCT FROM t.g),
        |b AS (SELECT min(available / ts) AS t_max FROM a WHERE ts IS NOT NULL)
        |SELECT g AS lang, available,
        |  coalesce(ts, 0.0) AS target_share,
        |  CASE WHEN ts IS NULL THEN 0.0
        |       WHEN available = 0.0 THEN NULL
        |       ELSE floor(ts * t_max / available * 1e6 + 0.5) / 1e6
        |       END AS keep_frac,
        |  CASE WHEN ts IS NULL THEN 0.0
        |       WHEN available = 0.0 THEN NULL
        |       ELSE floor(ts * t_max * 1e4 + 0.5) / 1e4 END AS kept
        |FROM a, b""".stripMargin),

    // --- Context-window chunking: overlapping <=64-token windows per
    // doc (stride 56) — long-doc preparation for a fixed-context
    // model; pure map-side, one output row per chunk.
    "q114_token_chunks" -> Static((s, dir) =>
      graft.ext.TextAnalysis.chunkByTokens(
        Tables.documents(s, dir), "doc_id", "text",
        maxTokens = 64, overlap = 8),
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '[ \t\n\f\r]+'),
        |      x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |s AS (
        |  SELECT doc_id, ts, unnest(generate_series(0,
        |    greatest(CAST(floor((len(ts) - 9) * 1.0 / 56) AS INTEGER), 0)))
        |    AS i
        |  FROM t WHERE len(ts) >= 1)
        |SELECT doc_id, i + 1 AS chunk_idx,
        |  least(64, len(ts) - (i * 56 + 1) + 1) AS n_tokens,
        |  array_to_string(ts[i * 56 + 1 : i * 56 + 64], ' ') AS chunk_text
        |FROM s""".stripMargin),

    // --- Cross-corpus surprisal (CCNet-style perplexity filter):
    // corpus docs (id >= 100) scored under the unigram model of the
    // "clean reference" slice (id < 100) — boilerplate dominating the
    // target cannot make itself look normal, and OOV terms surface.
    "q113_ref_surprisal" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.TextAnalysis.crossCorpusSurprisal(
        docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
        "doc_id", "text")
    },
      """WITH ttoks AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text),
        |      '[ \t\n\f\r]+'), t -> t <> '')) AS term
        |  FROM documents WHERE doc_id >= 100),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM ttoks GROUP BY 1, 2),
        |rc AS (
        |  SELECT term, count(*) AS rc FROM (
        |    SELECT unnest(list_filter(string_split_regex(lower(text),
        |      '[ \t\n\f\r]+'), t -> t <> '')) AS term
        |    FROM documents WHERE doc_id < 100) GROUP BY 1),
        |tot AS (SELECT CAST(sum(rc) AS BIGINT) AS total, count(*) AS v FROM rc)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN rc.rc IS NULL THEN tf ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(0.0 - sum(tf * ln((coalesce(rc.rc, 0) + 1.0) / (total + v)))
        |    / sum(tf), 4) AS ref_surprisal
        |FROM tf LEFT JOIN rc USING (term) CROSS JOIN tot
        |GROUP BY 1""".stripMargin),

    // --- Bigram-LM surprisal: −avg ln p̂(w2|w1), add-one smoothed —
    // the order-sensitive companion gate (word-salad built from common
    // words scores high here while passing the unigram gate).
    "q107_bigram_surprisal" -> Static((s, dir) =>
      graft.ext.TextAnalysis.bigramSurprisal(
        Tables.documents(s, dir), "doc_id", "text"),
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |      t -> t <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT doc_id,
        |    unnest([struct_pack(w1 := ts[i], b := ts[i] || ' ' || ts[i+1])
        |      FOR i IN range(1, len(ts))]) AS p
        |  FROM toks WHERE len(ts) >= 2),
        |tf AS (
        |  SELECT doc_id, p.w1 AS w1, p.b AS b, count(*) AS tf
        |  FROM bg GROUP BY 1, 2, 3),
        |cb AS (SELECT b, sum(tf) AS cb FROM tf GROUP BY 1),
        |cu AS (
        |  SELECT term, count(*) AS cu FROM (
        |    SELECT unnest(ts) AS term FROM toks) GROUP BY 1),
        |tot AS (SELECT count(*) AS v FROM cu)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  round(0.0 - sum(tf * ln((cb + 1.0) / (cu + v))) / sum(tf), 4)
        |    AS bigram_surprisal
        |FROM tf JOIN cb USING (b) JOIN cu ON tf.w1 = cu.term
        |CROSS JOIN tot
        |GROUP BY 1""".stripMargin),

    // --- Scalar-quantization audit: int8 encode/decode on per-dim
    // min/max bounds (broadcast back onto the scan; map-side encode),
    // reporting the code checksum + reconstruction error per vector.
    "q106_quantize_int8" -> Static((s, dir) =>
      graft.ext.Similarity.quantizeInt8(
        Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64),
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64
        |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
        |b AS (
        |  SELECT i, min(v[i]) AS mn, max(v[i]) AS mx
        |  FROM e, unnest(generate_series(1, 64)) t(i) GROUP BY 1),
        |bb AS (
        |  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
        |  FROM b),
        |q AS (
        |  SELECT vec_id, v, mns, mxs,
        |    [CASE WHEN mxs[i] > mns[i]
        |       THEN round((v[i] - mns[i]) / (mxs[i] - mns[i]) * 255.0)
        |       ELSE 0.0 END FOR i IN range(1, 65)] AS codes
        |  FROM e, bb),
        |d AS (
        |  SELECT vec_id, v, codes,
        |    [mns[i] + codes[i] * (mxs[i] - mns[i]) / 255.0
        |      FOR i IN range(1, 65)] AS dq
        |  FROM q)
        |SELECT vec_id,
        |  CAST(list_aggregate(codes, 'sum') AS BIGINT) AS code_sum,
        |  round(list_aggregate([(v[i] - dq[i]) * (v[i] - dq[i])
        |      FOR i IN range(1, 65)], 'sum') / 64.0, 6) AS mse,
        |  CASE WHEN
        |      sqrt(list_aggregate([v[i] * v[i] FOR i IN range(1, 65)], 'sum'))
        |    * sqrt(list_aggregate([dq[i] * dq[i] FOR i IN range(1, 65)], 'sum'))
        |      > 0
        |  THEN round(list_aggregate([v[i] * dq[i] FOR i IN range(1, 65)], 'sum')
        |    / (sqrt(list_aggregate([v[i] * v[i] FOR i IN range(1, 65)], 'sum'))
        |     * sqrt(list_aggregate([dq[i] * dq[i] FOR i IN range(1, 65)], 'sum'))),
        |    6) END AS cos_q
        |FROM d""".stripMargin),

    // --- Weighted sampling (Efraimidis-Spirakis): a 50-doc draw
    // proportional to document length, reproducible from (salt, id).
    "q98_weighted_sample" -> Static((s, dir) =>
      graft.ext.Sampling.weightedSample(
          // roundTo = 12: n_chars weights reach ~1e4-1e5, far past the
          // default 6-dp grid's ~1e3 envelope (see the PRECISION
          // CONTRACT on weightedSample) — coarser grids collapse long
          // docs into id-ordered tie classes, a non-proportional tail
          Tables.documents(s, dir), "doc_id", "n_chars", n = 50,
          roundTo = 12)
        .select("doc_id", "n_chars", "draw"),
      """WITH t AS (
        |  SELECT doc_id, n_chars,
        |    0.0 + round(ln((('0x' || substr(md5('graft:' ||
        |        CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
        |      / 4294967296.0) / n_chars, 12) AS draw
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0)
        |SELECT doc_id, n_chars, draw FROM t
        |ORDER BY draw DESC, doc_id ASC LIMIT 50""".stripMargin),

    // --- DSIR importance weights: every pool document's per-token LM
    // log-ratio, target = the English subset, reference = the raw pool
    // itself (the standard DSIR pairing — "how much more target-like
    // than a random pool draw"). Positive → target-like.
    "q118_dsir_weights" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.ext.TextAnalysis.importanceWeights(
        docs, docs.filter(col("lang") === "en"), docs, "doc_id", "text")
    },
      // q118/q119 share the DSIR weight CTEs: add-one unigram LMs of the
      // English target subset and the whole pool, per-doc log-ratio
      // rounded to 4dp (ln is not correctly rounded cross-engine; every
      // downstream ranking uses the ROUNDED value).
      (DsirWeightsSql +
        """SELECT doc_id, n_tokens, n_oov_target, log_weight, log_ratio
          |FROM w""".stripMargin)),

    // --- DSIR end-to-end: the importance-weighted resampling draw —
    // Gumbel-top-k over the LOG weights (∝ exp(log_ratio), no exp
    // crosses an engine boundary), the quality-targeted mixture
    // selection a curation pipeline actually ships.
    "q119_dsir_sample" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = graft.ext.TextAnalysis.importanceWeights(
        docs, docs.filter(col("lang") === "en"), docs, "doc_id", "text")
      graft.ext.Sampling.gumbelTopK(w, "doc_id", "log_weight", n = 50)
    },
      (DsirWeightsSql +
        """SELECT doc_id, n_tokens, n_oov_target, log_weight, log_ratio,
          |  0.0 + round(log_weight + (0.0 - ln(0.0 - ln(
          |    (('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)),
          |        1, 8))::BIGINT + 0.5) / 4294967296.0))), 6) AS draw
          |FROM w
          |ORDER BY draw DESC, doc_id ASC LIMIT 50""".stripMargin)),

    // --- Per-source quota (C4/RefinedWeb "cap pages per domain"):
    // at most 10 docs per source by deterministic md5 draw — run
    // through the SKEW-SAFE bounded-heap plan (capPerGroupAgg), which
    // partial-combines map-side so a hot domain never window-sorts on
    // one task; the oracle replays the selection as the window
    // formulation (spec-pinned identical).
    "q123_source_quota" -> Static((s, dir) => {
      val pri = conv(substring(md5(concat(lit("graft:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
      graft.ext.Sampling.capPerGroupAgg(
          Tables.documents(s, dir), "source", "doc_id", pri, n = 10)
        .select("doc_id", "source", "n_chars")
    },
      // q123: the skew-safe bounded-heap quota selects EXACTLY what the
      // window formulation selects (spec-pinned), so the oracle replays
      // the window form over the same md5 priority.
      """WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |    ('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)),
        |      1, 8))::BIGINT AS pri
        |  FROM documents WHERE doc_id IS NOT NULL),
        |r AS (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY pri DESC, doc_id ASC) AS rn
        |  FROM d)
        |SELECT doc_id, source, n_chars FROM r WHERE rn <= 10""".stripMargin),

    // --- BM25 retrieval scoring (Lucene idf variant): every document
    // scored against a 3-term query in ONE token-stream aggregation +
    // a one-row broadcast of (N, avgdl, df) — the seeded corpus-
    // expansion scorer; length normalization keeps long docs from
    // winning on raw term count (contrast q91 TF-IDF).
    "q124_bm25" -> Static((s, dir) =>
      graft.ext.TextAnalysis.bm25Scores(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("hash", "join", "window")),
      // q124: BM25 with k1=1.2, b=0.75 — dl/tf/df/N are exact integers
      // and avgdl an exact integer ratio in both engines, so the only
      // cross-engine wobble is ln (not correctly rounded) and the shared
      // 6 dp floor-snap absorbs it. Term order in the score sum matches
      // the Spark literal order (IEEE addition is order-sensitive).
      s"""WITH $Bm25Ctes
        |SELECT doc_id, n_tokens, n_matched, bm25 FROM bm""".stripMargin),

    // --- Winsorized robust mean per order priority: heavy tails
    // clipped to the [5%, 95%] band; the raw mean reported alongside.
    "q99_winsorized" -> Static((s, dir) =>
      graft.profile.Profiler.winsorizedStatsDF(
        Tables.orders(s, dir), "o_orderpriority", "o_totalprice"),
      """WITH b AS (
        |  SELECT o_orderpriority,
        |    floor(quantile_cont(o_totalprice, 0.05) * 1e4 + 0.5) / 1e4 AS lo,
        |    floor(quantile_cont(o_totalprice, 0.95) * 1e4 + 0.5) / 1e4 AS hi
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |  GROUP BY 1)
        |SELECT o.o_orderpriority, count(*) AS n,
        |  floor(avg(o.o_totalprice) * 1e4 + 0.5) / 1e4 AS mean,
        |  floor(avg(least(greatest(o.o_totalprice, b.lo), b.hi)) * 1e4 + 0.5)
        |    / 1e4 AS winsorized_mean,
        |  min(b.lo) AS lo, min(b.hi) AS hi
        |FROM orders o JOIN b
        |  ON o.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority
        |WHERE o.o_totalprice IS NOT NULL
        |GROUP BY 1""".stripMargin),

    // --- Per-language weighted draws: top-10 A-ES ranks per lang,
    // weight = document length (the one-pass quality-weighted mixture).
    "q100_weighted_per_lang" -> Static((s, dir) =>
      graft.ext.Sampling.weightedSamplePerGroup(
          // roundTo = 12 for the same weight-scale reason as q98
          Tables.documents(s, dir), "doc_id", "n_chars", "lang", nPerGroup = 10,
          roundTo = 12)
        .select("doc_id", "lang", "n_chars", "draw", "draw_rank"),
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    0.0 + round(ln((('0x' || substr(md5('graft:' ||
        |        CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
        |      / 4294967296.0) / n_chars, 12) AS draw
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
        |rk AS (
        |  SELECT doc_id, lang, n_chars, draw,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY draw DESC, doc_id ASC) AS draw_rank
        |  FROM t)
        |SELECT doc_id, lang, n_chars, draw, draw_rank
        |FROM rk WHERE draw_rank <= 10""".stripMargin),

    // --- Multimodal: REAL WAV header parsing — audio payloads carry
    // genuine RIFF/WAVE headers (expression-built), the chunk-walk
    // parser reads PCM metadata back from the BYTES, and the oracle
    // checks it against the metadata formulas. Image/video rows are the
    // null path (they fail the RIFF check).
    "q101_wav_meta" -> Static((s, dir) =>
      graft.ext.Multimodal.wavHeaderMeta(
        graft.ext.Multimodal.mediaTableHeadered(Tables.documents(s, dir)))
        .toDF(),
      """SELECT doc_id AS media_id,
        |  CASE WHEN text IS NOT NULL AND doc_id % 3 = 1 THEN 2 END AS channels,
        |  CASE WHEN text IS NOT NULL AND doc_id % 3 = 1
        |    THEN CAST((doc_id % 64 + 1) * 1600 AS INT) END AS sample_rate,
        |  CASE WHEN text IS NOT NULL AND doc_id % 3 = 1 THEN 16 END AS bits,
        |  CASE WHEN text IS NOT NULL AND doc_id % 3 = 1
        |    THEN CAST(octet_length(encode(text)) AS BIGINT) END AS data_bytes,
        |  CASE WHEN text IS NOT NULL AND doc_id % 3 = 1
        |    THEN (octet_length(encode(text)) * 1000)
        |      // ((doc_id % 64 + 1) * 1600 * 4) END AS duration_ms
        |FROM documents""".stripMargin),

    // --- Substring-level duplication gate (ExactSubstr measurement):
    // chars inside any 20-char window occurring >= 2x corpus-wide.
    // Registered at the SCALE setting — stride 4 keeps only
    // digest-anchored windows (content-defined, alignment-independent),
    // shrinking the shuffled stream 4x; the md5-mod selection replays
    // exactly in the oracle. stride=1 exactness is spec'd in DedupSpec.
    "q102_dup_spans" -> Static((s, dir) =>
      graft.ext.Dedup.duplicatedSpanStats(
        Tables.documents(s, dir), "doc_id", "text", k = 20, stride = 4),
      s"""WITH $DupWindowCtes,
         |cov AS (SELECT doc_id, pos,
         |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |        FROM dp),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
         |          CAST(sum(CASE WHEN prev IS NULL THEN 20
         |            ELSE least(20, pos - prev) END) AS BIGINT) AS dup_chars
         |        FROM cov GROUP BY 1)
         |SELECT d.doc_id, d.len AS n_chars,
         |  CASE WHEN d.doc_id IS NULL THEN NULL
         |    ELSE coalesce(a.n_dup_windows, 0) END AS n_dup_windows,
         |  CASE WHEN d.doc_id IS NULL THEN NULL
         |    ELSE coalesce(a.dup_chars, 0) END AS dup_chars,
         |  CASE WHEN d.doc_id IS NULL THEN NULL
         |    WHEN d.len > 0
         |    THEN round(coalesce(a.dup_chars, 0) * 1.0 / d.len, 6)
         |    ELSE 0.0 END AS dup_frac
         |FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin),

    // --- Content-defined chunking dedup: cut points from window-digest
    // mod, so copied blocks chunk identically at ANY alignment; the
    // shuffled stream is one row per ~64-char CHUNK, not per position.
    "q109_cdc_chunks" -> Static((s, dir) =>
      graft.ext.Dedup.cdcChunkStats(
        Tables.documents(s, dir), "doc_id", "text", w = 8, avgChunk = 64),
      """WITH base AS (
        |  SELECT doc_id, text AS t, length(text) AS n FROM documents
        |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND length(text) > 0),
        |cut AS (
        |  SELECT doc_id, t, n,
        |    CASE WHEN n >= 8 THEN
        |      [p + 7 FOR p IN range(1, n - 6)
        |        IF ('0x' || substr(md5(t[p:p+7]), 1, 8))::BIGINT % 64 = 0]
        |    ELSE [] END AS cuts
        |  FROM base),
        |sp AS (
        |  SELECT doc_id, t,
        |    list_concat([1], [c + 1 FOR c IN cuts]) AS ss,
        |    list_concat(cuts, [n]) AS es
        |  FROM cut),
        |ch AS (
        |  SELECT doc_id, md5(t[ss[i]:es[i]]) AS dg,
        |    CAST(es[i] - ss[i] + 1 AS BIGINT) AS len
        |  FROM sp, unnest(generate_series(1, len(ss))) u(i)
        |  WHERE es[i] >= ss[i]),
        |dup AS (SELECT dg FROM ch GROUP BY 1 HAVING count(*) >= 2),
        |agg AS (
        |  SELECT ch.doc_id, count(*) AS n_chunks,
        |    sum(CASE WHEN dup.dg IS NOT NULL THEN 1 ELSE 0 END)
        |      AS n_dup_chunks,
        |    sum(CASE WHEN dup.dg IS NOT NULL THEN ch.len ELSE 0 END)
        |      AS dup_chunk_chars
        |  FROM ch LEFT JOIN dup ON ch.dg = dup.dg GROUP BY 1)
        |SELECT d.doc_id, length(d.text) AS n_chars,
        |  CASE WHEN d.doc_id IS NULL THEN NULL
        |    ELSE coalesce(agg.n_chunks, 0) END AS n_chunks,
        |  CASE WHEN d.doc_id IS NULL THEN NULL
        |    ELSE CAST(coalesce(agg.n_dup_chunks, 0) AS BIGINT)
        |    END AS n_dup_chunks,
        |  CASE WHEN d.doc_id IS NULL THEN NULL
        |    ELSE CAST(coalesce(agg.dup_chunk_chars, 0) AS BIGINT)
        |    END AS dup_chunk_chars,
        |  CASE WHEN d.doc_id IS NULL THEN NULL
        |    WHEN length(d.text) > 0 THEN
        |      floor(coalesce(agg.dup_chunk_chars, 0) * 1.0
        |        / length(d.text) * 1e6 + 0.5) / 1e6
        |    ELSE 0.0 END AS dup_frac
        |FROM documents d
        |LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin),

    // --- Embedding-drift monitor: per-label centroid cosine between
    // two corpus slices in ONE scan (parity joins the centroid groupBy
    // key; only labels × 2 × dim rows shuffle). FULL OUTER on label:
    // a label present in only one slice IS the strongest drift signal
    // and reports with a null cosine, never silently vanishes.
    "q105_centroid_drift" -> Static((s, dir) =>
      graft.ext.Similarity.centroidDrift(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label"),
      """WITH e AS (
        |  SELECT label, vec_id % 2 AS par, i.i AS dim,
        |    avg(CAST(embedding[i.i + 1] AS DOUBLE)) AS v
        |  FROM embeddings, range(64) i(i)
        |  WHERE embedding IS NOT NULL AND (vec_id % 2) IN (0, 1)
        |  GROUP BY 1, 2, 3),
        |c AS (SELECT label, par, list(v ORDER BY dim) AS c
        |      FROM e GROUP BY 1, 2),
        |ca AS (SELECT label, c FROM c WHERE par = 0),
        |cb AS (SELECT label, c FROM c WHERE par = 1)
        |SELECT coalesce(ca.label, cb.label) AS label,
        |  CASE WHEN ca.c IS NOT NULL AND cb.c IS NOT NULL
        |    THEN round(list_cosine_similarity(ca.c, cb.c), 6)
        |  END AS centroid_cosine
        |FROM ca FULL OUTER JOIN cb ON ca.label = cb.label""".stripMargin),

    // --- CAPSTONE embedding dedup: sign-LSH blocked cosine pairs (q19's
    // plan) -> connected components -> newest-wins (max-id) survivor
    // per cluster — the embedding-space twin of q80's text capstone.
    // One plan: blocking + refine + O(log d) label propagation.
    "q104_embedding_canonical" -> Static((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // tau = 0.45: sparse on this corpus yet non-vacuous — the pair
      // graph has real multi-node clusters, so the closure actually
      // fires (0.3 makes the intra-label graph near-complete and the
      // closure inherits it; 0.9 admits no pair at all in the fixture)
      val pairs = graft.ext.Dedup.cosinePairsBlocked(
        emb, "vec_id", "embedding", 0.45, tables = 16,
        nPlanes = graft.ext.Similarity.adaptivePlanes(emb.count()), dim = 64,
        maxBucketSize = Some(1000)) // q19's cap rationale; oracle replays it
      val comp = graft.ext.Dedup.connectedComponents(
          pairs.select("id_a", "id_b"))
        .withColumnRenamed("id", "vec_id")
      emb.select("vec_id")
        .join(comp, Seq("vec_id"), "left_outer")
        .withColumn("component", coalesce(col("component"), col("vec_id")))
        .groupBy("component")
        // newest-wins survivor policy (max id): deliberately NOT the
        // min-id component label, which would duplicate the group key
        // and verify nothing
        .agg(count(lit(1)).as("cluster_size"),
          max(col("vec_id")).as("survivor"))
    },
      s"""WITH RECURSIVE ${blockedCosineCandCtes(comp = "vcomp")},
         |p AS (
         |  SELECT c.id_a, c.id_b FROM cand c
         |  JOIN v a ON c.id_a = a.vec_id
         |  JOIN v b ON c.id_b = b.vec_id
         |  WHERE round(list_cosine_similarity(a.ve, b.ve), 6) >= 0.45),
         |$ClosureCtes,
         |dc AS (
         |  SELECT e.vec_id, coalesce(comp.component, e.vec_id) AS component
         |  FROM embeddings e LEFT JOIN comp ON e.vec_id = comp.id)
         |SELECT component, CAST(count(*) AS BIGINT) AS cluster_size,
         |  max(vec_id) AS survivor
         |FROM dc GROUP BY 1""".stripMargin),

    // --- SemDeDup (Abbas et al. 2023): k-means cells (q40's captured
    // 16-cell coarse quantizer, shared via the trainer memo) block the
    // pair search; within-cell exact cosine >= tau merges semantic
    // duplicates; each group keeps the member FARTHEST from its
    // centroid. Contrast with q104: learned semantic blocking vs
    // random-hyperplane blocking — cross-cell near-dups stay apart by
    // design. Captured centroids -> full DuckDB replay (assignment,
    // pairing, recursive closure, keep policy).
    "q121_semdedup" -> Captured((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // constant-occupancy cell count (the adaptivePlanes audit rule):
      // fixed 16 cells would make within-cell pairing quadratic in the
      // corpus; at the oracle SFs the formula still yields 16, sharing
      // q40's memoized quantizer and keeping outputs byte-identical
      val k = graft.ext.Similarity.adaptiveCells(emb.count())
      val ctrs = ivfCentroids(emb, dir, nCells = k)
      val tau = 0.45
      val oracle = () => semDedupOracleSql(ctrs, tau)
      (graft.ext.Dedup.semDedupWith(emb, "vec_id", "embedding", ctrs, tau),
        oracle)
    }),

    // --- CAPSTONE curation pipeline: quality gates (q70's thresholds)
    // -> exact dedup survivors -> deterministic training-shard layout,
    // composed as ONE Catalyst plan: gates fuse into the scan, dedup
    // shuffles (digest,id) only, the shard summary is the writer
    // manifest a training run consumes.
    "q103_curation" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      // Round 14: q151's audited capstone shape — the gates ride the
      // fenced flag projection (keepCols) and the survivor's stats ride
      // the digest agg as plain mins (n_chars = length(text) is digest-
      // determined by the generator at every SF; min(doc_id) IS the
      // survivor rule), so the whole pipeline is ONE scan, two narrow
      // shuffles, ZERO joins — was 4 scans + 3 doc_id joins. Row set
      // unchanged: gate-then-dedup ≡ the old semi-join-then-dedup (the
      // joins were 1:1 on unique doc_id).
      // shard keys must exist: null-id docs are assigned ids upstream
      // in a real ingest; here they are gated out explicitly
      val flagged = graft.ext.TextAnalysis.qualityRules(
          docs.filter(col("doc_id").isNotNull), "doc_id", "text",
          minTokens = 10L, maxTokens = 500L, minAvgTokenLen = 2.0,
          maxAvgTokenLen = 10.0, maxPunctRatio = 0.05,
          keepCols = Seq("text", "n_chars"))
        .filter(col("keep"))
      val surv = flagged
        .groupBy(md5(col("text")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id"),
          min(col("n_chars")).as("n_chars"))
      graft.ext.Sampling.shuffleShards(surv, "doc_id", nShards = 4)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("shard_chars"))
    },
      s"""WITH g AS (
         |  SELECT doc_id, text, n_chars,
         |    ${tokenStatsCols(nChars = "nc")}
         |  FROM documents WHERE doc_id IS NOT NULL),
         |${gatedShardSql("text", "n_chars")}""".stripMargin),

    // --- Hybrid retrieval: BM25 top-50 and embedding-cosine top-50
    // fused by reciprocal rank (RRF, k=60) — lexical + semantic
    // retrieval without score calibration. Both component retrievers
    // keep their own scale paths; the fuse is rank arithmetic over
    // ≤ 100 rows at ANY corpus size (bounded-input contract). Ranks
    // come off the ROUNDED bm25/cosine with doc_id tiebreaks, so the
    // cross-engine ranking-key rule holds end-to-end.
    "q132_rrf_fusion" -> Static((s, dir) => {
      val bm = graft.ext.TextAnalysis.bm25Scores(
        Tables.documents(s, dir), "doc_id", "text",
        Seq("hash", "join", "window"))
      val bmTop = graft.ext.Retrieval.rankTopK(
          bm, Seq(col("bm25").desc, col("doc_id").asc), 50)
        .select("doc_id", "rank")
      val emb = Tables.embeddings(s, dir)
      val cosTop = graft.ext.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("id").as("doc_id"), col("rank"))
      graft.ext.Retrieval.rrfFuse(Seq(bmTop, cosTop), Nil, Seq("doc_id"),
          kRrf = 60, topK = 10)
        .select(col("doc_id"), col("rank_0").as("rank_bm25"),
          col("rank_1").as("rank_cos"), col("rrf"), col("fused_rank"))
    },
      // q132: the q124 BM25 replay and the q20 cosine replay, each
      // row_number-ranked on (rounded score DESC, doc_id ASC), top-50
      // both, full-outer joined, rrf = 1/(60+r_bm25) + 1/(60+r_cos) in
      // that fixed term order (each term one correctly-rounded IEEE
      // division — exact, no ln crosses the fuse), fused rank tiebroken
      // by doc_id.
      s"""WITH $Bm25Ctes,
         |bmrk AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
         |    AS r FROM bm),
         |bmtop AS (SELECT doc_id, r FROM bmrk WHERE r <= 50),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
         |      FROM embeddings WHERE vec_id = 0),
         |c AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings WHERE vec_id <> 0),
         |cork AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY
         |      list_cosine_similarity(v, qv) DESC, doc_id ASC) AS r
         |  FROM c, q),
         |cotop AS (SELECT doc_id, r FROM cork WHERE r <= 50),
         |fused AS (
         |  SELECT coalesce(b.doc_id, co.doc_id) AS doc_id,
         |    CAST(b.r AS BIGINT) AS rank_bm25, CAST(co.r AS BIGINT) AS rank_cos,
         |    coalesce(1.0 / (60.0 + CAST(b.r AS DOUBLE)), 0.0)
         |      + coalesce(1.0 / (60.0 + CAST(co.r AS DOUBLE)), 0.0) AS rrf
         |  FROM bmtop b FULL OUTER JOIN cotop co ON b.doc_id = co.doc_id),
         |rk AS (
         |  SELECT doc_id, rank_bm25, rank_cos, rrf,
         |    row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS fused_rank
         |  FROM fused)
         |SELECT doc_id, rank_bm25, rank_cos,
         |  floor(rrf * 1e6 + 0.5) / 1e6 AS rrf, fused_rank
         |FROM rk WHERE fused_rank <= 10""".stripMargin),

    // --- Leakage-safe train/test split: q17's near-dup pairs → the
    // transitive closure → the split hash taken over CLUSTER labels,
    // so near-duplicates can never straddle train/test (q59's doc-hash
    // split CAN leak a near-copy into test). n_leaky_clusters is the
    // audited invariant — 0 by construction, and the oracle recomputes
    // it from scratch. Checkpointed once: the split frame feeds both
    // the per-split aggregate and the leak audit.
    "q133_leakage_split" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id").isNotNull)
      val pairs = graft.ext.Dedup.minhashPairs(docs, "doc_id", "text",
        tau = 0.5, ngram = 3, numHashes = 64, bands = 16,
        maxBucketSize = Some(1000))
      val comps = graft.ext.Dedup.connectedComponents(pairs)
      val split = graft.ext.Sampling.splitByComponent(
          docs.select("doc_id", "n_chars"), "doc_id", comps, 0.2, "s1")
        .localCheckpoint(true)
      val leaky = split.groupBy("cluster")
        .agg(countDistinct(col("split")).as("k")).filter(col("k") > 1)
        .agg(count(lit(1)).as("n_leaky_clusters"))
      split.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(col("n_chars")).as("sum_chars"))
        .crossJoin(broadcast(leaky))
    },
      // q133: q17's pair CTEs + the recursive closure, cluster label =
      // coalesce(component, doc_id), split = the engine's md5 predicate
      // over the CLUSTER (0.2 → bound 0x3333), and the leak audit
      // recomputed from scratch — clusters seen in both splits must
      // count 0.
      s"""WITH RECURSIVE ${minhashPairsCtes()},
         |$ClosureCtes,
         |d AS (SELECT doc_id, n_chars FROM documents WHERE doc_id IS NOT NULL),
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster,
         |    d.n_chars
         |  FROM d LEFT JOIN comp c ON c.id = d.doc_id),
         |sp AS (
         |  SELECT doc_id, cluster, n_chars,
         |    CASE WHEN substr(md5('s1' || CAST(cluster AS VARCHAR)), 1, 4)
         |      < '3333' THEN 'test' ELSE 'train' END AS split
         |  FROM lab),
         |leaky AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_leaky_clusters
         |  FROM (SELECT cluster FROM sp GROUP BY cluster
         |        HAVING count(DISTINCT split) > 1))
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars, n_leaky_clusters
         |FROM sp CROSS JOIN leaky
         |GROUP BY split, n_leaky_clusters""".stripMargin),

    // --- HTML → text extraction: documents wrapped in deterministic
    // messy HTML (comments, script/style elements with hostile
    // content, entities — the q129 rebuild-the-mess pattern), then the
    // regex-layer extractor recovers prose. Zero-shuffle map plan.
    "q134_html_extract" -> Static((s, dir) => {
      val messy = Tables.documents(s, dir).withColumn("html", messyHtml)
      graft.ext.TextAnalysis.htmlToText(messy, "doc_id", "html")
    },
      // q134: rebuild the identical messy HTML (|| propagates NULL like
      // Spark's concat), then replay the extraction chain — same inline
      // (?is) RE2 flags, same non-greedy spans, same entity decode ORDER
      // (&amp; strictly last), same whitespace collapse.
      (s"WITH ${messyHtmlHCte()},\n" + HtmlExtractCtes + "\n" +
        """SELECT doc_id, clean_text,
          |  CAST(length(clean_text) AS BIGINT) AS n_chars_clean
          |FROM e6""".stripMargin)),

    // --- WARC crawl-container ingest: the q134 messy-HTML pages
    // framed as REAL ISO 28500 archives (2 records each: warcinfo +
    // response; every 13th archive gzip-member-compressed, the
    // Common-Crawl wire shape), record-walked back map-side, and the
    // response payload fed to the SAME htmlToText extractor — the
    // crawl pipeline's actual first mile, binaryFile → records →
    // text, with zero shuffle until the join on doc_id. Oracle
    // rebuilds the page and replays the extractor chain; the WARC
    // framing cancels out BY CONSTRUCTION (builder→parser identity),
    // which is exactly what the oracle proves.
    "q149_warc_extract" -> Static((s, dir) => {
      import s.implicits._
      val pages = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"), messyHtml.as("html"))
      val archives = pages.as[(Long, String)].map { case (id, html) =>
        (id, graft.ext.Warc.build(Seq(
          ("warcinfo", null, "application/warc-fields",
            "software: graft-warc/1.0\r\n".getBytes("UTF-8")),
          ("response", s"http://example.com/doc/$id", "text/html",
            html.getBytes(java.nio.charset.StandardCharsets.UTF_8))),
          gzipMembers = id % 13 == 5))
      }.toDF("doc_id", "content")
      val resp = graft.ext.Warc.records(archives, "doc_id", "content")
        .filter(col("warc_type") === "response")
        .withColumn("html", col("payload_text"))
        .withColumn("well_formed", col("well_formed").cast("int"))
      graft.ext.TextAnalysis.htmlToText(resp, "doc_id", "html",
          "target_uri", "content_length", "n_records", "well_formed")
        .select(col("doc_id"), col("target_uri"), col("content_length"),
          col("n_records"), col("well_formed"), col("n_chars_clean"))
    },
      // q149: the WARC framing cancels by construction (builder→parser
      // identity on payload octets), so the oracle rebuilds the page,
      // takes octet_length as the response record's Content-Length, and
      // replays the q134 extraction chain on it — plus the framing
      // constants (uri shape, 2 records, well-formed) the record walk
      // must recover.
      (s"WITH ${messyHtmlHCte(" WHERE text IS NOT NULL")},\n" +
        HtmlExtractCtes + "\n" +
        """SELECT h.doc_id,
          |  'http://example.com/doc/' || CAST(h.doc_id AS VARCHAR)
          |    AS target_uri,
          |  CAST(octet_length(encode(h.html)) AS BIGINT) AS content_length,
          |  CAST(2 AS INT) AS n_records,
          |  CAST(1 AS INT) AS well_formed,
          |  CAST(length(e6.clean_text) AS BIGINT) AS n_chars_clean
          |FROM h JOIN e6 ON h.doc_id = e6.doc_id""".stripMargin)),

    // --- Blocked fuzzy join (entity resolution): dirty part names
    // (one char dropped / one char appended, key-deterministic)
    // reconciled against the distinct canonical catalog at edit
    // distance ≤ 1 — prefix+length blocking keeps the distance calls
    // inside equi-join blocks, never a cartesian.
    "q135_fuzzy_join" -> Static((s, dir) => {
      val part = Tables.part(s, dir)
      val canon = part.select(col("p_name").as("name")).distinct()
      val dirty = part.select(col("p_partkey"),
        when(pmod(col("p_partkey"), lit(3)) === 0,
            col("p_name").substr(lit(1), length(col("p_name")) - 1))
          .when(pmod(col("p_partkey"), lit(3)) === 1,
            concat(col("p_name"), lit("s")))
          .otherwise(col("p_name")).as("dirty_name"))
      graft.ext.Joins.fuzzyJoinEditDistance(dirty, canon,
          "dirty_name", "name", maxDist = 1, prefixLen = 4)
        .select(col("p_partkey"), col("dirty_name"),
          col("name").as("matched_name"),
          col("edit_dist").cast("long").as("edit_dist"))
    },
      // q135: same key-deterministic perturbation, same prefix+length
      // blocking predicate (the blocking is part of the operator's
      // recall contract, so the oracle replays it, not the unblocked
      // ideal), same classic Levenshtein.
      """WITH canon AS (SELECT DISTINCT p_name AS name FROM part),
        |dirty AS (
        |  SELECT p_partkey,
        |    CASE WHEN p_partkey % 3 = 0
        |           THEN substr(p_name, 1, length(p_name) - 1)
        |         WHEN p_partkey % 3 = 1 THEN p_name || 's'
        |         ELSE p_name END AS dirty_name
        |  FROM part)
        |SELECT d.p_partkey, d.dirty_name, c.name AS matched_name,
        |  CAST(levenshtein(d.dirty_name, c.name) AS BIGINT) AS edit_dist
        |FROM dirty d JOIN canon c
        |  ON substr(lower(d.dirty_name), 1, 4) = substr(lower(c.name), 1, 4)
        | AND abs(length(d.dirty_name) - length(c.name)) <= 1
        | AND levenshtein(d.dirty_name, c.name) <= 1""".stripMargin),

    // --- Dedup: DIRECTED containment (Broder) — the asymmetric twin
    // of q16's Jaccard that catches a snippet engulfed by a 100×
    // larger aggregator page (J ≈ |A|/|B| but containment(A→B) ≈ 1).
    // Both hot-shingle guards ON (the library default, replayed by the
    // oracle) — unlike q16, whose exact-twin role needs them off.
    // Bound to the PREFIX-FILTERED form (spec-equal to the naive
    // join; 60-bit hashed shingles) on a FIXED doc_id < 5000 slice —
    // the q77 convention for exact pairwise verification twins, so the
    // board entry's cost never rescales with sf. Exact containment is
    // inherently Σ(prefixdf·df) in candidates, and THIS synthetic
    // corpus (tiny vocabulary, 50k+ mutually-similar docs at sf1+) is
    // its worst case: naive 29 s / 22.4 GB spill, prefix+hash 22 s /
    // 7.1 GB at sf1 full-corpus (SCALE.md round 10). Real crawls are
    // low-overlap and the prefix join stays sparse.
    "q136_containment_pairs" -> Static((s, dir) =>
      graft.ext.Dedup.containmentPairsPrefix(
          Tables.documents(s, dir).filter(col("doc_id") < 5000),
          "doc_id", "text", tau = 0.8, ngram = 3)
        .select(col("id_inner"), col("id_outer"),
          // floor-snap, not round(x,6): Spark repr-rounds, DuckDB
          // value-rounds, and they disagree at repr half-points
          // (Rounding.scala contract for every cross-engine float)
          graft.functions.Rounding.reprRound6(col("containment"))
            .as("containment")),
      // q136: q16's shingle CTEs + the engine's guard replay (bound =
      // least(0.5·corpus_rows, 1000) shingle-df cap, sizes from the
      // PRUNED sets), intersections with id_a < id_b computed once and
      // fanned out to both directed scores.
      s"""WITH ${wordShingleCtes(
           "documents WHERE text IS NOT NULL AND doc_id < 5000", sh = "sh0")},
         |bound AS (SELECT least(0.5 * count(*), 1000.0) AS b
         |          FROM documents WHERE doc_id < 5000),
         |keep AS (SELECT s FROM sh0 GROUP BY s
         |         HAVING count(*) <= (SELECT b FROM bound)),
         |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
         |$PairOverlapCtes,
         |pw AS (
         |  SELECT id_a, id_b, i, sa.n AS n_a, sb.n AS n_b
         |  FROM inter
         |  JOIN sizes sa ON inter.id_a = sa.doc_id
         |  JOIN sizes sb ON inter.id_b = sb.doc_id),
         |d AS (
         |  SELECT id_a AS id_inner, id_b AS id_outer, i * 1.0 / n_a AS c FROM pw
         |  UNION ALL
         |  SELECT id_b, id_a, i * 1.0 / n_b FROM pw)
         |SELECT id_inner, id_outer, floor(c * 1e6 + 0.5) / 1e6 AS containment
         |FROM d WHERE c >= 0.8""".stripMargin),

    // --- ANN evaluation harness: recall@10 / MRR / nDCG of the
    // sign-LSH index (q21's exact config) against the brute-force
    // truth (q20) — the "is the ANN trade worth it on MY corpus"
    // report, fully DuckDB-replayed including both rankings. Metric
    // folds run over SORTED rank lists so no float sum rides shuffle
    // order.
    "q137_ann_metrics" -> Static((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 5)
      val truth = graft.ext.Similarity.bruteForceTopK(
        emb, qs, "vec_id", "embedding", k = 10)
      val cand = graft.ext.Similarity.signLshCosineTopK(
        emb, qs, "vec_id", "embedding", k = 10,
        tables = 12, nPlanes = 4, dim = 64)
      graft.ext.Retrieval.rankingMetrics(truth, cand, Seq("qid"), k = 10)
    },
      // q137: q20's truth ranking + q21's sign-LSH candidate ranking
      // (CTEs inlined with t_/c_ prefixes), then recall/MRR/nDCG with
      // DCG and IDCG as SEQUENTIAL folds over rank-sorted lists — the
      // same accumulation order as the engine's aggregate() over
      // sort_array — and the shared 6 dp floor-snap over the ln's.
      s"""WITH tq AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
         |            FROM embeddings WHERE vec_id < 5),
         |tc AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |       FROM embeddings),
         |tsims AS (SELECT qid, id, list_cosine_similarity(v, qv) AS cosine
         |          FROM tc, tq WHERE id <> qid),
         |tr AS (SELECT qid, id, rank FROM (
         |    SELECT qid, id, row_number() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, id ASC) AS rank FROM tsims)
         |  WHERE rank <= 10),
         |${signLshCandCtes("c")},
         |ca AS (SELECT qid, id, rank FROM (
         |    SELECT qid, id, row_number() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, id ASC) AS rank FROM csims)
         |  WHERE rank <= 10),
         |tsz AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_truth FROM tr GROUP BY 1),
         |hits AS (SELECT ca.qid, ca.rank FROM ca
         |         JOIN tr ON tr.qid = ca.qid AND tr.id = ca.id),
         |hagg AS (SELECT qid, CAST(count(*) AS BIGINT) AS h,
         |         min(rank) AS min_rank,
         |         list(CAST(rank AS DOUBLE) ORDER BY rank) AS ranks
         |         FROM hits GROUP BY 1),
         |m AS (
         |  SELECT t.qid, t.n_truth, coalesce(h.h, 0) AS n_hits,
         |    coalesce(h.h, 0) * 1.0 / least(10, t.n_truth) AS recall,
         |    coalesce(1.0 / h.min_rank, 0.0) AS mrr,
         |    CASE WHEN coalesce(h.h, 0) > 0 THEN
         |      list_aggregate(list_transform(h.ranks,
         |        r -> 1.0 / (ln(r + 1.0) / ln(2.0))), 'sum')
         |      / list_aggregate(list_transform(
         |          generate_series(1, least(10, t.n_truth)),
         |          i -> 1.0 / (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0))), 'sum')
         |    ELSE 0.0 END AS ndcg
         |  FROM tsz t LEFT JOIN hagg h ON t.qid = h.qid)
         |SELECT qid, n_truth, CAST(n_hits AS BIGINT) AS n_hits,
         |  floor(recall * 1e6 + 0.5) / 1e6 AS recall,
         |  floor(mrr * 1e6 + 0.5) / 1e6 AS mrr,
         |  floor(ndcg * 1e6 + 0.5) / 1e6 AS ndcg
         |FROM m""".stripMargin),

    // --- Z-order layout audit: Morton-interleave (custkey, order day)
    // and report per-bucket extents — files written in this order
    // carry tight min/max on BOTH dimensions, the layout that lets a
    // 100 TB scan prune on either filter. Pure integer bit math, one
    // aggregation; the rectangle bound itself is pinned in LayoutSpec.
    "q138_zorder_layout" -> Static((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")),
          to_date(lit("1970-01-01"))).as("d"))
      graft.ext.Layout.zOrderBuckets(o, "o_custkey", "d",
          bits = 21, bucketShift = 20)
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n"),
          min(col("o_custkey")).as("cust_min"),
          max(col("o_custkey")).as("cust_max"),
          min(col("d")).as("day_min"),
          max(col("d")).as("day_max"))
    },
      // q138: the Morton interleave replayed as the same fixed-order
      // 64-bit integer fold (shifts/masks/adds are exact in any engine);
      // order day = CAST to DATE minus epoch, the q41/q66 convention.
      """WITH z AS (
        |  SELECT o_custkey,
        |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS d,
        |    CAST(list_sum(list_transform(generate_series(0, 20), i ->
        |      (((o_custkey >> i) & 1) << (2 * i)) +
        |      ((((CAST(o_orderdate AS DATE) - DATE '1970-01-01') >> i) & 1)
        |        << (2 * i + 1)))) AS BIGINT) AS zvalue
        |  FROM orders)
        |SELECT zvalue >> 20 AS zbucket, CAST(count(*) AS BIGINT) AS n,
        |  min(o_custkey) AS cust_min, max(o_custkey) AS cust_max,
        |  CAST(min(d) AS INT) AS day_min, CAST(max(d) AS INT) AS day_max
        |FROM z GROUP BY 1""".stripMargin),

    // --- KMV / theta distinct sketch: "how much vocabulary do these
    // two corpus slices share?" from two k-long bottom-k sketches
    // (treeAggregate, nothing value-keyed shuffles), every estimate
    // beside its exact verification twin — the q125/q131 audit
    // convention. The 60-bit md5 universe + exact-double estimator
    // arithmetic replay verbatim in DuckDB (bottom-k = ORDER BY h
    // LIMIT k).
    "q139_kmv_sketch" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      val a = graft.ext.Sketches.termHashes(
        docs.filter(col("doc_id") % 2 === 0), "text", ngram = 3)
      val b = graft.ext.Sketches.termHashes(
        docs.filter(col("doc_id") % 2 === 1), "text", ngram = 3)
      graft.ext.Sketches.kmvCompare(a, b, "h", k = 256)
    },
      // q139: the KMV sketch replayed literally — bottom-k distinct
      // hashes = ORDER BY h LIMIT k; θ = max of the union sketch; the
      // estimator chain (long→double cast, one exact multiply, one
      // divide, floor-snap) is IEEE correctly-rounded in both engines.
      // Shingles use q58/termStream semantics: docs shorter than 3
      // words contribute NOTHING (no whole-doc fallback — that is the
      // q17 CTE's convention, not this one's).
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
        |      t -> t <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL),
        |terms AS (
        |  SELECT doc_id % 2 AS slice, unnest(CASE WHEN len(ts) >= 3
        |    THEN [array_to_string(ts[i:i+2], ' ') FOR i IN range(1, len(ts) - 1)]
        |    ELSE CAST([] AS VARCHAR[]) END) AS s
        |  FROM toks),
        |ha AS (SELECT DISTINCT ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
        |       FROM terms WHERE slice = 0),
        |hb AS (SELECT DISTINCT ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
        |       FROM terms WHERE slice = 1),
        |ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
        |sku AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
        |        ORDER BY h LIMIT 256),
        |st AS (SELECT
        |  (SELECT count(*) FROM ha) AS da_exact,
        |  (SELECT count(*) FROM hb) AS db_exact,
        |  (SELECT count(*) FROM (SELECT h FROM ha UNION SELECT h FROM hb))
        |    AS union_exact,
        |  (SELECT count(*) FROM ha JOIN hb USING (h)) AS inter_exact,
        |  (SELECT count(*) FROM ska) AS na,
        |  (SELECT count(*) FROM skb) AS nb,
        |  (SELECT count(*) FROM sku) AS nu,
        |  (SELECT max(h) FROM ska) AS hka,
        |  (SELECT max(h) FROM skb) AS hkb,
        |  (SELECT max(h) FROM sku) AS theta),
        |bo AS (SELECT
        |  (SELECT count(*) FROM ska JOIN skb USING (h)) AS both_all,
        |  (SELECT count(*) FROM ska JOIN skb USING (h), st
        |   WHERE h < st.theta) AS both_below)
        |SELECT CAST(256 AS INT) AS k,
        |  CAST(da_exact AS BIGINT) AS da_exact,
        |  CASE WHEN na < 256 THEN CAST(na AS DOUBLE)
        |    ELSE floor(255.0 * 1152921504606846976.0 / CAST(hka AS DOUBLE)
        |      * 10000.0) / 10000.0 END AS da_est,
        |  CAST(db_exact AS BIGINT) AS db_exact,
        |  CASE WHEN nb < 256 THEN CAST(nb AS DOUBLE)
        |    ELSE floor(255.0 * 1152921504606846976.0 / CAST(hkb AS DOUBLE)
        |      * 10000.0) / 10000.0 END AS db_est,
        |  CAST(union_exact AS BIGINT) AS union_exact,
        |  CASE WHEN nu < 256 THEN CAST(nu AS DOUBLE)
        |    ELSE floor(255.0 * 1152921504606846976.0 / CAST(theta AS DOUBLE)
        |      * 10000.0) / 10000.0 END AS union_est,
        |  CAST(inter_exact AS BIGINT) AS inter_exact,
        |  CASE WHEN nu < 256 THEN CAST(both_all AS DOUBLE)
        |    ELSE floor(CAST(both_below AS DOUBLE) * 1152921504606846976.0
        |      / CAST(theta AS DOUBLE) * 10000.0) / 10000.0 END AS inter_est,
        |  CASE WHEN union_exact > 0
        |    THEN floor(CAST(inter_exact AS DOUBLE) / CAST(union_exact AS DOUBLE)
        |      * 1000000.0) / 1000000.0 ELSE 0.0 END AS jaccard_exact,
        |  CASE WHEN nu < 256 THEN (CASE WHEN nu = 0 THEN 0.0
        |      ELSE floor(CAST(both_all AS DOUBLE) / CAST(nu AS DOUBLE)
        |        * 1000000.0) / 1000000.0 END)
        |    ELSE floor(CAST(both_below AS DOUBLE) / 255.0
        |      * 1000000.0) / 1000000.0 END AS jaccard_est
        |FROM st, bo""".stripMargin),

    // --- Classifier operating-point sweep: precision/recall/F1 of the
    // hashed-n-gram scorer (q128) at each candidate keep-threshold,
    // measured against the rule gate (q70) as the truth signal — the
    // table a curation stack actually picks its threshold from. One
    // scan × tiny broadcast threshold list; sweeping happens on the
    // SNAPPED score (raw-double cuts let a one-ulp engine disagreement
    // flip a count — the rounded-ranking-key rule).
    "q140_classifier_sweep" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
      // Round 14: score and truth are BOTH per-row maps of the same
      // scan, so the snapped score rides qualityRules' fenced flag
      // projection (keepCols) instead of a corpus-wide doc_id
      // self-join — ONE scan, zero doc-keyed joins; the fence keeps
      // the sweep's null filter from re-inlining the classifier dot
      // product. Row set and every swept value unchanged (the old
      // inner join was 1:1 on unique doc_id).
      val scored = docs.filter(col("text").isNotNull)
        .withColumn("score", graft.functions.Rounding.reprRound6(
          graft.functions.Classifier.hashedNgramScore(lower(col("text")),
            graft.functions.HashedNgramScorer.md5Weights(256), -0.05)))
      // maxTokens=60 (NOT q70's 500): at the oracle SFs the corpus is
      // 10-99 tokens/doc, so the 500 cap labels EVERYTHING keep and the
      // sweep's fp/tn columns never exercise — a truth that splits is
      // the point of the report.
      val flags = graft.ext.TextAnalysis.qualityRules(
          scored, "doc_id", "text",
          minTokens = 10L, maxTokens = 60L,
          minAvgTokenLen = 2.0, maxAvgTokenLen = 10.0,
          maxPunctRatio = 0.05, keepCols = Seq("score"))
      graft.ext.TextAnalysis.thresholdSweep(
          flags.select(col("score"), col("keep").as("label")),
          "score", "label", Seq(-0.1, -0.075, -0.05, -0.025, 0.0, 0.025))
        .orderBy("threshold")
    },
      classifierSweepOracleSql()),

    // --- Layout pruning audit: the number that justifies q138's
    // z-order — for each workload predicate, files that must be READ
    // (min/max overlap) under z-order vs linear-by-custkey vs
    // linear-by-date layouts of the same orders table. ONE scan
    // (each row explodes to its three (layout,bucket) keys map-side,
    // partial agg collapses to O(files) rows pre-shuffle) + a second
    // partial-agg scan for the layout-independent exact answer;
    // predicate list is a broadcast literal. Pure integer arithmetic
    // + one snapped ratio → verbatim DuckDB replay.
    "q141_pruning_audit" -> Static((s, dir) => {
      import graft.ext.Layout
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")),
          to_date(lit("1970-01-01"))).as("d"))
      Layout.pruningAudit(o, "o_custkey", "d",
          bits = 21, bucketShift = 20, xShift = 6, yShift = 5,
          preds = Seq(
            Layout.RangePred(1, 64, 127, 8100, 8291),   // both-dim box
            Layout.RangePred(2, 64, 127, 0, 2097151),   // custkey-only
            Layout.RangePred(3, 0, 2097151, 8100, 8291),// date-only
            Layout.RangePred(4, 256, 271, 9000, 9063))) // tight box
        .orderBy("pred_id", "layout")
    },
      // q141: the pruning audit replayed — q138's z-value fold, the two
      // linear shift keys, per-(layout,bucket) min/max stats, overlap
      // counting against the literal predicate list, exact matches via
      // the same BETWEEN; all integers except the one snapped ratio.
      """WITH base AS (
        |  SELECT o_custkey AS x,
        |    (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS y,
        |    CAST(list_sum(list_transform(generate_series(0, 20), i ->
        |      (((o_custkey >> i) & 1) << (2 * i)) +
        |      ((((CAST(o_orderdate AS DATE) - DATE '1970-01-01') >> i) & 1)
        |        << (2 * i + 1)))) AS BIGINT) AS zvalue
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
        |lb AS (
        |  SELECT 'zorder' AS layout, zvalue >> 20 AS bucket, x, y FROM base
        |  UNION ALL
        |  SELECT 'linear_x', x >> 6, x, y FROM base
        |  UNION ALL
        |  SELECT 'linear_y', y >> 5, x, y FROM base),
        |stats AS (
        |  SELECT layout, bucket, count(*) AS n,
        |    min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax
        |  FROM lb GROUP BY 1, 2),
        |preds AS (SELECT * FROM (VALUES
        |    (1, 64, 127, 8100, 8291),
        |    (2, 64, 127, 0, 2097151),
        |    (3, 0, 2097151, 8100, 8291),
        |    (4, 256, 271, 9000, 9063))
        |  AS t(pred_id, xlo, xhi, ylo, yhi)),
        |per AS (
        |  SELECT pred_id, layout,
        |    CAST(count(*) AS BIGINT) AS buckets_total,
        |    CAST(sum(CASE WHEN xmin <= xhi AND xmax >= xlo
        |      AND ymin <= yhi AND ymax >= ylo THEN 1 ELSE 0 END) AS BIGINT)
        |      AS buckets_read,
        |    CAST(sum(CASE WHEN xmin <= xhi AND xmax >= xlo
        |      AND ymin <= yhi AND ymax >= ylo THEN n ELSE 0 END) AS BIGINT)
        |      AS rows_read
        |  FROM stats, preds GROUP BY 1, 2),
        |m AS (
        |  SELECT pred_id, CAST(count(*) AS BIGINT) AS rows_matched
        |  FROM base, preds
        |  WHERE x BETWEEN xlo AND xhi AND y BETWEEN ylo AND yhi
        |  GROUP BY 1)
        |SELECT per.pred_id, layout, buckets_total, buckets_read, rows_read,
        |  CAST(COALESCE(rows_matched, 0) AS BIGINT) AS rows_matched,
        |  floor(CAST(buckets_read AS DOUBLE) / CAST(buckets_total AS DOUBLE)
        |    * 1000000.0) / 1000000.0 AS read_fraction
        |FROM per LEFT JOIN m USING (pred_id)
        |ORDER BY pred_id, layout""".stripMargin),

    // --- Exact mutual-marked kNN graph on the fixed 500-vector slice
    // (the q77 exact-pairwise convention: the corpus-scale path is
    // knnGraphLsh, recall-audited against this in SimilaritySpec).
    // Edges ride the bounded-heap Aggregator — ≤ k rows per node per
    // partition shuffle, never the n² candidate stream; the mutual
    // mark is a self-join of the n·k edge list.
    "q142_knn_graph" -> Static((s, dir) => {
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 500)
      graft.ext.Similarity.knnGraph(emb, "vec_id", "embedding", k = 5)
        .select(col("src"), col("dst"),
          round(col("cosine"), 6).as("cosine"), col("rank"), col("mutual"))
    },
      // q142: the exact kNN graph replayed — q20's cosine ranking with
      // queries = the slice itself, then the mutual mark as a self left
      // join of the edge list on the reversed pair.
      """WITH s AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 500),
        |sims AS (SELECT a.id AS src, b.id AS dst,
        |           list_cosine_similarity(a.v, b.v) AS cosine
        |         FROM s a, s b WHERE a.id <> b.id),
        |rk AS (SELECT src, dst, cosine, row_number() OVER
        |         (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank
        |       FROM sims),
        |e AS (SELECT * FROM rk WHERE rank <= 5)
        |SELECT e.src, e.dst, round(e.cosine, 6) AS cosine, e.rank,
        |  CASE WHEN m.src IS NOT NULL THEN 1 ELSE 0 END AS mutual
        |FROM e LEFT JOIN e m ON e.src = m.dst AND e.dst = m.src""".stripMargin),

    // --- Mutual-kNN clustering on the fixed slice (exact twin; the
    // corpus path is mutualKnnClustersLsh, agreement-audited in
    // SimilaritySpec): mutual edges demand agreement from BOTH
    // endpoints, so hub nodes can't glue unrelated regions the way a
    // plain cosine threshold does. Components via the size-gated
    // union-find; singletons coalesce to their own id (q80 pattern).
    "q143_mutual_knn_clusters" -> Static((s, dir) => {
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 500)
      val cl = graft.ext.Similarity.mutualKnnClusters(
        emb, "vec_id", "embedding", k = 4)
      val sizes = cl.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      cl.join(sizes, Seq("cluster"))
        .select(col("vec_id"), col("cluster"), col("cluster_size"))
    },
      // q143: the q142 edge replay at k=4, mutual pairs only, then the
      // shared transitive-closure CTEs (min reachable id = component);
      // singletons coalesce to their own id, size by a window count.
      s"""WITH RECURSIVE s AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings WHERE vec_id < 500),
         |sims AS (SELECT a.id AS src, b.id AS dst,
         |           list_cosine_similarity(a.v, b.v) AS cosine
         |         FROM s a, s b WHERE a.id <> b.id),
         |rk AS (SELECT src, dst, row_number() OVER
         |         (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank
         |       FROM sims),
         |e AS (SELECT src, dst FROM rk WHERE rank <= 4),
         |p AS (SELECT e.src AS id_a, e.dst AS id_b
         |      FROM e JOIN e m ON e.src = m.dst AND e.dst = m.src
         |      WHERE e.src < e.dst),
         |$ClosureCtes,
         |cl AS (SELECT s.id, COALESCE(comp.component, s.id) AS cluster
         |       FROM s LEFT JOIN comp ON s.id = comp.id)
         |SELECT id AS vec_id, cluster,
         |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size
         |FROM cl""".stripMargin),

    // --- Random-projection (JL) dimensionality reduction, audited
    // pairwise instead of assumed: 64-d -> 8-d through the
    // deterministic ±1/√8 md5 sign matrix (map-side codegen, zero
    // shuffle), then every 29th (id_a, id_b) pair of the fixed slice
    // reports original vs projected cosine and the squared-distance
    // ratio — the measured distortion that justifies running a
    // downstream ANN index at 1/8th the width. Distances fold as
    // (a·a + b·b) - 2(a·b) so both engines run the identical exact
    // double chain outside the snap-tolerated dot sums.
    "q144_random_projection" -> Static((s, dir) => {
      import graft.functions.Vectors.dot
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 400)
      val proj = graft.ext.Similarity.randomProjection(
        emb, "vec_id", "embedding", outDim = 8)
      val v = emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .join(proj, Seq("vec_id"))
      val a = v.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("proj").as("pa"))
      val b = v.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("proj").as("pb"))
      val d2o = (dot(col("va"), col("va")) + dot(col("vb"), col("vb"))) -
        lit(2.0) * dot(col("va"), col("vb"))
      val d2p = (dot(col("pa"), col("pa")) + dot(col("pb"), col("pb"))) -
        lit(2.0) * dot(col("pa"), col("pb"))
      a.join(b, col("id_a") < col("id_b") &&
          (col("id_a") * 1000003L + col("id_b")) % 29 === 0)
        .select(col("id_a"), col("id_b"),
          round(graft.functions.Vectors.cosine(col("va"), col("vb")), 6)
            .as("cos_orig"),
          round(graft.functions.Vectors.cosine(col("pa"), col("pb")), 6)
            .as("cos_proj"),
          when(d2o > 0, floor(d2p / d2o * 1e6 + 0.5) / 1e6).as("dist_ratio"))
    },
      randomProjectionOracleSql()),

    // --- kth-NN density scoring on the fixed slice: cosine to the
    // 10th neighbor, snapped, plus an isolation rank (1 = most
    // isolated) over the ROUNDED key with an id tiebreak — the signal
    // under density-based pruning and hardest-example mining. The
    // kth edge rides the same bounded-heap shuffle as the kNN graph.
    "q145_knn_density" -> Static((s, dir) => {
      val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 500)
      val d = graft.ext.Similarity.knnDensity(emb, "vec_id", "embedding",
          k = 10)
        .select(col("vec_id"), round(col("kth_cosine"), 6).as("kth_cosine"))
      d.withColumn("isolation_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("kth_cosine").asc_nulls_last, col("vec_id").asc)))
    },
      // q145: the q142 ranking at k=10 keeping only the kth edge; the
      // isolation rank orders on the ROUNDED kth cosine with the id
      // tiebreak (rounded-ranking-key rule), nulls last in both engines.
      """WITH s AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 500),
        |sims AS (SELECT a.id AS src, b.id AS dst,
        |           list_cosine_similarity(a.v, b.v) AS cosine
        |         FROM s a, s b WHERE a.id <> b.id),
        |rk AS (SELECT src, cosine, row_number() OVER
        |         (PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank
        |       FROM sims),
        |kth AS (SELECT src AS id, round(cosine, 6) AS kth_cosine
        |        FROM rk WHERE rank = 10),
        |d AS (SELECT s.id, kth.kth_cosine
        |      FROM s LEFT JOIN kth ON s.id = kth.id)
        |SELECT id AS vec_id, kth_cosine,
        |  CAST(row_number() OVER (ORDER BY kth_cosine ASC NULLS LAST, id ASC)
        |    AS INT) AS isolation_rank
        |FROM d""".stripMargin),

    // --- "What is distinctive about source X": per-source top terms by
    // Dirichlet-prior log-odds z-score (Monroe '08) against the rest of
    // the corpus — the corpus-comparison report where TF-IDF surfaces
    // typos and raw frequency surfaces stopwords. One vocabulary-sized
    // (source, term) stream, checkpointed once; z snapped and ranked
    // with a term tiebreak (the ln rule).
    "q146_distinctive_terms" -> Static((s, dir) =>
      graft.ext.TextAnalysis.distinctiveTerms(
          Tables.documents(s, dir), "text", "source", topK = 5)
        .orderBy("source", "rank"),
      // q146: the Monroe log-odds replayed — exact integer counts, the
      // identical left-assoc double chain for the prior/denominators,
      // degenerate denominators guarded to NULL BEFORE the snap (nulls
      // last under DESC in both engines), ranking on the snapped z.
      """WITH t AS (
        |  SELECT source AS grp,
        |    unnest(list_filter(string_split_regex(lower(text),
        |      '[ \t\n\f\r]+'), x -> x <> '')) AS term
        |  FROM documents WHERE text IS NOT NULL),
        |cgw AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS c_gw
        |        FROM t GROUP BY 1, 2),
        |cw AS (SELECT term, CAST(sum(c_gw) AS BIGINT) AS c_w
        |       FROM cgw GROUP BY 1),
        |ng AS (SELECT grp, CAST(sum(c_gw) AS BIGINT) AS n_g
        |       FROM cgw GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_gw) AS BIGINT) AS n FROM cgw),
        |sc AS (
        |  SELECT grp, term, c_gw,
        |    500.0 * c_w / n AS aw,
        |    c_w - c_gw AS c_r,
        |    n_g + 500.0 - c_gw - (500.0 * c_w / n) AS d1,
        |    (n - n_g) + 500.0 - (c_w - c_gw) - (500.0 * c_w / n) AS d2
        |  FROM cgw JOIN cw USING (term) JOIN ng USING (grp), tot),
        |z AS (
        |  SELECT grp, term, c_gw,
        |    CASE WHEN d1 > 0 AND d2 > 0 THEN
        |      floor((ln((c_gw + aw) / d1) - ln((c_r + aw) / d2))
        |        / sqrt(1.0 / (c_gw + aw) + 1.0 / (c_r + aw))
        |        * 1e6 + 0.5) / 1e6
        |    END AS z
        |  FROM sc),
        |rk AS (SELECT grp, term, c_gw, z, row_number() OVER
        |         (PARTITION BY grp ORDER BY z DESC, term ASC) AS rank
        |       FROM z)
        |SELECT grp AS source, term, c_gw, z, rank
        |FROM rk WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin),

    // --- Lakehouse OPTIMIZE planner over (lang, source) pseudo-files:
    // sub-target files pack into ~2500-byte merge bins per partition
    // (deterministic name-order cumsum walk, rowsBetween-pinned);
    // at-target files are left alone — rewriting them is churn.
    "q147_compaction_plan" -> Static((s, dir) => {
      val files = Tables.documents(s, dir)
        .groupBy(col("lang").as("part"), col("source").as("file"))
        .agg(sum(col("n_chars")).as("size_bytes"))
      graft.ext.Layout.compactionPlan(files, "part", "file",
        "size_bytes", targetBytes = 2500L)
    },
      // q147: the compaction plan replayed — integer sizes, the same
      // name-ordered ROWS-frame cumsum, bin = floor(presum / target).
      """WITH f AS (SELECT lang AS part, source AS file,
        |             CAST(sum(n_chars) AS BIGINT) AS size_bytes
        |           FROM documents GROUP BY 1, 2),
        |s AS (SELECT part, file, size_bytes,
        |        sum(size_bytes) OVER (PARTITION BY part ORDER BY file ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          - size_bytes AS presum
        |      FROM f WHERE size_bytes < 2500)
        |SELECT part, file, size_bytes,
        |  CAST(floor(presum / 2500.0) AS BIGINT) AS bin,
        |  true AS needs_compaction
        |FROM s
        |UNION ALL
        |SELECT part, file, size_bytes, CAST(NULL AS BIGINT) AS bin,
        |  false AS needs_compaction
        |FROM f WHERE size_bytes >= 2500""".stripMargin),

    // --- In-engine classifier TRAINING (closes the q128 loop: the
    // pipeline now PRODUCES its quality filter, not just applies one):
    // logistic regression over the scorer's exact hashed unigram+bigram
    // features, trained on a FIXED 20k-doc slice (each epoch is a full
    // pass over the training set — sample-sized by the trainLogReg row
    // gate, never corpus-sized), then deployed over the FULL corpus as
    // the same zero-shuffle codegen expression q128 uses. Truth = a
    // PLANTED 8-bigram disjunction (~36% positive at every SF) — a
    // signal the feature space genuinely carries, so the trainer must
    // isolate those bigram buckets against hash-collision noise.
    // (Neither of the corpus's metadata labels is learnable from BoW:
    // the q140 rule gate is length-shaped and the mean normalization
    // removes length; `lang` is uncorrelated with the shared synthetic
    // vocabulary — both measured at the all-one-class prior.) Oracle
    // replays SCORING with the captured snapped weights (the q40/q110
    // captured-params pattern; retraining in SQL is neither possible
    // nor the contract); the label is a trivial replay.
    "q148_trained_classifier" -> Captured((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val model = lr148Model(dir, docs)
      val oracle = () => trainedClassifierOracleSql(model.weights, model.bias)
      // Round 14: label, score and pred ride ONE map projection (the
      // q173 convention) instead of re-scanning for the truth frame
      // and joining on doc_id (1:1 — doc_id unique). The raw score
      // CSEs into a single evaluation; every value is unchanged.
      val raw = graft.functions.Classifier.hashedNgramScore(
        lower(col("text")), model.weights, model.bias)
      (docs.select(col("doc_id"), lr148LabelCol.as("label"),
        graft.functions.Rounding.reprRound6(raw).as("score"),
        (raw > 0).cast("int").as("pred")), oracle)
    }),

    // --- MP4/ISO-BMFF box walk: documents become spec-correct MP4s
    // (every 11th-mod-3 in the 64-bit/version-1 layout real muxers
    // emit past 32-bit times, every 11th-mod-7 truncated mid-moov),
    // the parser walks ftyp/moov/mvhd/trak/stsd/stts back out, and
    // frameSample runs on the PARSED frame counts — the video
    // metadata path made honest the way q88/q101 did image/WAV
    // (headers inspected, never a frame decode; no codec libs here).
    // Truncated files surface as null-field rows, not dropped rows.
    "q150_mp4_meta" -> Static((s, dir) => {
      val vids = graft.ext.Multimodal.mp4VideoTable(Tables.documents(s, dir))
      val meta = graft.ext.Multimodal.mp4Meta(vids).toDF()
      val sampled = graft.ext.Multimodal.frameSample(
          meta.filter(col("n_frames").isNotNull)
            .select(col("media_id"), lit("video").as("kind"),
              struct(col("n_frames").cast("int").as("n_frames")).as("meta")),
          nth = 24)
        .groupBy("media_id").agg(count(lit(1)).as("n_sampled"))
      meta.join(sampled, Seq("media_id"), "left")
        .select(col("media_id"), col("major_brand"), col("timescale"),
          col("duration_ms"), col("n_frames"), col("codec"),
          col("width"), col("height"), col("n_sampled"))
    },
      // q150: the MP4 build parameters are formulas over (doc_id,
      // n_chars), so the oracle recomputes what the box walk must
      // recover — builder→parser identity on the container, like q149's
      // on WARC framing. Truncated ids (≡7 mod 11) go all-null;
      // duration_ms = floor(n_frames·1000/24) (integer division in both
      // engines); n_sampled = every-24th-frame count from the PARSED
      // frame total.
      """WITH d AS (
        |  SELECT doc_id AS media_id, (n_chars % 240) + 1 AS nf
        |  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
        |m AS (
        |  SELECT media_id, media_id % 11 = 7 AS trunc, nf FROM d)
        |SELECT media_id,
        |  CASE WHEN trunc THEN NULL ELSE 'isom' END AS major_brand,
        |  CAST(CASE WHEN trunc THEN NULL
        |    WHEN media_id % 11 = 3 THEN 90000 ELSE 600 END AS BIGINT)
        |    AS timescale,
        |  CAST(CASE WHEN trunc THEN NULL
        |    ELSE (nf * 1000) // 24 END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN trunc THEN NULL ELSE nf END AS BIGINT) AS n_frames,
        |  CASE WHEN trunc THEN NULL
        |    WHEN media_id % 5 = 2 THEN 'hev1' ELSE 'avc1' END AS codec,
        |  CAST(CASE WHEN trunc THEN NULL
        |    ELSE ((media_id % 64) + 1) * 16 END AS INT) AS width,
        |  CAST(CASE WHEN trunc THEN NULL
        |    ELSE ((media_id % 48) + 1) * 16 END AS INT) AS height,
        |  CAST(CASE WHEN trunc THEN NULL
        |    ELSE (nf - 1) // 24 + 1 END AS BIGINT) AS n_sampled
        |FROM m""".stripMargin),

    // --- WARC → curation capstone: the crawl workload END-TO-END as
    // ONE composed plan — container (q149's archives) → record walk →
    // HTML extraction → quality gates → exact dedup → shuffle shards →
    // per-shard summary. Every stage is the library op its standalone
    // query pins (records / htmlToText / qualityRules / shuffleShards,
    // i.e. q149+q134+q103 starting from the container). The lineage
    // from archive bytes to the dedup digest is a SINGLE map chain:
    // the gates ride the extraction projection via keepCols (no
    // self-join of flags back onto the expensive WARC lineage), the
    // dedup carries its survivor's stats THROUGH the digest agg as a
    // min-struct (one shuffle of (digest, id, n_chars) — the exactDedup
    // semi-join shape would make the WARC walk a two-consumer lineage
    // and force a mid-plan checkpoint), and the final per-shard agg
    // reuses the shard hash partitioning the shard window created.
    "q151_warc_curation" -> Static((s, dir) => {
      import s.implicits._
      val pages = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id").cast("long"), messyHtml.as("html"))
      val archives = pages.as[(Long, String)].map { case (id, html) =>
        (id, graft.ext.Warc.build(Seq(
          ("warcinfo", null, "application/warc-fields",
            "software: graft-warc/1.0\r\n".getBytes("UTF-8")),
          ("response", s"http://example.com/doc/$id", "text/html",
            html.getBytes(java.nio.charset.StandardCharsets.UTF_8))),
          gzipMembers = id % 13 == 5))
      }.toDF("doc_id", "content")
      val text = graft.ext.TextAnalysis.htmlToText(
        graft.ext.Warc.records(archives, "doc_id", "content")
          .filter(col("warc_type") === "response" && col("well_formed"))
          .withColumn("html", col("payload_text")),
        "doc_id", "html")
      val gated = graft.ext.TextAnalysis.qualityRules(text, "doc_id",
          "clean_text", minTokens = 10L, maxTokens = 500L,
          minAvgTokenLen = 2.0, maxAvgTokenLen = 10.0,
          maxPunctRatio = 0.05,
          keepCols = Seq("clean_text", "n_chars_clean"))
        .filter(col("keep"))
      // n_chars_clean = length(clean_text) is digest-DETERMINED (every
      // row in a group shares the text), so two plain mins carry the
      // survivor and its stat — a HashAggregate, where a min-of-struct
      // would force a SortAggregate
      val surv = gated
        .groupBy(md5(col("clean_text")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id"),
          min(col("n_chars_clean")).as("n_chars_clean"))
      graft.ext.Sampling.shuffleShards(surv, "doc_id", nShards = 4)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars_clean")).as("shard_chars"))
    },
      // q151: the capstone replay — the WARC framing cancels (q149's
      // builder→parser identity), so the oracle rebuilds the page,
      // replays the q134 extraction chain, then the q103 gate / exact
      // dedup / md5-shard pipeline over CLEAN text instead of raw text.
      (s"WITH ${messyHtmlHCte(" WHERE text IS NOT NULL")},\n" +
        HtmlExtractCtes + ",\n" +
        s"""g AS (
           |  SELECT doc_id, clean_text,
           |    CAST(length(clean_text) AS BIGINT) AS n_chars_clean,
           |    ${tokenStatsCols("clean_text", nChars = "nc")}
           |  FROM e6),
           |${gatedShardSql("clean_text", "n_chars_clean")}""".stripMargin)),

    // --- Video STREAM dedup via sample-table fingerprints: the video
    // rung of the q120/q130 family without a codec — remuxing (new
    // container, timescale, brand, 64-bit offsets) rewrites every
    // container byte but not the stsz sample-size sequence, so an
    // FNV-64 fingerprint over that sequence pairs remuxed-identical
    // streams that byte digests (q15) miss, still header-only. The
    // fingerprint frame feeds both sides of the pairing equi-join →
    // eager checkpoint (the SCALE.md multi-consumer rule); the join
    // keys are 8 B and groups are duplicate-cluster-sized, so the
    // pairing is a plain hash join at any corpus size. Fingerprint
    // equality stands in for sequence equality at 64-bit-collision
    // odds — the hashed-shingle convention (CLAUDE.md); the oracle
    // recomputes stream identity from the fixture's doc_id arithmetic
    // and must produce the identical pair set.
    "q152_mp4_stream_dedup" -> Static((s, dir) => {
      val vids = graft.ext.Multimodal.mp4RemuxTable(Tables.documents(s, dir))
      val st = graft.ext.Multimodal.mp4SampleStats(vids).toDF()
        .filter(col("fingerprint").isNotNull)
        .select(col("media_id"), col("n_samples"), col("total_bytes"),
          col("fingerprint"))
        .localCheckpoint(eager = true)
      st.as("a").join(st.as("b"),
          col("a.fingerprint") === col("b.fingerprint") &&
            col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
          col("a.n_samples").as("n_samples"),
          col("a.total_bytes").as("total_bytes"))
    },
      // q152: stream identity recomputed from the fixture's doc_id
      // arithmetic — remuxed ids (≡9 mod 17) share stream key id−1, a
      // stream is key%240+1 samples of size 800+(key·(i+7) mod 4093) —
      // and paired on KEY equality; the engine pairs on fingerprint
      // equality over the PARSED tables, so agreement proves the
      // builder→parser identity and the pairing in one check.
      """WITH d AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 17 = 9 THEN doc_id - 1 ELSE doc_id END
        |      AS skey
        |  FROM documents WHERE doc_id IS NOT NULL),
        |s AS (
        |  SELECT media_id, skey,
        |    CAST((skey % 240) + 1 AS BIGINT) AS n_samples,
        |    CAST(list_sum([800 + ((skey * (i + 7)) % 4093)
        |      FOR i IN range(0, (skey % 240) + 1)]) AS BIGINT)
        |      AS total_bytes
        |  FROM d)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  a.n_samples, a.total_bytes
        |FROM s a JOIN s b ON a.skey = b.skey AND a.media_id < b.media_id""".stripMargin),

    // --- Seeded k-fold cross-validation of the in-engine trainer: the
    // eval loop that picks a quality filter WITHOUT measuring it on
    // its own training data (q148 trains once; this answers "do the
    // learned weights generalize or memorize"). Folds are a salted
    // doc-id hash — honest here because the metric slice carries the
    // q148 planted labels; on an undeduplicated corpus pass q133's
    // component labels as the fold source instead (kFoldLogReg's
    // foldCol), or a held-out twin inflates every metric. Each fold
    // trains on the complement under trainLogReg's sample-size gate;
    // scoring is ONE scan whose projection switches weight vectors by
    // fold (weights ride codegen as reference objects), and AUC /
    // accuracy stay integer arithmetic until a single division
    // (Training.binaryMetrics) — engine-exact, no float snap at all.
    // The oracle replays each fold's SCORING with its captured snapped
    // weights, then the same integer-exact rank-AUC fold.
    "q153_kfold_cv" -> Captured((s, dir) => {
      val labeled = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("doc_id") < 20000)
        .withColumn("label", lr148LabelCol)
      val models = memoTrain(s"cv153:$dir") {
        graft.ext.Training.kFoldLogReg(labeled, "doc_id", "text", "label",
          k = 3, buckets = 1024, maxIter = 100)
      }
      val oracle = () => kfoldCvOracleSql(models.map { case (i, m) =>
        (i, m.weights, m.bias) })
      val withFold = labeled.withColumn("fold",
        graft.ext.Training.foldColumn(col("doc_id"), 3))
      val score = models.foldLeft(lit(null).cast("double")) {
        case (acc, (i, m)) =>
          when(col("fold") === i,
            graft.functions.Classifier.hashedNgramScore(
              lower(col("text")), m.weights, m.bias)).otherwise(acc)
      }
      (graft.ext.Training.binaryMetrics(
          withFold.withColumn("score", score),
          "label", "score", groupCols = Seq("fold"))
        .select(col("fold"), col("n").as("n_test"), col("n_pos"),
          col("auc"), col("accuracy")), oracle)
    }),

    // --- Semantic decontamination: the embedding rung of the q86/q122
    // decontamination ladder (exact n-grams → bloom gate → cosine),
    // catching the paraphrased eval item n-grams can't see. The
    // benchmark is PLANTED as perturbed copies of a fixed corpus slice
    // (b_i = v_i + 0.1·v_{(i+1) mod 64}, cosine ≈ 0.995 to its source,
    // vs ≤ ~0.44 between unrelated synthetic vectors), collected
    // driver-side under the contract gate and ridden as a normalized
    // constant matrix — one codegen matVec pass over the corpus, zero
    // shuffle. All arithmetic is LTR-fold + /,sqrt, so the oracle
    // replays every cosine bit-for-bit with list_dot_product.
    "q154_semantic_decontam" -> Static((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (bids, raw) = graft.ext.Dedup.collectBenchmarkVectors(
        emb.filter(pmod(col("vec_id"), lit(101)) === 2), "vec_id", "embedding")
      val bvecs = raw.map(v =>
        Array.tabulate(v.length)(i => v(i) + 0.1 * v((i + 1) % v.length)))
      graft.ext.Dedup.semanticContaminationStats(
        emb, "vec_id", "embedding", bids, bvecs, tau = 0.9)
    },
      // q154: every cosine replayed bit-for-bit — matVec/SquaredNorm and
      // list_dot_product are all left-to-right folds over the same
      // doubles (float→double casts are exact), prescaling divides each
      // element by the LTR sum-of-squares' sqrt in both engines, and the
      // snap floor(x·1e6+0.5)/1e6 is IEEE-exact; the flag derives from
      // the snapped value so it can never disagree either.
      """WITH src AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |bench AS (
        |  SELECT vec_id AS bid,
        |    [v[i] + 0.1 * v[(i % 64) + 1] FOR i IN range(1, 65)] AS bv
        |  FROM src WHERE vec_id % 101 = 2),
        |bu AS (
        |  SELECT bid,
        |    list_transform(bv, x -> x / sqrt(list_dot_product(bv, bv))) AS u
        |  FROM bench),
        |pairs AS (
        |  SELECT s.vec_id, b.bid, list_dot_product(b.u, s.v) AS d
        |  FROM src s CROSS JOIN bu b),
        |best AS (
        |  SELECT vec_id, bid, d,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY d DESC, bid ASC) AS rn
        |  FROM pairs),
        |n AS (
        |  SELECT s.vec_id, sqrt(list_dot_product(s.v, s.v)) AS cn,
        |    best.bid, best.d
        |  FROM src s JOIN best ON s.vec_id = best.vec_id AND best.rn = 1)
        |SELECT vec_id,
        |  CASE WHEN cn > 0 THEN floor(d / cn * 1000000.0 + 0.5) / 1000000.0
        |    END AS max_cosine,
        |  CASE WHEN cn > 0 THEN bid END AS nearest_bench,
        |  CASE WHEN cn > 0 THEN CAST(
        |      floor(d / cn * 1000000.0 + 0.5) / 1000000.0 >= 0.9 AS INT)
        |    END AS contaminated
        |FROM n""".stripMargin),

    // --- MP4 chunk-byte identity: the rung above q152 on the
    // no-decode video ladder, closing its honest blind spot — a CBR
    // stream's stsz collapses to (sample_size, count), so ANY two
    // same-bitrate CBR streams share q152's size fingerprint while
    // carrying different video. The fixture plants exactly that false
    // pair next to a true remux twin; the byte walk (bounded mdat
    // prefix per chunk at the stco/co64 offsets, still zero decode)
    // separates them. Pairing on the size identity is the fixed-slice
    // exact-twin convention (q16/q77/q136); the per-file identity walk
    // is the corpus-scale path. The identity frame is bounded BY
    // CONTRACT, so the self-join broadcasts explicitly (the q16 sf10
    // lesson: a checkpoint keeps its pre-checkpoint size estimate).
    "q155_mp4_cbr_dedup" -> Static((s, dir) => {
      val vids = graft.ext.Multimodal.mp4CbrTable(
        Tables.documents(s, dir).filter(col("doc_id") < 50000))
      val st = graft.ext.Multimodal.mp4ByteIdentity(vids).toDF()
        .filter(col("size_fp").isNotNull)
        .select(col("media_id"), col("n_samples"), col("total_bytes"),
          col("size_fp"), col("bytes_fp"))
        .localCheckpoint(eager = true)
      st.as("a").join(broadcast(st.as("b")),
          col("a.size_fp") === col("b.size_fp") &&
            col("a.media_id") < col("b.media_id"))
        .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
          col("a.n_samples").as("n_samples"),
          col("a.total_bytes").as("total_bytes"),
          (col("a.bytes_fp") === col("b.bytes_fp")).cast("int")
            .as("same_bytes"))
    },
      // q155: the pair set and every stat recomputed from the fixture's
      // skey/pkey arithmetic (the q152 convention, extended): within the
      // 50k slice two docs share (sample_size, count) only when they
      // share skey (joint cycle lcm(509,120) = 61,080 > slice), so the
      // skey join replays the size-fingerprint join; pkey equality
      // replays byte-fingerprint equality (distinct pkeys differ inside
      // the hashed 64-byte prefix — see mp4CbrTable's scaladoc).
      """WITH d AS (
        |  SELECT doc_id AS media_id, doc_id % 17 AS m,
        |    CASE WHEN doc_id % 17 = 9 THEN doc_id - 1
        |         WHEN doc_id % 17 = 10 THEN doc_id - 2
        |         ELSE doc_id END AS skey
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND doc_id < 50000 AND doc_id % 17 <> 3),
        |s AS (
        |  SELECT media_id, skey,
        |    CASE WHEN m = 10 THEN skey + 1000000000 ELSE skey END AS pkey,
        |    CAST((skey % 120) + 2 AS BIGINT) AS n_samples,
        |    CAST(((skey % 120) + 2) * ((skey % 509) + 80) AS BIGINT)
        |      AS total_bytes
        |  FROM d)
        |SELECT a.media_id AS id_a, b.media_id AS id_b,
        |  a.n_samples, a.total_bytes,
        |  CAST(a.pkey = b.pkey AS INT) AS same_bytes
        |FROM s a JOIN s b ON a.skey = b.skey AND a.media_id < b.media_id""".stripMargin),

    // --- Domain-graph PageRank: the web-curation quality signal
    // (Common Crawl publishes per-domain centrality; recipes gate
    // crawl sources by it). Fixed-point INTEGER PageRank — floors
    // instead of floats — so ten iterations replay bit-for-bit in SQL
    // (the q153 integer-AUC convention on an iterative algorithm) and
    // the driver fast path provably equals the distributed loop. The
    // corpus-sized work is one partial-aggregated edge distinct; the
    // 211-node fixture graph (src = doc_id mod 211, every 13th source
    // silenced so dangling mass exists) then iterates at graph scale,
    // not corpus scale.
    "q156_domain_pagerank" -> Static((s, dir) => {
      val edges = Tables.documents(s, dir).filter(col("doc_id").isNotNull)
        .select((col("doc_id") % 211).as("src"),
          ((col("doc_id") * col("doc_id") + 7) % 211).as("dst"))
        .filter(col("src") % 13 =!= 0)
      graft.ext.Graphs.pageRankFixedPoint(edges, "src", "dst", iters = 10)
    },
      // q156: ten PageRank iterations unrolled as generated CTEs — every
      // operation is integer (floor-division fixed point), so the replay
      // is exact with no float snap anywhere; the one division to a
      // double at the edge is correctly rounded in both engines.
      pageRankOracleSql(10)),

    // --- Semi-structured profiling: the insights family (A5–A12)
    // extended to a JSON column. The events fixture's props are a
    // degenerate {"k": n}, so the query PLANTS the realistic shape —
    // optional keys, mixed token types, and a malformed row every
    // 101st event — from event_id arithmetic, then profiles it with a
    // REAL from_json map parse. The oracle recomputes every count from
    // the planting formulas (the q152 convention: independent of the
    // parser, so it checks the parse itself), with parse failures a
    // first-class __malformed row.
    "q157_json_profile" -> Static((s, dir) => {
      val i = col("event_id")
      val j = concat(
        lit("{\"k\": "), (i % 100).cast("string"),
        when(i % 3 === 0, concat(lit(", \"tag\": \"t"),
          (i % 7).cast("string"), lit("\""))).otherwise(lit("")),
        when(i % 5 === 2, concat(lit(", \"flag\": "),
          when(i % 2 === 0, lit("true")).otherwise(lit("false"))))
          .otherwise(lit("")),
        when(i % 11 === 4, concat(lit(", \"score\": "),
          (i % 9).cast("string"), lit("."), (i % 10).cast("string")))
          .otherwise(lit("")),
        lit("}"))
      val props = when(i % 101 === 7, lit("{\"k\": ")).otherwise(j)
      graft.profile.Profiler.jsonKeyProfileDF(
        Tables.events(s, dir).filter(i.isNotNull).select(props.as("props")),
        "props")
    },
      // q157: every profile count recomputed from the planting formulas,
      // never by parsing JSON — independent of the parser, so the replay
      // checks the from_json path itself. HAVING guards drop the key
      // rows Spark never emits when a plant slice is empty at tiny SF;
      // __malformed is unconditionally one row in both engines.
      """WITH ev AS (
        |  SELECT event_id AS i FROM events WHERE event_id IS NOT NULL),
        |ok AS (SELECT i FROM ev WHERE i % 101 <> 7)
        |SELECT 'k' AS key, CAST(count(*) AS BIGINT) AS n_present,
        |  CAST(count(*) AS BIGINT) AS n_int, CAST(0 AS BIGINT) AS n_float,
        |  CAST(0 AS BIGINT) AS n_bool, CAST(0 AS BIGINT) AS n_str,
        |  CAST(count(DISTINCT i % 100) AS BIGINT) AS n_distinct
        |FROM ok HAVING count(*) > 0
        |UNION ALL
        |SELECT 'tag', CAST(count(*) AS BIGINT), 0, 0, 0,
        |  CAST(count(*) AS BIGINT), CAST(count(DISTINCT i % 7) AS BIGINT)
        |FROM ok WHERE i % 3 = 0 HAVING count(*) > 0
        |UNION ALL
        |SELECT 'flag', CAST(count(*) AS BIGINT), 0, 0,
        |  CAST(count(*) AS BIGINT), 0, CAST(count(DISTINCT i % 2) AS BIGINT)
        |FROM ok WHERE i % 5 = 2 HAVING count(*) > 0
        |UNION ALL
        |SELECT 'score', CAST(count(*) AS BIGINT), 0,
        |  CAST(count(*) AS BIGINT), 0, 0,
        |  CAST(count(DISTINCT (i % 9) * 10 + (i % 10)) AS BIGINT)
        |FROM ok WHERE i % 11 = 4 HAVING count(*) > 0
        |UNION ALL
        |SELECT '__malformed',
        |  CAST((SELECT count(*) FROM ev WHERE i % 101 = 7) AS BIGINT),
        |  0, 0, 0, 0, 0""".stripMargin),

    // --- Centrality-weighted corpus sampling: what q156's ranks are
    // FOR. Each document keeps with probability ∝ its domain's
    // PageRank (the Common-Crawl-style "sample the crawl by domain
    // quality" recipe), as a pure integer comparison — 16-bit md5
    // uniform × fixed-point rank threshold, u16·scale < rank·boost·2^16
    // — so the sample is deterministic, engine-exact, and stable under
    // repartitioning (the q56 hash-sample contract with a DATA-
    // DEPENDENT fraction). Ranks are graph-sized, so they broadcast;
    // the corpus is scanned once; the keep decision is map-side; one
    // aggregation reports per-domain supply vs kept (rank rides the
    // agg as a plain min — group-determined, the q151 hash-agg rule).
    "q158_centrality_sample" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id").isNotNull)
        .select(col("doc_id"), (col("doc_id") % 211).as("node"))
      val edges = Tables.documents(s, dir).filter(col("doc_id").isNotNull)
        .select((col("doc_id") % 211).as("src"),
          ((col("doc_id") * col("doc_id") + 7) % 211).as("dst"))
        .filter(col("src") % 13 =!= 0)
      val ranks = graft.ext.Graphs
        .pageRankFixedPoint(edges, "src", "dst", iters = 10)
        .select(col("node"), col("rank_units"))
      val u16 = conv(substring(md5(concat(lit("q158:"),
        col("doc_id").cast("string"))), 1, 4), 16, 10).cast("long")
      docs.join(broadcast(ranks), Seq("node"), "left_outer")
        .withColumn("rank_units", coalesce(col("rank_units"), lit(0L)))
        .withColumn("keep",
          (u16 * lit(1000000000000L) <
            col("rank_units") * lit(50L * 65536L)).cast("long"))
        .groupBy("node")
        .agg(count(lit(1)).as("n_docs"),
          min(col("rank_units")).as("rank_units"),
          sum(col("keep")).as("n_kept"))
    },
      // q158: the q156 CTE chain continued through the weighted-sample
      // replay — the keep decision is the same integer comparison on the
      // same md5 16-bit uniform, so counts match exactly.
      (pageRankCtes(10) +
        """,
          |docs AS (
          |  SELECT doc_id, doc_id % 211 AS node FROM documents
          |  WHERE doc_id IS NOT NULL),
          |j AS (
          |  SELECT d.doc_id, d.node, COALESCE(f.pr, 0) AS pr
          |  FROM docs d LEFT JOIN fin f ON d.node = f.node),
          |k AS (
          |  SELECT node, pr,
          |    CASE WHEN ('0x' || substr(md5('q158:' ||
          |          CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
          |        * 1000000000000 < pr * 3276800
          |      THEN 1 ELSE 0 END AS keep
          |  FROM j)
          |SELECT node, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(min(pr) AS BIGINT) AS rank_units,
          |  CAST(sum(keep) AS BIGINT) AS n_kept
          |FROM k GROUP BY node""".stripMargin)),

    // --- Shard release manifest: the integrity record a data release
    // ships next to its shards — per shard: counts, character mass,
    // id range, and an ORDER-INDEPENDENT bit_xor of 60-bit content
    // digests, so a consumer recomputing the manifest agrees iff the
    // content multiset agrees, regardless of task order or partition
    // count. Composes q93's deterministic sharding with one map-side
    // digest pass and one agg.
    "q159_shard_manifest" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val sharded = graft.ext.Sampling.shuffleShards(docs, "doc_id",
        nShards = 16)
      graft.ext.Layout.shardManifest(sharded, "shard", "doc_id", "text")
    },
      // q159: the q93 shard formula + the same 60-bit md5-prefix digest;
      // bit_xor is order-independent in both engines, length(text) has
      // established parity (q22).
      """WITH t AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)),
        |      1, 15))::BIGINT % 16 AS shard,
        |    ('0x' || substr(md5(text), 1, 15))::BIGINT AS dig,
        |    length(text) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  CAST(bit_xor(dig) AS BIGINT) AS content_xor,
        |  min(doc_id) AS id_min, max(doc_id) AS id_max
        |FROM t GROUP BY shard""".stripMargin),

    // --- k-anonymity audit (Sweeney): after q84's PII scrub removes
    // direct identifiers, this measures whether the REMAINING
    // attribute combinations still single documents out — one row per
    // (lang, source, length-bucket) equivalence class with its size
    // and an at-risk flag below k = 5. Continuous quasi-identifiers
    // are bucketed first (raw lengths make every row its own class).
    "q160_k_anonymity" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id").isNotNull)
        .select(col("lang"), col("source"),
          expr("n_chars DIV 100").as("len_bucket"))
      graft.profile.Profiler.kAnonymityDF(docs,
        Seq("lang", "source", "len_bucket"), k = 5)
    },
      // q160: NULL is a class value like any other — GROUP BY keeps null
      // groups identically in both engines.
      """SELECT lang, source, n_chars // 100 AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(*) < 5 AS INT) AS at_risk
        |FROM documents WHERE doc_id IS NOT NULL
        |GROUP BY 1, 2, 3""".stripMargin),

    // --- l-diversity (Machanavajjhala): a k-anonymous class still
    // leaks when everyone in it shares one sensitive value —
    // membership IS disclosure. Same single-groupBy shape as q160,
    // with the sensitive column's distinct count riding the same
    // shuffle; NULL counts as a value ("withheld" is itself sensitive,
    // and an all-null class is as uniform as an all-equal one).
    "q161_l_diversity" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id").isNotNull)
        .select(col("lang"), col("source"),
          expr("n_chars DIV 200").as("len_bucket"))
      graft.profile.Profiler.kAnonymityLDiversityDF(docs,
        Seq("source", "len_bucket"), sensitiveCol = "lang", k = 5, l = 2)
    },
      // q161: count(DISTINCT) skips nulls in both engines; the null
      // presence is re-added as one more distinct value via max(isnull).
      """SELECT source, n_chars // 200 AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT lang)
        |    + max(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS l_diversity,
        |  CAST(count(*) < 5 OR
        |    count(DISTINCT lang)
        |      + max(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) < 2 AS INT)
        |    AS at_risk
        |FROM documents WHERE doc_id IS NOT NULL
        |GROUP BY 1, 2""".stripMargin),

    // --- Content-policy term gate: whole-word blocklist hits per doc
    // (the C4 bad-words filter made auditable — counts and distinct
    // terms, not just the flag, so a threshold sweep can separate one
    // incidental mention from a saturated page). One literal
    // longest-first alternation, portable across regex engines by
    // construction; pure map-side projection.
    "q162_term_blocklist" -> Static((s, dir) =>
      graft.ext.TextAnalysis.termBlocklistStats(
        Tables.documents(s, dir), "doc_id", "text",
        terms = Seq("slow", "stale", "hash join", "corrupt"),
        minHits = 2),
      // q162: the same literal longest-first alternation; \b is ASCII in
      // both engines, list_distinct ≡ array_distinct on match strings.
      """SELECT doc_id,
        |  CASE WHEN text IS NOT NULL THEN len(regexp_extract_all(
        |    lower(text), '\b(?:hash join|corrupt|stale|slow)\b')) END
        |    AS n_hits,
        |  CASE WHEN text IS NOT NULL THEN len(list_distinct(
        |    regexp_extract_all(lower(text),
        |      '\b(?:hash join|corrupt|stale|slow)\b'))) END AS n_terms,
        |  CASE WHEN text IS NOT NULL THEN CAST(len(regexp_extract_all(
        |    lower(text), '\b(?:hash join|corrupt|stale|slow)\b')) >= 2
        |    AS INT) END AS blocked
        |FROM documents""".stripMargin),

    // --- Categorical drift monitor: event-type mix between two
    // snapshot slices, with a PLANTED regression (slice B drops 70% of
    // error events — a collector change upstream); categories missing
    // from one side keep a zero row, because appearance/disappearance
    // is the strongest drift signal an inner join would hide.
    "q163_share_drift" -> Static((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("event_id").isNotNull)
      val a = ev.filter(col("event_id") % 2 === 0)
      val b = ev.filter(col("event_id") % 2 === 1 &&
        !(col("event_type") === "error" && col("event_id") % 10 < 7))
      graft.profile.Profiler.categoryShareDrift(a, b, "event_type")
    },
      // q163: counts are exact integers; each share is ONE division of
      // identical ints (identical doubles in any engine), snapped at 6dp.
      """WITH ev AS (SELECT event_id, event_type FROM events
        |            WHERE event_id IS NOT NULL),
        |a AS (SELECT event_type AS value, count(*) AS cnt_a FROM ev
        |      WHERE event_id % 2 = 0 GROUP BY 1),
        |b AS (SELECT event_type AS value, count(*) AS cnt_b FROM ev
        |      WHERE event_id % 2 = 1
        |        AND NOT (event_type = 'error' AND event_id % 10 < 7)
        |      GROUP BY 1),
        |t AS (SELECT (SELECT sum(cnt_a) FROM a) AS ta,
        |             (SELECT sum(cnt_b) FROM b) AS tb),
        |j AS (SELECT COALESCE(a.value, b.value) AS value,
        |        CAST(COALESCE(a.cnt_a, 0) AS BIGINT) AS cnt_a,
        |        CAST(COALESCE(b.cnt_b, 0) AS BIGINT) AS cnt_b
        |      FROM a FULL OUTER JOIN b ON a.value IS NOT DISTINCT FROM b.value)
        |SELECT value, cnt_a, cnt_b,
        |  floor(cnt_a / CAST(ta AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS share_a,
        |  floor(cnt_b / CAST(tb AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS share_b,
        |  floor((cnt_a / CAST(ta AS DOUBLE) - cnt_b / CAST(tb AS DOUBLE))
        |    * 1000000.0 + 0.5) / 1000000.0 AS share_delta
        |FROM j, t""".stripMargin),

    // --- Contrastive pair mining: nearest same-label (positive) and
    // nearest different-label (hard negative) per anchor, with the
    // margin — the triplet/InfoNCE pair generator where random
    // negatives are too easy to carry gradient. Anchors are the fixed
    // broadcast-scale slice (the q20 exact-twin convention); the
    // corpus streams map-side.
    "q164_hard_negatives" -> Static((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.Similarity.hardNegatives(
        emb, emb.filter(col("vec_id") < 50), "vec_id", "embedding", "label")
    },
      // q164: the q20 cosine-ranking replay, partitioned by (anchor,
      // same-label side); margin re-rounds the difference of the two
      // 6dp-rounded cosines (near-exact subtraction, stable re-round).
      """WITH c AS (
        |  SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT id AS qid, label AS qlabel, v AS qv
        |      FROM c WHERE id < 50),
        |sims AS (
        |  SELECT q.qid, q.qlabel, c.id,
        |    CASE WHEN c.label = q.qlabel THEN 1 ELSE 0 END AS same,
        |    list_cosine_similarity(c.v, q.qv) AS cos
        |  FROM c JOIN q ON c.id <> q.qid),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY qid, same
        |    ORDER BY cos DESC, id ASC) AS rn
        |  FROM sims),
        |p AS (
        |  SELECT qid, min(qlabel) AS label,
        |    max(CASE WHEN same = 1 THEN id END) AS pos_id,
        |    max(CASE WHEN same = 1 THEN round(cos, 6) END) AS pos_cosine,
        |    max(CASE WHEN same = 0 THEN id END) AS neg_id,
        |    max(CASE WHEN same = 0 THEN round(cos, 6) END) AS neg_cosine
        |  FROM rk WHERE rn = 1 GROUP BY qid)
        |SELECT qid, label, pos_id, pos_cosine, neg_id, neg_cosine,
        |  round(pos_cosine - neg_cosine, 6) AS margin
        |FROM p""".stripMargin),

    // --- t-closeness (Li 2007): the rung above q160/q161 — a class
    // that is k-anonymous and l-diverse still leaks when its sensitive
    // MIX diverges from the table's (90% one language in a 10%-base-
    // rate table discloses by membership). Per class the total-
    // variation distance to the global lang distribution, in exact
    // integer arithmetic (one correctly-rounded division at the edge),
    // with the mass of values ABSENT from the class counted too.
    "q165_t_closeness" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id").isNotNull)
        .select(col("source"), expr("n_chars DIV 200").as("len_bucket"),
          col("lang"))
      graft.profile.Profiler.tClosenessDF(docs,
        Seq("source", "len_bucket"), sensitiveCol = "lang", t = 0.2)
    },
      // q165: the TVD in exact integer arithmetic (HUGEINT products ≡
      // Spark's DECIMAL(38,0)), one correctly-rounded division at the
      // edge, snapped at 6dp; the `cs*(n - sum_nv)` term folds the mass
      // of sensitive values ABSENT from the class.
      """WITH cv AS (
        |  SELECT source, n_chars // 200 AS len_bucket, lang AS sv,
        |    CAST(count(*) AS HUGEINT) AS n_cv
        |  FROM documents WHERE doc_id IS NOT NULL GROUP BY 1, 2, 3),
        |gv AS (SELECT sv, sum(n_cv) AS n_v FROM cv GROUP BY 1),
        |tot AS (SELECT sum(n_v) AS n FROM gv),
        |w AS (SELECT cv.*, sum(n_cv) OVER (PARTITION BY source, len_bucket)
        |        AS cs FROM cv),
        |j AS (SELECT w.source, w.len_bucket, w.cs, w.n_cv, g.n_v, t.n
        |      FROM w JOIN gv g ON w.sv IS NOT DISTINCT FROM g.sv
        |      CROSS JOIN tot t),
        |agg AS (
        |  SELECT source, len_bucket, max(cs) AS cs,
        |    sum(abs(n_cv * n - n_v * cs)) AS sum_term,
        |    sum(n_v) AS sum_nv, max(n) AS n
        |  FROM j GROUP BY 1, 2)
        |SELECT source, len_bucket, CAST(cs AS BIGINT) AS class_size,
        |  floor(CAST(sum_term + cs * (n - sum_nv) AS DOUBLE)
        |    / CAST(2 * cs * n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    AS tvd,
        |  CAST(floor(CAST(sum_term + cs * (n - sum_nv) AS DOUBLE)
        |    / CAST(2 * cs * n AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    > 0.2 AS INT) AS at_risk
        |FROM agg""".stripMargin),

    // --- Numeric drift monitor: the q163 pattern for a CONTINUOUS
    // column — fixed-width histogram (out-of-range clamps into the
    // edge bins, so a tail excursion shows up instead of vanishing)
    // plus binned-CDF KS and TVD statistics, exact by integer
    // arithmetic. Planted regression: slice B's 'view' events shift
    // +4.0 (an upstream unit change). Width 64/32 = 2.0 is exactly
    // representable, so binning is bit-identical in any engine.
    "q166_numeric_drift" -> Static((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("event_id").isNotNull)
      val a = ev.filter(col("event_id") % 2 === 0).select(col("value"))
      val b = ev.filter(col("event_id") % 2 === 1)
        .select(when(col("event_type") === "view", col("value") + lit(4.0))
          .otherwise(col("value")).as("value"))
      graft.profile.Profiler.numericDriftDF(a, b, "value",
        lo = 0.0, hi = 64.0, nBins = 32)
    },
      // q166: binning is floor((x-lo)/2.0) with an exactly-representable
      // width — bit-identical in both engines; KS/TVD are HUGEINT
      // cross-products with ONE correctly-rounded division each, snapped
      // at 6dp; the planted +4.0 view shift replays exactly.
      """WITH ev AS (SELECT event_id, event_type, value FROM events
        |            WHERE event_id IS NOT NULL),
        |av AS (SELECT value AS x FROM ev WHERE event_id % 2 = 0),
        |bv AS (SELECT CASE WHEN event_type = 'view' THEN value + 4.0
        |         ELSE value END AS x
        |       FROM ev WHERE event_id % 2 = 1),
        |ab AS (SELECT CAST(least(greatest(floor((x - 0.0) / 2.0), 0.0),
        |           31.0) AS BIGINT) AS bin,
        |         CAST(count(*) AS HUGEINT) AS cnt_a
        |       FROM av WHERE x IS NOT NULL AND NOT isnan(x) GROUP BY 1),
        |bb AS (SELECT CAST(least(greatest(floor((x - 0.0) / 2.0), 0.0),
        |           31.0) AS BIGINT) AS bin,
        |         CAST(count(*) AS HUGEINT) AS cnt_b
        |       FROM bv WHERE x IS NOT NULL AND NOT isnan(x) GROUP BY 1),
        |j AS (SELECT COALESCE(ab.bin, bb.bin) AS bin,
        |        COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
        |      FROM ab FULL OUTER JOIN bb ON ab.bin = bb.bin),
        |t AS (SELECT sum(cnt_a) AS na, sum(cnt_b) AS nb FROM j),
        |r AS (SELECT j.bin, j.cnt_a, j.cnt_b, t.na, t.nb,
        |        abs(sum(j.cnt_a) OVER w * t.nb
        |          - sum(j.cnt_b) OVER w * t.na) AS dev,
        |        abs(j.cnt_a * t.nb - j.cnt_b * t.na) AS term
        |      FROM j CROSS JOIN t
        |      WINDOW w AS (ORDER BY bin
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT bin, CAST(cnt_a AS BIGINT) AS cnt_a,
        |  CAST(cnt_b AS BIGINT) AS cnt_b,
        |  floor(CAST(dev AS DOUBLE) / CAST(na * nb AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS cum_dev,
        |  floor(CAST(max(dev) OVER () AS DOUBLE) / CAST(na * nb AS DOUBLE)
        |    * 1000000.0 + 0.5) / 1000000.0 AS ks_stat,
        |  floor(CAST(sum(term) OVER () AS DOUBLE)
        |    / (2.0 * CAST(na * nb AS DOUBLE)) * 1000000.0 + 0.5)
        |    / 1000000.0 AS tvd
        |FROM r""".stripMargin),

    // --- UniMax token-budget allocation: where q108 realizes a CHOSEN
    // mixture, this answers the prior question — 30k tokens to spend,
    // at most 0.3 epochs over any language: who gets how much? Integer
    // water-filling (saturated prefix at cap, even split + deterministic
    // remainder for the rest), so the SQL replay is bit-exact.
    "q167_unimax_budget" -> Static((s, dir) =>
      graft.ext.Sampling.tokenBudgetWaterfall(
        Tables.documents(s, dir).filter(col("doc_id").isNotNull),
        "lang", "n_chars", totalBudget = 30000L, maxEpochs = 0.3),
      // q167: the waterfall is pure integer arithmetic over the sorted
      // cap table — saturation test, floor-division level, and the
      // first-(B-Sk mod m)-groups remainder rule replay verbatim.
      """WITH g AS (
        |  SELECT CAST(lang AS VARCHAR) AS lang,
        |    CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS tokens
        |  FROM documents WHERE doc_id IS NOT NULL GROUP BY 1),
        |c AS (SELECT lang, tokens,
        |    CAST(floor(CAST(tokens AS DOUBLE) * 0.3) AS BIGINT) AS cap
        |  FROM g),
        |w AS (SELECT lang, tokens, cap,
        |    row_number() OVER (ORDER BY cap ASC, lang ASC NULLS LAST)
        |      AS rn,
        |    sum(cap) OVER (ORDER BY cap ASC, lang ASC NULLS LAST
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        |    CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM c),
        |sat AS (SELECT *,
        |    CAST(CAST(cap AS HUGEINT) * (n - rn + 1) + s - cap
        |      <= 30000 AS INT) AS saturated
        |  FROM w),
        |kk AS (SELECT *,
        |    CAST(sum(saturated) OVER () AS BIGINT) AS k,
        |    CAST(coalesce(sum(CASE WHEN saturated = 1 THEN cap END)
        |      OVER (), 0) AS BIGINT) AS sk
        |  FROM sat)
        |SELECT lang, tokens, cap,
        |  CASE WHEN saturated = 1 THEN cap
        |    ELSE (30000 - sk) // (n - k) +
        |      CASE WHEN rn - k <= (30000 - sk) % (n - k)
        |        THEN 1 ELSE 0 END END AS alloc,
        |  saturated,
        |  CASE WHEN tokens > 0 THEN
        |    floor(CAST(CASE WHEN saturated = 1 THEN cap
        |      ELSE (30000 - sk) // (n - k) +
        |        CASE WHEN rn - k <= (30000 - sk) % (n - k)
        |          THEN 1 ELSE 0 END END AS DOUBLE)
        |      / CAST(tokens AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
        |    END AS epochs_used
        |FROM kk""".stripMargin),

    // --- PCA projection: the data-adapted reduction next to q144's
    // oblivious JL — basis from one distributed covariance pass
    // (dim×dim eigenproblem on the driver, the tall-skinny shape),
    // sign-canonicalized; the projection is the same codegen'd
    // ascending-index matVec fold q144 uses, with the centering folded
    // into one literal per axis. Basis captured → oracle replays the
    // projection with the captured literals (the q40/q110 pattern).
    // The basis is not memoized: its float covariance sums are
    // shuffle-order-dependent, so each run's oracle must replay the
    // basis that run estimated.
    "q168_pca_projection" -> Captured((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (means, axes) = graft.ext.Similarity.pcaBasis(
        emb, "vec_id", "embedding", dim = 64, k = 4)
      val oracle = () => pcaProjectionOracleSql(means, axes)
      (graft.ext.Similarity.pcaProjectWith(
        emb, "vec_id", "embedding", 64, means, axes), oracle)
    }),

    // --- Cross-corpus containment gate: the admission question of an
    // incremental corpus — is this incoming doc ≥80% CONTAINED in
    // something the catalog already holds? The asymmetric rung next
    // to q60 (exact bytes) and q89 (symmetric Jaccard): it catches a
    // batch doc that is a SUBSET of a longer existing page, where
    // Jaccard stays low. One verdict row per batch doc, undecidables
    // (null/short text) kept with a NULL partner. Exact op on the
    // fixed q136 slice by convention; LSH carries unbounded backlogs.
    "q169_containment_gate" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") < 5000)
      graft.ext.Dedup.crossContainmentGate(
          docs.filter(col("doc_id") % 10 === 7),
          docs.filter(col("doc_id") % 10 =!= 7),
          "doc_id", "text", tau = 0.8)
        .select(col("doc_id"), col("catalog_id"),
          // floor-snap (Rounding.scala contract), never round(x,6)
          graft.functions.Rounding.reprRound6(col("containment"))
            .as("containment"), col("contained"))
    },
      // q169: the q136 shingle CTEs split into batch/catalog sides with
      // ONE union-wide df guard (per-side guards would miscount every
      // intersection through a one-side-pruned shingle); the engine
      // intersects 60-bit shingle hashes, the replay intersects the
      // strings — identical counts at ~1e-8 collision odds (q16 rule).
      s"""WITH ${wordToksCte("tb",
           "documents WHERE text IS NOT NULL AND doc_id < 5000 AND doc_id % 10 = 7")},
         |${wordToksCte("tc",
           "documents WHERE text IS NOT NULL AND doc_id < 5000 AND doc_id % 10 <> 7")},
         |${wordShCte("shb", "tb")},
         |${wordShCte("shc", "tc")},
         |bound AS (SELECT least(0.5 * count(*), 1000.0) AS b
         |          FROM documents WHERE doc_id < 5000 AND doc_id IS NOT NULL),
         |keep AS (SELECT s FROM (SELECT s FROM shb UNION ALL SELECT s FROM shc)
         |         GROUP BY s HAVING count(*) <= (SELECT b FROM bound)),
         |gb AS (SELECT shb.doc_id, shb.s FROM shb JOIN keep USING (s)),
         |gc AS (SELECT shc.doc_id, shc.s FROM shc JOIN keep USING (s)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM gb GROUP BY 1),
         |inter AS (SELECT gb.doc_id AS bid, gc.doc_id AS cid, count(*) AS i
         |          FROM gb JOIN gc ON gb.s = gc.s GROUP BY 1, 2),
         |sc AS (SELECT bid, cid, i * 1.0 / n AS c
         |       FROM inter JOIN sizes ON inter.bid = sizes.doc_id),
         |best AS (SELECT bid, cid, c FROM (
         |    SELECT bid, cid, c, row_number() OVER (PARTITION BY bid
         |      ORDER BY c DESC, cid ASC) AS rn FROM sc) WHERE rn = 1),
         |ids AS (SELECT DISTINCT doc_id FROM documents
         |        WHERE doc_id < 5000 AND doc_id % 10 = 7)
         |SELECT ids.doc_id, best.cid AS catalog_id,
         |  floor(best.c * 1e6 + 0.5) / 1e6 AS containment,
         |  CAST(COALESCE(best.c >= 0.8, FALSE) AS INT) AS contained
         |FROM ids LEFT JOIN best ON ids.doc_id = best.bid""".stripMargin),

    // --- Calibration audit of the trained scorer: q140's sweep says
    // whether q148's model RANKS well; this says whether its margin
    // MEANS anything — per fixed-width margin bin the observed
    // positive rate and mean score, the table a reliability diagram
    // plots and the input to any score-thresholding policy. Scores on
    // the 1e-6 grid, rates/means exact-integer; same memoized model
    // as q148, captured for the oracle's scoring + binning replay.
    "q170_calibration" -> Captured((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val model = lr148Model(dir, docs)
      val oracle = () => calibrationOracleSql(model.weights, model.bias)
      // Round 14: single-pass — score and label ride one projection
      // (the q173 convention) instead of a second scan joined on
      // doc_id (1:1 — doc_id unique). The optimizer fence keeps
      // calibrationBins' null filter from re-inlining the classifier
      // dot product and the n-gram overlap. Values unchanged.
      val scored = graft.ext.TextAnalysis.optimizerFence(docs.select(
        graft.functions.Rounding.reprRound6(
          graft.functions.Classifier.hashedNgramScore(lower(col("text")),
            model.weights, model.bias)).as("score"),
        lr148LabelCol.as("label")))
      (graft.profile.Profiler.calibrationBins(scored, "score", "label",
        lo = -1.0, hi = 1.0, nBins = 20), oracle)
    }),

    // --- Domain link-graph extraction: pages become HTML with
    // deterministic outlinks (messy case/ports/tracking params, plus
    // mailto/relative/javascript hrefs that must fall out), and the
    // edge table is href extraction → canonicalization → registrable
    // domain → one aggregation — the step that turns a raw crawl into
    // q156's PageRank input. The oracle recomputes every edge from the
    // PLANTING arithmetic (the q155/q157 convention), so extraction,
    // canonicalization and domain folding are independently checked
    // end-to-end.
    "q171_link_graph" -> Static((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id").isNotNull && col("text").isNotNull)
      val html = concat(lit("<html><body><p>"), col("text"),
        lit("</p><A HREF = \"HTTPS://WWW.Host"),
        pmod(col("doc_id"), lit(7)).cast("string"),
        lit("-Example.COM/p/"), col("doc_id").cast("string"),
        lit("?utm_source=feed&x=1\">read</a>\n<a class=\"m\" " +
          "href=\"http://cdn.host"),
        pmod(col("doc_id") * 3 + 1, lit(7)).cast("string"),
        lit("-example.org:80/q\">x</a><a href=\"mailto:a@example.com\">" +
          "m</a><a href=\"/relative/path\">rel</a></body></html>"))
      val pages = docs.select(col("doc_id"), col("source"),
        html.as("html"))
      graft.ext.Urls.htmlOutlinks(pages, "html")
        .withColumn("curl", graft.ext.Urls.canonicalizeUrl(col("href")))
        .filter(col("curl").isNotNull)
        .withColumn("dst_domain", graft.ext.Urls.registrableDomain(
          graft.ext.Urls.hostOf(col("href"))))
        .groupBy(col("source").as("src_domain"), col("dst_domain"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_docs"))
    },
      // q171: every edge recomputed from the planting arithmetic, never
      // by parsing HTML — the replay independently checks extraction,
      // canonicalization (mailto/relative/javascript drop, tracking
      // params, case, default port) and registrable-domain folding
      // (www/cdn subdomains collapse).
      """WITH d AS (SELECT doc_id, source FROM documents
        |           WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |e AS (
        |  SELECT source AS src_domain,
        |    'host' || CAST(doc_id % 7 AS VARCHAR) || '-example.com'
        |      AS dst_domain, doc_id
        |  FROM d
        |  UNION ALL
        |  SELECT source,
        |    'host' || CAST((doc_id * 3 + 1) % 7 AS VARCHAR) ||
        |      '-example.org', doc_id
        |  FROM d)
        |SELECT src_domain, dst_domain,
        |  CAST(count(*) AS BIGINT) AS n_links,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM e GROUP BY 1, 2""".stripMargin),

    // --- Domain blocklist derivation: q70's page gates rolled up per
    // source — a domain whose pages mostly fail is spam at the source
    // (C4/RefinedWeb practice: block it, don't re-judge every future
    // crawl of it). Per domain: per-rule failure counts (a NULL
    // verdict is a failure), kept count, exact keep share, block flag.
    "q172_domain_quality" -> Static((s, dir) => {
      val flags = graft.ext.TextAnalysis.qualityRules(
        Tables.documents(s, dir), "doc_id", "text",
        minTokens = 10L, maxTokens = 500L,
        minAvgTokenLen = 2.0, maxAvgTokenLen = 10.0,
        maxPunctRatio = 0.05, keepCols = Seq("source"))
      graft.ext.TextAnalysis.domainQualityReport(flags, "source",
        Seq("ok_length", "ok_token_len", "ok_punct"), "keep",
        minKeepShare = 0.5)
    },
      // q172: the q70 gate CTEs verbatim (null text → NULL length flag,
      // 0.0 ratios — the engine's exact semantics) rolled up per source;
      // a NULL verdict folds as a failure via COALESCE, shares snap on
      // one integer division.
      s"""WITH ${qualityGateCtes("source, ")},
         |f AS (
         |  SELECT source,
         |    $QualityFlagCols
         |  FROM u),
         |g AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN COALESCE(ok_length, FALSE) THEN 0 ELSE 1
         |      END) AS BIGINT) AS n_fail_length,
         |    CAST(sum(CASE WHEN COALESCE(ok_token_len, FALSE) THEN 0
         |      ELSE 1 END) AS BIGINT) AS n_fail_token_len,
         |    CAST(sum(CASE WHEN COALESCE(ok_punct, FALSE) THEN 0 ELSE 1
         |      END) AS BIGINT) AS n_fail_punct,
         |    CAST(sum(CASE WHEN COALESCE(keep, FALSE) THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_kept
         |  FROM f GROUP BY 1)
         |SELECT source, n_docs, n_fail_length, n_fail_token_len,
         |  n_fail_punct, n_kept,
         |  floor(CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 AS keep_share,
         |  CAST(floor(CAST(n_kept AS DOUBLE) / CAST(n_docs AS DOUBLE)
         |    * 1000000.0 + 0.5) / 1000000.0 < 0.5 AS INT) AS blocked
         |FROM g""".stripMargin),

    // --- Per-language bias audit of the quality filter (the C4
    // criticism made measurable: a learned filter that silently
    // passes one language at half another's rate reshapes the corpus
    // more than any explicit mixture decision). Per lang: n, positives,
    // keep rate, rank-AUC and accuracy — all integer-exact — plus the
    // max−min keep-rate disparity. Scoring is ONE map-side projection
    // (lang, score, label ride together — no corpus joins). Same
    // memoized model as q148; the oracle replays scoring + the integer
    // rank-AUC fold per group.
    "q173_filter_bias" -> Captured((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val model = lr148Model(dir, docs)
      val oracle = () => filterBiasOracleSql(model.weights, model.bias)
      val scored = docs.select(col("lang"),
        graft.functions.Classifier.hashedNgramScore(lower(col("text")),
          model.weights, model.bias).as("score"),
        lr148LabelCol.as("label"))
      val metrics = graft.ext.Training.binaryMetrics(
        scored, "label", "score", Seq("lang"))
      val rates = scored
        .filter(col("score").isNotNull && col("label").isNotNull)
        .groupBy("lang")
        .agg(sum((col("score") > 0).cast("long")).as("__nk"))
      val snap6 = (c: org.apache.spark.sql.Column) =>
        floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
      val wAll = org.apache.spark.sql.expressions.Window.orderBy("lang")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      // <=> : a null LANG group is data — an equi-join would silently
      // drop it while the oracle's single GROUP BY keeps it (CLAUDE.md
      // null-key rule; latent here only because the generator never
      // emits null lang)
      (metrics.join(rates.withColumnRenamed("lang", "__lang"),
          col("lang") <=> col("__lang"))
        .withColumn("__rate", col("__nk").cast("double") /
          col("n").cast("double"))
        .select(col("lang"), col("n"), col("n_pos"),
          snap6(col("__rate")).as("keep_rate"), col("auc"), col("accuracy"),
          snap6(max(col("__rate")).over(wAll) -
            min(col("__rate")).over(wAll)).as("disparity")), oracle)
    }),

    // --- Duplicated-span REMOVAL (the deletion half of ExactSubstr
    // dedup, completing q102's measurement): every char inside a
    // corpus-duplicated 20-char window is cut and the unique remainder
    // reassembled in order, byte-identical. Registered at the q102
    // SCALE setting (stride 4 — content-anchored window sampling, so
    // removal is a deterministic lower-bound scrub, replayed exactly
    // by the oracle); stride=1 exactness and planted-cross-doc-span
    // vanishing are DedupSpec-pinned.
    "q174_strip_dup_spans" -> Static((s, dir) =>
      graft.ext.TextAnalysis.stripDuplicatedSpans(
        Tables.documents(s, dir), "doc_id", "text", k = 20, stride = 4),
      // q174: the q102 digest CTEs verbatim (same stride-4 content
      // sampling), then interval merge (lag gap-break + running count),
      // and an INDEPENDENT reassembly — per-char interval-membership
      // anti-test instead of the engine's cursor fold, so the replay
      // checks the union semantics, not the fold's arithmetic.
      s"""WITH $DupWindowCtes,
         |m AS (SELECT doc_id, pos,
         |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |               IS NULL
         |          OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
         |               + 20
         |          THEN 1 ELSE 0 END AS brk
         |      FROM dp),
         |g AS (SELECT doc_id, pos,
         |        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |      FROM m),
         |iv AS (SELECT doc_id, min(pos) AS s, max(pos) + 20 AS e
         |       FROM g GROUP BY doc_id, grp),
         |spans AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |            CAST(sum(e - s) AS BIGINT) AS n_removed
         |          FROM iv GROUP BY 1),
         |ch AS (SELECT doc_id, unnest(generate_series(1, len)) AS i, text
         |       FROM d WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |         AND len >= 1),
         |keep AS (SELECT c.doc_id, c.i, substr(c.text, c.i, 1) AS chr
         |         FROM ch c WHERE NOT EXISTS (SELECT 1 FROM iv
         |           WHERE iv.doc_id = c.doc_id
         |             AND c.i >= iv.s AND c.i < iv.e)),
         |rebuilt AS (SELECT doc_id, string_agg(chr, '' ORDER BY i) AS ct
         |            FROM keep GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN d.doc_id IS NULL OR d.text IS NULL THEN d.text
         |       ELSE coalesce(r.ct, '') END AS clean_text,
         |  CASE WHEN d.doc_id IS NULL OR d.text IS NULL THEN NULL
         |       ELSE coalesce(s.n_spans, CAST(0 AS BIGINT)) END AS n_spans,
         |  CASE WHEN d.doc_id IS NULL OR d.text IS NULL THEN NULL
         |       ELSE coalesce(s.n_removed, CAST(0 AS BIGINT)) END
         |    AS n_removed_chars
         |FROM d
         |LEFT JOIN spans s ON d.doc_id = s.doc_id
         |LEFT JOIN rebuilt r ON d.doc_id = r.doc_id""".stripMargin)
  )

  /** The md5-replayable sign-hyperplane LSH as CTEs ending in
    * `buckets(vec_id, t, bucket)`: ±1 plane components per (table,
    * plane, dim), one dot product per (vector, table, plane), and the
    * bucket id as the bitmask of non-negative dots. `planes` is the
    * FROM item yielding the plane ids `p`; `comp` names the component
    * CTE (q104's closure owns `comp`). */
  private def signBucketCtes(tables: Int, planes: String,
                             comp: String = "comp"): String =
    s"""signs AS (
       |  SELECT t.t, p.p, i.i,
       |    CASE WHEN (strpos('0123456789abcdef',
       |        substring(md5(concat(t.t, ':', p.p, ':', i.i)), 1, 1)) - 1)
       |        % 2 = 0
       |      THEN 1.0 ELSE -1.0 END AS s
       |  FROM range($tables) t(t), $planes, range(64) i(i)),
       |$comp AS (
       |  SELECT vec_id, i.i AS i, CAST(embedding[i.i + 1] AS DOUBLE) AS x
       |  FROM embeddings, range(64) i(i)),
       |dots AS (
       |  SELECT c.vec_id, s.t, s.p, sum(s.s * c.x) AS d
       |  FROM $comp c JOIN signs s ON c.i = s.i
       |  GROUP BY 1, 2, 3),
       |buckets AS (
       |  SELECT vec_id, t,
       |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM dots GROUP BY 1, 2)""".stripMargin

  /** q19's blocked-cosine candidates (shared by q104's closure): the
    * adaptive plane count replayed as the same integer formula (`np`),
    * 16 sign tables, the 1000-row bucket cap, id_a < id_b pairs in
    * `cand(id_a, id_b)`, and the vectors as `v(vec_id, ve)`. */
  private def blockedCosineCandCtes(comp: String = "comp"): String =
    s"""np AS (
       |  SELECT greatest(8, length(ltrim(bin(
       |      greatest((cnt + 15) // 16 - 1, 1)), '0'))) AS np
       |  FROM (SELECT count(*) AS cnt FROM embeddings)),
       |planes AS (SELECT unnest(generate_series(0, np - 1)) AS p FROM np),
       |${signBucketCtes(16, "planes p", comp)},
       |bsz AS (
       |  SELECT t, bucket FROM buckets
       |  GROUP BY t, bucket HAVING count(*) <= 1000),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM buckets a
       |  JOIN bsz ON a.t = bsz.t AND a.bucket = bsz.bucket
       |  JOIN buckets b
       |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings)""".stripMargin

  /** q21's sign-LSH top-k candidates (12 tables × 4 planes) for the
    * five query vectors (vec_id < 5), with their exact cosines in
    * `${pre}sims(qid, id, cosine)`; q137 inlines it with `pre = "c"`
    * next to its truth CTEs. */
  private def signLshCandCtes(pre: String = ""): String =
    s"""${signBucketCtes(12, "range(4) p(p)")},
       |${pre}cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS id
       |  FROM buckets c JOIN (SELECT * FROM buckets WHERE vec_id < 5) q
       |    ON c.t = q.t AND c.bucket = q.bucket AND c.vec_id <> q.vec_id),
       |${pre}v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |${pre}sims AS (
       |  SELECT ${pre}cand.qid, ${pre}cand.id, list_cosine_similarity(a.ve, b.ve) AS cosine
       |  FROM ${pre}cand
       |  JOIN ${pre}v a ON ${pre}cand.id = a.vec_id
       |  JOIN ${pre}v b ON ${pre}cand.qid = b.vec_id)""".stripMargin

  /** A `name(doc_id, ts)` CTE: the whitespace tokens of the lowercased
    * text of `from` (a FROM clause), empties dropped. */
  private def wordToksCte(name: String, from: String): String =
    s"""$name AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS ts
       |  FROM $from)""".stripMargin

  /** The distinct word `n`-gram shingles of a [[wordToksCte]] as
    * `name(doc_id, s)`; a doc shorter than `n` tokens is one whole-text
    * shingle. `sel` heads the projection (q86/q122's benchmark side
    * keeps only the DISTINCT shingles). */
  private def wordShCte(name: String, toks: String, n: Int = 3,
                        sel: String = "doc_id, "): String =
    s"""$name AS (
       |  SELECT ${sel}unnest(list_distinct(CASE WHEN len(ts) >= $n
       |    THEN [array_to_string(ts[i:i+${n - 1}], ' ') FOR i IN range(1, len(ts) - ${n - 2})]
       |    ELSE [array_to_string(ts, ' ')] END)) AS s
       |  FROM $toks)""".stripMargin

  /** The word-trigram shingle CTE pair (`toks`, then `sh`) over `from`. */
  private def wordShingleCtes(from: String, sh: String = "sh"): String =
    s"""${wordToksCte("toks", from)},
       |${wordShCte(sh, "toks")}""".stripMargin

  /** The word-trigram shingles of every non-null text, shared by the q17
    * oracle (and, parameterized, the char-gram q127 one). Ends with an
    * `sh(doc_id, s)` CTE. */
  private val WordShingleShCtes: String =
    wordShingleCtes("documents WHERE text IS NOT NULL")

  /** Exact shingle-set overlap over an `sh(doc_id, s)` CTE:
    * `sizes(doc_id, n)` and, for every pair sharing a shingle,
    * `inter(id_a, id_b, i)` with id_a < id_b. */
  private val PairOverlapCtes: String =
    """sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Exact benchmark contamination (q86, q122): word `n`-gram shingles
    * of the corpus side (doc_id >= 100) against the distinct shingles
    * of the benchmark side (doc_id < 100), as `hits(doc_id, n)` =
    * shared non-empty shingles per corpus doc. */
  private def contaminationHitsCtes(n: Int): String =
    s"""${wordToksCte("ctoks", "documents WHERE text IS NOT NULL AND doc_id >= 100")},
       |${wordShCte("csh", "ctoks", n)},
       |${wordToksCte("btoks", "documents WHERE text IS NOT NULL AND doc_id < 100")},
       |${wordShCte("bsh", "btoks", n, sel = "DISTINCT ")},
       |hits AS (
       |  SELECT c.doc_id, count(*) AS n
       |  FROM csh c JOIN bsh b ON c.s = b.s
       |  WHERE length(c.s) > 0
       |  GROUP BY 1)""".stripMargin

  /** Minhash signatures over an `sh(doc_id, s)` CTE as `sig(id, sig)`:
    * the engine's exact md5-derived affine family (regenerated from the
    * same code), one min per hash, listed in hash order. */
  private def minhashSigCtes: String = {
    val ps = graft.ext.Dedup.minhashParams(64).zipWithIndex
      .map { case ((a, c), i) => s"($i, $a, $c)" }.mkString(", ")
    s"""params(i, a, c) AS (VALUES $ps),
       |hv AS (
       |  SELECT sh.doc_id AS id, p.i,
       |    min((p.a * (('0x' || substr(md5(sh.s), 1, 8))::BIGINT
       |                % ${graft.ext.Dedup.MinhashPrime}) + p.c)
       |        % ${graft.ext.Dedup.MinhashPrime}) AS mh
       |  FROM sh CROSS JOIN params p GROUP BY 1, 2),
       |sig AS (SELECT id, list(mh ORDER BY i) AS sig FROM hv GROUP BY id)""".stripMargin
  }

  /** `bands` bands of width 64 / `bands` over `sig` as
    * `name(id, b, bucket)`, the bucket being the band's values verbatim. */
  private def bandedCte(name: String, bands: Int): String = {
    val w = 64 / bands
    s"""$name AS (
       |  SELECT id, b, array_to_string(list_slice(sig, b*$w + 1, b*$w + $w), ',') AS bucket
       |  FROM sig, range(0, $bands) AS t(b))""".stripMargin
  }

  /** Character 5-gram shingle CTEs (q127): lowercase, collapse every
    * whitespace run to one space, trim, then substr-slide — the exact
    * replay of Dedup.charShingleArray. */
  private val CharShingleShCtes: String =
    """nt AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(text), '[ \t\n\f\r]+', ' ', 'g')) AS norm
      |  FROM documents WHERE text IS NOT NULL),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(CASE WHEN length(norm) >= 5
      |    THEN [substr(norm, i, 5) FOR i IN range(1, length(norm) - 3)]
      |    ELSE [norm] END)) AS s
      |  FROM nt)""".stripMargin

  /** The [[messyHtml]] page as a DuckDB `h(doc_id, html)` CTE (||
    * propagates NULL like Spark's concat); `extraWhere` appends to the
    * documents scan (q149 drops null-text rows because a WARC payload
    * cannot be built from NULL). */
  private def messyHtmlHCte(extraWhere: String = ""): String =
    s"""h AS (
       |  SELECT doc_id,
       |    '<html><head><!-- job ' || CAST(doc_id AS VARCHAR)
       |    || ' --><script type="text/javascript">if (1 < 2) '
       |    || '{ var s = "</p>"; }</script><style media="all">'
       |    || 'p { color: #333; }</style></head><body><h1>'
       |    || upper(source)
       |    || '</h1>' || chr(10) || '<p>'
       |    || replace(text, ' value ', ' &quot;value&quot; ')
       |    || '</p>' || chr(10) || '<div class="footer">&copy; 2026 '
       |    || '&amp; beyond&nbsp;&lt;end&gt;</div></body></html>' AS html
       |  FROM documents$extraWhere)""".stripMargin

  /** The htmlToText extraction chain replayed on `h(doc_id, html)`,
    * ending in `e6(doc_id, clean_text)` — shared by q134 and q149. */
  private val HtmlExtractCtes: String =
    """e1 AS (SELECT doc_id,
      |  regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g') AS t FROM h),
      |e2 AS (SELECT doc_id,
      |  regexp_replace(t, '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t
      |  FROM e1),
      |e3 AS (SELECT doc_id,
      |  regexp_replace(t, '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t
      |  FROM e2),
      |e4 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t
      |  FROM e3),
      |e5 AS (SELECT doc_id,
      |  replace(replace(replace(replace(replace(replace(replace(t,
      |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |    '&#39;', chr(39)), '&apos;', chr(39)), '&amp;', '&') AS t
      |  FROM e4),
      |e6 AS (SELECT doc_id,
      |  trim(regexp_replace(t, '[ \t\n\f\r]+', ' ', 'g')) AS clean_text
      |  FROM e5)""".stripMargin

  /** The q124 BM25 replay as a CTE chain ending in
    * `bm(doc_id, n_tokens, n_matched, bm25)` — shared by q124 (plain
    * scoring) and q132 (rank-fused with the cosine retriever). dl, tf,
    * df, n_docs are exact integers and avgdl an exact integer ratio in
    * both engines; ln is not correctly rounded, so bm25 carries the
    * shared 6 dp floor-snap, and the term order of the score sum
    * matches the Spark literal order (IEEE addition is
    * order-sensitive). */
  private val Bm25Ctes: String =
    """toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text),
      |      '[ \t\n\f\r]+'), t -> t <> '')) AS term
      |  FROM documents),
      |perdoc AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
      |    CAST(sum(CASE WHEN term = 'hash' THEN 1 ELSE 0 END) AS BIGINT) AS tf0,
      |    CAST(sum(CASE WHEN term = 'join' THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
      |    CAST(sum(CASE WHEN term = 'window' THEN 1 ELSE 0 END) AS BIGINT) AS tf2
      |  FROM toks GROUP BY 1),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl,
      |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
      |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
      |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2
      |  FROM perdoc),
      |bm AS (
      |SELECT doc_id, dl AS n_tokens,
      |  CAST((CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) +
      |       (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) +
      |       (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |  floor((
      |    ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5)) * CAST(tf0 AS DOUBLE)
      |      * 2.2 / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)) +
      |    ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5)) * CAST(tf1 AS DOUBLE)
      |      * 2.2 / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl)) +
      |    ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5)) * CAST(tf2 AS DOUBLE)
      |      * 2.2 / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))
      |  ) * 1e6 + 0.5) / 1e6 AS bm25
      |FROM perdoc, tot
      |WHERE tf0 > 0 OR tf1 > 0 OR tf2 > 0)""".stripMargin

  /** The hashed n-gram scorer's feature CTEs over `documents`: the
    * weight literal `wl`, tokens `t` and the ordered feature list `f`
    * (unigrams then adjacent bigrams — the engine's exact accumulation
    * order). Opens the WITH clause; ends in a comma. */
  private def scorerFeatureCtes(w: String): String =
    s"""WITH wl AS (SELECT CAST([$w] AS DOUBLE[]) AS w),
       |t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
       |      x -> x <> '') AS ts
       |  FROM documents WHERE text IS NOT NULL),
       |f AS (
       |  SELECT doc_id, ts,
       |    list_concat(ts,
       |      [ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS fs
       |  FROM t),""".stripMargin

  /** The scorer's RAW score over `ts`/`fs` with the weights in `wl`:
    * bucket weights folded with list_aggregate (in-order sum) over the
    * feature count, plus bias; bias alone for an empty doc. */
  private def scorerRawSql(bias: Double, buckets: Int): String =
    s"""CASE WHEN len(ts) = 0 THEN $bias
       |         ELSE $bias + list_aggregate(
       |             [wl.w[('0x' || substr(md5(x), 1, 8))::BIGINT % $buckets + 1]
       |              FOR x IN fs], 'sum') / (2*len(ts) - 1)
       |    END""".stripMargin

  /** The planted-bigram truth label over `ts` ([[Planted148]]), cast to
    * `sqlType`. */
  private def plantedLabelSql(sqlType: String): String =
    s"""CAST(CASE WHEN list_has_any(
       |      [ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))],
       |      [${Planted148.map(t => s"'$t'").mkString(", ")}])
       |      THEN 1 ELSE 0 END AS $sqlType)""".stripMargin

  /** q128 replay: regenerate the md5-derived weight table as a DOUBLE[]
    * literal, rebuild the ordered feature list (unigrams then adjacent
    * bigrams — the engine's exact accumulation order), fold bucket
    * weights with list_aggregate (in-order sum), snap with the shared
    * floor form. `keep` is decided on the RAW score, as in the engine.
    */
  private def classifierOracleSql(buckets: Int = 256,
                                  bias: Double = -0.05): String = {
    val w = graft.functions.HashedNgramScorer.md5Weights(buckets)
      .mkString(", ")
    s"""${scorerFeatureCtes(w)}
       |s AS (
       |  SELECT doc_id,
       |    CAST(CASE WHEN len(ts) > 0 THEN 2*len(ts) - 1 ELSE 0 END
       |      AS BIGINT) AS n_features,
       |    ${scorerRawSql(bias, buckets)} AS raw
       |  FROM f, wl)
       |SELECT doc_id, n_features,
       |  floor(raw * 1e6 + 0.5) / 1e6 AS score,
       |  CAST(CASE WHEN raw > 0 THEN 1 ELSE 0 END AS INT) AS keep
       |FROM s""".stripMargin
  }

  /** q148 replay: scoring ONLY — the oracle cannot retrain, so it
    * replays the q128 score CTE chain with the CAPTURED snapped
    * weights/bias as literals (the q40/q110 captured-params pattern)
    * plus the q140 rule-gate truth as an INT label; pred on the RAW
    * score, score floor-snapped, exactly the engine's output columns.
    */
  private def trainedClassifierOracleSql(weights: Array[Double],
                                         bias: Double): String = {
    val w = weights.mkString(", ")
    val buckets = weights.length
    s"""${scorerFeatureCtes(w)}
       |sc AS (
       |  SELECT doc_id,
       |    ${scorerRawSql(bias, buckets)} AS raw
       |  FROM f, wl),
       |lab AS (
       |  SELECT doc_id,
       |    ${plantedLabelSql("INT")} AS label
       |  FROM t)
       |SELECT doc_id, label,
       |  floor(raw * 1e6 + 0.5) / 1e6 AS score,
       |  CAST(CASE WHEN raw > 0 THEN 1 ELSE 0 END AS INT) AS pred
       |FROM sc JOIN lab USING (doc_id)""".stripMargin
  }

  /** q170 replay: the q148 scoring CTEs verbatim (same weights, same
    * featurization), then the reliability binning — the 6dp-snapped
    * score clamps into fixed-width margin bins and rates/means fold as
    * exact integers with the shared snap at the edge. */
  private def calibrationOracleSql(weights: Array[Double],
                                   bias: Double): String = {
    val w = weights.mkString(", ")
    val buckets = weights.length
    s"""${scorerFeatureCtes(w)}
       |sc AS (
       |  SELECT doc_id,
       |    ${scorerRawSql(bias, buckets)} AS raw
       |  FROM f, wl),
       |lab AS (
       |  SELECT doc_id,
       |    ${plantedLabelSql("BIGINT")} AS label
       |  FROM t),
       |sn AS (
       |  SELECT sc.doc_id, floor(raw * 1e6 + 0.5) / 1e6 AS s6, lab.label
       |  FROM sc JOIN lab USING (doc_id)),
       |b AS (
       |  SELECT CAST(least(greatest(floor((s6 - (-1.0)) / 0.1), 0.0), 19.0)
       |      AS BIGINT) AS bin,
       |    label, CAST(floor(s6 * 1e6 + 0.5) AS BIGINT) AS si
       |  FROM sn)
       |SELECT bin, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(label) AS BIGINT) AS n_pos,
       |  floor(CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |    * 1e6 + 0.5) / 1e6 AS pos_rate,
       |  floor(CAST(sum(si) AS DOUBLE) / 1e6 / CAST(count(*) AS DOUBLE)
       |    * 1e6 + 0.5) / 1e6 AS mean_score
       |FROM b GROUP BY 1""".stripMargin
  }

  /** q173 replay: the q148 scoring CTEs verbatim, then the q153
    * integer rank-AUC fold PARTITIONED BY LANG, per-language keep
    * counts folded per row (pred = raw > 0, decided before the
    * snapped-score grouping — a raw in (0, 5e-7) snaps to key 0 yet
    * predicts positive), and the max−min keep-rate disparity window. */
  private def filterBiasOracleSql(weights: Array[Double],
                                  bias: Double): String = {
    val w = weights.mkString(", ")
    val buckets = weights.length
    s"""WITH wl AS (SELECT CAST([$w] AS DOUBLE[]) AS w),
       |t AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
       |      x -> x <> '') AS ts
       |  FROM documents WHERE text IS NOT NULL),
       |f AS (
       |  SELECT doc_id, lang, ts,
       |    list_concat(ts,
       |      [ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS fs
       |  FROM t),
       |sc AS (
       |  SELECT lang,
       |    ${scorerRawSql(bias, buckets)} AS raw,
       |    ${plantedLabelSql("BIGINT")} AS label
       |  FROM f, wl),
       |rws AS (
       |  SELECT lang, CAST(floor(raw * 1e6 + 0.5) AS BIGINT) AS s, label,
       |    CASE WHEN raw > 0 THEN 1 ELSE 0 END AS pred
       |  FROM sc),
       |g AS (
       |  SELECT lang, s, CAST(count(*) AS BIGINT) AS c,
       |    CAST(sum(label) AS BIGINT) AS p,
       |    CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
       |      AS corr,
       |    CAST(sum(pred) AS BIGINT) AS kept
       |  FROM rws GROUP BY 1, 2),
       |r AS (
       |  SELECT lang, s, c, p, corr, kept,
       |    COALESCE(sum(c) OVER (PARTITION BY lang ORDER BY s ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM g),
       |m AS (
       |  SELECT lang, CAST(sum(c) AS BIGINT) AS n,
       |    CAST(sum(p) AS BIGINT) AS np, CAST(sum(kept) AS BIGINT) AS nk,
       |    CAST(sum(p * (2*cum + c + 1)) AS BIGINT) AS s2,
       |    CAST(sum(corr) AS BIGINT) AS nc
       |  FROM r GROUP BY 1),
       |fin AS (
       |  SELECT lang, n, np AS n_pos,
       |    CAST(nk AS DOUBLE) / CAST(n AS DOUBLE) AS rate_raw,
       |    CASE WHEN np > 0 AND np < n THEN
       |      CAST(s2 - np*(np+1) AS DOUBLE) / CAST(2*np*(n-np) AS DOUBLE)
       |    END AS auc,
       |    CAST(nc AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy
       |  FROM m)
       |SELECT lang, n, n_pos,
       |  floor(rate_raw * 1e6 + 0.5) / 1e6 AS keep_rate, auc, accuracy,
       |  floor((max(rate_raw) OVER () - min(rate_raw) OVER ())
       |    * 1e6 + 0.5) / 1e6 AS disparity
       |FROM fin""".stripMargin
  }

  /** q153 replay: scoring only, per fold — the q148 captured-weights
    * pattern times k (each fold's test docs scored with ITS weights,
    * selected by the replayed fold hash), then the rank-based AUC and
    * accuracy folded as INTEGERS until one division: rows group by the
    * 1e-6-snapped score, the tie-averaged positive rank sum is
    * S2 = Σ p·(2·cumBefore + c + 1), and
    * AUC = (S2 − npos·(npos+1)) / (2·npos·nneg) — exact-int inputs to
    * one IEEE division, identical in any engine, no float snap. */
  private def kfoldCvOracleSql(models: Seq[(Int, Array[Double], Double)])
      : String = {
    val buckets = models.head._2.length
    val k = models.length
    val wCtes = models.map { case (i, w, _) =>
      s"w$i AS (SELECT CAST([${w.mkString(", ")}] AS DOUBLE[]) AS w)"
    }.mkString(",\n")
    val scoreCase = models.map { case (i, _, b) =>
      s"""WHEN fold = $i THEN CASE WHEN len(ts) = 0 THEN $b
         |      ELSE $b + list_aggregate(
         |        [w$i.w[('0x' || substr(md5(x), 1, 8))::BIGINT % $buckets + 1]
         |         FOR x IN fs], 'sum') / (2*len(ts) - 1) END""".stripMargin
    }.mkString("\n    ", "\n    ", "")
    val wFrom = models.map(m => s"w${m._1}").mkString(", ")
    s"""WITH $wCtes,
       |t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[ \t\n\f\r]+'),
       |      x -> x <> '') AS ts,
       |    ('0x' || substr(md5('cv:' || CAST(doc_id AS VARCHAR)), 1, 15))
       |      ::BIGINT % $k AS fold
       |  FROM documents WHERE text IS NOT NULL AND doc_id < 20000),
       |f AS (
       |  SELECT doc_id, fold, ts,
       |    list_concat(ts,
       |      [ts[i] || ' ' || ts[i+1] FOR i IN range(1, len(ts))]) AS fs
       |  FROM t),
       |sc AS (
       |  SELECT doc_id, fold,
       |    ${plantedLabelSql("BIGINT")} AS label,
       |    (CASE$scoreCase END) AS raw
       |  FROM f, $wFrom),
       |g AS (
       |  SELECT fold, CAST(floor(raw*1e6 + 0.5) AS BIGINT) AS s,
       |    CAST(count(*) AS BIGINT) AS c, CAST(sum(label) AS BIGINT) AS p,
       |    CAST(sum(CASE WHEN (CASE WHEN raw > 0 THEN 1 ELSE 0 END) = label
       |      THEN 1 ELSE 0 END) AS BIGINT) AS corr
       |  FROM sc GROUP BY 1, 2),
       |r AS (
       |  SELECT fold, s, c, p, corr,
       |    COALESCE(sum(c) OVER (PARTITION BY fold ORDER BY s ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
       |  FROM g)
       |SELECT fold, CAST(sum(c) AS BIGINT) AS n_test,
       |  CAST(sum(p) AS BIGINT) AS n_pos,
       |  CASE WHEN sum(p) > 0 AND sum(p) < sum(c) THEN
       |    CAST(sum(p*(2*cum + c + 1)) - sum(p)*(sum(p)+1) AS DOUBLE)
       |      / CAST(2*sum(p)*(sum(c)-sum(p)) AS DOUBLE) END AS auc,
       |  CAST(sum(corr) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS accuracy
       |FROM r GROUP BY fold""".stripMargin
  }

  /** q140 replay: q128's snapped score CTEs + q70's rule-gate truth,
    * inner-joined, swept over the DOUBLE-cast threshold list (a bare
    * decimal list literal would type DECIMAL and change the compare
    * semantics); tp/fp/fn/tn as exact integers, ratios and F1 with the
    * shared floor-snap, F1 folded from the SNAPPED precision/recall in
    * the engine's exact double order. */
  private def classifierSweepOracleSql(buckets: Int = 256,
                                       bias: Double = -0.05): String = {
    val w = graft.functions.HashedNgramScorer.md5Weights(buckets)
      .mkString(", ")
    s"""${scorerFeatureCtes(w)}
       |sc AS (
       |  SELECT doc_id,
       |    floor((${scorerRawSql(bias, buckets)}) * 1e6 + 0.5) / 1e6 AS s
       |  FROM f, wl),
       |qt AS (
       |  SELECT doc_id,
       |    ${tokenStatsCols()}
       |  FROM documents WHERE text IS NOT NULL),
       |lab AS (
       |  SELECT doc_id,
       |    ((n_tokens >= 10 AND n_tokens <= 60)
       |      AND ((CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens
       |            ELSE 0.0 END) >= 2.0
       |       AND (CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens
       |            ELSE 0.0 END) <= 10.0)
       |      AND ((CASE WHEN n_chars > 0 THEN punct / n_chars
       |            ELSE 0.0 END) <= 0.05)) AS y
       |  FROM qt),
       |j AS (SELECT s, y FROM sc JOIN lab USING (doc_id)
       |      WHERE s IS NOT NULL AND y IS NOT NULL),
       |th AS (SELECT unnest(CAST([-0.1, -0.075, -0.05, -0.025, 0.0, 0.025]
       |       AS DOUBLE[])) AS threshold),
       |c AS (
       |  SELECT threshold,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN s >= threshold AND y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN s >= threshold AND NOT y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN s < threshold AND y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS fn,
       |    CAST(sum(CASE WHEN s < threshold AND NOT y THEN 1 ELSE 0 END)
       |      AS BIGINT) AS tn
       |  FROM j, th GROUP BY threshold),
       |m AS (
       |  SELECT *,
       |    CASE WHEN tp + fp > 0 THEN
       |      floor(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) * 1e6 + 0.5)
       |        / 1e6 END AS "precision",
       |    CASE WHEN tp + fn > 0 THEN
       |      floor(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) * 1e6 + 0.5)
       |        / 1e6 END AS recall
       |  FROM c)
       |SELECT threshold, n, tp, fp, fn, tn, "precision", recall,
       |  CASE WHEN "precision" IS NOT NULL AND recall IS NOT NULL
       |      AND "precision" + recall > 0
       |    THEN floor(2.0 * "precision" * recall / ("precision" + recall)
       |      * 1e6 + 0.5) / 1e6 END AS f1
       |FROM m ORDER BY threshold""".stripMargin
  }

  /** q144 replay: the SAME ±1/√8 md5 sign matrix the engine ships as a
    * codegen reference object, embedded as 8 literal DOUBLE[] rows (the
    * md5Weights convention — generator and engine read one source of
    * truth, so they cannot drift); projection via list_inner_product,
    * the distance chain (a·a + b·b) - 2(a·b) in the identical exact
    * double order, cosines round(6)-snapped and the ratio floor-snapped
    * (min sampled pair distance is ~1.07, so the d2o > 0 branch is
    * never snap-fragile). */
  /** q168 replay: captured PCA axes + centering constants as literals;
    * `list_inner_product` is the same ascending-index fold as the
    * engine's matVec, the centering subtracts the SAME driver-derived
    * literal ([[graft.ext.Similarity.pcaCenters]]), then the shared
    * floor-snap. The validity filter mirrors the engine's (null,
    * wrong-length and null-element vectors dropped). */
  private def pcaProjectionOracleSql(means: Array[Double],
                                     axes: Array[Array[Double]]): String = {
    val centers = graft.ext.Similarity.pcaCenters(means, axes)
    val cols = axes.indices.map { j =>
      s"floor((list_inner_product(CAST([${axes(j).mkString(", ")}] " +
        s"AS DOUBLE[]), v) - (${centers(j)})) * 1e6 + 0.5) / 1e6 " +
        s"AS pc${j + 1}"
    }.mkString(",\n  ")
    s"""WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings
       |           WHERE embedding IS NOT NULL AND len(embedding) = 64
       |             AND len(list_filter(embedding, x -> x IS NULL)) = 0)
       |SELECT vec_id,
       |  $cols
       |FROM s""".stripMargin
  }

  private def randomProjectionOracleSql(outDim: Int = 8,
                                        dim: Int = 64): String = {
    val rows = graft.ext.Similarity.md5SignMatrix(outDim, dim)
      .map(r => s"list_inner_product(CAST([${r.mkString(", ")}] " +
        "AS DOUBLE[]), v)")
      .mkString(",\n       |    ")
    s"""WITH s AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings WHERE vec_id < 400),
       |p AS (SELECT id, v,
       |    [$rows] AS pv
       |  FROM s),
       |pr AS (SELECT a.id AS id_a, b.id AS id_b, a.v AS va, b.v AS vb,
       |         a.pv AS pa, b.pv AS pb
       |       FROM p a, p b
       |       WHERE a.id < b.id AND (a.id * 1000003 + b.id) % 29 = 0),
       |d AS (SELECT id_a, id_b,
       |    list_cosine_similarity(va, vb) AS co,
       |    list_cosine_similarity(pa, pb) AS cp,
       |    (list_inner_product(va, va) + list_inner_product(vb, vb))
       |      - 2.0 * list_inner_product(va, vb) AS d2o,
       |    (list_inner_product(pa, pa) + list_inner_product(pb, pb))
       |      - 2.0 * list_inner_product(pa, pb) AS d2p
       |  FROM pr)
       |SELECT id_a, id_b, round(co, 6) AS cos_orig, round(cp, 6) AS cos_proj,
       |  CASE WHEN d2o > 0 THEN floor(d2p / d2o * 1e6 + 0.5) / 1e6
       |  END AS dist_ratio
       |FROM d""".stripMargin
  }

  /** q129 replay: rebuild the same messy URLs from (doc_id, source),
    * then mirror Urls.canonicalizeUrl / registrableDomain step for
    * step in RE2 + list ops. string_split is literal-delimiter in
    * DuckDB and regex in Spark — the delimiters here ('&', '.') are
    * regex-inert, so the splits agree. */
  /** q156's replay: the fixed-point integer PageRank recurrence
    * unrolled into one CTE per iteration (the lshAuditGrid generated-
    * SQL pattern). `//` is DuckDB floor division — exact for the
    * all-positive fixed-point state, matching Spark's `div` and the
    * driver path's Long division. */
  private def pageRankCtes(iters: Int): String = {
    // every CTE is MATERIALIZED: each round references its predecessor
    // through two CTEs, so inlining doubles the expression tree per
    // round — 2^iters plans — and DuckDB's heuristic inliner will hang
    // exactly like that before the first row moves
    val head =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT doc_id % 211 AS src,
        |    (doc_id * doc_id + 7) % 211 AS dst
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND (doc_id % 211) % 13 <> 0),
        |nodes AS MATERIALIZED (
        |  SELECT DISTINCT node FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |cnt AS MATERIALIZED (SELECT count(*) AS nn FROM nodes),
        |deg AS MATERIALIZED (
        |  SELECT n.node, CAST(COALESCE(d.c, 0) AS BIGINT) AS out_degree
        |  FROM nodes n LEFT JOIN (
        |    SELECT src AS node, count(*) AS c FROM e GROUP BY 1) d
        |  ON n.node = d.node),
        |ed AS MATERIALIZED (
        |  SELECT e.src, e.dst, deg.out_degree
        |  FROM e JOIN deg ON e.src = deg.node),
        |r0 AS MATERIALIZED (
        |  SELECT node, 1000000000000 // nn AS pr FROM nodes, cnt),
        |""".stripMargin
    val rounds = (1 to iters).map { k =>
      val p = k - 1
      s"""d$k AS MATERIALIZED (
         |  SELECT COALESCE(sum(r$p.pr), 0) AS dang
         |  FROM r$p JOIN deg ON r$p.node = deg.node
         |  WHERE deg.out_degree = 0),
         |c$k AS MATERIALIZED (
         |  SELECT ed.dst AS node,
         |    sum((17 * r$p.pr) // (20 * ed.out_degree)) AS inc
         |  FROM ed JOIN r$p ON ed.src = r$p.node GROUP BY 1),
         |r$k AS MATERIALIZED (
         |  SELECT n.node,
         |    CAST((3 * 1000000000000) // (20 * cnt.nn)
         |      + (17 * d$k.dang) // (20 * cnt.nn)
         |      + COALESCE(c$k.inc, 0) AS BIGINT) AS pr
         |  FROM nodes n CROSS JOIN cnt CROSS JOIN d$k
         |  LEFT JOIN c$k ON n.node = c$k.node),
         |""".stripMargin
    }.mkString
    head + rounds + s"fin AS (SELECT node, pr FROM r$iters)"
  }

  private def pageRankOracleSql(iters: Int): String =
    pageRankCtes(iters) +
      """
        |SELECT f.node, deg.out_degree, f.pr AS rank_units,
        |  CAST(f.pr AS DOUBLE) / 1000000000000.0 AS rank
        |FROM fin f JOIN deg ON f.node = deg.node""".stripMargin

  private def urlCanonicalOracleSql(): String = {
    val suffixes = graft.ext.Urls.MultiPartSuffixes
      .map(s => s"'$s'").mkString("[", ", ", "]")
    raw"""WITH u AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 5 AS INT)
       |      WHEN 0 THEN 'HTTPS://WWW.' || upper(source) ||
       |        '.Example.COM:443/Articles/' || CAST(doc_id AS VARCHAR) ||
       |        '?utm_source=feed&b=2&a=1#frag'
       |      WHEN 1 THEN 'http://' || source ||
       |        '.example.co.uk:8080/a/b/c?z=9&utm_campaign=x&y=1'
       |      WHEN 2 THEN 'https://user:pass@' || source ||
       |        '.example.org./path/?id=' || CAST(doc_id AS VARCHAR)
       |      WHEN 3 THEN 'http://' || source || '.example.com:80'
       |      ELSE 'https://192.168.' || CAST(doc_id % 200 AS VARCHAR) ||
       |        '.1/x?q=' || CAST(doc_id AS VARCHAR)
       |    END AS url
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
       |    regexp_extract(regexp_extract(url,
       |      '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1), '([^@]*)$$', 1) AS hp
       |  FROM u),
       |h AS (
       |  SELECT *,
       |    regexp_replace(CASE WHEN hp LIKE '[%'
       |        THEN lower(regexp_extract(hp, '^(\[[^\]]*\])', 1))
       |        ELSE lower(regexp_extract(hp, '^([^:]*)', 1)) END,
       |      '\.+$$', '', 'g') AS host,
       |    regexp_extract(hp, ':([0-9]+)$$', 1) AS port,
       |    regexp_extract(url,
       |      '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
       |    regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS q
       |  FROM p),
       |c AS (
       |  SELECT doc_id, url, scheme, host,
       |    CASE WHEN port = '' OR port = (CASE scheme WHEN 'http' THEN '80'
       |        WHEN 'https' THEN '443' ELSE '' END)
       |      THEN '' ELSE ':' || port END AS portsuffix,
       |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
       |    list_sort(list_filter(string_split(q, '&'),
       |      x -> x <> '' AND NOT regexp_matches(x,
       |        '^(utm_[^=]*|fbclid|gclid)(=|$$)'))) AS params
       |  FROM h),
       |canon AS (
       |  SELECT doc_id, url,
       |    CASE WHEN scheme IN ('http', 'https') AND host <> ''
       |      THEN scheme || '://' || host || portsuffix || path ||
       |        CASE WHEN len(params) = 0 THEN ''
       |             ELSE '?' || array_to_string(params, '&') END
       |    END AS canonical_url,
       |    CASE WHEN scheme IN ('http', 'https') AND host <> ''
       |      THEN host END AS host
       |  FROM c),
       |lab AS (SELECT *, string_split(host, '.') AS ls FROM canon)
       |SELECT doc_id, url, canonical_url, host,
       |  CASE
       |    WHEN host IS NULL THEN NULL
       |    WHEN regexp_matches(host, '^[0-9]+(\.[0-9]+){3}$$')
       |      OR host LIKE '[%' THEN host
       |    WHEN len(ls) >= 3 AND list_contains($suffixes,
       |        ls[-2] || '.' || ls[-1])
       |      THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
       |    WHEN len(ls) >= 2 THEN ls[-2] || '.' || ls[-1]
       |    ELSE host
       |  END AS domain
       |FROM lab""".stripMargin
  }

  /** The minhash near-dup replay as a CTE chain ending in a
    * `p(id_a, id_b, est_jaccard)` pair CTE — shared by the pair
    * queries (q17/q89/q127) and the closure consumers (q133's
    * leakage-safe split, which needs the pairs as a CTE under a
    * RECURSIVE WITH). */
  private def minhashPairsCtes(extraWhere: String = "",
                               shCtes: String = WordShingleShCtes,
                               bands: Int = 16, tau: Double = 0.5)
      : String =
    s"""$shCtes,
       |$minhashSigCtes,
       |${bandedCte("banded", bands)},
       |ok AS (SELECT b, bucket FROM banded GROUP BY 1, 2 HAVING count(*) <= 1000),
       |cand AS (
       |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
       |  FROM banded x
       |  JOIN ok ON ok.b = x.b AND ok.bucket = x.bucket
       |  JOIN banded y ON x.b = y.b AND x.bucket = y.bucket AND x.id < y.id),
       |p AS (
       |  SELECT c.id_a, c.id_b,
       |    round(len(list_filter(generate_series(1, 64),
       |          j -> sa.sig[j] = sb.sig[j])) / 64.0, 6) AS est_jaccard
       |  FROM cand c
       |  JOIN sig sa ON c.id_a = sa.id
       |  JOIN sig sb ON c.id_b = sb.id
       |  WHERE len(list_filter(generate_series(1, 64),
       |        j -> sa.sig[j] = sb.sig[j])) / 64.0 >= $tau$extraWhere)""".stripMargin

  /** The q17 minhash sketch replayed end-to-end in SQL (signatures from
    * the engine's exact md5-derived affine family, verbatim-value band
    * buckets, 1000-cap, agreement estimate). `extraWhere` appends to
    * the final pair filter — q89 restricts to pairs touching the batch.
    */
  private def minhashPairsOracleSql(extraWhere: String = "",
                                    shCtes: String = WordShingleShCtes,
                                    bands: Int = 16, tau: Double = 0.5)
      : String =
    s"""WITH ${minhashPairsCtes(extraWhere, shCtes, bands, tau)}
       |SELECT id_a, id_b, est_jaccard FROM p""".stripMargin

  /** q125's oracle: full replay of [[graft.ext.Dedup.lshRecallAudit]]
    * — md5-ranked 500-doc sample, exact Jaccard truth (q16's CTEs
    * restricted to the sample), minhash banding collisions (q17's CTEs,
    * uncapped, no estimate threshold), one summary row. All counts are
    * exact integers and the two ratios are single IEEE divisions, so no
    * rounding is needed. */
  private def lshAuditCoreCtes(): String =
    s"""samp AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id IS NOT NULL AND text IS NOT NULL
       |  ORDER BY md5('graft-audit:' || CAST(doc_id AS VARCHAR)), doc_id
       |  LIMIT 500),
       |${wordShingleCtes("samp")},
       |$PairOverlapCtes,
       |truth AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON inter.id_a = sa.doc_id
       |  JOIN sizes sb ON inter.id_b = sb.doc_id
       |  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
       |$minhashSigCtes""".stripMargin

  /** One banding + collision + summary block per config (64 hashes /
    * `bands` bands, width w = 64/bands) as (CTE list, final SELECT) —
    * shared by q125 (single) and q126 (grid; prefixes a `bands`
    * column). */
  private def lshAuditConfig(bands: Int,
                             withBandsCol: Boolean): (String, String) = {
    val pre = if (withBandsCol) s"CAST($bands AS INT) AS bands, " else ""
    val ctes =
      s"""${bandedCte(s"banded$bands", bands)},
         |cand$bands AS (
         |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
         |  FROM banded$bands x JOIN banded$bands y
         |    ON x.b = y.b AND x.bucket = y.bucket AND x.id < y.id),
         |agg$bands AS (
         |  SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM samp) AS n_sample,
         |    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
         |    (SELECT CAST(count(*) AS BIGINT) FROM cand$bands) AS n_candidates,
         |    (SELECT CAST(count(*) AS BIGINT) FROM truth t
         |       JOIN cand$bands c ON t.id_a = c.id_a AND t.id_b = c.id_b) AS n_caught)""".stripMargin
    val sel =
      s"""SELECT ${pre}n_sample, n_true_pairs, n_candidates, n_caught,
         |  CASE WHEN n_true_pairs > 0
         |       THEN CAST(n_caught AS DOUBLE) / n_true_pairs END AS recall,
         |  CASE WHEN n_candidates > 0
         |       THEN CAST(n_caught AS DOUBLE) / n_candidates END AS "precision"
         |FROM agg$bands""".stripMargin
    (ctes, sel)
  }

  private def lshAuditOracleSql(): String = {
    val (ctes, sel) = lshAuditConfig(16, withBandsCol = false)
    s"WITH ${lshAuditCoreCtes()},\n$ctes\n$sel"
  }

  private def lshAuditGridOracleSql(grid: Seq[Int]): String = {
    val parts = grid.sorted.map(b => lshAuditConfig(b, withBandsCol = true))
    val ctes = parts.map(_._1).mkString(",\n")
    val sels = parts.map(_._2).mkString("\nUNION ALL\n")
    s"WITH ${lshAuditCoreCtes()},\n$ctes\n$sels"
  }

  /** q175's oracle: full replay of [[graft.ext.Dedup.lshAutoRecommend]]
    * at the q127 char-shingle config — signatures from the shared CTEs,
    * one banding histogram per grid entry (pair volume Σ c·(c−1)//2 in
    * exact integers), S-curve cells via DuckDB pow + the floor-snap
    * (same IEEE-exact snap as the engine's plan-time constants), and
    * the same (feasible desc, candidates asc, bands asc) rank for the
    * recommendation. */
  private def lshRecommendOracleSql(tau: Double, grid: Seq[Int],
                                    recallFloor: Double,
                                    maxPairsPerDoc: Double): String = {
    val cfgs = grid.sorted.map { b =>
      val w = 64 / b
      s"""${bandedCte(s"banded$b", b)},
         |hist$b AS (SELECT count(*) AS c FROM banded$b GROUP BY b, bucket),
         |cfg$b AS (
         |  SELECT CAST($b AS INT) AS bands, CAST($w AS INT) AS width,
         |    floor((1 - pow(1 - pow($tau, $w), $b)) * 1e6 + 0.5) / 1e6 AS p_at_tau,
         |    floor(pow(1.0 / $b, 1.0 / $w) * 1e6 + 0.5) / 1e6 AS s_mid,
         |    (SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT)
         |     FROM hist$b) AS predicted_candidates)""".stripMargin
    }
    s"""WITH $CharShingleShCtes,
       |$minhashSigCtes,
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sig),
       |${cfgs.mkString(",\n")},
       |allc AS (${grid.sorted.map(b => s"SELECT * FROM cfg$b")
            .mkString("\nUNION ALL\n")}),
       |feat AS (
       |  SELECT bands, width, p_at_tau, s_mid, predicted_candidates, n_docs,
       |    CASE WHEN n_docs > 0
       |      THEN CAST(predicted_candidates AS DOUBLE) / n_docs
       |      ELSE 0.0 END AS pairs_per_doc
       |  FROM allc CROSS JOIN nd),
       |scored AS (
       |  SELECT *, CAST(p_at_tau >= $recallFloor
       |      AND pairs_per_doc <= $maxPairsPerDoc AS INT) AS feasible
       |  FROM feat),
       |rk AS (
       |  SELECT *, row_number() OVER (ORDER BY feasible DESC,
       |    predicted_candidates ASC, bands ASC) AS r
       |  FROM scored)
       |SELECT bands, width, p_at_tau, s_mid, predicted_candidates, n_docs,
       |  pairs_per_doc, feasible,
       |  CAST(feasible = 1 AND r = 1 AS INT) AS recommended
       |FROM rk ORDER BY bands""".stripMargin
  }

  /** Shared CTE block for the q118/q119 oracles: the DSIR per-doc
    * log-ratio table `w` (target = lang='en' docs, reference = the
    * whole pool), mirroring [[graft.ext.TextAnalysis.importanceWeights]]
    * term for term. Ends with the final SELECT left to the caller. */
  private val DsirWeightsSql: String =
    """WITH ptoks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text),
      |      '[ \t\n\f\r]+'), t -> t <> '')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM ptoks GROUP BY 1, 2),
      |tc AS (
      |  SELECT term, count(*) AS tc FROM (
      |    SELECT unnest(list_filter(string_split_regex(lower(text),
      |      '[ \t\n\f\r]+'), t -> t <> '')) AS term
      |    FROM documents WHERE lang = 'en') GROUP BY 1),
      |rc AS (SELECT term, count(*) AS rc FROM ptoks GROUP BY 1),
      |ttot AS (SELECT CAST(sum(tc) AS BIGINT) AS tt, count(*) AS tv FROM tc),
      |rtot AS (SELECT CAST(sum(rc) AS BIGINT) AS rt, count(*) AS rv FROM rc),
      |w AS (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN tc.tc IS NULL THEN tf ELSE 0 END) AS BIGINT)
      |      AS n_oov_target,
      |    0.0 + round(sum(tf * (ln((coalesce(tc.tc, 0) + 1.0) / (tt + tv))
      |      - ln((coalesce(rc.rc, 0) + 1.0) / (rt + rv)))), 4)
      |      AS log_weight,
      |    0.0 + round(sum(tf * (ln((coalesce(tc.tc, 0) + 1.0) / (tt + tv))
      |      - ln((coalesce(rc.rc, 0) + 1.0) / (rt + rv)))) / sum(tf), 4)
      |      AS log_ratio
      |  FROM tf LEFT JOIN tc USING (term) LEFT JOIN rc USING (term)
      |  CROSS JOIN ttot CROSS JOIN rtot
      |  GROUP BY 1)
      |""".stripMargin

  /** q16's pair SQL, shared with q77's recursive-closure oracle (which
    * restricts the doc set via `extraWhere`). */
  private def jaccardPairsSql(extraWhere: String = ""): String =
    s"""WITH ${wordShingleCtes(s"documents WHERE text IS NOT NULL$extraWhere")},
      |$PairOverlapCtes
      |SELECT id_a, id_b,
      |  round(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON inter.id_a = sa.doc_id
      |JOIN sizes sb ON inter.id_b = sb.doc_id
      |WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5""".stripMargin

  /** Undirected transitive-closure CTEs over a pair CTE named `p`
    * (id_a, id_b) → a `comp(id, component)` CTE; shared by q77 and q80
    * so the closure semantics can never diverge between them. Must be
    * spliced into a `WITH RECURSIVE` list. */
  private val ClosureCtes: String =
    """edges AS (SELECT id_a AS a, id_b AS b FROM p
      |          UNION SELECT id_b, id_a FROM p),
      |reach(id, r) AS (
      |  SELECT a, a FROM edges
      |  UNION
      |  SELECT e.a, r.r FROM edges e JOIN reach r ON e.b = r.id),
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)""".stripMargin

  /** The q70 quality gate's per-document token statistics over the
    * text column `c`, as DOUBLE columns: whitespace-token count
    * `n_tokens`, total token chars `tok_chars`, the char count (aliased
    * `nChars`) and the punctuation count `punct`. */
  private def tokenStatsCols(c: String = "text",
                             nChars: String = "n_chars"): String =
    s"""CAST(len(list_filter(string_split_regex(lower($c), '\\s+'),
       |         x -> x <> '')) AS DOUBLE) AS n_tokens,
       |    CAST(list_sum(list_transform(list_filter(
       |         string_split_regex(lower($c), '\\s+'), x -> x <> ''),
       |         x -> length(x))) AS DOUBLE) AS tok_chars,
       |    length($c) * 1.0 AS $nChars,
       |    len(regexp_extract_all($c, '[^a-zA-Z0-9\\s]')) * 1.0 AS punct""".stripMargin

  /** q70's gate inputs over `documents` as CTEs `t` (token stats) and
    * `u(doc_id, <cols>n_tokens, avg_len, punct_ratio)`; `cols` carries
    * extra documents columns through (q172's `source`). */
  private def qualityGateCtes(cols: String = ""): String =
    s"""t AS (
       |  SELECT doc_id, $cols
       |    ${tokenStatsCols()}
       |  FROM documents),
       |u AS (
       |  SELECT doc_id, ${cols}n_tokens,
       |    CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0.0 END AS avg_len,
       |    CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END AS punct_ratio
       |  FROM t)""".stripMargin

  /** q70's verdict columns over [[qualityGateCtes]]' `u`. */
  private val QualityFlagCols: String =
    """(n_tokens >= 10 AND n_tokens <= 500) AS ok_length,
      |  (avg_len >= 2.0 AND avg_len <= 10.0) AS ok_token_len,
      |  (punct_ratio <= 0.05) AS ok_punct,
      |  ((n_tokens >= 10 AND n_tokens <= 500)
      |    AND (avg_len >= 2.0 AND avg_len <= 10.0)
      |    AND (punct_ratio <= 0.05)) AS keep""".stripMargin

  /** q103's curation tail over a `g` CTE of (doc_id, the text column
    * `text`, its char count `n`, and the [[tokenStatsCols]] with the
    * char count as `nc`): the q70 gate, exact md5 dedup keeping the
    * min doc_id, then 4 md5 shards with per-shard doc and char totals.
    * q151 runs it over the extracted clean text. */
  private def gatedShardSql(text: String, n: String): String =
    s"""k AS (
       |  SELECT doc_id, $text, $n FROM g
       |  WHERE n_tokens >= 10 AND n_tokens <= 500
       |    AND (CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens
       |         ELSE 0.0 END) BETWEEN 2.0 AND 10.0
       |    AND (CASE WHEN nc > 0 THEN punct / nc ELSE 0.0 END) <= 0.05),
       |surv AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY md5($text)),
       |km AS (SELECT k.doc_id, k.$n FROM k JOIN surv USING (doc_id)),
       |sh AS (
       |  SELECT doc_id, $n,
       |    ('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)),
       |       1, 15))::BIGINT % 4 AS shard
       |  FROM km)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum($n) AS BIGINT) AS shard_chars
       |FROM sh GROUP BY 1""".stripMargin

  /** Every non-empty trimmed line of every document as
    * `lines(doc_id, pos, line)`, pos being the 1-based line number
    * (q83, q90). */
  private val DocLinesCtes: String =
    """p AS (
      |  SELECT doc_id, string_split(text, chr(10)) AS parts FROM documents),
      |l AS (
      |  SELECT doc_id, unnest(generate_series(1, len(parts))) AS pos, parts
      |  FROM p),
      |lines AS (
      |  SELECT doc_id, pos, trim(parts[pos]) AS line
      |  FROM l WHERE length(trim(parts[pos])) > 0)""".stripMargin

  /** The corpus-duplicated 20-char windows of q102/q174 at stride 4:
    * `d(doc_id, text, len)`, every window's md5 kept when its leading
    * 32 bits are 0 mod 4 (`dig`), and `dp(doc_id, pos)` = the kept
    * windows whose digest occurs at least twice. */
  private val DupWindowCtes: String =
    """d AS (
      |  SELECT doc_id, text, length(text) AS len FROM documents),
      |p AS (
      |  SELECT doc_id, text, unnest(generate_series(1, len - 19)) AS pos
      |  FROM d WHERE doc_id IS NOT NULL AND len >= 20),
      |dig AS (
      |  SELECT doc_id, pos, dg FROM (
      |    SELECT doc_id, pos, md5(substr(text, pos, 20)) AS dg FROM p)
      |  WHERE ('0x' || substr(dg, 1, 8))::BIGINT % 4 = 0),
      |dups AS (SELECT dg FROM dig GROUP BY 1 HAVING count(*) >= 2),
      |dp AS (SELECT doc_id, pos FROM dig
      |       WHERE dg IN (SELECT dg FROM dups))""".stripMargin

  /** q23's quality-score formula as CTEs ending in
    * `q(doc_id, qs)` (qs rounded to 6); shared by q80. */
  private def qualityCtes(extraWhere: String = ""): String = {
    val stop = graft.ext.TextAnalysis.Stopwords.map(s => s"'$s'").mkString("[", ", ", "]")
    s"""t AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
       |    length(text) * 1.0 AS n_chars,
       |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) * 1.0 AS punct
       |  FROM documents$extraWhere),
       |u AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS DOUBLE) AS n_tokens,
       |    CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END AS punct_ratio,
       |    CASE WHEN len(toks) > 0
       |      THEN len(list_filter(toks, x -> list_contains($stop, x))) * 1.0 / len(toks)
       |      ELSE 0.0 END AS stopword_ratio
       |  FROM t),
       |q AS (
       |  SELECT doc_id,
       |    round(0.4 * least(n_tokens, 100.0) / 100.0
       |        + 0.3 * (1.0 - least(punct_ratio * 5.0, 1.0))
       |        + 0.3 * least(stopword_ratio * 4.0, 1.0), 6) AS qs
       |  FROM u)""".stripMargin
  }

  /** SQL literal for a BPE symbol: ordinary characters quote directly;
    * the U+FDD0 end-of-word marker (a Unicode noncharacter — not safe
    * to embed in SQL source text) splices as chr(64976). */
  private def bpeSymLit(s: String): String = {
    val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    s.foreach { c =>
      if (c == '\uFDD0') {
        if (cur.nonEmpty) {
          pieces += "'" + cur.toString.replace("'", "''") + "'"
          cur.clear()
        }
        pieces += "chr(64976)"
      } else cur += c
    }
    if (cur.nonEmpty) pieces += "'" + cur.toString.replace("'", "''") + "'"
    if (pieces.isEmpty) "''" else pieces.mkString(" || ")
  }

  /** q176 replay: the captured merge table as a VALUES relation, the
    * encode fold as a recursive CTE applying ONE merge rank per step —
    * `replace` over a chr(64977)-separated (U+FDD1, a second
    * noncharacter) symbol string IS the trainer's non-overlapping
    * left-to-right applyMerge pass — then the same vocab-keyed
    * per-language aggregation and floor-snapped ratios. Initial
    * symbols are per-codepoint + the chr(64976) marker (the corpus is
    * ASCII after lower(), so codepoint == grapheme here). */
  private def bpeFertilityOracleSql(merges: Seq[(Int, String, String)])
      : String = {
    require(merges.nonEmpty, "q176 oracle needs at least one merge")
    val values = merges.map { case (rk, l, r) =>
      s"($rk, ${bpeSymLit(l)}, ${bpeSymLit(r)})" }.mkString(", ")
    val nm = merges.size
    s"""WITH RECURSIVE m(rnk, l, r) AS (VALUES $values),
       |w AS (
       |  SELECT lang, unnest(list_filter(string_split_regex(lower(text),
       |    '[ \\t\\n\\f\\r]+'), x -> length(x) > 0)) AS word
       |  FROM documents),
       |wf AS (SELECT lang, word, count(*) AS freq FROM w GROUP BY 1, 2),
       |init AS (
       |  SELECT word,
       |    chr(64977) || array_to_string(
       |      list_append(regexp_extract_all(word, '.'), chr(64976)),
       |      chr(64977)) || chr(64977) AS s,
       |    0 AS rnk
       |  FROM (SELECT DISTINCT word FROM wf)),
       |st AS (
       |  SELECT word, s, rnk FROM init
       |  UNION ALL
       |  SELECT st.word,
       |    replace(st.s, chr(64977) || m.l || chr(64977) || m.r || chr(64977),
       |      chr(64977) || m.l || m.r || chr(64977)),
       |    st.rnk + 1
       |  FROM st JOIN m ON m.rnk = st.rnk),
       |enc AS (
       |  SELECT word,
       |    CAST(length(s) - length(replace(s, chr(64977), '')) - 1 AS BIGINT)
       |      AS n_tokens
       |  FROM st WHERE rnk = $nm),
       |agg AS (
       |  SELECT wf.lang,
       |    CAST(sum(wf.freq) AS BIGINT) AS n_words,
       |    CAST(count(*) AS BIGINT) AS n_distinct_words,
       |    CAST(sum(wf.freq * length(wf.word)) AS BIGINT) AS n_chars,
       |    CAST(sum(wf.freq * e.n_tokens) AS BIGINT) AS n_tokens
       |  FROM wf JOIN enc e USING (word) GROUP BY 1)
       |SELECT lang, n_words, n_distinct_words, n_chars, n_tokens,
       |  floor((1.0 * n_tokens / n_words) * 1e6 + 0.5) / 1e6 AS fertility,
       |  floor((1.0 * n_chars / n_tokens) * 1e6 + 0.5) / 1e6 AS chars_per_token
       |FROM agg""".stripMargin
  }

  /** q121 replay: captured centroids → argmin-euclid cell assignment
    * (the q40 CTE), per-member centroid cosine (the engine's exact
    * index-order fold + the shared floor-snap), within-cell pairs at
    * repr-rounded cosine >= tau, recursive min-label closure, and the
    * SemDeDup keep policy (lowest centroid cosine, nulls last, id
    * tiebreak). */
  private def semDedupOracleSql(centroids: Array[Array[Double]],
                                tau: Double): String = {
    val dim = centroids(0).length
    val hi = dim + 1
    s"""WITH RECURSIVE ${ivfCtrCte(centroids)},
       |${ivfAssignCtes(dim)},
       |vn AS (
       |  SELECT vec_id, v,
       |    sqrt(list_aggregate([v[i] * v[i] FOR i IN range(1, $hi)], 'sum'))
       |      AS nv
       |  FROM c),
       |cn AS (
       |  SELECT cell, cv,
       |    sqrt(list_aggregate([cv[i] * cv[i] FOR i IN range(1, $hi)], 'sum'))
       |      AS nc
       |  FROM ctr),
       |sc AS (
       |  SELECT a.vec_id, a.cell,
       |    CASE WHEN vn.nv * cn.nc > 0 THEN
       |      floor(list_aggregate([vn.v[i] * cn.cv[i]
       |          FOR i IN range(1, $hi)], 'sum')
       |        / (vn.nv * cn.nc) * 1e6 + 0.5) / 1e6 END AS cscore
       |  FROM assign a
       |  JOIN vn ON vn.vec_id = a.vec_id
       |  JOIN cn ON cn.cell = a.cell),
       |p AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN vn va ON va.vec_id = a.vec_id
       |  JOIN vn vb ON vb.vec_id = b.vec_id
       |  WHERE va.nv * vb.nv > 0
       |    AND floor(list_aggregate([va.v[i] * vb.v[i]
       |          FOR i IN range(1, $hi)], 'sum')
       |        / (va.nv * vb.nv) * 1e6 + 0.5) / 1e6 >= $tau),
       |$ClosureCtes,
       |mem AS (
       |  SELECT sc.vec_id, sc.cell, sc.cscore,
       |    coalesce(comp.component, sc.vec_id) AS component
       |  FROM sc LEFT JOIN comp ON sc.vec_id = comp.id),
       |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size,
       |         CAST(min(cell) AS BIGINT) AS cell
       |       FROM mem GROUP BY 1),
       |rk AS (SELECT component, vec_id, cscore,
       |         row_number() OVER (PARTITION BY component
       |           ORDER BY cscore ASC NULLS LAST, vec_id ASC) AS rn
       |       FROM mem)
       |SELECT sz.component, sz.cell, sz.cluster_size,
       |  rk.vec_id AS survivor, rk.cscore AS survivor_centroid_cosine
       |FROM sz JOIN rk ON sz.component = rk.component AND rk.rn = 1""".stripMargin
  }

  /** q120 oracle: brute-force Hamming pairing over the captured
    * fingerprints — semantically identical to the engine's 4×16-banded
    * join (banding is exhaustive to Hamming 3 by pigeonhole), and the
    * brute-force form keeps the SQL free of shift-semantics questions.
    */
  /** Shared q120/q130 replay: brute-force Hamming join over CAPTURED
    * 64-bit fingerprints (image dHash / audio energy hash — the decode
    * is not SQL-expressible; the capture is the narrow 16 B/row frame
    * the plan shuffles anyway, collected only to render the oracle). */
  private def fingerprintHammingOracleSql(fp: DataFrame,
                                          maxHamming: Int): String = {
    val rows = fp.collect().map(r => s"(${r.getLong(0)}, ${r.getLong(1)})")
      .mkString(",\n    ")
    s"""WITH fpv(media_id, dhash) AS (VALUES
       |    $rows),
       |fp AS (SELECT CAST(media_id AS BIGINT) AS media_id,
       |         CAST(dhash AS BIGINT) AS dhash FROM fpv)
       |SELECT a.media_id AS id_a, b.media_id AS id_b,
       |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
       |FROM fp a JOIN fp b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.dhash, b.dhash)) <= $maxHamming""".stripMargin
  }

  /** The DuckDB codebook literal shared by the two PQ oracles: one row
    * per (subspace j, code c) with the codeword as a DOUBLE[] —
    * Double.toString is shortest-repr and round-trips, and the
    * explicit CAST stops DuckDB from typing short literals as DECIMAL
    * (decimal arithmetic would diverge from the engine's doubles).
    */
  private def pqCodebookCte(books: Array[Array[Array[Double]]]): String = {
    val rows = books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cw, c) =>
        s"($j, $c, [${cw.mkString(", ")}])"
      }
    }.mkString(",\n    ")
    s"""cb AS (
       |  SELECT j, c, CAST(cw AS DOUBLE[]) AS cw FROM (VALUES
       |    $rows) t(j, c, cw))""".stripMargin
  }

  /** Valid-row projection matching Similarity.pqRows: 64-dim, no null
    * elements, cast to double. */
  private val pqRowsCte: String =
    """r AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) = 64
      |    AND len(list_filter(embedding, x -> x IS NULL)) = 0)""".stripMargin

  /** Argmin encode replay: squared distance per (vector, subspace,
    * codeword) with the engine's exact fold order, ties to the lower
    * code (the sort_array struct order). `sub` = dim / m. */
  private def pqEncodeCtes(sub: Int, src: String = "r"): String =
    s"""dist AS (
       |  SELECT $src.vec_id, cb.j, cb.c, cb.cw,
       |    list_aggregate([($src.v[cb.j*$sub + i] - cb.cw[i])
       |        * ($src.v[cb.j*$sub + i] - cb.cw[i])
       |      FOR i IN range(1, ${sub + 1})], 'sum') AS dd
       |  FROM $src, cb),
       |best AS (
       |  SELECT vec_id, j, c, cw,
       |    row_number() OVER (PARTITION BY vec_id, j
       |      ORDER BY dd ASC, c ASC) AS rn
       |  FROM dist)""".stripMargin

  /** q110 replay: captured codebooks → argmin codes ("-"-joined, the
    * driver-sortable dump shape) + mse/cos_q audits, every float
    * snapped with the repr-robust floor form the engine uses. */
  private def pqEncodeOracleSql(books: Array[Array[Array[Double]]]): String = {
    val m = books.length
    val sub = 64 / m
    s"""WITH ${pqCodebookCte(books)},
       |$pqRowsCte,
       |${pqEncodeCtes(sub)},
       |enc AS (
       |  SELECT vec_id,
       |    string_agg(c::VARCHAR, '-' ORDER BY j) AS codes,
       |    flatten(list(cw ORDER BY j)) AS dq
       |  FROM best WHERE rn = 1 GROUP BY vec_id)
       |SELECT r.vec_id, e.codes,
       |  floor(list_aggregate([(r.v[i] - e.dq[i]) * (r.v[i] - e.dq[i])
       |      FOR i IN range(1, 65)], 'sum') / 64.0 * 1e6 + 0.5) / 1e6 AS mse,
       |  CASE WHEN sqrt(list_aggregate([r.v[i] * r.v[i]
       |        FOR i IN range(1, 65)], 'sum'))
       |      * sqrt(list_aggregate([e.dq[i] * e.dq[i]
       |        FOR i IN range(1, 65)], 'sum')) > 0
       |    THEN floor(list_aggregate([r.v[i] * e.dq[i]
       |        FOR i IN range(1, 65)], 'sum')
       |      / (sqrt(list_aggregate([r.v[i] * r.v[i]
       |          FOR i IN range(1, 65)], 'sum'))
       |        * sqrt(list_aggregate([e.dq[i] * e.dq[i]
       |          FOR i IN range(1, 65)], 'sum')))
       |      * 1e6 + 0.5) / 1e6
       |  END AS cos_q
       |FROM r JOIN enc e ON r.vec_id = e.vec_id""".stripMargin
  }

  /** The per-subspace ADC partial-dot terms (left-assoc sum in
    * subspace order — the engine's exact float order); expects table
    * aliases `e` (cws) and `q` (qv). */
  private def pqAdcTerms(books: Array[Array[Array[Double]]]): String = {
    val m = books.length
    val sub = 64 / m
    (0 until m).map { j =>
      s"""list_aggregate([e.cws[${j + 1}][i] * q.qv[${j * sub} + i]
         |        FOR i IN range(1, ${sub + 1})], 'sum')""".stripMargin
    }.mkString("\n      + ")
  }

  /** Everything up to scoring: codebooks, valid rows, argmin encode,
    * reconstruction norms (`encn`), and query vectors+norms (`qn`). */
  /** Query vectors + norms (validity-filtered, the pqRows rule). */
  private val qnCte: String =
    """qn AS (
      |  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
      |    sqrt(list_aggregate([CAST(embedding AS DOUBLE[])[i]
      |        * CAST(embedding AS DOUBLE[])[i] FOR i IN range(1, 65)], 'sum'))
      |      AS qnorm
      |  FROM embeddings WHERE vec_id < 5
      |    AND embedding IS NOT NULL AND len(embedding) = 64
      |    AND len(list_filter(embedding, x -> x IS NULL)) = 0)""".stripMargin

  /** Argmin-code aggregation over `best` (codeword list + flat dq). */
  private val encCte: String =
    """enc AS (
      |  SELECT vec_id, list(cw ORDER BY j) AS cws,
      |    flatten(list(cw ORDER BY j)) AS dq
      |  FROM best WHERE rn = 1 GROUP BY vec_id)""".stripMargin

  private def pqEncNormCtes(books: Array[Array[Array[Double]]]): String =
    s"""${pqCodebookCte(books)},
       |$pqRowsCte,
       |${pqEncodeCtes(64 / books.length)},
       |$encCte,
       |encn AS (
       |  SELECT vec_id, cws,
       |    sqrt(list_aggregate([dq[i] * dq[i] FOR i IN range(1, 65)], 'sum'))
       |      AS dqnorm
       |  FROM enc),
       |$qnCte""".stripMargin

  /** The shared ADC-ranking WITH-body (through CTE `rk`): encode the
    * corpus from the captured books, then the ADC score over
    * reconstruction/query norms, ranked desc with id tiebreak. */
  private def pqAdcCtes(books: Array[Array[Array[Double]]]): String =
    s"""${pqEncNormCtes(books)},
       |s AS (
       |  SELECT q.qid, e.vec_id AS id,
       |    CASE WHEN e.dqnorm * q.qnorm > 0 THEN
       |      (${pqAdcTerms(books)})
       |      / (e.dqnorm * q.qnorm) END AS cosine_adc
       |  FROM encn e, qn q WHERE e.vec_id <> q.qid),
       |rk AS (
       |  SELECT qid, id, cosine_adc,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine_adc DESC NULLS LAST, id ASC) AS rank
       |  FROM s)""".stripMargin

  /** q112 replay: ADC ranking, top-10 per query. */
  private def pqTopkOracleSql(books: Array[Array[Array[Double]]]): String =
    s"""WITH ${pqAdcCtes(books)}
       |SELECT qid, id, floor(cosine_adc * 1e6 + 0.5) / 1e6 AS cosine_adc, rank
       |FROM rk WHERE rank <= 10""".stripMargin

  /** q115 replay: ADC top-(k·refine) candidates, then the exact-cosine
    * re-rank over TRUE vectors — candidates only, the engine's
    * broadcast-rerank shape. */
  /** The exact-rerank tail shared by q115/q116: ADC candidates from
    * `rk`, true-vector cosine, final top-10. */
  private def rerankTailSql(kRefine: Int): String =
    s"""cand AS (SELECT qid, id FROM rk WHERE rank <= $kRefine),
       |cn AS (
       |  SELECT vec_id, v,
       |    sqrt(list_aggregate([v[i] * v[i] FOR i IN range(1, 65)], 'sum'))
       |      AS nv
       |  FROM r),
       |ex AS (
       |  SELECT cand.qid, cand.id,
       |    CASE WHEN cn.nv * qn.qnorm > 0 THEN
       |      list_aggregate([cn.v[i] * qn.qv[i] FOR i IN range(1, 65)], 'sum')
       |      / (cn.nv * qn.qnorm) END AS cosine
       |  FROM cand
       |  JOIN cn ON cn.vec_id = cand.id
       |  JOIN qn ON qn.qid = cand.qid),
       |exrk AS (
       |  SELECT qid, id, cosine,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC NULLS LAST, id ASC) AS rank
       |  FROM ex)
       |SELECT qid, id, floor(cosine * 1e6 + 0.5) / 1e6 AS cosine, rank
       |FROM exrk WHERE rank <= 10""".stripMargin

  private def pqRefinedOracleSql(books: Array[Array[Array[Double]]],
                                 kRefine: Int): String =
    s"""WITH ${pqAdcCtes(books)},
       |${rerankTailSql(kRefine)}""".stripMargin

  /** q116 replay: IVF cell assignment, RESIDUAL encode (v − centroid,
    * the IVFADC refinement), probing, ADC scoring with the centroid·q
    * term added back (recon·q = centroid·q + resid·q, the engine's
    * exact decomposition), and the exact-rerank tail. Reconstruction
    * for the norm is centroid + decoded residual. */
  private def ivfPqOracleSql(centroids: Array[Array[Double]],
                             books: Array[Array[Array[Double]]],
                             nProbe: Int, kRefine: Int): String =
    s"""WITH ${ivfCtrCte(centroids)},
       |${pqCodebookCte(books)},
       |$pqRowsCte,
       |$qnCte,
       |cda AS (
       |  SELECT r.vec_id, ctr.cell,
       |    list_aggregate([(r.v[i] - ctr.cv[i]) * (r.v[i] - ctr.cv[i])
       |      FOR i IN range(1, 65)], 'sum') AS dd
       |  FROM r, ctr),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dd ASC, cell ASC) AS rn FROM cda)
       |  WHERE rn = 1),
       |rr AS (
       |  SELECT r.vec_id, a.cell,
       |    [r.v[i] - ctr.cv[i] FOR i IN range(1, 65)] AS v
       |  FROM r
       |  JOIN assign a ON a.vec_id = r.vec_id
       |  JOIN ctr ON ctr.cell = a.cell),
       |${pqEncodeCtes(64 / books.length, src = "rr")},
       |$encCte,
       |encn AS (
       |  SELECT e.vec_id, rr.cell, e.cws,
       |    sqrt(list_aggregate([(ctr.cv[i] + e.dq[i]) * (ctr.cv[i] + e.dq[i])
       |      FOR i IN range(1, 65)], 'sum')) AS dqnorm
       |  FROM enc e
       |  JOIN rr ON rr.vec_id = e.vec_id
       |  JOIN ctr ON ctr.cell = rr.cell),
       |qd AS (
       |  SELECT qn.qid, ctr.cell,
       |    list_aggregate([(qn.qv[i] - ctr.cv[i]) * (qn.qv[i] - ctr.cv[i])
       |      FOR i IN range(1, 65)], 'sum') AS dd
       |  FROM qn, ctr
       |  WHERE qn.qv IS NOT NULL AND len(qn.qv) = 64
       |    AND len(list_filter(qn.qv, x -> x IS NULL)) = 0),
       |qc AS (
       |  SELECT qid, cell FROM (
       |    SELECT qid, cell, row_number() OVER (PARTITION BY qid
       |      ORDER BY dd ASC, cell ASC) AS rn FROM qd)
       |  WHERE rn <= $nProbe),
       |qct AS (
       |  SELECT qc.qid, qc.cell,
       |    list_aggregate([ctr.cv[i] * q.qv[i] FOR i IN range(1, 65)], 'sum')
       |      AS cdot
       |  FROM qc
       |  JOIN ctr ON ctr.cell = qc.cell
       |  JOIN qn q ON q.qid = qc.qid),
       |s AS (
       |  SELECT q.qid, e.vec_id AS id,
       |    CASE WHEN e.dqnorm * q.qnorm > 0 THEN
       |      (t.cdot + (${pqAdcTerms(books)}))
       |      / (e.dqnorm * q.qnorm) END AS cosine_adc
       |  FROM encn e
       |  JOIN qct t ON t.cell = e.cell
       |  JOIN qn q ON q.qid = t.qid
       |  WHERE e.vec_id <> q.qid),
       |rk AS (
       |  SELECT qid, id, cosine_adc,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine_adc DESC NULLS LAST, id ASC) AS rank
       |  FROM s),
       |${rerankTailSql(kRefine)}""".stripMargin

  /** q40 replay: captured centroids → per-vector cell assignment
    * (argmin euclid, ties to the lower cell), per-query nProbe nearest
    * cells, exact cosine over the probed members, ranked desc with id
    * tiebreak — the engine's exact float fold orders throughout. */
  /** The centroid literal CTE shared by the IVF oracles. */
  private def ivfCtrCte(centroids: Array[Array[Double]]): String = {
    val rows = centroids.zipWithIndex
      .map { case (cv, cell) => s"($cell, [${cv.mkString(", ")}])" }
      .mkString(",\n    ")
    s"""ctr AS (
       |  SELECT cell, CAST(cv AS DOUBLE[]) AS cv FROM (VALUES
       |    $rows) t(cell, cv))""".stripMargin
  }

  /** The coarse assignment after [[ivfCtrCte]]: the well-formed
    * `dim`-vectors as `c(vec_id, v)`, squared distance to every centroid
    * (`cd`), and `assign(vec_id, cell)` = the nearest centroid, ties to
    * the lower cell (q40, q121). */
  private def ivfAssignCtes(dim: Int): String =
    s"""c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings
       |      WHERE embedding IS NOT NULL AND len(embedding) = $dim
       |        AND len(list_filter(embedding, x -> x IS NULL)) = 0),
       |cd AS (
       |  SELECT c.vec_id, ctr.cell,
       |    list_aggregate([(c.v[i] - ctr.cv[i]) * (c.v[i] - ctr.cv[i])
       |      FOR i IN range(1, ${dim + 1})], 'sum') AS dd
       |  FROM c, ctr),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dd ASC, cell ASC) AS rn FROM cd)
       |  WHERE rn = 1)""".stripMargin

  private def ivfTopkOracleSql(centroids: Array[Array[Double]],
                               nProbe: Int): String = {
    s"""WITH ${ivfCtrCte(centroids)},
       |${ivfAssignCtes(64)},
       |qc AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dd ASC, cell ASC) AS rn FROM cd WHERE vec_id < 5)
       |  WHERE rn <= $nProbe),
       |cn AS (
       |  SELECT vec_id, v,
       |    sqrt(list_aggregate([v[i] * v[i] FOR i IN range(1, 65)], 'sum'))
       |      AS nv
       |  FROM c),
       |sims AS (
       |  SELECT qc.qid, a.vec_id AS id,
       |    CASE WHEN cv2.nv * qv.nv > 0 THEN
       |      list_aggregate([cv2.v[i] * qv.v[i] FOR i IN range(1, 65)], 'sum')
       |      / (cv2.nv * qv.nv) END AS cosine
       |  FROM assign a
       |  JOIN qc ON a.cell = qc.cell
       |  JOIN cn cv2 ON cv2.vec_id = a.vec_id
       |  JOIN cn qv ON qv.vec_id = qc.qid
       |  WHERE a.vec_id <> qc.qid),
       |rk AS (
       |  SELECT qid, id, cosine,
       |    row_number() OVER (PARTITION BY qid
       |      ORDER BY cosine DESC NULLS LAST, id ASC) AS rank
       |  FROM sims)
       |SELECT qid, id, floor(cosine * 1e6 + 0.5) / 1e6 AS cosine, rank
       |FROM rk WHERE rank <= 10""".stripMargin
  }
}
