package graft.profile

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Rounding.reprRound4
import graft.query.QueryCompiler.{column, quote}

/** Dataset profiling — the reference's "insights" engine
  * (`/root/reference/src/services/processor.rs:264-456`), redesigned for
  * distributed execution.
  *
  * The reference loops per column, issuing one Polars pass per statistic
  * (`processor.rs:317-422`) and one pass per correlation pair (`:425-447`)
  * — O(columns + pairs) scans. Here every per-column statistic for every
  * column is ONE `df.agg(...)` (one scan, partial+final aggregation), and
  * all pairwise correlations are a second single pass. At 100 TB that is
  * the difference between 2 scans and dozens.
  *
  * Semantics decisions (SURVEY.md §2.3, recorded deliberately):
  *  - unique counts ignore nulls (Spark/DuckDB standard; Polars
  *    `n_unique` counts null as a distinct value — `processor.rs:325`).
  *  - correlation is textbook pairwise-complete Pearson (the reference
  *    mixes all-row means with pairwise sums, `processor.rs:458-520`).
  *  - "frequent values" are the actual top-k by count (the reference
  *    takes 10 arbitrary rows of an unsorted value_counts,
  *    `processor.rs:386-404`).
  *  - stats stay numeric (Double); the reference formats `"{:.2}"`
  *    strings at compute time (`processor.rs:353-355`).
  */
object Profiler {

  /** Per-column statistics (reference `ColumnStatistics`,
    * `/root/reference/src/models/response.rs:23-36`). */
  final case class ColumnStats(
      name: String,
      dataType: String,
      nullCount: Long,
      uniqueCount: Long,
      min: Option[Double],
      max: Option[Double],
      mean: Option[Double],
      median: Option[Double],
      stdDev: Option[Double],
      percentile25: Option[Double],
      percentile75: Option[Double],
      frequentValues: Option[Seq[(String, Long)]])

  /** Reference `DataSummary` (`response.rs:39-47`). */
  final case class DataSummary(
      rowCount: Long,
      columnCount: Int,
      numericColumns: Seq[String],
      categoricalColumns: Seq[String],
      dateColumns: Seq[String],
      summaryText: String)

  /** Reference `Insights` (`response.rs:74-80`), minus the LLM summary
    * (driver-side concern, out of the engine core). */
  final case class Insights(
      dataSummary: DataSummary,
      columnStatistics: Seq[ColumnStats],
      correlations: Map[String, Double])

  /** Column classification (reference `processor.rs:270-296`): numeric /
    * date / categorical. */
  def classify(schema: StructType): (Seq[String], Seq[String], Seq[String]) = {
    val numeric = schema.fields.filter(f => isNumeric(f.dataType)).map(_.name).toSeq
    val date = schema.fields.filter(f => isDate(f.dataType)).map(_.name).toSeq
    val categorical =
      schema.fields.map(_.name).toSeq.diff(numeric).diff(date)
    (numeric, date, categorical)
  }

  // single source of truth for the numeric-type decision lives in
  // QueryCompiler (package-visible); two drifting copies of the same
  // DataType match is how Decimal/interval decisions get made twice
  private def isNumeric(dt: DataType): Boolean =
    graft.query.QueryCompiler.isNumeric(dt)

  private def isDate(dt: DataType): Boolean = dt match {
    case _: DateType | _: TimestampType => true
    case _ => false
  }

  // --------------------------------------------------------------------
  // Single-pass statistic DataFrames (long format: one row per column /
  // pair). All stay as plans — nothing collects until the caller acts.
  // --------------------------------------------------------------------

  /** A5-A9 for numeric columns in ONE aggregation pass. `exact=false`
    * swaps exact percentiles for `approx_percentile` — the 100 TB path
    * (exact percentile holds all values per group; approx holds a fixed
    * sketch).
    */
  def numericStatsDF(df: DataFrame, columns: Seq[String] = Seq.empty,
                     exact: Boolean = true): DataFrame = {
    val cols =
      if (columns.nonEmpty) columns
      else df.schema.fields.filter(f => isNumeric(f.dataType)).map(_.name).toSeq
    require(cols.nonEmpty, "no numeric columns to profile")
    val pct =
      if (exact) (c: String) => expr(s"percentile(${quote(c)}, array(0.25, 0.5, 0.75))")
      else (c: String) => expr(s"approx_percentile(${quote(c)}, array(0.25, 0.5, 0.75), 10000)")
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        (count(lit(1)) - count(column(c))).as(s"${c}__nulls"),
        min(column(c)).cast(DoubleType).as(s"${c}__min"),
        max(column(c)).cast(DoubleType).as(s"${c}__max"),
        avg(column(c)).as(s"${c}__mean"),
        stddev_samp(column(c)).as(s"${c}__std"),
        pct(c).cast(ArrayType(DoubleType)).as(s"${c}__q"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("column"),
        column(s"${c}__nulls").as("null_count"),
        column(s"${c}__min").as("min"),
        column(s"${c}__max").as("max"),
        column(s"${c}__mean").as("mean"),
        column(s"${c}__std").as("std_dev"),
        element_at(column(s"${c}__q"), 1).as("percentile_25"),
        element_at(column(s"${c}__q"), 2).as("median"),
        element_at(column(s"${c}__q"), 3).as("percentile_75"))
    }
    one.select(explode(array(rows: _*)).as("s")).select("s.*")
  }

  /** Date/timestamp column statistics in one pass: null count, min/max,
    * distinct days. The reference classifies date columns but computes
    * no statistics for them (`processor.rs:289` only buckets); actual
    * temporal range/coverage is what a profiling user needs.
    */
  def dateStatsDF(df: DataFrame, columns: Seq[String] = Seq.empty): DataFrame = {
    val cols =
      if (columns.nonEmpty) columns
      else df.schema.fields.filter(f => isDate(f.dataType)).map(_.name).toSeq
    require(cols.nonEmpty, "no date/timestamp columns to profile")
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        (count(lit(1)) - count(column(c))).as(s"${c}__nulls"),
        min(column(c)).as(s"${c}__min"),
        max(column(c)).as(s"${c}__max"),
        countDistinct(to_date(column(c))).as(s"${c}__days"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("column"),
        column(s"${c}__nulls").as("null_count"),
        column(s"${c}__min").cast("timestamp").as("min_ts"),
        column(s"${c}__max").cast("timestamp").as("max_ts"),
        column(s"${c}__days").as("distinct_days"))
    }
    one.select(explode(array(rows: _*)).as("s")).select("s.*")
  }

  /** Equi-width histogram of a numeric column: two passes (extent, then
    * a map-side bucket assignment + one aggregation). Buckets are
    * [lo, hi) except the last, which closes at max.
    */
  def histogramDF(df: DataFrame, name: String, bins: Int = 10): DataFrame = {
    require(bins > 0, "bins must be positive")
    val extent = df
      .agg(min(column(name)).cast(DoubleType), max(column(name)).cast(DoubleType))
      .head()
    if (extent.isNullAt(0)) {
      // empty input or all-NULL column: an empty histogram, not a crash
      return df.sparkSession.emptyDataFrame
        .select(lit(0).as("bucket"), lit(0.0).as("lo"), lit(0.0).as("hi"),
          lit(0L).as("count"))
        .limit(0)
    }
    val (mn, mx) = (extent.getDouble(0), extent.getDouble(1))
    val width = if (mx > mn) (mx - mn) / bins else 1.0
    val bucket = least(
      floor((column(name).cast(DoubleType) - lit(mn)) / lit(width)).cast("int"),
      lit(bins - 1))
    df.filter(column(name).isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("count"))
      .select(col("bucket"),
        round(lit(mn) + col("bucket") * lit(width), 6).as("lo"),
        round(lit(mn) + (col("bucket") + 1) * lit(width), 6).as("hi"),
        col("count"))
  }

  /** A5 + approx-A6 only: null counts + approx_count_distinct, no
    * Expand — the profile pass for very large inputs (exact=false). */
  def approxNullUniqueDF(df: DataFrame, columns: Seq[String] = Seq.empty): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        (count(lit(1)) - count(column(c))).as(s"${c}__nulls"),
        approx_count_distinct(column(c)).as(s"${c}__approx"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("column"),
        column(s"${c}__nulls").as("null_count"),
        column(s"${c}__approx").as("unique_count"))
    }
    one.select(explode(array(rows: _*)).as("s")).select("s.*")
  }

  /** A5+A6 for ALL columns in one pass: null count + exact distinct
    * (plus approx distinct — the statistic you'd actually trust at
    * 100 TB, where multi-column exact distinct forces an Expand).
    */
  def nullUniqueDF(df: DataFrame, columns: Seq[String] = Seq.empty,
                   includeApprox: Boolean = true): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val aggs: Seq[Column] = cols.flatMap { c =>
      Seq(
        (count(lit(1)) - count(column(c))).as(s"${c}__nulls"),
        countDistinct(column(c)).as(s"${c}__uniq")) ++
        (if (includeApprox) Seq(approx_count_distinct(column(c)).as(s"${c}__approx"))
         else Seq.empty)
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      val base = Seq(
        lit(c).as("column"),
        column(s"${c}__nulls").as("null_count"),
        column(s"${c}__uniq").as("unique_count"))
      val fields =
        if (includeApprox) base :+ column(s"${c}__approx").as("approx_unique_count")
        else base
      struct(fields: _*)
    }
    one.select(explode(array(rows: _*)).as("s")).select("s.*")
  }

  /** A11: every numeric pair's Pearson correlation in ONE pass (the
    * reference re-scans both columns per pair, `processor.rs:425-447`).
    * Output key `"{c1}-{c2}"` matches the reference's map key.
    */
  def correlationsDF(df: DataFrame, columns: Seq[String] = Seq.empty): DataFrame = {
    val cols =
      if (columns.nonEmpty) columns
      else df.schema.fields.filter(f => isNumeric(f.dataType)).map(_.name).toSeq
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    require(pairs.nonEmpty, "need at least two numeric columns")
    val aggs = pairs.map { case (a, b) => corr(column(a), column(b)).as(s"${a}__${b}") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(s"$a-$b").as("pair"), column(s"${a}__${b}").as("correlation"))
    }
    one.select(explode(array(rows: _*)).as("s")).select("s.*")
  }

  /** A10: true top-k frequent values of one column, deterministically
    * tie-broken (count desc, then value asc). Map-side partial
    * aggregation makes this one shuffle of at most `distinct(column)`
    * rows, then a driver-side k-row sort — safe at any scale where the
    * column is meaningfully categorical.
    */
  def frequentValuesDF(df: DataFrame, name: String, k: Int = 10): DataFrame =
    df.filter(column(name).isNotNull)
      .groupBy(column(name).cast(StringType).as("value"))
      .agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, col("value").asc)
      .limit(k)

  /** Join-key skew report: the top-k heaviest keys with their share of
    * all rows — the number that decides between a plain shuffle join,
    * AQE skew handling, and salting ([[graft.ext.Joins.saltedJoin]]).
    * One aggregation; the total is derived from the aggregated counts
    * (exchange reuse — NOT a second scan of the source) and broadcast
    * back. At scale this is the diagnostic you run BEFORE the expensive
    * join, for one scan's cost.
    */
  def keySkewDF(df: DataFrame, column: String, k: Int = 10): DataFrame = {
    val counts = df.filter(col(column).isNotNull)
      .groupBy(col(column).cast(StringType).as("key"))
      .agg(count(lit(1)).as("count"))
    val total = counts.agg(sum(col("count")).as("__total"))
    counts.crossJoin(broadcast(total))
      .select(col("key"), col("count"),
        round(col("count") / col("__total"), 6).as("share"))
      .orderBy(col("count").desc, col("key").asc)
      .limit(k)
  }

  /** Per-group IQR outlier report: Tukey fences (p25 − f·IQR,
    * p75 + f·IQR) and how many values fall outside them — the standard
    * numeric-anomaly gate a data-quality pipeline runs before training.
    *
    * Two passes by necessity (the fences must exist before rows can be
    * compared against them): pass 1 aggregates exact quartiles per
    * group; the group-sized fence table then BROADCASTS back onto the
    * scan, so pass 2 is one partial-aggregated count — the big side
    * never shuffles. The QUARTILES are snapped to 4 dp with the
    * repr-robust `floor(x·10⁴ + 0.5)/10⁴` (NOT `round(x, 4)`: Spark
    * rounds the shortest decimal REPR via BigDecimal.valueOf while
    * DuckDB rounds the double VALUE, and the two disagree exactly at
    * repr half-points — this query sat hash-red on the driver board
    * three rounds running on that class). The floor form is the same
    * correctly-rounded IEEE op sequence in every engine, and on 2-dp
    * inputs the quarter-interpolated quartiles put x·10⁴ within an
    * ulp of a multiple of 25 — never near the half-integer where
    * floor could flip — so even a last-ulp interpolation difference
    * between `percentile` and `quantile_cont` lands on the same
    * snapped value. The fences are then composed WITHOUT further
    * rounding: +,−,× are correctly rounded IEEE ops, so both engines
    * produce bit-identical fence doubles from the identical snapped
    * quartiles and an external SQL oracle replays the counts exactly.
    * Exact `percentile` holds per-group values in the aggregation
    * buffer; at unbounded group sizes pass `exact = false` to switch
    * the quartile pass to `approx_percentile`, leaving pass 2
    * unchanged.
    */
  def iqrOutliersDF(df: DataFrame, groupCol: String, valueCol: String,
                    factor: Double = 1.5, exact: Boolean = true): DataFrame = {
    val rows = df.filter(col(valueCol).isNotNull)
    def q(frac: Double) =
      if (exact) percentile(col(valueCol), lit(frac))
      else approx_percentile(col(valueCol), lit(frac), lit(10000))
    val fences = rows.groupBy(groupCol)
      .agg(reprRound4(q(0.25)).as("p25"), reprRound4(q(0.75)).as("p75"))
      .select(col(groupCol).as("__g"),
        (col("p25") - lit(factor) * (col("p75") - col("p25"))).as("lo"),
        (col("p75") + lit(factor) * (col("p75") - col("p25"))).as("hi"))
    // <=> : a null GROUP is data here — an equi-join would orphan its
    // rows and the group would silently vanish from the audit (CLAUDE.md)
    rows.join(broadcast(fences), col(groupCol) <=> col("__g"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(when(col(valueCol) < col("lo"), 1L).otherwise(0L)).as("n_below"),
        sum(when(col(valueCol) > col("hi"), 1L).otherwise(0L)).as("n_above"),
        min(col("lo")).as("lo"),
        min(col("hi")).as("hi"))
  }

  /** Per-group winsorized statistics: values clipped to the [p, 1−p]
    * quantile band before averaging — the robust mean a metrics
    * pipeline reports when heavy tails (a few giant documents, a
    * runaway price) would otherwise dominate. Same two-pass broadcast
    * shape as [[iqrOutliersDF]], and the same repr-robust
    * `floor(x·10⁴+0.5)/10⁴` snap on the clip bounds AND the reported
    * means (`round(x, 4)` is a different function per engine at repr
    * half-points — see [[iqrOutliersDF]]); reports the raw mean
    * alongside so the tail's pull is visible.
    *
    * Exact `percentile` holds every group value in the aggregation
    * buffer — fine for oracle-SF groups, the q61 buffer explosion at
    * an unbounded corpus. `exact = false` is the unbounded-corpus
    * path: the clip bounds come from `approx_percentile` (bounded
    * sketch state per group), pass 2 unchanged — same escape as
    * [[iqrOutliersDF]].
    */
  def winsorizedStatsDF(df: DataFrame, groupCol: String, valueCol: String,
                        p: Double = 0.05, exact: Boolean = true): DataFrame = {
    require(p > 0 && p < 0.5, s"p must be in (0, 0.5), got $p")
    val rows = df.filter(col(valueCol).isNotNull)
    def q(frac: Double) =
      if (exact) percentile(col(valueCol), lit(frac))
      else approx_percentile(col(valueCol), lit(frac), lit(10000))
    val bounds = rows.groupBy(groupCol)
      .agg(reprRound4(q(p)).as("lo"),
        reprRound4(q(1 - p)).as("hi"))
      .withColumnRenamed(groupCol, "__g")
    rows.join(broadcast(bounds), col(groupCol) <=> col("__g"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        reprRound4(avg(col(valueCol))).as("mean"),
        reprRound4(avg(least(greatest(col(valueCol), col("lo")), col("hi"))))
          .as("winsorized_mean"),
        min(col("lo")).as("lo"),
        min(col("hi")).as("hi"))
  }

  /** A10 for MANY columns in ONE scan: explode (column, value) pairs,
    * one aggregation, one window for the per-column top-k. Profiling a
    * wide table must not cost a scan per categorical column.
    */
  def frequentValuesAllDF(df: DataFrame, columns: Seq[String],
                          k: Int = 10): DataFrame = {
    require(columns.nonEmpty, "no columns requested")
    val pairs = df.select(explode(array(columns.map(c =>
        struct(lit(c).as("column"), column(c).cast(StringType).as("value"))): _*))
        .as("p"))
      .select("p.*")
      .filter(col("value").isNotNull)
    val counts = pairs.groupBy("column", "value").agg(count(lit(1)).as("count"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("column")
      .orderBy(col("count").desc, col("value").asc)
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select("column", "value", "count")
  }

  /** Semi-structured profiling: the A5–A12 stats family extended to a
    * JSON string column — the schema-on-read answer to "what is
    * actually inside props?" that a fixed-schema profiler cannot give.
    * One row per top-level key: presence count, a type histogram
    * (canonical int / decimal float / bool literal, by the value's
    * TOKEN TEXT — so "5" the string and 5 the number both read as int,
    * the schema-inference stance, documented rather than hidden), and
    * the exact distinct-value count. Parse failures are a first-class
    * row (key `__malformed`, always emitted) — a profiler that
    * silently skips unparseable rows reports a clean schema for a
    * dirty column.
    *
    * Scale shape: ONE pass — a parse failure becomes a sentinel
    * `__malformed` entry in the same exploded (key, value) stream, so
    * corpus rows are scanned once with no checkpoint, no union of two
    * corpus-sized branches, and no second scan for the failure count
    * (`__malformed` is therefore a reserved key). The explode is
    * map-side (output rows = keys per row, bounded by the JSON width);
    * one aggregation keyed by (key) with the distinct count riding the
    * same shuffle; the always-present zero `__malformed` row folds in
    * through a key-count-sized re-aggregation. A JSON `null` value
    * contributes presence but no type (and no distinct value). Values
    * with corpus-scale cardinality make `n_distinct` the expensive
    * column; swap to approx_count_distinct upstream if a key holds
    * unique ids.
    */
  def jsonKeyProfileDF(df: DataFrame, jsonCol: String): DataFrame = {
    val sentinel = array(struct(lit("__malformed").as("key"),
      lit(null).cast(StringType).as("value")))
    val typed = df.filter(col(jsonCol).isNotNull)
      .select(from_json(col(jsonCol), MapType(StringType, StringType))
        .as("__m"))
      .select(explode(when(col("__m").isNotNull, map_entries(col("__m")))
        .otherwise(sentinel)).as("kv"))
      .select(col("kv.key").as("key"), col("kv.value").as("value"))
      .withColumn("vtype",
        when(col("value").isNull, lit(null).cast(StringType))
          .when(col("value").rlike("^-?[0-9]+$"), "int")
          .when(col("value").rlike("^-?[0-9]+\\.[0-9]+$"), "float")
          .when(col("value") === "true" || col("value") === "false", "bool")
          .otherwise("str"))
    val perKey = typed.groupBy("key").agg(
      count(lit(1)).as("n_present"),
      sum((col("vtype") === "int").cast("long")).as("n_int"),
      sum((col("vtype") === "float").cast("long")).as("n_float"),
      sum((col("vtype") === "bool").cast("long")).as("n_bool"),
      sum((col("vtype") === "str").cast("long")).as("n_str"),
      countDistinct(col("value")).as("n_distinct"))
    val zeroMalformed = df.sparkSession.range(1).select(
      lit("__malformed").as("key"), lit(0L).as("n_present"),
      lit(0L).as("n_int"), lit(0L).as("n_float"), lit(0L).as("n_bool"),
      lit(0L).as("n_str"), lit(0L).as("n_distinct"))
    perKey.unionByName(zeroMalformed).groupBy("key").agg(
      sum(col("n_present")).as("n_present"),
      sum(col("n_int")).as("n_int"),
      sum(col("n_float")).as("n_float"),
      sum(col("n_bool")).as("n_bool"),
      sum(col("n_str")).as("n_str"),
      sum(col("n_distinct")).as("n_distinct"))
  }

  /** Categorical distribution drift between two snapshots of a table —
    * the tabular twin of [[graft.ext.Similarity.centroidDrift]] (which
    * watches embeddings) and the monitoring op that catches a
    * pipeline/config change upstream: per category, both slices'
    * counts, shares, and the share delta, with categories present in
    * only one slice carrying count 0 on the other (their appearance or
    * disappearance IS the strongest drift signal — an inner join would
    * hide exactly the rows that matter). NULL is a category like any
    * other (null-safe join key).
    *
    * Scale shape: each snapshot partial-aggregates map-side to its
    * category table; totals derive from those aggregates (never a
    * second scan) and broadcast back as one-row frames; the outer join
    * runs at category cardinality. Shares/deltas are exact-integer
    * counts through one division each — identical doubles in any
    * engine — snapped at 6 dp for output.
    */
  def categoryShareDrift(dfA: DataFrame, dfB: DataFrame,
                         valueCol: String): DataFrame = {
    def side(df: DataFrame, cnt: String) =
      df.groupBy(col(valueCol).as("value")).agg(count(lit(1)).as(cnt))
    val a = side(dfA, "cnt_a")
    val b = side(dfB, "cnt_b")
    val ta = a.agg(sum(col("cnt_a")).as("__ta"))
    val tb = b.agg(sum(col("cnt_b")).as("__tb"))
    val snap6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    a.join(b.withColumnRenamed("value", "__vb"),
        col("value") <=> col("__vb"), "full_outer")
      .select(coalesce(col("value"), col("__vb")).as("value"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .crossJoin(broadcast(ta))
      .crossJoin(broadcast(tb))
      .select(col("value"), col("cnt_a"), col("cnt_b"),
        snap6(col("cnt_a") / col("__ta")).as("share_a"),
        snap6(col("cnt_b") / col("__tb")).as("share_b"),
        snap6(col("cnt_a") / col("__ta") - col("cnt_b") / col("__tb"))
          .as("share_delta"))
  }

  /** k-anonymity audit (Sweeney 2002): one row per equivalence class
    * of the quasi-identifier columns with its size and an `at_risk`
    * flag (class smaller than k) — the re-identification screen a
    * training-data release runs AFTER PII scrubbing
    * ([[graft.ext.TextAnalysis.piiScrub]] removes direct identifiers;
    * this measures whether the remaining attribute combinations still
    * single people out). Callers bucket continuous quasi-identifiers
    * first (a raw length column makes every row its own class and the
    * audit vacuously red). NULL is a class value like any other —
    * an all-null combination that occurs once is exactly as
    * identifying as any other singleton.
    *
    * One partial-aggregated groupBy; output is class-count-sized.
    */
  def kAnonymityDF(df: DataFrame, quasiCols: Seq[String],
                   k: Int = 5): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column")
    require(k >= 1, "k must be >= 1")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("at_risk", (col("class_size") < k).cast("int"))
  }

  /** [[kAnonymityDF]] plus l-diversity (Machanavajjhala 2007): a class
    * can be k-anonymous yet still leak — if everyone in it shares one
    * sensitive value, membership IS disclosure. Adds the distinct
    * count of `sensitiveCol` per class (NULL counts as a value: "field
    * withheld" is itself sensitive information, and a class where
    * everyone withheld it is as uniform as one where everyone matches)
    * and flags classes failing EITHER bar. Same single-groupBy shape —
    * the distinct rides the same shuffle.
    */
  def kAnonymityLDiversityDF(df: DataFrame, quasiCols: Seq[String],
                             sensitiveCol: String, k: Int = 5,
                             l: Int = 2): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column")
    require(!quasiCols.contains(sensitiveCol),
      "the sensitive column cannot also be a quasi-identifier")
    require(k >= 1 && l >= 1, "k and l must be >= 1")
    // countDistinct skips nulls; count the null presence separately so
    // "withheld" is one more distinct sensitive value, never invisible
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        (countDistinct(col(sensitiveCol)) +
          max(col(sensitiveCol).isNull.cast("long"))).as("l_diversity"))
      .withColumn("at_risk",
        (col("class_size") < k || col("l_diversity") < l).cast("int"))
  }

  /** Numeric distribution drift between two snapshots — the numeric
    * twin of [[categoryShareDrift]]: a fixed-width histogram (caller
    * supplies `lo`/`hi`/`nBins`; out-of-range values clamp into the
    * edge bins so a tail excursion is VISIBLE, not dropped) plus the
    * two classical two-sample statistics on the binned data, engine-
    * exact by integer arithmetic:
    *
    *  - `ks_stat` = max_bin |cumA·Nb − cumB·Na| / (Na·Nb) — the
    *    Kolmogorov–Smirnov statistic of the binned CDFs (bins empty on
    *    both sides cannot move it, so only observed bins are carried);
    *  - `tvd`     = Σ_bin |cntA·Nb − cntB·Na| / (2·Na·Nb).
    *
    * Products ride DECIMAL(38,0); each statistic is ONE division of
    * exactly-represented integers (correctly rounded in any engine),
    * snapped at 6dp. PSI is deliberately NOT emitted: it needs `ln`,
    * which is not correctly-rounded-portable (SCALE.md ranking rule) —
    * TVD + KS carry the same drift signal exactly.
    *
    * Scale shape: each snapshot partial-aggregates map-side to ≤nBins
    * rows; everything after the two aggregates (outer join, running
    * sums, totals) runs at bin cardinality — the unpartitioned windows
    * are single-task over ≤nBins rows by construction. Null/NaN values
    * are excluded (drift is over observed values).
    */
  def numericDriftDF(dfA: DataFrame, dfB: DataFrame, valueCol: String,
                     lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins >= 2, "need at least two bins")
    require(hi > lo, "hi must exceed lo")
    val width = (hi - lo) / nBins
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val snap6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    def side(df: DataFrame, cnt: String) =
      df.select(col(valueCol).cast("double").as("__x"))
        .filter(col("__x").isNotNull && !isnan(col("__x")))
        .select(least(greatest(floor((col("__x") - lit(lo)) / lit(width)),
          lit(0.0)), lit((nBins - 1).toDouble)).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(cnt))
    val a = side(dfA, "cnt_a")
    val b = side(dfB, "cnt_b")
    val bins = a.join(b.withColumnRenamed("bin", "__bb"),
        col("bin") === col("__bb"), "full_outer")
      .select(coalesce(col("bin"), col("__bb")).as("bin"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    val tot = bins.agg(sum(col("cnt_a")).as("__na"),
      sum(col("cnt_b")).as("__nb"))
    import org.apache.spark.sql.expressions.Window
    val run = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ok = col("__na") > 0 && col("__nb") > 0
    val nanb = (dec(col("__na")) * dec(col("__nb"))).cast("double")
    bins.crossJoin(broadcast(tot))
      .withColumn("__dev",
        abs(dec(sum(col("cnt_a")).over(run)) * dec(col("__nb")) -
          dec(sum(col("cnt_b")).over(run)) * dec(col("__na"))))
      .withColumn("__term",
        abs(dec(col("cnt_a")) * dec(col("__nb")) -
          dec(col("cnt_b")) * dec(col("__na"))))
      .select(col("bin"), col("cnt_a"), col("cnt_b"),
        when(ok, snap6(col("__dev").cast("double") / nanb)).as("cum_dev"),
        when(ok, snap6(max(col("__dev")).over(all).cast("double") / nanb))
          .as("ks_stat"),
        when(ok, snap6(sum(col("__term")).over(all).cast("double") /
          (lit(2.0) * nanb))).as("tvd"))
  }

  /** Calibration (reliability) table for a binary scorer: fixed-width
    * margin bins over `[lo, hi)` (out-of-range clamps to the edge
    * bins), each with its count, positive count, observed positive
    * rate, and mean score — the table a reliability diagram plots, and
    * the audit that separates "ranks well" ([[graft.ext.TextAnalysis.thresholdSweep]]'s
    * AUC view) from "the score MEANS something" (a margin-2 bucket
    * that is only 60% positive will mislead any downstream
    * threshold-by-score consumer). ECE is deliberately not emitted:
    * its probability mapping needs `exp`, which is not
    * correctly-rounded-portable — margin-space rates carry the signal.
    *
    * Cross-engine contract (the thresholdSweep rule): `scoreCol` must
    * already sit on the 1e-6 decimal grid (Rounding.reprRound6 /
    * floor-snap). The mean then rides as an exact integer sum of
    * 1e6-scaled scores with two correctly-rounded divisions at the
    * edge; the rate is one. Rows with a null score or label are
    * excluded (undefined under both the gate and the truth).
    *
    * Scale shape: one partial-aggregated groupBy to ≤nBins rows.
    */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
                      lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins >= 2, "need at least two bins")
    require(hi > lo, "hi must exceed lo")
    val width = (hi - lo) / nBins
    val snap6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    df.filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(least(greatest(floor((col(scoreCol) - lit(lo)) / lit(width)),
          lit(0.0)), lit((nBins - 1).toDouble)).cast("long").as("bin"),
        col(labelCol).cast("long").as("__l"),
        floor(col(scoreCol) * lit(1e6) + lit(0.5)).cast("long").as("__s6"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("__l")).as("n_pos"),
        sum(col("__s6")).as("__ss"))
      .select(col("bin"), col("n"), col("n_pos"),
        snap6(col("n_pos").cast("double") / col("n").cast("double"))
          .as("pos_rate"),
        snap6(col("__ss").cast("double") / lit(1e6) /
          col("n").cast("double")).as("mean_score"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007): the rung
    * above [[kAnonymityLDiversityDF]] — a class can be k-anonymous AND
    * l-diverse yet still leak, when its sensitive-value MIX differs
    * sharply from the table's (a class that is 90% one diagnosis in a
    * 10%-base-rate table discloses by membership). Per quasi-identifier
    * class: size and the total-variation distance between the class's
    * sensitive distribution and the global one (the categorical
    * instance of the paper's EMD), flagged above `t`.
    *
    * Engine-exact by integer arithmetic: with class counts `n_cv`,
    * class size `cs`, global value counts `n_v` and table size `N`,
    *
    *   TVD = ( Σ_{v∈class} |n_cv·N − n_v·cs|  +  cs·(N − Σ_{v∈class} n_v) )
    *         / (2·cs·N)
    *
    * (the second term folds every value ABSENT from the class, whose
    * |0 − p_v| contributions an in-class join would silently drop).
    * Products ride DECIMAL(38,0) — n_cv·N overflows Long past ~3e9
    * rows — and the single division of two exactly-represented
    * integers is correctly rounded in any engine, then snapped at 6dp.
    * NULL is a sensitive value like any other (null-safe value join).
    *
    * Scale shape: one shuffle at (class × value) cardinality, the
    * class-size window and the final per-class aggregate ride the same
    * quasi-key partitioning, and the value-cardinality global table
    * broadcasts.
    */
  def tClosenessDF(df: DataFrame, quasiCols: Seq[String],
                   sensitiveCol: String, t: Double = 0.2): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column")
    require(!quasiCols.contains(sensitiveCol),
      "the sensitive column cannot also be a quasi-identifier")
    require(t > 0.0 && t <= 1.0, "t must be in (0, 1]")
    val qc = quasiCols.map(col)
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    val cv = df.groupBy((qc :+ col(sensitiveCol).as("__sv")): _*)
      .agg(count(lit(1)).as("__n_cv"))
    val glob = cv.groupBy(col("__sv").as("__gv"))
      .agg(sum(col("__n_cv")).as("__n_v"))
    val tot = glob.agg(sum(col("__n_v")).as("__n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(qc: _*)
    val snap6 = (c: Column) => floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    cv.withColumn("__cs", sum(col("__n_cv")).over(w))
      .join(broadcast(glob), col("__sv") <=> col("__gv"))
      .crossJoin(broadcast(tot))
      .withColumn("__term",
        abs(dec(col("__n_cv")) * dec(col("__n")) -
          dec(col("__n_v")) * dec(col("__cs"))))
      .groupBy(qc: _*)
      .agg(max(col("__cs")).as("class_size"),
        sum(col("__term")).as("__sum_term"),
        sum(dec(col("__n_v"))).as("__sum_nv"),
        max(col("__n")).as("__N"))
      .select((qc :+ col("class_size") :+
        snap6((col("__sum_term") +
            dec(col("class_size")) * (dec(col("__N")) - col("__sum_nv")))
          .cast("double") /
          (dec(lit(2)) * dec(col("class_size")) * dec(col("__N")))
            .cast("double")).as("tvd")): _*)
      .withColumn("at_risk", (col("tvd") > t).cast("int"))
  }

  // --------------------------------------------------------------------
  // Full profile (driver-sized result: one struct per column)
  // --------------------------------------------------------------------

  /** Complete Insights for a table: a fixed number of passes regardless
    * of column count — stats+distinct (1), numeric stats (1),
    * correlations (1), frequent values for ALL categorical columns
    * batched into one explode+agg pass (1), plus a metadata-cheap
    * count. `exact=false` selects sketch-based percentiles AND
    * approx distinct counts (multi-column exact distinct forces an
    * Expand — the thing to avoid at very large scale).
    */
  def profile(df: DataFrame, topK: Int = 10, exact: Boolean = true): Insights = {
    require(df.schema.nonEmpty, "cannot profile a frame with no columns")
    val (numericCols, dateCols, categoricalCols) = classify(df.schema)
    val typeOf = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap

    val nu =
      if (exact)
        nullUniqueDF(df, includeApprox = false).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      else
        approxNullUniqueDF(df).collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rowCount = df.count()

    val numStats =
      if (numericCols.nonEmpty)
        numericStatsDF(df, numericCols, exact).collect().map { r =>
          r.getString(0) -> (Option(r.get(2)).map(_.toString.toDouble),
            Option(r.get(3)).map(_.toString.toDouble),
            Option(r.get(4)).map(_.toString.toDouble),
            Option(r.get(5)).map(_.toString.toDouble),
            Option(r.get(6)).map(_.toString.toDouble),
            Option(r.get(7)).map(_.toString.toDouble),
            Option(r.get(8)).map(_.toString.toDouble))
        }.toMap
      else Map.empty[String, (Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double], Option[Double])]

    val freq: Map[String, Seq[(String, Long)]] =
      if (categoricalCols.isEmpty) Map.empty
      else frequentValuesAllDF(df, categoricalCols, topK).collect()
        .groupBy(_.getString(0))
        .map { case (c, rows) =>
          c -> rows.map(r => r.getString(1) -> r.getLong(2)).toSeq
        }

    val stats = df.schema.fields.map { f =>
      val (nulls, uniq) = nu.getOrElse(f.name, (0L, 0L))
      val ns = numStats.get(f.name)
      ColumnStats(
        name = f.name,
        dataType = f.dataType.simpleString,
        nullCount = nulls,
        uniqueCount = uniq,
        min = ns.flatMap(_._1), max = ns.flatMap(_._2),
        mean = ns.flatMap(_._3), stdDev = ns.flatMap(_._4),
        percentile25 = ns.flatMap(_._5), median = ns.flatMap(_._6),
        percentile75 = ns.flatMap(_._7),
        frequentValues = freq.get(f.name))
    }.toSeq

    val corrs =
      if (numericCols.size >= 2)
        correlationsDF(df, numericCols).collect()
          .flatMap(r => Option(r.get(1)).map(v => r.getString(0) -> r.getDouble(1)))
          .toMap
      else Map.empty[String, Double]

    val summaryText =
      s"Dataset contains $rowCount rows and ${df.schema.size} columns " +
        s"(${numericCols.size} numeric, ${categoricalCols.size} categorical, " +
        s"${dateCols.size} date). " + typeOf.keys.toSeq.sorted.take(8).mkString(", ")

    Insights(
      DataSummary(rowCount, df.schema.size, numericCols, categoricalCols,
        dateCols, summaryText),
      stats, corrs)
  }
}
