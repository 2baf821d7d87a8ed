package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._
import graft.model.ColumnOperation._

/** Compiles a [[graft.model.StructuredQuery]] into ONE composed DataFrame
  * plan.
  *
  * The reference executes each operation with an independent
  * `lazy()…collect()` round-trip (`/root/reference/src/services/
  * query_translator.rs:326-327, 347-350, 413`) so nothing fuses. Here the
  * whole query is declared as a single logical plan and Catalyst does the
  * rest: filters push into the parquet scan, projection prunes the read
  * schema, and the aggregate runs partial (map-side) then final — the plan
  * shape that survives a 1000-executor 100 TB scale-up.
  *
  * Literal typing: filter values arrive as strings (the IR mirrors the
  * reference's NL origin); they are cast to the column's dtype inside the
  * plan. Under Spark 4 ANSI mode an unparseable literal fails loudly,
  * which is the SURVEY.md §2.2 decision (the reference silently drops the
  * predicate, `query_translator.rs:365-404`).
  */
object QueryCompiler {

  def compile(df: DataFrame, q: StructuredQuery): DataFrame = {
    validateColumns(df, q)
    val filtered = applyFilters(df, q.operations)
    q.intent match {
      case QueryIntent.Aggregate =>
        // sorts on an aggregate refer to its OUTPUT columns (group keys
        // and agg aliases); silently dropping them would hand the
        // JSON/NL surface unordered groups with no error
        val aggregated = applyAggregate(filtered, q.operations)
        q.operations.collect { case SortBy(c, _) => c }.foreach { c =>
          require(aggregated.columns.contains(c),
            s"sort column '$c' is not in the aggregate output " +
              s"(${aggregated.columns.mkString(", ")})")
        }
        applySorts(aggregated, q.operations)
      case QueryIntent.Filter =>
        project(applySorts(filtered, q.operations), q.columns)
      case QueryIntent.Sort =>
        project(applySorts(filtered, q.operations), q.columns)
      case QueryIntent.Describe =>
        // Reference: head(10) (`query_translator.rs:313-316`). A bare
        // head over a distributed scan is nondeterministic; honor any
        // SortBy first so the 10 rows are well-defined.
        project(applySorts(filtered, q.operations), q.columns).limit(10)
      case QueryIntent.Visualize =>
        // Reference caps viz payloads at 100 rows (`:459-461`).
        project(applySorts(filtered, q.operations), q.columns).limit(100)
    }
  }

  /** Fail fast with ALL unknown columns and the available schema — the
    * reference surfaces nothing (a bad column becomes a Polars panic
    * deep in `apply_operations`); an NL-driven surface needs a
    * recoverable, explicit error.
    */
  private def validateColumns(df: DataFrame, q: StructuredQuery): Unit = {
    val referenced = q.columns ++ q.operations.collect {
      case Mean(c) => c
      case Sum(c) => c
      case Count(c) => c
      case GroupBy(c) => c
      // under Aggregate intent SortBy refers to aggregate OUTPUT names,
      // validated against the aggregated frame in compile()
      case SortBy(c, _) if q.intent != QueryIntent.Aggregate => c
      case Filter(c, _, _) => c
    }
    val missing = referenced.distinct.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"unknown column(s): ${missing.mkString(", ")}; " +
        s"available: ${df.columns.mkString(", ")}")
  }

  /** AND-compose all Filter operations into one predicate
    * (reference applies them sequentially, `query_translator.rs:361-415` —
    * same semantics, one plan node).
    */
  private def applyFilters(df: DataFrame, ops: Seq[ColumnOperation]): DataFrame = {
    val preds = ops.collect { case Filter(c, op, v) => predicate(df, c, op, v) }
    preds.reduceOption(_ && _).map(df.filter).getOrElse(df)
  }

  /** Typed predicate: the string literal is cast to the column's dtype so
    * comparisons are value comparisons, not string comparisons.
    */
  private def predicate(df: DataFrame, c: String, op: CompareOp, v: String): Column = {
    val dt = df.schema(c).dataType
    val x = column(c)
    val l = typedLit(v, dt)
    op match {
      case CompareOp.Eq => x === l
      case CompareOp.Ne => x =!= l
      case CompareOp.Gt => x > l
      case CompareOp.Lt => x < l
      case CompareOp.Ge => x >= l
      case CompareOp.Le => x <= l
    }
  }

  private def typedLit(v: String, dt: DataType): Column = dt match {
    case StringType => lit(v)
    case _          => lit(v).cast(dt)
  }

  /** All aggregation ops share ONE `agg` (one shuffle, partial+final).
    * Aliases follow the reference (`mean_{c}`/`sum_{c}`/`count_{c}`,
    * `query_translator.rs:326,333,340,346`).
    */
  private def applyAggregate(df: DataFrame, ops: Seq[ColumnOperation]): DataFrame = {
    val groupCols = ops.collect { case GroupBy(c) => column(c) }
    val aggExprs = ops.collect {
      case Mean(c)  => avg(column(c)).as(s"mean_$c")
      case Sum(c)   => sum(column(c)).as(s"sum_$c")
      case Count(c) => count(column(c)).as(s"count_$c")
    }
    val exprs =
      if (aggExprs.nonEmpty) aggExprs
      else {
        // GroupBy with no explicit agg: reference counts the group key
        // (`query_translator.rs:343-351`).
        ops.collect { case GroupBy(c) => count(column(c)).as(s"count_$c") }
      }
    if (groupCols.nonEmpty) df.groupBy(groupCols: _*).agg(exprs.head, exprs.tail: _*)
    else df.agg(exprs.head, exprs.tail: _*)
  }

  private def applySorts(df: DataFrame, ops: Seq[ColumnOperation]): DataFrame = {
    val sortCols = ops.collect {
      case SortBy(c, asc) => if (asc) column(c).asc else column(c).desc
    }
    if (sortCols.nonEmpty) df.orderBy(sortCols: _*) else df
  }

  private def project(df: DataFrame, columns: Seq[String]): DataFrame =
    if (columns.isEmpty) df else df.select(columns.map(column): _*)

  // --------------------------------------------------------------------
  // Visualization aggregations — engine-side DataFrame ops replacing the
  // reference's row-wise JSON post-processing.
  // --------------------------------------------------------------------

  /** A13: per-column averages for a bar chart. The reference iterates the
    * (≤100-row) JSON sample coercing strings to f64
    * (`/root/reference/src/services/conversation.rs:188-232`); here it is
    * one distributed agg over the full table — `try_cast` keeps the
    * "skip unparseable" behavior without ANSI failures. The chart of an
    * answer ([[QueryJson.vizPayload]]) computes the same means on the
    * driver from the rows it already collected.
    */
  def vizNumericAverages(df: DataFrame, cols: Seq[String] = Seq.empty): DataFrame = {
    val numeric =
      if (cols.nonEmpty) cols
      else df.schema.fields.collect { case f if isNumeric(f.dataType) => f.name }.toSeq
    require(numeric.nonEmpty, "no numeric columns to average")
    val exprs = numeric.map(c => avg(expr(s"try_cast(${quote(c)} AS double)")).as(s"avg_$c"))
    df.agg(exprs.head, exprs.tail: _*)
  }

  /** A14: value counts of a categorical column for a bar chart
    * (`conversation.rs:235-268`), as groupBy-count (deterministically
    * ordered, unlike the reference's map iteration). [[QueryJson.vizPayload]]
    * counts its collected sample in the same order on the driver.
    */
  def vizValueCounts(df: DataFrame, name: String): DataFrame =
    df.groupBy(column(name)).agg(count(lit(1)).as("count"))
      .orderBy(col("count").desc, column(name).asc)

  /** A column name as a backtick-quoted identifier: `col` and SQL text
    * otherwise read `unit.price` as struct access and reject a name
    * holding a backtick. The compiler and the profile helpers reference
    * user-supplied names (CSV headers, NL-resolved columns) through it. */
  private[graft] def quote(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** The column named exactly `name` (see [[quote]]). */
  private[graft] def column(name: String): Column = col(quote(name))

  private[graft] def isNumeric(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType => true
    case _ => false
  }
}
