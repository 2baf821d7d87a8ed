package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Source readers for the engine.
  *
  * The reference ingests one CSV per job with header detection and 100-row
  * schema inference (`/root/reference/src/services/processor.rs:253-261`) and
  * re-reads the raw bytes from object storage on every query
  * (`query_translator.rs:232-278`). Here sources are declarative Spark scans:
  * Catalyst prunes columns and pushes predicates into the file format.
  * Parquet is the primary format (columnar, splittable — the 100 TB path)
  * and is read once per plan, not once per operation. CSV is kept for
  * reference parity, and an upload is parsed once per session: the CSV
  * readers return a frame cached in Spark's columnar store, so the
  * profile and every question scan in-memory batches instead of
  * re-running the text parser.
  */
object Tables {

  /** All driver-generated test tables (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Opt-in scan-parallelism floor, `spark.graft.scan.minPartitions`.
    *
    * A parquet file is splittable only at ROW-GROUP boundaries; a table
    * written as one file with one row group scans as ONE task, and every
    * map-side operator downstream (shingling, regex scrubbing, entropy
    * folds) runs on a single core no matter how many the session has —
    * `spark.sql.files.maxPartitionBytes` cannot help because byte-range
    * splits still route the lone row group to one task. When this conf
    * is set and the scan plans fewer partitions, the read is followed by
    * one `repartition` so per-row work uses the session's cores. At
    * cluster scale a real lake has thousands of row groups, the
    * condition is false, and the scan stays shuffle-free — which is why
    * this is a floor, not an unconditional repartition. Unset = never.
    */
  def withScanFloor(spark: SparkSession, df: DataFrame): DataFrame =
    spark.conf.getOption("spark.graft.scan.minPartitions").map(_.toInt) match {
      case Some(n) if n > 1 && df.rdd.getNumPartitions < n => df.repartition(n)
      case _ => df
    }

  /** Parquet scan of a named table under `dir`. Splittable + columnar:
    * at cluster scale each file splits into `maxPartitionBytes` tasks and
    * the vectorized reader only materializes referenced columns.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** The events table carries TIMESTAMP(NANOS) parquet, which Spark 4
    * refuses natively; with `spark.sql.legacy.parquet.nanosAsLong=true`
    * (set by our session builders) it arrives as LongType nanos and is
    * truncated here to a microsecond TimestampType via integer division
    * (double math would lose precision: epoch-nanos exceed 2^53).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      // TZ-less parquet timestamps read as TIMESTAMP_NTZ under Spark 4's
      // default NTZ inference; normalize to session-TZ TimestampType so
      // downstream casts/arithmetic (and the DuckDB oracle's
      // `CAST(ts AS TIMESTAMP)`) see one type.
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }
  }
  /** The documents table opts into the scan floor: its consumers are
    * per-row CPU-heavy (shingling, regex scrubs, entropy folds, token
    * hashing), so one narrow exchange buys back a fully-parallel map
    * side. The numeric tables stay natural — their per-row work is
    * cheap enough that the extra exchange costs more than it returns
    * (measured: documents queries −3 to −20×, lineitem queries +0.5-1 s).
    */
  def documents(spark: SparkSession, dir: String): DataFrame =
    withScanFloor(spark, table(spark, dir, "documents"))
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Register every test table as a temp view so `spark.sql` works over
    * the same catalog names the oracle uses. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  /** CSV ingestion with header + schema inference — the reference's S1
    * operator (`processor.rs:253-261`). The reference infers from the first
    * 100 rows; Spark scans the whole file by default, so `samplingRatio`
    * bounds inference cost on large inputs instead of a fixed row window
    * (a row-count window does not distribute — a 100 TB CSV's "first 100
    * rows" live in one task).
    *
    * The returned frame is persisted (MEMORY_AND_DISK, lazily): its first
    * action parses the file into Spark's columnar store and every later
    * plan over it reads those batches. The caller owns the frame and
    * calls `unpersist()` when the job or conversation ends. Spark matches
    * a cached frame by plan, not by file contents, so ingesting a path
    * again refreshes every cached frame over that path first — a
    * re-upload is parsed afresh, and older frames see the new rows too.
    */
  def csv(spark: SparkSession, path: String,
          schema: Option[StructType] = None,
          samplingRatio: Double = 1.0): DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE") // malformed rows -> nulls, not job failure
    val df = schema match {
      case Some(s) => base.schema(s).csv(path)
      case None =>
        base.option("inferSchema", "true")
          .option("samplingRatio", samplingRatio.toString)
          .csv(path)
    }
    require(df.schema.nonEmpty, s"CSV upload $path has no columns (empty file?)")
    spark.catalog.refreshByPath(path)
    df.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Reference-parity inference: schema from the FIRST `rows` data rows
    * only, then frozen for the full scan (`processor.rs:255-258` infers
    * from 100 rows — a column numeric for those rows stays numeric, and
    * later non-conforming cells null out under PERMISSIVE instead of
    * widening the column to string the way whole-file inference would).
    * The row window is one bounded read; "first" follows file listing
    * order, which matches the reference's single-file uploads. Use
    * [[csv]] with `samplingRatio` when sampling the whole file is the
    * better trade. The full scan goes through [[csv]], so the returned
    * frame is cached and owned by the caller the same way.
    */
  def csvInferFirstRows(spark: SparkSession, path: String,
                        rows: Int = 100): DataFrame = {
    require(rows > 0, "need at least one row to infer from")
    val head = spark.read.textFile(path).limit(rows + 1) // +1: header line
    val inferred = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(head).schema
    csv(spark, path, schema = Some(inferred))
  }
}
