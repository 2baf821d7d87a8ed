package graft.io

import org.apache.spark.sql.DataFrame

/** Result sinks.
  *
  * The reference serializes every query result to a JSON array of row
  * objects for its HTTP response (`/root/reference/src/services/
  * conversation.rs:154-166`, `479-506`) by materializing the whole frame
  * in memory. Here the row→JSON conversion is an expression inside the
  * plan (`to_json`), so it runs where the rows are and only the bounded
  * sample of rendered strings reaches the driver.
  */
object Sinks {

  /** The reference's HTTP-response shape: a JSON array of row objects,
    * capped at `limit` rows (the reference caps at 100 for viz payloads,
    * `query_translator.rs:459-461`). Driver-sized by construction.
    *
    * Each row renders as `to_json(struct(*))` inside the plan — the same
    * Jackson generator and options as `toJSON`, so the text is
    * byte-identical (null fields omitted), but the limit now sits on top
    * of one code-generated projection: Spark plans `CollectLimit` (or
    * `TakeOrderedAndProject` over a sort) with no exchange and no round
    * trip through external `Row`s — one job, unless the first partition
    * holds fewer than `limit` rows and more partitions must be read.
    * Under `toJSON`, a typed map, the limit becomes `LocalLimit →
    * Exchange → GlobalLimit`: a shuffle and always a second job.
    * The star expands to the frame's own attributes, so no column name
    * is parsed: dots, backticks and repeated names are rendered as-is.
    */
  def jsonArray(df: DataFrame, limit: Int = 100): String = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    df.select(to_json(struct(col("*")))).limit(limit).collect()
      .map(_.getString(0)).mkString("[", ",", "]")
  }

  /** File sink: newline-delimited JSON, one object per row. */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Range-partitioned, sorted parquet layout: rows are range-split
    * across files by `cols` and sorted within each file, so every file
    * (and row group) carries a TIGHT min/max band for those columns —
    * the layout that lets a 100 TB scan skip everything outside a range
    * predicate from parquet footers alone. This is the write-side half
    * of predicate pushdown; without it min/max stats span the whole
    * domain per file and prune nothing.
    */
  def writeRangeSorted(df: DataFrame, dstDir: String, cols: Seq[String],
                       partitions: Int): Unit = {
    require(cols.nonEmpty, "at least one layout column")
    import org.apache.spark.sql.functions.col
    df.repartitionByRange(partitions, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
      .write.mode("overwrite").parquet(dstDir)
  }

  /** Hive-partitioned parquet layout (`key=value` directories): the
    * write-side half of PARTITION pruning, the scan-skipping mechanism
    * that dominates on a real date/source-partitioned lake.
    * [[writeRangeSorted]] gives file-level min/max skipping WITHIN a
    * scan; a partitioned layout lets the planner drop whole directories
    * before listing a single file — statically for literal predicates
    * (`PartitionFilters`), and at RUNTIME for a join against a filtered
    * dimension (dynamic partition pruning: the dim's build side seeds
    * an IN-filter on the fact's partition column — plan-pinned in
    * PlanAuditSpec and exercised by q117).
    *
    * Rows are repartitioned BY the partition columns first — without
    * this, every one of N input tasks writes a file into every
    * partition directory it touches (N×P small files, the
    * lake-killer). `filesPerPartition` BOUNDS the file count per
    * partition value (usually exact; two split groups that hash to the
    * same shuffle task merge into one file — fewer files, never more).
    * `sortCols` sorts within each file for tight parquet min/max bands
    * on top of the directory pruning.
    */
  def writePartitioned(df: DataFrame, dstDir: String,
                       partitionCols: Seq[String],
                       filesPerPartition: Int = 1,
                       sortCols: Seq[String] = Nil): Unit = {
    require(partitionCols.nonEmpty, "at least one partition column")
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    import org.apache.spark.sql.functions.{col, lit, pmod, struct, xxhash64}
    // EXPLICIT task count: a keyless repartition(cols) is eligible for
    // AQE partition coalescing, which re-merges the split groups and
    // hands the file layout back to the optimizer — the opposite of a
    // writer whose whole point is controlling the layout.
    val tasks = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keyed =
      if (filesPerPartition == 1)
        df.repartition(tasks, partitionCols.map(col): _*)
      else df
        // deterministic row-hash split: rows of one partition value
        // spread over up to filesPerPartition tasks (rand() would
        // break retry idempotency — a re-run task must re-produce the
        // same split)
        .withColumn("__split",
          pmod(xxhash64(struct(df.columns.map(col): _*)), lit(filesPerPartition)))
        .repartition(tasks, partitionCols.map(col) :+ col("__split"): _*)
        .drop("__split")
    val sorted =
      if (sortCols.isEmpty) keyed
      else keyed.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    sorted.write.mode("overwrite")
      .partitionBy(partitionCols: _*).parquet(dstDir)
  }

  /** Compact a parquet directory into ~`targetFileBytes` files at
    * `dstDir` — the small-files maintenance pass every streaming or
    * per-batch ingest needs (a 100 TB lake of 1 MB files spends more
    * time opening footers than reading data). File count is sized from
    * the ACTUAL on-disk bytes, not row counts; a fresh `dstDir` keeps
    * the operation atomic-by-rename for the caller (never read and
    * overwrite the same live path). Merging uses `coalesce`, which
    * concatenates input files without a shuffle and keeps their internal
    * row order (a range-sorted layout keeps usable min/max bands; for
    * tight bands re-run [[writeRangeSorted]] instead). Returns
    * (filesBefore, filesAfter).
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
                     srcDir: String, dstDir: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(srcDir != dstDir, "compact to a fresh directory, then swap")
    val conf = spark.sparkContext.hadoopConfiguration
    val srcP = new org.apache.hadoop.fs.Path(srcDir)
    val srcFs = srcP.getFileSystem(conf)
    // ONE listing up front: friendly empty-dir error (spark.read would
    // fail with an obscure schema-inference message) and per-file sizes
    // without a metadata RPC per file
    val listed = srcFs.listStatus(srcP).filter(_.isFile)
      .map(f => f.getPath.toString -> f.getLen).toMap
    require(listed.nonEmpty, s"nothing to compact under $srcDir")
    val df = spark.read.parquet(srcDir)
    // the READ's own file set (df.inputFiles): on a streaming sink
    // directory this honors _spark_metadata and excludes orphaned
    // uncommitted files the raw listing includes
    val files = df.inputFiles
    val srcNorm = srcFs.makeQualified(srcP).toString
    // nested files mean a hive-partitioned layout; blind compaction
    // would ERASE the partitioning — compact per partition dir instead
    files.foreach { f =>
      val parent = new org.apache.hadoop.fs.Path(f).getParent.toString
      require(parent == srcNorm,
        s"$f sits under a partition subdirectory — compact each " +
          "partition directory separately")
    }
    val totalBytes = files.map(f => listed.getOrElse(f, 0L)).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // coalesce whenever NOT splitting (no shuffle; concatenates whole
    // input partitions, preserving their internal order — including the
    // n == partitions re-compaction no-op); a repartition shuffle only
    // when files must be split above the current partition count
    val sized =
      if (n <= df.rdd.getNumPartitions) df.coalesce(n) else df.repartition(n)
    sized.write.mode("overwrite").parquet(dstDir)
    val dstP = new org.apache.hadoop.fs.Path(dstDir)
    val dstFs = dstP.getFileSystem(conf)
    val after = dstFs.listStatus(dstP)
      .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
    (files.length, after)
  }

  /** [[compactParquet]] over a hive-partitioned layout: each
    * `key=value` partition directory compacts independently into the
    * same directory name under `dstDir`, so the partitioning (and
    * partition pruning) survives — exactly the per-partition loop
    * [[compactParquet]]'s nested-file guard demands. Partitions are
    * independent units of work; a production driver can fan them out,
    * and a failure in one leaves the others' output intact. Returns
    * partitionDirName -> (filesBefore, filesAfter).
    */
  def compactPartitionedParquet(spark: org.apache.spark.sql.SparkSession,
                                srcDir: String, dstDir: String,
                                targetFileBytes: Long = 128L * 1024 * 1024)
      : Map[String, (Int, Int)] = {
    require(srcDir != dstDir, "compact to a fresh directory, then swap")
    val conf = spark.sparkContext.hadoopConfiguration
    val srcP = new org.apache.hadoop.fs.Path(srcDir)
    val fs = srcP.getFileSystem(conf)
    val parts = fs.listStatus(srcP)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName)
    require(parts.nonEmpty,
      s"no key=value partition directories under $srcDir — use compactParquet")
    parts.map { p =>
      p -> compactParquet(spark, s"$srcDir/$p", s"$dstDir/$p", targetFileBytes)
    }.toMap
  }
}
