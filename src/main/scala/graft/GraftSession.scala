package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession entry point for the graft engine.
  *
  * One place encodes the settings every deployment of this library
  * wants — instead of each caller rediscovering them:
  *  - ANSI mode stays ON (Spark 4 default): unparseable literals and
  *    overflow fail loudly, the SURVEY.md §2.2 decision.
  *  - UTC session timezone: results must not depend on driver locale.
  *  - AQE on (default) — runtime coalescing + skew-join handling.
  *  - [[GraftExtensions]] installed: `vec_dot`/`vec_norm2` usable from
  *    SQL immediately.
  *  - `parquet.nanosAsLong` for the nanosecond-timestamp test tables.
  *
  * `local(cores)` additionally sizes `shuffle.partitions` to the core
  * count (the 200 default is a cluster setting; on a laptop it makes
  * every small aggregation 200 tiny tasks).
  */
object GraftSession {

  /** Shared tuning of every graft session. zstd parquet output: at a
    * 100 TB lake the scan is IO-bound, so zstd's materially better
    * ratio at near-snappy speed means fewer bytes read AND stored —
    * Spark 4 bundles the codec, nothing to install.
    *
    * AQE initial partition count = 256 (the round-14 sf100 lesson): a
    * fixed `shuffle.partitions` is a CEILING — AQE can coalesce below
    * it but never split above it (skew-join splitting aside), so at
    * 1000x the oracle SF every multi-GB shuffle was crammed into 32
    * reducers, hash-agg/sort buffers blew execution memory, and q107
    * went 23.7x for 10x data on 13 GB of spill. A high initial count
    * with `parallelismFirst` (Spark's default) keeps small-SF behavior
    * unchanged — AQE coalesces back to the default parallelism, never
    * below it — while big shuffles keep up to 256 reducers and stay
    * in memory. On a real cluster this scales with executor count;
    * 256 is the right headroom for one 32-core node. */
  private val Confs = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "256")

  /** Applies the shared tuning to any builder. */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b.config(Confs)

  /** Local development/test session: `local[cores]`, shuffle partitions
    * = cores, UI off.
    *
    * If the JVM already has a SparkSession, the master/core count CANNOT
    * change; rather than silently mutating the host application's
    * session confs (getOrCreate's behavior), this clones a sibling via
    * `newSession()` — same SparkContext, its OWN SQLConf and function
    * registry — and applies the graft settings to the clone only.
    */
  def local(cores: Int, appName: String = "graft"): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(existing) =>
        val s = existing.newSession()
        Confs.foreach { case (k, v) => s.conf.set(k, v) }
        s.conf.set("spark.sql.shuffle.partitions", cores.toString)
        GraftExtensions.install(s)
        s
      case None =>
        val spark = tune(SparkSession.builder()
            .master(s"local[$cores]")
            .appName(appName)
            .config("spark.sql.shuffle.partitions", cores.toString)
            .config("spark.ui.enabled", "false"))
          .getOrCreate()
        GraftExtensions.install(spark)
        spark
    }

  /** Cluster session: master/deploy come from spark-submit; only the
    * engine's own requirements are set here. */
  def cluster(appName: String = "graft"): SparkSession = {
    val spark = tune(SparkSession.builder().appName(appName)).getOrCreate()
    GraftExtensions.install(spark)
    spark
  }
}
