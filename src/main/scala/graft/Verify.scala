package graft
import java.nio.file.{Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query-name substrings to run
    // (local iteration only; the driver always runs the full set)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // GraftSession.local: the engine's standard confs (UTC, nanos, zstd
    // output), so the correctness dumps are written the way the library
    // writes — not with a hand-copied subset of the settings
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // the oracles of the captured lines that ran, rendered from the
    // values each run computed
    val captured = scala.collection.mutable.Map.empty[String, String]
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try {
          val df = SparkEntry.capturedLines.get(name).fold(fn(spark, sfDir)) {
            line =>
              val (df, oracle) = line(spark, sfDir)
              captured(name) = oracle()
              df
          }
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    writeOracleJson(SparkEntry.oracleSql ++ captured,
      Paths.get(s"$outDir/oracle_sql.json"))
    spark.stop()
  }

  /** `name -> oracle SQL` as the JSON object the oracle compare reads
    * with `json.load`. Jackson escapes quotes, backslashes and every
    * control char: one bad escape in hand-written SQL would fail the
    * whole load and silently zero the correctness check. */
  def writeOracleJson(oracles: Map[String, String], path: Path): Unit = {
    val om = new ObjectMapper()
    val node = om.createObjectNode()
    oracles.foreach { case (name, sql) => node.put(name, sql) }
    om.writeValue(path.toFile, node)
  }
}
