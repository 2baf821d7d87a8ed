package graft

/** Plan audit (test scope): prints the formatted physical plan for
  * selected registry queries and flags the markers that matter at scale
  * (filter pushdown, read-schema pruning, broadcast vs shuffle joins,
  * whole-stage codegen coverage).
  * Run: sbt "Test/runMain graft.ExplainAudit <sfDir> [query...]" */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q1_agg", "q2_filter", "q26_join_revenue", "q27_join_topn",
        "q11_numeric_stats", "q20_ann_topk")
    val s = GraftSession.local(8)
    // audit the STATIC plan: AQE's wrapper hides codegen spans (and
    // re-plans joins) before execution, so turn it off here — prod
    // sessions keep it on
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(s, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(s"\n===== $n =====")
      println(plan)
      val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(plan).toSeq
      val reads = "ReadSchema: [^\n]+".r.findAllIn(plan).toSeq
      println(s"--- markers: broadcastJoins=${plan.split("BroadcastHashJoin").length - 1}" +
        s" smJoins=${plan.split("SortMergeJoin").length - 1}" +
        s" exchanges=${plan.split("Exchange").length - 1}" +
        // formatted mode carries no codegen markers, and under AQE the
        // pre-execution plan has no *(n) spans either — ask codegen
        // explain mode, whose header states the subtree count
        s" codegenSpans=${
          "Found (\\d+) WholeStageCodegen subtrees".r
            .findFirstMatchIn(df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("codegen")))
            .map(_.group(1)).getOrElse("?")}")
      pushed.foreach(p => println(s"--- $p"))
      reads.foreach(r => println(s"--- $r"))
    }
    s.stop()
  }
}
