package graft

/** Dev tool: EXECUTE named queries and print the FINAL adaptive physical
  * plan (the SQL-tab view) — the `explain()` of an unexecuted query
  * prints the initial `AdaptiveSparkPlan isFinalPlan=false` tree, which
  * hides AQE's runtime decisions (exchange/stage reuse, SMJ→BHJ flips,
  * coalesced reads), so any optimization judged from it can chase a
  * shuffle AQE already removed. Same session shape as Bench
  * (local[$SPARK_GRAFT_CPUS], shuffle.partitions=cpus) so the plan under
  * inspection is the plan the bench actually runs.
  * `sbt "runMain graft.ExplainFinal /root/testdata/sf0.1 q_lm_score ..."`
  */
object ExplainFinal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = Tools.session(Tools.envCpus)
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      // drive THIS QueryExecution's own adaptive plan (a .count() or
      // noop write would execute a different, wrapped QueryExecution and
      // leave this one's AdaptiveSparkPlan un-finalized)
      val qe = df.queryExecution
      qe.toRdd.count()
      println(s"==== $n @ $sfDir (final plan after execution)")
      println(qe.executedPlan.toString)
    }
    spark.stop()
  }
}
