package graft

/** Dev tool: run named queries (after a JIT warm run) and print per-STAGE
  * task-time / record counts for the warm execution, so "where does the
  * warm second go" is answered with data instead of plan guesses.
  * `sbt "runMain graft.StageTimer /root/testdata/sf0.1 q_x ..."` */
object StageTimer {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = Tools.session(32)
    val counters = Tools.counters(spark)
    for (n <- names) {
      try SparkEntry.queries(n)(spark, sfDir).count() catch { case _: Throwable => }
      counters.drain()
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val stages = counters.drain().stageInfos
      println(f"==== $n warm: $wall%.3f s ($rows rows)")
      for (si <- stages.sortBy(_.stageId)) {
        val m = si.taskMetrics
        val recs = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        println(f"  stage ${si.stageId}%5d run=${m.executorRunTime}%6d ms " +
          f"cpu=${m.executorCpuTime / 1000000L}%6d ms tasks=${si.numTasks}%3d " +
          f"recs=$recs%9d  ${si.name.split("\n")(0).take(60)}")
      }
    }
    spark.stop()
  }
}
