package graft

import java.io.File

import scala.io.Source

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** The tool mains' shared plumbing: the listener drain is exact without
  * polling or sleeping, and the session/listener sprawl it replaced
  * cannot grow back unnoticed. */
class ToolsSpec extends SparkSpec {

  test("Counters.drain sees every task and shuffle record of the action just run") {
    // AQE off and fixed partition counts: 7 range tasks round-robin
    // 10,000 rows into 5 partitions, each reduces to one partial count,
    // and one task sums the 5 partials — 1 job, 3 stages, 13 tasks,
    // 10,005 shuffle records, on every run
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // a slow listener ahead of the counters on the shared bus queue
    // stands in for a loaded host: each task-end reaches the counters
    // only after it, so reading without the drain's wait would come
    // up short
    val slow = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Thread.sleep(5)
    }
    spark.sparkContext.addSparkListener(slow)
    val counters = Tools.counters(spark)
    try {
      counters.drain() // discard events of earlier suites
      for (run <- 1 to 20) {
        assert(spark.range(0, 10000, 1, 7).repartition(5).count() == 10000L)
        val c = counters.drain()
        assert((c.jobs, c.stages, c.tasks, c.shuffleRecords) == (1L, 3L, 13L, 10005L),
          s"run $run: $c")
        assert(c.taskDurations.size == 13 && c.stageInfos.size == 3, s"run $run: $c")
      }
      val idle = counters.drain()
      assert(idle.tasks == 0L && idle.jobs == 0L, s"drain must reset: $idle")
    } finally {
      spark.sparkContext.removeSparkListener(counters)
      spark.sparkContext.removeSparkListener(slow)
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  private def mainSources(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val root = new File(dir)
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    walk(root)
  }

  /** (file name, trimmed line) of every main-source line under `dir`
    * containing `token`. */
  private def uses(token: String, dir: String = "src/main/scala"): Seq[(String, String)] =
    mainSources(dir).flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.contains(token)).map(l => (f.getName, l.trim)).toList
      finally src.close()
    }

  test("SparkSession.builder appears only in Bench, Verify and Tools.session") {
    val files = uses("SparkSession.builder").map(_._1)
    assert(files.sorted == Seq("Bench.scala", "Tools.scala", "Verify.scala"),
      s"build tool sessions with graft.Tools.session: $files")
  }

  test("Tools.counters appears only in Audit: one measurement loop") {
    val files = uses("Tools.counters(").map(_._1).distinct
    assert(files == Seq("Audit.scala"),
      s"measure through graft.Audit.measure / runAll: $files")
  }

  test("Thread.sleep appears only in the buildOnce heal-wait") {
    val sleeps = uses("Thread.sleep")
    assert(sleeps == Seq(("api.scala", "Thread.sleep(100); waited += 100")),
      s"drain listeners with Tools.Counters.drain, not a sleep: $sleeps")
  }

  test("doGenCode appears in graft.functions only in the generic KernelCall") {
    // a kernel is a static function plus one Kernel declaration; a
    // hand-written eval + doGenCode pair per kernel must not grow back
    val gens = uses("doGenCode", "src/main/scala/graft/functions")
    assert(gens == Seq(("Kernel.scala",
      "override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {")),
      s"declare kernels with graft.functions.Kernel: $gens")
  }

  test("createSymbolicLink appears only in Corpus: one corpus builder") {
    val files = uses("createSymbolicLink").map(_._1).distinct
    assert(files == Seq("Corpus.scala"), s"derive corpora with graft.Corpus.build: $files")
  }

  test("the wide cohort's alt-allele formula appears only in Gvcf: one cohort generator") {
    val files = uses("(j + 1 + k % 3) % 4").map(_._1).distinct
    assert(files == Seq("Gvcf.scala"),
      s"derive wide cohorts from graft.ops.Gvcf.syntheticVariantsWide: $files")
  }

  test("the merged-alts window appears once in src/main: one merged site header") {
    val hits = uses("GvcfExpressions.mergedAlts(")
    assert(hits.map(_._1) == Seq("Gvcf.scala"),
      s"build the merged site header with Gvcf.mergedCalls: $hits")
  }

  test("the combine-chain CTE appears once in Gvcf: one CombineGVCFs oracle") {
    val hits = uses("list_position(m.calts").filter(_._1 == "Gvcf.scala")
    assert(hits.size == 1, s"build combine oracles on Gvcf.duckCombineChain: $hits")
  }

  test("no file under ops reads java.io.tmpdir itself") {
    val files = uses("java.io.tmpdir", "src/main/scala/graft/ops").map(_._1).distinct
    assert(files.isEmpty, s"name scratch paths with api.scratchPath or api.outputPath: $files")
  }

  test("no Scaladoc block is directly followed by another") {
    // the first of two stacked blocks documents nothing
    val stacked = mainSources("src/main/scala").flatMap { f =>
      val src = Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().map(_.trim).toList finally src.close()
      lines.zip(lines.drop(1)).zipWithIndex.collect {
        case ((a, b), i) if a.endsWith("*/") && b.startsWith("/**") => s"${f.getName}:${i + 2}"
      }
    }
    assert(stacked.isEmpty, s"move each block onto its definition: $stacked")
  }
}
