package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The repo benchmark: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Main --workload <joint_call|store_churn|corpus_dedup> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> [--corrupt-reference]
  * }}}
  *
  * Set-up generates the seeded inputs [[SetupRepeats]] times (its median
  * is `setup_s`), the reference results are computed once through a
  * second path, the workload's untimed warm-up passes warm the JIT and
  * caches, then passes run back to back until `--seconds` have elapsed.
  * Before every pass, outside its timing, cached data is cleared and a GC
  * is forced; the heap still in use then is the live-heap sample. Every
  * operation is checked; a failed or mismatched one counts in `failed`
  * and makes the run exit 1.
  *
  * A sampler thread measures the host's speed for the whole run
  * ([[HostSpeed]]); the set-up times are scaled to the nominal host by the
  * speed measured during set-up, the timed passes' by the speed measured
  * while they ran, and their wall values are on the detail line.
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` alternates
  * untraced and traced passes, prints the per-layer metrics of the
  * traced ones plus the tracing overhead, and writes every span to
  * `<work>/trace.json`. The last stdout line is the result object. */
object Main {
  val SetupRepeats = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: java.nio.file.Path, corrupt: Boolean)

  def parse(args: Array[String]): Args = {
    val m = mutable.Map[String, String]()
    var corrupt = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--corrupt-reference" => corrupt = true; i += 1
        case k if k.startsWith("--") && i + 1 < args.length => m(k.drop(2)) = args(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
      }
    }
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", java.nio.file.Paths.get(need("work")), corrupt)
  }

  /** What one timed pass left behind. */
  final case class PassRecord(index: Int, traced: Boolean, wallMs: Double,
      rec: Recorder, codegen: Codegen.Delta)

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** One local-mode session, one slot per core, scratch under `work`. */
  def session(work: java.nio.file.Path): SparkSession = {
    java.nio.file.Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the UI is off; keep its status history from growing the heap with
      // every pass, so live_heap_mb reflects the program, not run length
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.work)
    HostSpeed.start()
    val ok = try run(a, spark) finally { HostSpeed.stop(); spark.stop() }
    if (!ok) sys.exit(1)
  }

  private def run(a: Args, spark: SparkSession): Boolean = {
    val wl = Workload(a.workload, spark, a.seed)
    val tracer = new Tracer(spark, a.trace)
    val start = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"perfbench: ${(System.nanoTime() - start) / 1e9}%.1f s: $what")

    val setupStart = System.nanoTime()
    val setupSec = (0 until SetupRepeats).map { i =>
      val dir = a.work.resolve(s"input-$i")
      StoreChurn.deleteTree(dir.toFile)
      val t0 = System.nanoTime()
      wl.setup(dir)
      (System.nanoTime() - t0) / 1e9
    }
    val setupKernelMs = HostSpeed.kernelMs(setupStart, System.nanoTime())
    phase("set-up done")
    val t0 = System.nanoTime()
    wl.reference()
    val referenceSec = (System.nanoTime() - t0) / 1e9
    if (a.corrupt) {
      val k = wl.refs.keys.toSeq.sorted.head
      wl.refs(k) = wl.refs(k).copy(rows = wl.refs(k).rows + 1)
    }

    phase("reference done")
    val warm = Seq.fill(wl.warmupPasses) {
      spark.catalog.clearCache()
      val r = new Recorder(tracer)
      wl.pass(r)
      r
    }
    phase("warm-up passes done")

    val heapMb = mutable.ArrayBuffer[Double]()
    val passes = mutable.ArrayBuffer[PassRecord]()
    val minPasses = if (a.trace) 4 else 2
    val timedStart = System.nanoTime()
    val deadline = timedStart + (a.seconds * 1e9).toLong
    while (passes.size < minPasses || System.nanoTime() < deadline) {
      heapMb += liveHeapMb(spark)
      val traced = a.trace && passes.size % 2 == 1
      tracer.enabled = traced
      tracer.startPass(passes.size)
      val rec = new Recorder(tracer)
      val cg = Codegen.snapshot()
      val p0 = System.nanoTime()
      wl.pass(rec)
      val wallMs = (System.nanoTime() - p0) / 1e6
      tracer.enabled = false
      passes += PassRecord(passes.size, traced, wallMs, rec, Codegen.snapshot().minus(cg))
    }
    val timedKernelMs = HostSpeed.kernelMs(timedStart, System.nanoTime())
    heapMb += liveHeapMb(spark)
    phase(s"${passes.size} timed passes done")

    val all = warm ++ passes.map(_.rec)
    val attempted = all.map(_.attempted).sum
    val failures = all.flatMap(_.failures)
    val timed = passes.filterNot(_.traced).map(_.rec)
    val lat = timed.flatMap(_.latencyMs).toSeq
    val thr = timed.flatMap(_.throughput).toSeq
    // the end-to-end times, scaled to the nominal host (see HostSpeed)
    val setupScaled = setupSec.map(_ * HostSpeed.NominalMs / setupKernelMs)
    val latScaled = lat.map(_ * HostSpeed.NominalMs / timedKernelMs)
    val thrScaled = thr.map(_ * timedKernelMs / HostSpeed.NominalMs)
    val p90 = Stats.quantile(latScaled, 0.9)

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", Stats.median(setupScaled), "s"),
        ("live_heap_mb", heapMb.max, "MB"),
        ("op_ms_p50", Stats.median(latScaled), "ms"),
        ("items_per_s", Stats.median(thrScaled), "1/s"))
      else {
        val traced = passes.filter(_.traced).toSeq
        val untraced = passes.filterNot(_.traced).toSeq
        val overhead = 100.0 * (Stats.median(traced.map(_.wallMs)) /
          Stats.median(untraced.map(_.wallMs)) - 1.0)
        val recall = wl match {
          case c: CorpusDedup => Stats.median(c.recall.toSeq)
          case _ => 0.0
        }
        Layers.metrics(wl.layer, traced, tracer, cores, recall) :+
          (("trace.tracing_overhead_pct", overhead, "%"))
      }

    val layers =
      if (a.trace) Layers.selfAndWait(passes.filter(_.traced).toSeq, tracer) else Json.obj()
    val detail = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> cores, "passes" -> passes.size,
      "traced_passes" -> passes.count(_.traced),
      "input_sizes" -> Json.obj(wl.sizes: _*),
      "setup_s_samples" -> setupScaled, "reference_s" -> referenceSec,
      "pass_ms" -> passes.map(_.wallMs), "op_ms_p90" -> p90,
      "host_kernel_ms" -> Json.obj("setup" -> setupKernelMs, "timed" -> timedKernelMs),
      "wall" -> Json.obj(
        "setup_s" -> Stats.median(setupSec), "setup_s_samples" -> setupSec,
        "op_ms_p50" -> Stats.median(lat), "op_ms_p90" -> Stats.quantile(lat, 0.9),
        "items_per_s" -> Stats.median(thr)),
      "samples" -> Json.obj(
        "setup_s" -> setupSec.size, "live_heap_mb" -> heapMb.size,
        "op_ms" -> lat.size,
        "op_ms_beyond_p90" -> latScaled.count(_ > p90),
        "items_per_s" -> thr.size),
      "error_rate" -> failures.size.toDouble / attempted,
      "failures" -> failures.distinct.take(20),
      "decisions" -> Json.obj(wl.decisions.toSeq: _*),
      "layers" -> layers)
    println(Json.render(detail))
    if (a.trace) {
      val file = a.work.resolve("trace.json")
      java.nio.file.Files.write(file, Json.render(Json.obj(
        "detail" -> detail,
        "spans" -> Layers.spanTable(tracer))).getBytes("UTF-8"))
    }
    println(Json.render(Json.obj(
      "correct" -> failures.isEmpty,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> v, "unit" -> u) }: _*))))
    failures.isEmpty
  }

  /** Heap still in use after a forced full collection, in MB. */
  private def liveHeapMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    // the first collection lets Spark's context cleaner drop the blocks of
    // unreachable broadcasts and shuffles; the second reclaims them
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The class-loading run behind the build's class-data-sharing archive:
  * set-up, reference and one traced pass of every workload on a small
  * seed, results discarded. `Train <work dir>` */
object Train {
  def main(argv: Array[String]): Unit = {
    val work = java.nio.file.Paths.get(argv(0))
    val spark = Main.session(work)
    try for (name <- Workload.Names) {
      val wl = Workload(name, spark, 1L)
      wl.setup(work.resolve(name))
      wl.reference()
      val tracer = new Tracer(spark, active = true)
      tracer.enabled = true
      wl.pass(new Recorder(tracer))
    } finally spark.stop()
  }
}

/** Spark's code-generation counters, read from outside the engine. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  final case class Delta(compiles: Long, compileNs: Long, sourceBytes: Double) {
    def minus(o: Delta): Delta =
      Delta(compiles - o.compiles, compileNs - o.compileNs, sourceBytes - o.sourceBytes)
  }

  /** Cumulative counters now. The source size is the sum of the size
    * histogram's retained samples, exact while the JVM has compiled fewer
    * classes than the histogram's reservoir holds (1028). */
  def snapshot(): Delta = Delta(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot.getValues.map(_.toDouble).sum)
}
