package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call the benchmark makes into a layer. */
final case class Span(id: Int, parent: Int, pass: Int, name: String, layer: String,
    startNs: Long, var endNs: Long = 0L)

/** Span recorder plus the listener counts attributed to spans.
  *
  * Spans are recorded around the benchmark's own calls (builder call,
  * action, store read/save/compaction). While a span is open its id is
  * the thread's `perfbench.span` local property, so every job it submits
  * — and every stage and task of that job — is attributed to it by the
  * Spark listener. Query-execution events carry no local properties; the
  * listener bus is drained when an operation's span closes and every
  * query execution that finished inside it is attributed to it. All of
  * it stays in memory; [[Main]] writes it out when the run ends.
  *
  * Disabled (`enabled = false`), `span` is a plain call: end-to-end
  * passes run untraced. An inactive tracer registers no listeners and
  * is never enabled. */
final class Tracer(spark: SparkSession, val active: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  /** Per-span counters, keyed by span id then counter name. */
  val counters = mutable.Map[Int, mutable.Map[String, Double]]()
  /** Per-span (start, end) wall intervals of the jobs the span submitted. */
  val jobIntervals = mutable.Map[Int, mutable.ArrayBuffer[(Long, Long)]]()
  var enabled = false
  private var pass = -1
  private var stack = List.empty[Span]

  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()

  def startPass(id: Int): Unit =
    if (active) { drain(); executions.clear(); pass = id }

  def add(span: Int, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(span, mutable.Map.empty)
    m(key) = m.getOrElse(key, 0.0) + v
  }

  def max(span: Int, key: String, v: Double): Unit = synchronized {
    val m = counters.getOrElseUpdate(span, mutable.Map.empty)
    m(key) = math.max(m.getOrElse(key, 0.0), v)
  }

  /** Add to a counter of the innermost open span (no-op untraced). */
  def note(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => add(s.id, key, v))

  /** Raise a counter of the innermost open span to at least `v`. */
  def noteMax(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => max(s.id, key, v))

  /** Run `body` inside a span; `op` spans also collect the query
    * executions that finished inside them. */
  def span[T](name: String, layer: String, op: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = stack.headOption
      val s = Span(spans.size, parent.map(_.id).getOrElse(-1), pass, name, layer,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      if (op) { drain(); executions.clear() }
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
        if (op) {
          drain()
          var qe = executions.poll()
          while (qe != null) { recordExecution(s.id, qe); qe = executions.poll() }
        }
      }
    }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  private def recordExecution(span: Int, qe: QueryExecution): Unit = {
    add(span, "actions", 1)
    val phases = qe.tracker.phases
    for ((phase, key) <- Seq("analysis" -> "analysis_ms",
        "optimization" -> "optimizer_ms", "planning" -> "planning_ms"))
      add(span, key, phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0))
    val nodes = planNodes(qe.executedPlan)
    def metric(n: SparkPlan, name: String): Double =
      n.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
    add(span, "plan_operators", nodes.count {
      case _: WholeStageCodegenExec | _: InputAdapter | _: QueryStageExec => false
      case _ => true
    })
    nodes.foreach {
      case w: WholeStageCodegenExec if fused(w.child).exists(hasKernel) =>
        add(span, "kernel_wscg_ms", metric(w, "pipelineTime"))
      case s: SortExec => add(span, "sort_ms", metric(s, "sortTime"))
      case _: ShuffleExchangeExec => add(span, "exchanges", 1)
      case g: GenerateExec if g.generator.exists(_.prettyName.startsWith("graft_bucket_pairs")) =>
        add(span, "lsh_pair_rows", metric(g, "numOutputRows"))
      case f: FileSourceScanExec =>
        add(span, "files_read", metric(f, "numFiles"))
        add(span, "bytes_read", metric(f, "filesSize"))
        add(span, "rows_read", metric(f, "numOutputRows"))
        add(span, "scan_ms", metric(f, "scanTime"))
      case _ =>
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { id =>
        val span = id.toInt
        jobSpan.put(e.jobId, span)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, span))
        add(span, "jobs", 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { span =>
        Tracer.this.synchronized {
          jobIntervals.getOrElseUpdate(span, mutable.ArrayBuffer.empty) +=
            (jobStart.get(e.jobId) -> e.time)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(add(_, "stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        add(span, "tasks", 1)
        if (e.reason != org.apache.spark.Success) add(span, "failed_tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          add(span, "task_run_ms", m.executorRunTime.toDouble)
          add(span, "task_cpu_ms", m.executorCpuTime / 1e6)
          add(span, "gc_ms", m.jvmGCTime.toDouble)
          add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(span, "shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          add(span, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add(span, "shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add(span, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          max(span, "peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      executions.add(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (active) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Every physical operator of an executed (adaptive) plan, each once:
    * adaptive wrappers and query stages are unwrapped, a reused exchange
    * is counted where it was first planned. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case n => n +: (n.children ++ n.subqueries).flatMap(planNodes)
  }

  /** The operators fused into one whole-stage-codegen stage. */
  private def fused(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case n => n +: n.children.flatMap(fused)
  }

  /** True iff the operator evaluates one of the repo's `graft_*` kernels. */
  def hasKernel(n: SparkPlan): Boolean =
    n.expressions.exists(_.exists(_.prettyName.startsWith("graft_")))
}
