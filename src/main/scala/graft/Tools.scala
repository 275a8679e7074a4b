package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** Shared plumbing of the tool mains (audits, probes, plan dumps): ONE
  * session builder and ONE metrics listener. `Bench` and `Verify` keep
  * their own sessions: their conf and output format are frozen.
  *
  * Extra Spark confs for any tool run go through `-Dspark.*` JVM options
  * (`run / javaOptions` in build.sbt): Spark loads `spark.*` system
  * properties as defaults, so an A/B of a conf is a JVM flag, not a code
  * edit. */
object Tools {

  /** A local session with `cpus` task slots and as many shuffle
    * partitions, [[GraftExtensions]] loaded and the UI off. `confs` go
    * in before the session exists, so static confs
    * (`spark.memory.fraction`) work too. */
  def session(cpus: Int, confs: Map[String, String] = Map.empty,
      logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** `$SPARK_GRAFT_CPUS`, else 32: the slot count of the tools that run
    * the bench's session shape. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** `v` with `digits` decimals in the ROOT locale, or `null` for NaN
    * and ±∞, so a record stays valid JSON. */
  def num(v: Double, digits: Int = 1): String =
    if (v.isNaN || v.isInfinite) "null"
    else String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Writes one JSON record (plus a newline) to `out`, then prints it. */
  def writeRecord(out: String, json: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
  }

  /** What arrived between two [[Counters.drain]] calls. Bytes and
    * records are summed task metrics; `taskDurations` is one
    * (stageId, wall ms) per task, `stageInfos` one entry per completed
    * stage. */
  final case class Counts(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
      inputBytes: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
      shuffleRecords: Long, spillBytes: Long,
      taskDurations: Seq[(Int, Long)], stageInfos: Seq[StageInfo])

  /** Register a [[Counters]] listener on the session. */
  def counters(spark: SparkSession): Counters = {
    val c = new Counters(spark)
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Job, stage and task counters over the listener bus. The scheduler
    * posts every task-end, stage-completed and job-end event of a job
    * BEFORE the action that ran it returns, so `drain()` right after an
    * action waits for the bus to deliver them and sees the job whole —
    * no polling, no sleep. Each drain returns the counts since the
    * previous one: drain once before the measured action to discard
    * warm-up events, once after to read it. */
  final class Counters private[Tools] (spark: SparkSession) extends SparkListener {
    private val jobs, stages, tasks, taskMs, input, shuffleWrite,
      shuffleRead, shuffleRecords, spill = new LongAdder
    private val taskLog = new ConcurrentLinkedQueue[(Int, Long)]
    private val stageLog = new ConcurrentLinkedQueue[StageInfo]

    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.increment()
      stageLog.add(s.stageInfo)
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      if (t.taskInfo != null) taskLog.add((t.stageId, t.taskInfo.duration))
      val m = t.taskMetrics
      if (m != null) {
        taskMs.add(m.executorRunTime)
        input.add(m.inputMetrics.bytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleRecords.add(m.shuffleWriteMetrics.recordsWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

    def drain(): Counts = {
      ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] =
        Iterator.continually(q.poll()).takeWhile(_ != null).toSeq
      Counts(jobs.sumThenReset(), stages.sumThenReset(), tasks.sumThenReset(),
        taskMs.sumThenReset(), input.sumThenReset(), shuffleWrite.sumThenReset(),
        shuffleRead.sumThenReset(), shuffleRecords.sumThenReset(),
        spill.sumThenReset(), take(taskLog), take(stageLog))
    }
  }
}
