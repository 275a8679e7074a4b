package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSpark.spark
  override def beforeAll(): Unit = { spark.sparkContext.setLogLevel("ERROR"); super.beforeAll() }

  /** Physical-plan traversal that descends through the AQE wrappers
    * (AdaptiveSparkPlanExec / QueryStageExec / ReusedExchangeExec),
    * which hide their inner plans from plain `children`. Shared by every
    * plan-shape assertion so a Spark upgrade that adds a wrapper node
    * has exactly one place to teach. */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flattenPlan(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      flattenPlan(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      flattenPlan(r.child)
    case other => other.children.flatMap(flattenPlan)
  })

  /** Runs `body` twice: under `spark.sql.codegen.factoryMode`
    * `CODEGEN_ONLY` (generated code only) and under `NO_CODEGEN`
    * (interpreted `eval` only, whole-stage codegen off too). Both legs
    * exclude `ConvertToLocalRelation`: a projection over a local `Seq`
    * would otherwise be evaluated at plan time with interpreted `eval`,
    * so the codegen leg would never reach generated code. On the codegen
    * leg at least one query `body` runs must execute `kernel` inside a
    * whole-stage-codegen stage; on the interpreted leg none may run a
    * whole-stage-codegen stage at all. */
  def onBothEvalPaths(kernel: String)(body: => Unit): Unit = {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    def stage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case n => n +: n.children.flatMap(stage)
    }
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      spark.listenerManager.register(listener)
      try {
        withClue(s"[$mode] ")(body)
        org.apache.spark.sql.graftbridge.ListenerBusBridge.waitUntilEmpty(spark.sparkContext)
      } finally {
        spark.listenerManager.unregister(listener)
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.optimizer.excludedRules")
      }
      import scala.jdk.CollectionConverters._
      val stages = plans.asScala.toSeq.flatMap(flattenPlan).collect {
        case w: WholeStageCodegenExec => w
      }
      if (mode == "CODEGEN_ONLY")
        assert(stages.exists(w => stage(w.child).exists(
            _.expressions.exists(_.exists(_.prettyName == kernel)))),
          s"no whole-stage-codegen stage ran $kernel")
      else assert(stages.isEmpty, s"NO_CODEGEN leg still ran generated stages")
    }
  }
}
