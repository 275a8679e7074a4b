package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs, a reference computed through a
  * second path, and a pass that every repetition runs identically. */
trait Workload {
  def name: String

  /** The module layer whose public functions the workload's operations
    * call (`gvcf`, `store`, `dedup`). */
  def layer: String

  /** Generate the seeded inputs and write them under `dir`. Timed and
    * repeated by [[Main]]; the last call's inputs are the ones used. */
  def setup(dir: java.nio.file.Path): Unit

  /** Compute the reference results every pass is checked against. */
  def reference(): Unit

  /** Reference digests by check name; [[Main]] corrupts one on request
    * to prove that a mismatch is caught. */
  def refs: mutable.Map[String, Digest]

  /** Untimed passes before timing starts. The first passes of a fresh
    * JVM pay class loading, code generation and JIT compilation; how
    * many it takes to come near a steady pass differs by workload. */
  def warmupPasses: Int

  /** One closed-loop pass over the same state doing the same work. */
  def pass(r: Recorder): Unit

  /** Stated input sizes, for the run's output. */
  def sizes: Seq[(String, Long)]

  /** Choices the program made on this workload (e.g. the format an
    * `*Auto` call admitted), recorded in the output. */
  def decisions: collection.Map[String, String] = Map.empty
}

object Workload {
  val Names = Seq("joint_call", "store_churn", "corpus_dedup")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "joint_call" => new JointCall(spark, seed)
    case "store_churn" => new StoreChurn(spark, seed)
    case "corpus_dedup" => new CorpusDedup(spark, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }
}

/** Collects what one pass measured: latency samples of its operations,
  * throughput samples, and the attempted/failed operation counts. */
final class Recorder(val tracer: Tracer) {
  val latencyMs = mutable.ArrayBuffer[Double]()
  val throughput = mutable.ArrayBuffer[Double]()
  val failures = mutable.ArrayBuffer[String]()
  var attempted = 0L

  /** Run one operation: time it, attribute it to a span of `layer`, and
    * count it failed when it throws or its check returns false.
    * `latency` operations contribute a latency sample. Returns the
    * operation's wall time in seconds. */
  def op(name: String, layer: String, latency: Boolean = true)(body: => Boolean): Double = {
    attempted += 1
    val t0 = System.nanoTime()
    val ok = try tracer.span(name, layer, op = true)(body) catch {
      case e: Exception =>
        System.err.println(s"perfbench: operation $name failed: $e")
        false
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (!ok) failures += name
    if (latency) latencyMs += sec * 1e3
    sec
  }

  /** Query construction: the builder call that returns a lazy plan. */
  def build[T](body: => T): T = tracer.span("build", "build")(body)

  /** Execution: the action that consumes the whole result. */
  def action[T](body: => T): T = tracer.span("action", "action")(body)
}
