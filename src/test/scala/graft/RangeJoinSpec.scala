package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.RangeJoinStrategy

/** The custom BroadcastRangeJoinExec vs Spark's own nested-loop plan:
  * identical results on overlapping/edge intervals, and the strategy
  * fires only where it is safe. */
class RangeJoinSpec extends SparkSpec {
  import spark.implicits._

  private def withStrategy[T](f: => T): T = {
    val before = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = before :+ RangeJoinStrategy(spark)
    try f
    finally spark.experimental.extraStrategies = before
  }

  private def probe: DataFrame =
    Seq(1L, 5L, 10L, 15L, 20L, 25L).toDF("pos")
  // overlapping, nested, and point intervals
  private def ivs: DataFrame = Seq(
    (1L, 0L, 10L), (2L, 5L, 6L), (3L, 5L, 30L), (4L, 20L, 20L), (5L, 26L, 40L)
  ).toDF("iv_id", "lo", "hi")

  private def joined(df: DataFrame): Seq[(Long, Long)] =
    df.select("pos", "iv_id").as[(Long, Long)].collect().toSeq.sorted

  test("native range join matches Spark's nested-loop join exactly") {
    val cond = $"pos" >= $"lo" && $"pos" <= $"hi"
    val expected = joined(probe.join(ivs, cond)) // BNLJ (no strategy)
    val (plan, actual) = withStrategy {
      val df = probe.join(ivs, cond)
      (df.queryExecution.executedPlan.toString, joined(df))
    }
    assert(plan.contains("BroadcastRangeJoin"), s"strategy did not fire:\n$plan")
    assert(actual == expected)
    assert(actual.size == 10) // hand-checked containment count
  }

  test("empty interval side and null positions produce no matches") {
    withStrategy {
      val empty = Seq.empty[(Long, Long, Long)].toDF("iv_id", "lo", "hi")
      assert(probe.join(empty, $"pos" >= $"lo" && $"pos" <= $"hi").count() == 0)
      val nulls = Seq(Some(5L), None).toDF("pos")
      assert(nulls.join(ivs, $"pos" >= $"lo" && $"pos" <= $"hi")
        .count() == 3) // pos=5 hits intervals 1,2,3; null row drops
    }
  }

  test("null interval bounds drop the row (inner-join semantics, no NPE)") {
    withStrategy {
      val withNulls = Seq(
        (1L, Some(1L), Some(10L)),
        (2L, None, Some(10L)),      // null lo — BETWEEN is null → no match
        (3L, Some(1L), None)        // null hi — same
      ).toDF("iv_id", "lo", "hi")
      val df = probe.join(withNulls, $"pos" >= $"lo" && $"pos" <= $"hi")
      assert(df.queryExecution.executedPlan.toString.contains("BroadcastRangeJoin"))
      // only interval 1 is usable; its matches are exactly the BNLJ result
      val expected = probe.join(withNulls.filter($"iv_id" === 1),
        $"pos" >= $"lo" && $"pos" <= $"hi").count()
      assert(df.count() == expected)
    }
  }

  test("repeated actions on one plan reuse the built broadcast") {
    withStrategy {
      import graft.plans.BroadcastRangeJoinExec
      val df = probe.join(ivs, $"pos" >= $"lo" && $"pos" <= $"hi")
      // collect() twice: both actions run the Dataset's CACHED
      // queryExecution, i.e. the same exec instance. (count() would NOT
      // reuse — it wraps the Dataset in a new aggregate plan each call,
      // so each count legitimately builds its own broadcast.)
      assert(df.collect().length == 10)
      assert(df.collect().length == 10)
      // Read the INSTANCE counter off this plan's own exec node — immune
      // to other suites triggering the strategy concurrently.
      val node = df.queryExecution.executedPlan.collectFirst {
        case b: BroadcastRangeJoinExec => b
      }.getOrElse(fail("no BroadcastRangeJoinExec in plan"))
      val builds = node.builds.get()
      assert(builds == 1, s"expected exactly one build-side broadcast, got $builds")
    }
  }

  test("strategy declines flipped orientation and non-long types") {
    withStrategy {
      // intervals on the LEFT → canonical orientation doesn't match; Spark plans it
      val p = ivs.join(probe, $"pos" >= $"lo" && $"pos" <= $"hi")
        .queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastRangeJoin"))
    }
  }
}
