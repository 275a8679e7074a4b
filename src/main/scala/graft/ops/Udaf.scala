package graft.ops

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** One sparse cell of the dense combine: (qualifier, payload) ≙ the
  * reference's (sample index, variant record). */
case class Cell(line: Int, cents: Long)

/** Aggregation buffer: the accumulated sparse cells for one key. */
case class CellBuf(cells: List[Cell])

/** The reference's `VariantCombiner.combine(pos, List<V>)` as a typed
  * Spark Aggregator (SURVEY §2D): per key, accumulate the sparse cells
  * and emit the dense, deterministically-ordered merge. The buffer is
  * bounded by the per-key cell count (lines per order ≙ samples per
  * position — the same wide-row bound the reference lives with), and the
  * final sort makes the result independent of partial-merge order, so
  * partial aggregation stays enabled (map-side combine at 100 TB).
  */
object DenseCombine extends Aggregator[Cell, CellBuf, String] {
  override def zero: CellBuf = CellBuf(Nil)
  override def reduce(buf: CellBuf, c: Cell): CellBuf = CellBuf(c :: buf.cells)
  override def merge(a: CellBuf, b: CellBuf): CellBuf = CellBuf(a.cells ::: b.cells)
  override def finish(buf: CellBuf): String =
    buf.cells.sortBy(c => (c.line, c.cents))
      .map(c => s"${c.line}:${c.cents}")
      .mkString(",")
  override def bufferEncoder: Encoder[CellBuf] = Encoders.product[CellBuf]
  override def outputEncoder: Encoder[String] = Encoders.STRING
}

object Udaf {
  import graft.api._
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  /** A4 via the custom-aggregation path: identical semantics to
    * q_pivot_dense's sorted-collect plan, expressed as the reference's
    * combiner interface. The shared oracle proves the two physical
    * strategies (ObjectHashAggregate over a typed buffer vs sorted
    * collect_list) agree exactly. */
  val combineUdaf = Query(
    "q_combine_udaf",
    """SELECT l_orderkey,
      |  array_to_string(list(concat(CAST(l_linenumber AS VARCHAR), ':',
      |      CAST(CAST(CAST(l_quantity AS DECIMAL(18,4)) * 100 AS BIGINT) AS VARCHAR))
      |    ORDER BY l_linenumber,
      |             CAST(CAST(l_quantity AS DECIMAL(18,4)) * 100 AS BIGINT)), ',') AS combined
      |FROM lineitem
      |GROUP BY l_orderkey
      |ORDER BY l_orderkey
      |LIMIT 2000""".stripMargin) { (s, d) =>
    val combine = udaf(DenseCombine)
    tbl(s, d, "lineitem")
      .select(col("l_orderkey"),
        col("l_linenumber").as("line"),
        (dec("l_quantity") * 100).cast(LongType).as("cents"))
      .groupBy("l_orderkey")
      .agg(combine(col("line"), col("cents")).as("combined"))
      .orderBy("l_orderkey")
      .limit(2000)
  }

  val queries: Seq[Query] = Seq(combineUdaf)
}
