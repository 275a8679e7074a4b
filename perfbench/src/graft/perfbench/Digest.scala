package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-independent content digest of a DataFrame: the row count plus
  * the sums of the low and high 32-bit halves of `xxhash64` over every
  * output column. Consuming a result through this digest forces every
  * column to be computed (a `.count()` lets the optimizer prune columns,
  * and with them the kernels that produce them), while the split sums
  * stay exact in a LONG — no overflow under ANSI mode — and do not
  * depend on row order or partitioning. */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"$rows:$lo:$hi"
}

object Digest {

  private def hashOf(df: DataFrame, cols: Seq[String]): Column =
    xxhash64(cols.map(c => df.col(s"`$c`")): _*)

  private def aggs(h: Column): Seq[Column] = Seq(
    count(lit(1)),
    coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)),
    coalesce(sum(shiftright(h, 32)), lit(0L)))

  /** Run ONE action over `df` and return its digest together with the
    * values of `extra` aggregate columns evaluated in the same pass. */
  def withExtras(df: DataFrame, extra: Column*): (Digest, Row) = {
    val a = aggs(hashOf(df, df.columns.toSeq)) ++ extra
    val row = df.agg(a.head, a.tail: _*).head()
    (Digest(row.getLong(0), row.getLong(1), row.getLong(2)), row)
  }

  def of(df: DataFrame): Digest = withExtras(df)._1

  /** Digests of many result sets in one job: `df` carries a `group`
    * column naming the result set each row belongs to; the digest is
    * taken over every other column. Groups with no rows are absent. */
  def perGroup(df: DataFrame, group: String): Map[String, Digest] = {
    val cols = df.columns.filterNot(_ == group).toSeq
    val a = aggs(hashOf(df, cols))
    df.groupBy(df.col(group)).agg(a.head, a.tail: _*).collect()
      .map(r => r.get(0).toString -> Digest(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }
}

/** Summary statistics over measured samples. */
object Stats {

  /** Linear-interpolated quantile (the numpy default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val i = pos.toInt
    if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
