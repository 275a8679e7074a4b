package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.Query
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All operators are declared as [[graft.api.Query]] values in the ops
  * modules and surfaced here as the `queries`/`oracleSql` maps the driver
  * consumes (Verify.scala dumps results + oracle_sql.json; the driver
  * hash-compares against DuckDB at sf0.01).
  */
object SparkEntry {

  /** Every declared operator, in SURVEY.md §2 order. */
  def all: Seq[Query] =
    Relational.queries ++ Combine.queries ++ Pipeline.queries ++
      Similarity.queries ++ Dedup.queries ++ Extras.queries ++ Udaf.queries ++
      Sources.queries ++ Vcf.queries ++ Gvcf.queries ++ Codec.queries ++
      Sketches.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A4 `q_pivot_dense` — the reference's defining combine computation
    * (SURVEY.md §7.1). */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pivot_dense")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap
}
