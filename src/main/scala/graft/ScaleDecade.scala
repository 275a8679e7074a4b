package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Evidence tool: synthesize a FOURTH fixture decade — an sf1-equivalent
  * corpus, 10× sf0.1 (~6M lineitem rows) — with foreign keys kept
  * consistent, so the full Verify + DuckDB gate and the bench/floor
  * audits can run one decade beyond the driver's largest fixture.
  *
  * Construction: ten copies of each fact table with every key column
  * offset by `copy × stride` where stride = max(key)+1 of the parent
  * table, the SAME stride applied to the key on both sides of each
  * relationship (c_custkey ↔ o_custkey, o_orderkey ↔ l_orderkey,
  * p_partkey ↔ l_partkey, s_suppkey ↔ l_suppkey; doc_id and vec_id
  * share ONE stride because q_hybrid_rrf equi-joins them). Fixed-
  * cardinality dims (region, nation) are NOT copied — real corpora
  * grow facts, not countries — and non-key attributes are unchanged,
  * so the value distributions per copy are the sf0.1 distributions.
  *
  * Two deliberate artifacts of the copy construction, both fine for
  * what the decade is used for (same-corpus engine-vs-oracle compare
  * and cross-decade growth curves): attribute strings that embed the
  * source key (c_name etc.) repeat across copies with different keys,
  * and every document gains nine byte-identical twins — the exact-dedup
  * operators see a duplication-rich corpus (the near-dup analog of the
  * r15c dup10 audit, which perturbed copies to near-duplicates
  * instead).
  *
  * `sbt "runMain graft.ScaleDecade /root/testdata/sf0.1 /tmp/sf1"`
  * publishes atomically via [[api.buildOnce]] (re-runs are free), then
  * Verify/Bench/Audit take the dest dir as sfDir.
  */
object ScaleDecade {

  private val Copies = 10

  /** key column → stride source: (table owning the key, key column). */
  private val keyParents: Map[String, (String, String)] = Map(
    "c_custkey" -> ("customer", "c_custkey"),
    "o_custkey" -> ("customer", "c_custkey"),
    "o_orderkey" -> ("orders", "o_orderkey"),
    "l_orderkey" -> ("orders", "o_orderkey"),
    "p_partkey" -> ("part", "p_partkey"),
    "l_partkey" -> ("part", "p_partkey"),
    "s_suppkey" -> ("supplier", "s_suppkey"),
    "l_suppkey" -> ("supplier", "s_suppkey"),
    "event_id" -> ("events", "event_id"),
    "user_id" -> ("events", "user_id"),
    // documents and embeddings are id-aligned (q_hybrid_rrf joins
    // doc_id = vec_id): one shared stride keeps every copy aligned.
    "doc_id" -> ("docvec", ""),
    "vec_id" -> ("docvec", ""))

  private val factTables = Seq("customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
  private val dimTables = Seq("region", "nation")

  def build(spark: SparkSession, src: String, dest: String): String =
    api.buildOnce(dest, Some("_DECADE_READY")) { tmp =>
      val srcDf: Map[String, DataFrame] =
        (factTables ++ dimTables).map(t => t -> api.tbl(spark, src, t)).toMap
      def maxKey(table: String, col: String): Long =
        srcDf(table).agg(max(expr(s"cast($col as bigint)"))).head.getLong(0)
      val docvecStride = math.max(
        maxKey("documents", "doc_id"), maxKey("embeddings", "vec_id")) + 1L
      val stride: Map[String, Long] = keyParents.map {
        case (k, ("docvec", _)) => k -> docvecStride
        case (k, (t, c)) => k -> (maxKey(t, c) + 1L)
      }
      for (t <- dimTables)
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(s"$tmp/$t.parquet"),
          java.nio.file.Paths.get(s"$src/$t.parquet"))
      for (t <- factTables) {
        val base = srcDf(t)
        val keys = base.columns.filter(keyParents.contains)
        val copies = (0 until Copies).map { k =>
          keys.foldLeft(base) { (df, c) =>
            df.withColumn(c, col(c) + lit(k * stride(c)))
          }
        }
        copies.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/_DECADE_READY"),
        s"src=$src copies=$Copies\n".getBytes("UTF-8"))
      ()
    }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dest = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val spark = Tools.session(32)
    println(s"DECADE READY: ${build(spark, src, dest)}")
    spark.stop()
  }
}

/** Builder of the DUPLICATION-decade corpus — documents and embeddings
  * replicated 10× with offset ids, each text copy carrying one extra
  * per-copy token so the copies are NEAR duplicates (full shingle
  * overlap, not byte-equal); every other table symlinked unchanged.
  * This is deliberately the adversarial axis for near-dedup: corpus ×10
  * AND every document gains 9 near-copies, so candidate-pair volume
  * must grow quadratically in cluster size — `Audit <destDir> @dup`
  * then measures how the bucketed pipeline absorbs it (SCALE.md r15c).
  *
  *   sbt "runMain graft.ScaleDup10 <srcSfDir> <destDir>"
  */
object ScaleDup10 {

  private def buildDup10(spark: SparkSession, src: String, dest: String): Unit = {
    val destDir = new java.io.File(dest)
    destDir.mkdirs()
    val tables = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted
    for (t <- tables) {
      val out = new java.io.File(destDir, t)
      if (t == "documents.parquet" || t == "embeddings.parquet") {
        val base = spark.read.parquet(s"$src/$t")
        val idCol = if (t.startsWith("documents")) "doc_id" else "vec_id"
        // copy stride derived from the data, not a fixed constant: a
        // fixed 1e6 would silently collide ids once the base corpus
        // reaches 1M rows, corrupting every id-keyed join in the audit
        val stride = base.agg(max(col(idCol))).head.getLong(0) + 1L
        val copies = (0 until 10).map { k =>
          val c = base.withColumn(idCol, col(idCol) + lit(k * stride))
          if (t.startsWith("documents") && k > 0)
            c.withColumn("text", concat(col("text"), lit(s" copytok$k")))
          else c
        }
        copies.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(out.toString)
      } else if (!out.exists()) {
        java.nio.file.Files.createSymbolicLink(
          out.toPath, java.nio.file.Paths.get(s"$src/$t"))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.ScaleDup10 <srcSfDir> <destDir>")
    val Array(src, dest) = args
    val spark = Tools.session(32)
    buildDup10(spark, src, dest)
    println(s"DUP10 READY: $dest")
    spark.stop()
  }
}
