package graft

import org.apache.spark.sql.SparkSession

/** Evidence tool: measure the SHUFFLE ECONOMY of the heavy queries — per
  * query, bytes exchanged through shuffles, bytes spilled, tasks run —
  * so the 100 TB scale claims ("dedup shuffles fixed-width signatures,
  * never the corpus"; "the probe side broadcasts, the corpus never
  * moves"; "candidate generation is bucketed, never all-pairs") are
  * backed by measured numbers, not plan reading alone.
  *
  * `sbt "runMain graft.ShuffleAudit /root/testdata/sf0.1 [q_name ...]"`
  * `sbt "runMain graft.ShuffleAudit dup10 <srcSfDir> <destDir>"` first
  * synthesizes the duplication-decade corpus at destDir (see
  * [[buildDup10]]) and audits the corpus-operator subset over it.
  *
  * The decisive signal is CROSS-SCALE GROWTH, not a single absolute
  * number: run this at sf0.01 and sf0.1 and compare SHUFFLE_AUDIT.json
  * pairs. On the 10× data step a linear plan shuffles ~10× the bytes, a
  * broadcast-probe plan stays ~flat, and an accidental all-pairs plan
  * would show ~100× — the blowup this tool exists to catch. Absolute
  * per-row shuffle bytes are the row-width constant (signature/digest
  * size), independent of document length by construction.
  *
  * Each query runs once un-timed (warm codegen + build-once fixtures)
  * and once measured. Task metrics are summed by [[Tools.Counters]],
  * drained after each pass. Output: one JSON line per
  * query on stdout and the full map in SHUFFLE_AUDIT.json (snapshot it
  * per sf before re-running — the file is overwritten).
  */
object ShuffleAudit {

  /** The default audit set: every query whose 100 TB story depends on a
    * shuffle-volume claim (dedup/similarity/decontamination corpus ops,
    * the wide gVCF cohort, the salted-skew pair), plus q_sorted_write as
    * the deliberate data-bound contrast (its shuffle IS the operator). */
  private val DefaultSet = Seq(
    "q_dedup_exact", "q_dedup_near", "q_dedup_ngram", "q_dedup_simhash",
    "q_corpus_clean", "q_dedup_embed", "q_decontaminate",
    "q_similarity_topk", "q_ann_ivf", "q_knn_classify",
    "q_feature_hash", "q_inverted_index", "q_token_entropy",
    "q_combine_wide", "q_genotype_wide",
    "q_join_salted", "q_agg_salted", "q_tpch_q21",
    "q_sorted_write",
    // breadth set: one representative per remaining shuffle-bearing
    // family — windows/sessionization, iterative graph, sketches,
    // retrieval scoring, clustering iterations
    "q_sessionize", "q_window_sliding", "q_pagerank", "q_graph_reach",
    "q_triangle_count", "q_bm25", "q_tfidf", "q_kmeans_iter",
    "q_heavy_hitters", "q_quantile_sketch")

  /** The corpus-operator subset for the duplication-decade run (`dup10`
    * mode): only queries whose input is documents/embeddings — the two
    * tables the mode actually scales. */
  private val DupSet = Seq(
    "q_dedup_exact", "q_dedup_near", "q_dedup_ngram", "q_dedup_simhash",
    "q_dedup_embed", "q_decontaminate", "q_similarity_topk", "q_ann_ivf",
    "q_knn_classify", "q_feature_hash", "q_inverted_index",
    "q_token_entropy")

  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
  private def mb(bytes: Long): String = f3(bytes / 1e6)

  /** `dup10 <srcSfDir> <destDir>`: synthesize the DUPLICATION-decade
    * corpus — documents and embeddings replicated 10× with offset ids,
    * each text copy carrying one extra per-copy token so the copies are
    * NEAR duplicates (full shingle overlap, not byte-equal); every
    * other table symlinked unchanged. This is deliberately the
    * adversarial axis for near-dedup: corpus ×10 AND every document
    * gains 9 near-copies, so candidate-pair volume must grow
    * quadratically in cluster size — the audit then measures how the
    * bucketed pipeline absorbs it (SCALE.md r15c). */
  private def buildDup10(spark: SparkSession, src: String, dest: String): Unit = {
    import org.apache.spark.sql.functions._
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

  def main(args0: Array[String]): Unit = {
    val args = args0.toSeq
    val sfDir =
      if (args.headOption.contains("dup10")) args(2)
      else args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.headOption.contains("dup10")) DupSet
      else if (args.length > 1) args.drop(1) else DefaultSet
    val spark = Tools.session(32)
    if (args.headOption.contains("dup10")) buildDup10(spark, args(1), args(2))
    val counters = Tools.counters(spark)

    val lines = names.flatMap { name =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"UNKNOWN QUERY $name"); None
        case Some(q) =>
          // Warm pass: codegen, parquet footers, build-once fixtures —
          // the measured pass must see only the steady-state work.
          try q(spark, sfDir).count() catch {
            case e: Throwable =>
              System.err.println(s"WARM PASS FAILED $name: $e")
          }
          counters.drain()
          val t0 = System.nanoTime()
          val rows =
            try q(spark, sfDir).count() catch {
              case e: Throwable =>
                System.err.println(s"MEASURED PASS FAILED $name: $e"); -1L
            }
          val sec = (System.nanoTime() - t0) / 1e9
          val c = counters.drain()
          val line =
            s"""{"query":"$name","sec":${f3(sec)},"rows":$rows,""" +
              s""""input_mb":${mb(c.inputBytes)},""" +
              s""""shuffle_write_mb":${mb(c.shuffleWriteBytes)},""" +
              s""""shuffle_read_mb":${mb(c.shuffleReadBytes)},""" +
              s""""shuffle_records":${c.shuffleRecords},""" +
              s""""spill_mb":${mb(c.spillBytes)},"tasks":${c.tasks}}"""
          println(line)
          Some(line)
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("SHUFFLE_AUDIT.json"),
      ("{\"sf\":\"" + sfDir + "\",\"queries\":[\n" +
        lines.mkString(",\n") + "\n]}\n").getBytes("UTF-8"))
    spark.stop()
  }
}
