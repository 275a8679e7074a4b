package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, XxHash64}

/** The one measurement loop of the evidence tools: per query, the
  * construction and Catalyst floor, a cold and a steady execution of the
  * query's own plan at full width, an order-independent checksum of the
  * result, and the steady pass's listener counters.
  *
  *   sbt "runMain graft.Audit <sfDir> [q … | @shuffle | @dup | @spill | @century] [--expect FILE]"
  *
  * No query names audits every declared query; `@name` expands to one of
  * the [[Sets]]. The session has `$SPARK_GRAFT_CPUS` slots (default 32),
  * runs one warm-up query and caches no tables. Records go to stdout as
  * JSON lines and to AUDIT.json (overwritten) under a header with `sf`,
  * `cpus` and `heap_mb`. `--expect FILE` fails the run unless every
  * checksum equals the one an earlier AUDIT.json holds for that query:
  * the gate of a `-Dspark.*` A/B such as a starved heap
  * (`SPARK_DRIVER_MEM=1200m`, `-Dspark.memory.fraction=0.15`), which may
  * change throughput, never results. A query that throws is reported and
  * the run exits non-zero after the others have run. */
object Audit {

  /** Named query lists (`@name` on the command line). */
  val Sets: Map[String, Seq[String]] = Map(
    // every query whose 100 TB story rests on a shuffle-volume claim, the
    // data-bound q_sorted_write, one per other shuffle-bearing family
    "shuffle" -> Seq("q_dedup_exact", "q_dedup_near", "q_dedup_ngram",
      "q_dedup_simhash", "q_corpus_clean", "q_dedup_embed", "q_decontaminate",
      "q_similarity_topk", "q_ann_ivf", "q_knn_classify", "q_feature_hash",
      "q_inverted_index", "q_token_entropy", "q_combine_wide", "q_genotype_wide",
      "q_join_salted", "q_agg_salted", "q_tpch_q21", "q_sorted_write",
      "q_sessionize", "q_window_sliding", "q_pagerank", "q_graph_reach",
      "q_triangle_count", "q_bm25", "q_tfidf", "q_kmeans_iter",
      "q_heavy_hitters", "q_quantile_sketch"),
    // the queries over the two tables `Corpus.dup10` scales
    "dup" -> Seq("q_dedup_exact", "q_dedup_near", "q_dedup_ngram",
      "q_dedup_simhash", "q_dedup_embed", "q_decontaminate",
      "q_similarity_topk", "q_ann_ivf", "q_knn_classify", "q_feature_hash",
      "q_inverted_index", "q_token_entropy"),
    // the biggest movers at the decade, for the starved-heap A/B
    "spill" -> Seq("q_sorted_write", "q_tpch_q21", "q_dedup_ngram",
      "q_token_entropy", "q_tpch_q7", "q_combine_merge", "q_combine_wide"),
    // the heavy movers scripts/century_compare.py fits growth for
    "century" -> Seq("q_sorted_write", "q_dedup_exact", "q_dedup_near",
      "q_dedup_ngram", "q_dedup_simhash", "q_dedup_cluster", "q_seq_pack",
      "q_combine_wide"))

  /** One measured query: its result's checksum and the flat JSON record. */
  final case class Record(query: String, checksum: Long, json: String)

  /** Executes `df`'s own plan once, at full width, in one job: its row
    * count and the xor of every row's xxhash64 over the output, i.e.
    * `bit_xor(xxhash64(*))` with the job, tasks and shuffles of
    * `queryExecution.toRdd.count()`. The hash is interpreted, so the
    * audit adds no class to the codegen cache the queries share. */
  private def digest(df: DataFrame): (Long, Long) = {
    val out = df.queryExecution.executedPlan.output
    val hash = BindReferences.bindReference(XxHash64(out, 42L), out)
    val parts = df.sparkSession.sparkContext.runJob(df.queryExecution.toRdd,
      (rows: Iterator[InternalRow]) => {
        var n, x = 0L
        rows.foreach { r => n += 1; x ^= hash.eval(r).asInstanceOf[Long] }
        (n, x)
      })
    (parts.map(_._1).sum, parts.foldLeft(0L)(_ ^ _._2))
  }

  /** Measures `plan`, which the call builds (so evaluating it again
    * builds it afresh): build time, `executedPlan` forced with the
    * tracker's Catalyst phases, a cold execution (`exec1_ms`), then a
    * fresh build and plan and the steady execution (`exec2_ms`). The
    * counters and per-stage lines (stderr) are the steady pass's, its
    * build included. The straggler signal is the worst max/median task
    * ratio over stages of ≥ 8 tasks (tiny reduce stages are trivially
    * balanced), else over all tasks. */
  def measure(spark: SparkSession, counters: Tools.Counters, name: String)(
      plan: => DataFrame): Record = {
    System.gc()
    val t0 = System.nanoTime()
    val df = plan
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    // READY-summed tracker phases can undershoot plan_ms (rules applied
    // outside tracked phases): report both
    val phases = df.queryExecution.tracker.phases.map { case (k, v) =>
      k -> (v.endTimeMs - v.startTimeMs)
    }
    val (rows, checksum) = digest(df)
    val t3 = System.nanoTime()
    counters.drain()
    val again = plan
    again.queryExecution.executedPlan
    val t4 = System.nanoTime()
    val steady = digest(again)
    val t5 = System.nanoTime()
    val c = counters.drain()
    if (steady != ((rows, checksum)))
      System.err.println(s"NONDETERMINISTIC RESULT $name: ($rows, $checksum) vs $steady")
    val byStage = c.taskDurations.groupBy(_._1).values
      .map(_.map(_._2).sorted).filter(_.size >= 8)
    val stageMs =
      if (byStage.nonEmpty)
        byStage.maxBy(ms => ms.last.toDouble / math.max(1L, ms(ms.size / 2)))
      else c.taskDurations.map(_._2).sorted
    val (maxMs, p50) = stageMs.lastOption.fold((0L, 0L))((_, stageMs(stageMs.size / 2)))
    System.err.println(s"==== $name steady: ${Tools.num((t5 - t4) / 1e6)} ms ($rows rows)")
    for (si <- c.stageInfos.sortBy(_.stageId)) {
      val m = si.taskMetrics
      val recs = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      System.err.println(f"  stage ${si.stageId}%5d run=${m.executorRunTime}%6d ms " +
        f"cpu=${m.executorCpuTime / 1000000L}%6d ms tasks=${si.numTasks}%3d " +
        f"recs=$recs%9d  ${si.name.split("\n")(0).take(60)}")
    }
    def ms(a: Long, b: Long) = Tools.num((b - a) / 1e6)
    def mb(bytes: Long) = Tools.num(bytes / 1e6, 3)
    val json =
      s"""{"query":"$name","build_ms":${ms(t0, t1)},"plan_ms":${ms(t1, t2)},""" +
        s""""analysis_ms":${phases.getOrElse("analysis", 0L)},""" +
        s""""optimization_ms":${phases.getOrElse("optimization", 0L)},""" +
        s""""planning_ms":${phases.getOrElse("planning", 0L)},""" +
        s""""exec1_ms":${ms(t2, t3)},"exec2_ms":${ms(t4, t5)},""" +
        s""""rows":$rows,"checksum":$checksum,"jobs":${c.jobs},""" +
        s""""stages":${c.stages},"tasks":${c.tasks},"task_ms":${c.taskMs},""" +
        s""""input_mb":${mb(c.inputBytes)},"shuffle_write_mb":${mb(c.shuffleWriteBytes)},""" +
        s""""shuffle_read_mb":${mb(c.shuffleReadBytes)},""" +
        s""""shuffle_records":${c.shuffleRecords},"spill_mb":${mb(c.spillBytes)},""" +
        s""""stage_tasks":${stageMs.size},"max_task_ms":$maxMs,"stage_p50_ms":$p50,""" +
        s""""straggler_ratio":${Tools.num(maxMs.toDouble / math.max(1L, p50), 3)}}"""
    Record(name, checksum, json)
  }

  /** [[measure]]s each (name, confs, plan) in turn through one listener
    * and prints its record. A run's confs are set before it and
    * `restore` after it; a run that throws is reported on stderr and
    * returned as its failure. */
  def runAll(spark: SparkSession, restore: Map[String, String] = Map.empty)(
      runs: Seq[(String, Map[String, String], () => DataFrame)]): Seq[Try[Record]] = {
    val counters = Tools.counters(spark)
    try runs.map { case (name, confs, plan) =>
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val r = try Try(measure(spark, counters, name)(plan()))
        finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
      r.fold(e => System.err.println(s"AUDIT FAILED $name: $e"), rec => println(rec.json))
      r
    } finally spark.sparkContext.removeSparkListener(counters)
  }

  /** Writes `{<header>,"queries":[…]}` to `out`, one record a line. */
  def write(out: Path, header: String, records: Seq[Record]): Unit =
    Files.write(out, (s"{$header,\"queries\":[\n" +
      records.map(_.json).mkString(",\n") + "\n]}\n").getBytes(UTF_8))

  /** Audits `names` over `sfDir`, writes the records to `out` and returns
    * the failures: the queries that threw, then each checksum that
    * differs from, or is missing in, the records in `expect`. */
  def audit(spark: SparkSession, sfDir: String, names: Seq[String],
      expect: Option[Path], out: Path): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(" ")}")
    // one-time JVM/session costs land here, not on the first query
    try SparkEntry.queries("q_agg_count_by_key")(spark, sfDir).count() catch {
      case e: Exception => System.err.println(s"WARMUP FAILED: $e")
    }
    val results = runAll(spark)(names.map(n =>
      (n, Map.empty[String, String], () => SparkEntry.queries(n)(spark, sfDir))))
    val records = results.flatMap(_.toOption)
    write(out, s""""sf":"$sfDir","cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""heap_mb":${Runtime.getRuntime.maxMemory >> 20}""", records)
    val mismatches = expect.toSeq.flatMap { f =>
      val expected = """"query":"([^"]+)".*?"checksum":(-?\d+)""".r
        .findAllMatchIn(new String(Files.readAllBytes(f), UTF_8))
        .map(m => m.group(1) -> m.group(2).toLong).toMap
      records.flatMap(r => expected.get(r.query) match {
        case Some(sum) if sum == r.checksum => None
        case Some(sum) => Some(s"${r.query}: checksum ${r.checksum}, expected $sum")
        case None => Some(s"${r.query}: no expected checksum")
      })
    }
    names.zip(results).collect { case (n, Failure(e)) => s"$n: $e" } ++ mismatches
  }

  def main(args: Array[String]): Unit = {
    val (named, opt) = args.drop(1).toSeq.span(_ != "--expect")
    require(args.nonEmpty && (opt.isEmpty || opt.size == 2),
      "usage: graft.Audit <sfDir> [q … | @set …] [--expect FILE]")
    val sfDir = args(0)
    val expect = opt.drop(1).headOption.map(Paths.get(_))
    val names = named.flatMap(a => if (!a.startsWith("@")) Seq(a) else
      Sets.getOrElse(a.drop(1), throw new IllegalArgumentException(s"unknown set $a")))
    val spark = Tools.session(Tools.envCpus)
    val failures =
      try audit(spark, sfDir,
        if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted,
        expect, Paths.get("AUDIT.json"))
      finally spark.stop()
    failures.foreach(f => System.err.println(s"FAILED $f"))
    if (failures.nonEmpty) sys.exit(1)
    expect.foreach(f => println(s"VERDICT: every checksum identical to $f"))
  }
}
