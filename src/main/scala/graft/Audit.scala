package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, XxHash64}

/** One measured run of [[Audit]]: `name` labels its record, the probes
  * of one `group` compute one logical result (so their checksums must
  * agree), `confs` hold for this run only, and `plan` builds the query
  * from the session and the corpus directory. */
final case class Probe(name: String, group: String, confs: Map[String, String],
    plan: (SparkSession, String) => DataFrame)

object Probe {

  /** The declared query `name`, in a group of its own. */
  def query(name: String): Probe = Probe(name, name, Map.empty,
    SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(s"unknown query: $name")))
}

/** The one evidence main and measurement loop: per probe, the
  * construction and Catalyst floor, a cold and a steady execution of the
  * query's own plan at full width, an order-independent checksum of the
  * result, and the steady pass's listener counters.
  *
  *   sbt "runMain graft.Audit <sfDir> [q … | @set …] [--expect FILE]"
  *
  * No names audits every declared query; `@name` expands to one of the
  * [[Sets]]. Every name in `$SPARK_GRAFT_SKIP` (comma-separated) is left
  * out of the list. The session has `$SPARK_GRAFT_CPUS` slots (default
  * 32), runs one warm-up query and caches no tables. Records go to
  * stdout as JSON lines and to AUDIT.json (overwritten) under a header
  * with `sf`, `cpus` and `heap_mb`. The run exits non-zero after all
  * probes have run if a probe threw, if the checksums of one group
  * differ, or, with `--expect FILE`, if a checksum differs from the one
  * an earlier AUDIT.json holds for that name: the gate of a `-Dspark.*`
  * A/B such as a starved heap (`SPARK_DRIVER_MEM=1200m`,
  * `-Dspark.memory.fraction=0.15`), which may change throughput, never
  * results. */
object Audit {

  /** Named probe lists (`@name` on the command line). */
  val Sets: Map[String, Seq[Probe]] = Map(
    // every query whose 100 TB story rests on a shuffle-volume claim, the
    // data-bound q_sorted_write, one per other shuffle-bearing family
    "shuffle" -> Seq("q_dedup_exact", "q_dedup_near", "q_dedup_ngram",
      "q_dedup_simhash", "q_corpus_clean", "q_dedup_embed", "q_decontaminate",
      "q_similarity_topk", "q_ann_ivf", "q_knn_classify", "q_feature_hash",
      "q_inverted_index", "q_token_entropy", "q_combine_wide", "q_genotype_wide",
      "q_join_salted", "q_agg_salted", "q_tpch_q21", "q_sorted_write",
      "q_sessionize", "q_window_sliding", "q_pagerank", "q_graph_reach",
      "q_triangle_count", "q_bm25", "q_tfidf", "q_kmeans_iter",
      "q_heavy_hitters", "q_quantile_sketch").map(Probe.query),
    // the queries over the two tables `Corpus.dup10` scales
    "dup" -> Seq("q_dedup_exact", "q_dedup_near", "q_dedup_ngram",
      "q_dedup_simhash", "q_dedup_embed", "q_decontaminate",
      "q_similarity_topk", "q_ann_ivf", "q_knn_classify", "q_feature_hash",
      "q_inverted_index", "q_token_entropy").map(Probe.query),
    // the biggest movers at the decade, for the starved-heap A/B
    "spill" -> Seq("q_sorted_write", "q_tpch_q21", "q_dedup_ngram",
      "q_token_entropy", "q_tpch_q7", "q_combine_merge", "q_combine_wide").map(Probe.query),
    // the heavy movers scripts/century_compare.py fits growth for
    "century" -> Seq("q_sorted_write", "q_dedup_exact", "q_dedup_near",
      "q_dedup_ngram", "q_dedup_simhash", "q_dedup_cluster", "q_seq_pack",
      "q_combine_wide").map(Probe.query),
    // the hot-key strategy groups over `Corpus skew10` and `Corpus skewc`,
    // and the hot-contig gVCF cohort (any sfDir; it builds its own)
    "skew" -> SkewProbes.decade,
    "skewc" -> SkewProbes.century,
    "gvcf_skew" -> SkewProbes.gvcf)

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

  /** [[measure]]s each probe over `sfDir` in turn through one listener
    * and prints its record. A probe's confs hold for its run only: each
    * key then gets back its prior value, or is unset again if it was
    * unset. A run that throws is reported on stderr and returned as its
    * failure. */
  def runAll(spark: SparkSession, sfDir: String, probes: Seq[Probe]): Seq[Try[Record]] = {
    val counters = Tools.counters(spark)
    try probes.map { p =>
      val prior = p.confs.keys.map(k => k -> spark.conf.getAll.get(k))
      p.confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val r = try Try(measure(spark, counters, p.name)(p.plan(spark, sfDir)))
        finally prior.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      r.fold(e => System.err.println(s"AUDIT FAILED ${p.name}: $e"), rec => println(rec.json))
      r
    } finally spark.sparkContext.removeSparkListener(counters)
  }

  /** Audits `probes` over `sfDir`, writes the records to `out` (one a
    * line, under a header with `sf`, `cpus` and `heap_mb`) and returns
    * the failures: the probes that threw, each group whose
    * checksums differ, then each checksum that differs from, or is
    * missing in, the records in `expect`. */
  def audit(spark: SparkSession, sfDir: String, probes: Seq[Probe],
      expect: Option[Path], out: Path): Seq[String] = {
    // one-time JVM/session costs land here, not on the first probe
    try SparkEntry.queries("q_agg_count_by_key")(spark, sfDir).count() catch {
      case e: Exception => System.err.println(s"WARMUP FAILED: $e")
    }
    val results = runAll(spark, sfDir, probes)
    val records = results.flatMap(_.toOption)
    Files.write(out, (s"""{"sf":"$sfDir","cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""heap_mb":${Runtime.getRuntime.maxMemory >> 20},"queries":[\n""" +
      records.map(_.json).mkString(",\n") + "\n]}\n").getBytes(UTF_8))
    val measured = probes.zip(results).collect { case (p, Success(r)) => p.group -> r }
    val groups = measured.map(_._1).distinct.flatMap { g =>
      val rs = measured.collect { case (`g`, r) => r }
      if (rs.map(_.checksum).distinct.size > 1)
        Some(s"group $g: checksums differ: " +
          rs.map(r => s"${r.query}=${r.checksum}").mkString(" "))
      else None
    }
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
    probes.zip(results).collect { case (p, Failure(e)) => s"${p.name}: $e" } ++
      groups ++ mismatches
  }

  def main(args: Array[String]): Unit = {
    val (named, opt) = args.drop(1).toSeq.span(_ != "--expect")
    require(args.nonEmpty && (opt.isEmpty || opt.size == 2),
      "usage: graft.Audit <sfDir> [q … | @set …] [--expect FILE]")
    val sfDir = args(0)
    val expect = opt.drop(1).headOption.map(Paths.get(_))
    val listed = named.flatMap(a => if (!a.startsWith("@")) Seq(Probe.query(a)) else
      Sets.getOrElse(a.drop(1), throw new IllegalArgumentException(s"unknown set $a")))
    val skip = sys.env.getOrElse("SPARK_GRAFT_SKIP", "").split(",").map(_.trim).toSet
    val (skipped, probes) = (if (listed.nonEmpty) listed
      else SparkEntry.queries.keys.toSeq.sorted.map(Probe.query)).partition(p => skip(p.name))
    skipped.foreach(p => System.err.println(s"SKIPPED (SPARK_GRAFT_SKIP): ${p.name}"))
    val spark = Tools.session(Tools.envCpus)
    val failures =
      try audit(spark, sfDir, probes, expect, Paths.get("AUDIT.json"))
      finally spark.stop()
    failures.foreach(f => System.err.println(s"FAILED $f"))
    if (failures.nonEmpty) sys.exit(1)
    expect.foreach(f => println(s"VERDICT: every checksum identical to $f"))
  }
}
