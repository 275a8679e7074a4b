package graft

/** Evidence tool: exercise the SPILL path. Every shuffle audit so far
  * reports `spill_mb: 0` — on a 128 GiB host the engine never faces
  * memory pressure, so "plans degrade to disk instead of OOM" (the
  * 100 TB posture: at 1000 executors, SOME task always lands on a
  * memory-starved node) had never been demonstrated. This tool runs the
  * suite's heaviest data movers twice, in two JVMs:
  *
  *   REF   — comfortable heap (default SPARK_DRIVER_MEM), default
  *           memory fraction: the normal zero-spill regime.
  *   TIGHT — small pinned heap (run with SPARK_DRIVER_MEM=1200m) plus
  *           spark.memory.fraction=0.15, so the 4 task slots share
  *           ~100 MB of execution memory against decade-scale sorts,
  *           hash aggregates, and joins — every operator that buffers
  *           must spill to finish.
  *
  * Each mode writes SPILL_AUDIT_{REF|TIGHT}.json with per-query wall,
  * order-independent result checksum, and spilled bytes. TIGHT mode
  * loads the REF file and FAILS unless every checksum matches — the
  * claim is not "it survives" but "memory pressure changes throughput,
  * never results". Run:
  *
  *   sbt "runMain graft.SpillAudit /tmp/graft_sf1"
  *   SPARK_DRIVER_MEM=1200m SPILL_TIGHT=1 \
  *     sbt "runMain graft.SpillAudit /tmp/graft_sf1"
  */
object SpillAudit {

  /** The suite's biggest shuffle/sort movers at the decade (shuffle MB
    * from SHUFFLE_AUDIT_r15_sf1.json), each with no cross-JVM result
    * cache so the tight run really re-executes the operator. */
  private val QuerySet = Seq(
    "q_sorted_write",    // 258 MB shuffle: range-partitioned global sort
    "q_tpch_q21",        // 157 MB: 4-way lineitem self-joins
    "q_dedup_ngram",     // 97 MB: shingle explode + band join
    "q_token_entropy",   // 33 MB: per-token hash aggregate
    "q_tpch_q7",         // multi-join + year agg
    "q_combine_merge",   // gVCF long-format combine chain
    "q_combine_wide")    // r16: 30k-element per-site collect buffers
                         // (ObjectHashAggregate fallback + window set
                         // buffers) — the dense-cohort pressure case

  private def f3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    // optional explicit query list (the ShuffleAudit/FloorAudit
    // convention) — e.g. the r17 century pressure probe runs only the
    // wide combine, not 60M-row TPC-H self-joins under a 1200m heap
    val names = if (args.length > 1) args.drop(1).toSeq else QuerySet
    val tight = sys.env.contains("SPILL_TIGHT")
    val mode = if (tight) "TIGHT" else "REF"
    // static conf — must be set before the session exists; 0.15 of a
    // 1200m heap leaves the 4 task slots ~100 MB of execution memory
    val spark = Tools.session(4,
      if (tight) Map("spark.memory.fraction" -> "0.15") else Map.empty)
    println(s"mode=$mode heap=${Runtime.getRuntime.maxMemory() / (1 << 20)}MB " +
      s"fraction=${spark.conf.get("spark.memory.fraction", "default")}")
    val counters = Tools.counters(spark)

    val lines = names.map { name =>
      val q = SparkEntry.queries(name)
      q(spark, sfDir).rdd.count() // warm: codegen, footers, fixtures
      counters.drain()
      val t0 = System.nanoTime()
      val sum = SkewAudit.checksum(q(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      val c = counters.drain()
      val line = s"""{"query":"$name","sec":${f3(sec)},"checksum":$sum,""" +
        s""""spill_mb":${f3(c.spillBytes / 1e6)},""" +
        s""""tasks":${c.tasks}}"""
      println(line)
      line
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"SPILL_AUDIT_$mode.json"),
      (s"""{"sf":"$sfDir","mode":"$mode","heap_mb":""" +
        s"${Runtime.getRuntime.maxMemory() / (1 << 20)},\"queries\":[\n" +
        lines.mkString(",\n") + "\n]}\n").getBytes("UTF-8"))

    if (tight) {
      val refPath = java.nio.file.Paths.get("SPILL_AUDIT_REF.json")
      require(java.nio.file.Files.exists(refPath),
        "run REF mode first: sbt \"runMain graft.SpillAudit <sfDir>\"")
      val ref = new String(java.nio.file.Files.readAllBytes(refPath), "UTF-8")
      val refSums = """"query":"([^"]+)","sec":[^,]+,"checksum":(-?\d+)""".r
        .findAllMatchIn(ref).map(m => m.group(1) -> m.group(2).toLong).toMap
      val tightSums = lines.map { l =>
        val m = """"query":"([^"]+)","sec":[^,]+,"checksum":(-?\d+)""".r
          .findFirstMatchIn(l).get
        m.group(1) -> m.group(2).toLong
      }
      val bad = tightSums.filter { case (n, s) => refSums.get(n).exists(_ != s) }
      if (bad.nonEmpty)
        throw new IllegalStateException(s"CHECKSUM DIVERGENCE under pressure: $bad")
      val spilled = lines.count(_.contains("\"spill_mb\":0.000") == false)
      println(s"VERDICT: ${tightSums.size} checksums identical to REF; " +
        s"$spilled/${lines.size} queries spilled under the tight heap")
    }
    spark.stop()
  }
}
