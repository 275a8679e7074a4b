package graft.perfbench

/** Per-layer metrics of the traced passes, by repo module. Every counter
  * is summed over the spans of one pass (peaks take the maximum), and the
  * reported value is the median over traced passes. A module layer the
  * workload does not call reports 0. */
object Layers {
  import Main.PassRecord

  /** Counters that are peaks, not totals. */
  private val Peaks = Set("peak_exec_mem_mb", "live_generations")

  private def passSpans(p: PassRecord, t: Tracer): Seq[Span] = t.spans.filter(_.pass == p.index).toSeq

  private def counters(p: PassRecord, t: Tracer): Map[String, Double] =
    passSpans(p, t).flatMap(s => t.counters.getOrElse(s.id, Map.empty[String, Double]))
      .groupBy(_._1).map { case (k, kvs) =>
        k -> (if (Peaks(k)) kvs.map(_._2).max else kvs.map(_._2).sum)
      }

  private def spanMs(p: PassRecord, t: Tracer, layer: String): Double =
    passSpans(p, t).filter(_.layer == layer).map(s => (s.endNs - s.startNs) / 1e6).sum

  def metrics(workloadLayer: String, traced: Seq[PassRecord], t: Tracer, cores: Int,
      recall: Double): Seq[(String, Double, String)] = {
    def med(f: PassRecord => Double): Double = Stats.median(traced.map(f))
    def c(k: String)(p: PassRecord): Double = counters(p, t).getOrElse(k, 0.0)
    def only(layer: String)(f: PassRecord => Double)(p: PassRecord): Double =
      if (workloadLayer == layer) f(p) else 0.0
    def ratio(num: PassRecord => Double, den: PassRecord => Double)(p: PassRecord): Double =
      if (den(p) == 0) 0.0 else num(p) / den(p)
    val ingest = c("ingest_bytes") _
    val rows = Seq[(String, String, PassRecord => Double)](
      ("build.build_ms", "ms", spanMs(_, t, "build")),
      ("catalyst.analysis_ms", "ms", c("analysis_ms")),
      ("catalyst.optimizer_ms", "ms", c("optimizer_ms")),
      ("catalyst.planning_ms", "ms", c("planning_ms")),
      ("catalyst.actions", "count", c("actions")),
      ("catalyst.plan_operators", "count", c("plan_operators")),
      ("codegen.codegen_compiles", "count", _.codegen.compiles.toDouble),
      ("codegen.codegen_compile_ms", "ms", _.codegen.compileNs / 1e6),
      ("codegen.codegen_source_kb", "KB", _.codegen.sourceBytes / 1024),
      ("gvcf.kernel_wscg_ms", "ms", only("gvcf")(c("kernel_wscg_ms"))),
      ("gvcf.sort_ms", "ms", only("gvcf")(c("sort_ms"))),
      ("gvcf.peak_exec_mem_mb", "MB", only("gvcf")(c("peak_exec_mem_mb"))),
      ("gvcf.spill_bytes", "bytes", only("gvcf")(c("spill_bytes"))),
      ("dedup.lsh_pair_rows", "count", only("dedup")(c("lsh_pair_rows"))),
      ("dedup.dedup_pairs", "count", only("dedup")(c("dedup_pairs"))),
      ("dedup.lsh_pair_yield", "ratio", only("dedup")(ratio(c("dedup_pairs"), c("lsh_pair_rows")))),
      ("dedup.kernel_wscg_ms", "ms", only("dedup")(c("kernel_wscg_ms"))),
      ("dedup.planted_dup_recall", "ratio", _ => recall),
      ("store.manifest_ms", "ms", spanMs(_, t, "store.manifest")),
      ("store.files_considered", "count", c("files_considered")),
      ("store.files_selected", "count", c("files_selected")),
      ("store.prune_ratio", "ratio", p =>
        if (c("files_considered")(p) == 0) 0.0
        else 1.0 - c("files_selected")(p) / c("files_considered")(p)),
      ("store.live_generations", "count", c("live_generations")),
      ("store.ingest_ms", "ms", spanMs(_, t, "store.sink")),
      ("store.ingest_bytes", "bytes", ingest),
      ("store.compact_ms", "ms", spanMs(_, t, "store.compact")),
      ("store.compact_bytes_rewritten", "bytes", c("compact_bytes_rewritten")),
      ("store.write_amp", "ratio", p =>
        if (ingest(p) == 0) 0.0 else (ingest(p) + c("compact_bytes_rewritten")(p)) / ingest(p)),
      ("scan.files_read", "count", c("files_read")),
      ("scan.bytes_read", "bytes", c("bytes_read")),
      ("scan.rows_read", "count", c("rows_read")),
      ("scan.scan_ms", "ms", c("scan_ms")),
      ("shuffle.exchanges", "count", c("exchanges")),
      ("shuffle.shuffle_write_bytes", "bytes", c("shuffle_write_bytes")),
      ("shuffle.shuffle_write_records", "count", c("shuffle_write_records")),
      ("shuffle.shuffle_read_bytes", "bytes", c("shuffle_read_bytes")),
      ("shuffle.shuffle_fetch_wait_ms", "ms", c("shuffle_fetch_wait_ms")),
      ("scheduler.jobs", "count", c("jobs")),
      ("scheduler.stages", "count", c("stages")),
      ("scheduler.tasks", "count", c("tasks")),
      ("scheduler.task_run_ms", "ms", c("task_run_ms")),
      ("scheduler.task_cpu_ms", "ms", c("task_cpu_ms")),
      ("scheduler.gc_ms", "ms", c("gc_ms")),
      ("scheduler.failed_tasks", "count", c("failed_tasks")),
      ("scheduler.core_util", "ratio", p => c("task_run_ms")(p) / (p.wallMs * cores)))
    rows.map { case (n, u, f) => (n, med(f), u) }
  }

  /** Per-layer self time and waiting time of the traced passes (medians
    * over passes, ms). A span's waiting time is the wall time covered by
    * the jobs it submitted — the client is blocked on the engine — and
    * its self time is its duration less its children's spans and that
    * waiting. With one closed-loop client every step blocks the result. */
  def selfAndWait(traced: Seq[PassRecord], t: Tracer): Json.Obj = {
    val perPass = traced.map { p =>
      val spans = passSpans(p, t)
      val children = spans.groupBy(_.parent)
      spans.map { s =>
        val dur = (s.endNs - s.startNs) / 1e6
        val child = children.getOrElse(s.id, Nil).map(c => (c.endNs - c.startNs) / 1e6).sum
        val wait = unionMs(t.jobIntervals.getOrElse(s.id, Nil).toSeq)
        (s.layer, math.max(0.0, dur - child - wait), wait)
      }.groupBy(_._1).map { case (l, xs) => l -> (xs.map(_._2).sum, xs.map(_._3).sum) }
    }
    val layers = perPass.flatMap(_.keys).distinct.sorted
    Json.obj(layers.map { l =>
      def med(f: ((Double, Double)) => Double) =
        Stats.median(perPass.map(m => m.get(l).map(f).getOrElse(0.0)))
      l -> Json.obj("self_ms" -> med(_._1), "wait_ms" -> med(_._2))
    }: _*)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var end = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total.toDouble
  }

  def spanTable(t: Tracer): Seq[Json.Obj] = t.spans.toSeq.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "pass" -> s.pass, "name" -> s.name,
      "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "counters" -> Json.obj(t.counters.getOrElse(s.id, Map.empty[String, Double]).toSeq.sortBy(_._1): _*))
  }
}

/** Minimal JSON rendering for the benchmark's output. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case null => "null"
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
