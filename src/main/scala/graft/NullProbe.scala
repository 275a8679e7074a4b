package graft

/** r20 robustness probe: run EVERY SparkEntry query to completion over
  * [[Corpus.nullPoison]] (four nullable columns each of events and
  * documents NULLed on their own ~1% hash-residue slice). The assertable
  * 100 TB property is CRASH-FREEDOM — a poison record in a petabyte
  * corpus must degrade a result (NULL out, filter away, group
  * separately), never kill the pipeline — value semantics under NULLs
  * are pinned separately where defined (SkewSpec/OperatorSpec, SCALE.md
  * r20e–g).
  *
  *   sbt "runMain graft.NullProbe /root/testdata/sf0.001 NULL_PROBE.json"
  *
  * The poisoned copy lives in `java.io.tmpdir`, keyed by the source path
  * and the content of the poisoned tables, and is built once. The
  * queries run through [[Audit.audit]] (full-width digest of every
  * output value), minus `$SPARK_GRAFT_SKIP` (Bench's contract: at the
  * decade the wide trio is O(sf²) by contract, SCALE.md r15f). The
  * records go to the output file; the run exits 1 if any query threw. */
object NullProbe {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "NULL_PROBE.json"
    val fp = Corpus.nullPoison.tables.keys.toSeq.sorted
      .map(t => api.contentFingerprint(s"$src/$t.parquet")).mkString("_")
    val dest = api.scratchPath(s"nullprobe_${api.slug(src)}_$fp")
    val skip = sys.env.get("SPARK_GRAFT_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    for (s <- skip.toSeq.sorted)
      System.err.println(s"SKIPPED (SPARK_GRAFT_SKIP): $s")
    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(skip)
    val spark = Tools.session(8, logLevel = "ERROR")
    val failures =
      try Audit.audit(spark, Corpus.build(spark, src, dest, Corpus.nullPoison), names,
        None, java.nio.file.Paths.get(out))
      finally spark.stop()
    println(s"NULLPROBE pass=${names.size - failures.size} fail=${failures.size}")
    failures.foreach(f => println(s"FAIL $f"))
    if (failures.nonEmpty) sys.exit(1)
  }
}
