package graft.sources

/** Wire-format pins for the `_MANIFEST` codec (r13 advice): render and
  * parse must be symmetric, and malformed extent fields must degrade to
  * UNKNOWN (never pruned) rather than to a wrongly-pruning empty set. */
class ManifestSpec extends graft.SparkSpec {

  test("render/parse round-trips every sample-extent shape") {
    val known = StoreCommit("f.parquet", 10L, 1L, 9L, 5L, 7L, Some(Set("sB", "sA")))
    assert(StoreManifest.render(known) == "f.parquet,10,1,9,5,7,sA|sB")
    assert(StoreManifest.parse(StoreManifest.render(known)) ==
      ManifestEntry("f.parquet", 10L, 1L, 9L, 5L, 7L, Some(Set("sA", "sB"))))
    // unknown extent renders as the explicit `*` sentinel (pre-r14 it
    // rendered as a silently-shorter 6-field line) and round-trips
    val unknown = StoreCommit("g.parquet", 3L, 0L, 2L, 1L, 1L, None)
    assert(StoreManifest.render(unknown) == "g.parquet,3,0,2,1,1,*")
    assert(StoreManifest.parse(StoreManifest.render(unknown)).samples.isEmpty)
  }

  test("legacy and malformed extent fields degrade to unknown, never to Set(empty)") {
    // 4-field pre-r9 line: ver range unbounded, extent unknown
    val legacy4 = StoreManifest.parse("f.parquet,10,1,9")
    assert(legacy4.minVer == Long.MinValue && legacy4.maxVer == Long.MaxValue
      && legacy4.samples.isEmpty)
    // 6-field line (pre-r14 unknown-extent rendering): extent unknown
    assert(StoreManifest.parse("f.parquet,10,1,9,5,7").samples.isEmpty)
    // EMPTY 7th field (hand-edited/truncated): must parse to unknown —
    // Some(Set("")) would prune every projected read to nothing
    assert(StoreManifest.parse("f.parquet,10,1,9,5,7,").samples.isEmpty)
    // `*` sentinel: unknown
    assert(StoreManifest.parse("f.parquet,10,1,9,5,7,*").samples.isEmpty)
  }

  test("projected reads fail fast on a non-string sample column") {
    // mirror of the writer's sampleIdx type check (r13 advice): a LONG
    // `sample` column is never extent-tracked, so a projection against
    // it would silently return wrong/empty results — require STRING
    val dir = scratchDir("graft_badsample").toString
    val e = intercept[IllegalArgumentException] {
      VariantStore.readRange(spark, dir, "key LONG, ver LONG, sample LONG, payload STRING",
        0L, 10L, samples = Seq("s1"))
    }
    assert(e.getMessage.contains("STRING"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      VariantStore.readAsOf(spark, dir, "key LONG, ver LONG, sample LONG, payload STRING",
        5L, samples = Seq("s1"))
    }
    assert(e2.getMessage.contains("STRING"), e2.getMessage)
  }
}
