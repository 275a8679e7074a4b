import org.scalatest.funsuite.AnyFunSuite

/** PLANS.md stays reproducible: the tokens that drift between runs are
  * normalised, and a long plan is cut at a line boundary. */
class PlanDumpSpec extends AnyFunSuite {

  test("normalise renumbers ids by first appearance and masks run-specific names") {
    val run1 = "Output [2]: [doc_id#250L, sig#256]\nArguments: hashpartitioning(doc_id#250L, 8), " +
      "[plan_id=2174]\nArguments: Foo$$$Lambda$5547/0x00007fc3dd489870@6216b817, obj#659\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_ivf__data_sf0_1_fe509043eb8e/vectors]\n" +
      "Output [1]: [transform(v#256, lambdafunction(abs(lambda x_8#700), lambda x_8#700, false))]\n" +
      "Arguments: [doc_a#250L], MapPartitionsRDD[157] at localCheckpoint, ExistingRDD\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_inc_v1_n30000_76c9bdedaf4c__data_sf0_1/comb]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_src_store__data_0a1b2c3d4e5f/part-00000-49-5a1eafcf.parquet]"
    val run2 = run1.replace("#250", "#977").replace("#256", "#12").replace("#659", "#3")
      .replace("2174", "99").replace("5547/0x00007fc3dd489870@6216b817", "12/0x00007efbe54887d0@1df2d986")
      .replace("fe509043eb8e", "0123456789ab").replace("#700", "#41").replace("x_8", "x_23")
      .replace("[157]", "[111]").replace("76c9bdedaf4c", "aaaabbbbcccc")
      .replace("49-5a1eafcf", "300-5c578981")
    val n = PlanDump.normalise(run1)
    assert(n == PlanDump.normalise(run2))
    assert(n == "Output [2]: [doc_id#1L, sig#2]\nArguments: hashpartitioning(doc_id#1L, 8), " +
      "[plan_id=1]\nArguments: Foo$$$Lambda, obj#3\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_ivf__data_sf0_1_<fingerprint>/vectors]\n" +
      "Output [1]: [transform(v#2, lambdafunction(abs(lambda x_1#4), lambda x_1#4, false))]\n" +
      "Arguments: [doc_a#1L], MapPartitionsRDD[1] at localCheckpoint, ExistingRDD\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_inc_v1_n30000_<fingerprint>__data_sf0_1/comb]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_src_store__data_<fingerprint>/part-00000-<id>.parquet]")
  }

  test("normalise masks the JVM's output root and the source line of a call site") {
    def plan(root: String, line: Int) =
      s"Location: InMemoryFileIndex [file:/tmp/graft_run_$root/graft_src_bkt_li__data_sf0_1]\n" +
        s"Arguments: [sample#8], MapPartitionsRDD[1] at localCheckpoint at Gvcf.scala:$line, ExistingRDD"
    val n = PlanDump.normalise(plan("8164417096043421133", 1044))
    assert(n == PlanDump.normalise(plan("123456789012", 1030)))
    assert(n == "Location: InMemoryFileIndex [file:/tmp/graft_run_<id>/graft_src_bkt_li__data_sf0_1]\n" +
      "Arguments: [sample#1], MapPartitionsRDD[1] at localCheckpoint at Gvcf.scala:<line>, ExistingRDD")
  }

  test("cut keeps whole lines up to the budget") {
    val line = "x" * 99 + "\n"
    assert(PlanDump.cut(line * 45) == line * 45)
    val long = line * 46
    assert(PlanDump.cut(long) == line * 45 + "... (truncated)\n")
  }
}
