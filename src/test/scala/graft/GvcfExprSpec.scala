package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GvcfExpressions

/** The r22 codegen-native gVCF expressions vs the interpreted
  * higher-order-function chains they replaced: value parity on
  * adversarial inputs (malformed GT tokens, null PL/GQ, null elements,
  * ties, out-of-range indices), on BOTH the codegen and interpreted
  * execution paths. The chains here are the r21 expressions verbatim —
  * a parity failure means the native kernel drifted. */
class GvcfExprSpec extends SparkSpec {

  /** Coverage-row shapes: (gt, kind, alleles, gq, pl, malleles/alts). */
  private def cov: DataFrame = {
    import spark.implicits._
    Seq(
      // ordinary site rows: het / hom / ref calls, 2 local alleles
      ("0/1", "site", Seq("A", "C"), Some(30), Some(Seq(10, 0, 20, 30, 40, 50))),
      ("1/1", "site", Seq("A", "C"), Some(99), Some(Seq(12, 11, 0, 9, 8, 7))),
      ("0/0", "site", Seq("G", "T"), Some(10), Some(Seq(0, 5, 10, 15, 20, 25))),
      // tie in PL (first-index argmin must win), phased separator
      ("0|1", "site", Seq("C", "G"), Some(42), Some(Seq(7, 7, 7, 7, 7, 7))),
      // short PL vector (out-of-range lookups -> 999999 sentinel)
      ("1/2", "site", Seq("T", "A"), Some(55), Some(Seq(3, 1))),
      // negative + garbage + empty + missing GT tokens
      ("-1/x", "site", Seq("A", "G"), Some(20), Some(Seq(1, 2, 3, 4, 5, 6))),
      ("./1", "site", Seq("A", "G"), Some(20), Some(Seq(1, 2, 3, 4, 5, 6))),
      ("5/0", "site", Seq("A", "G"), Some(20), Some(Seq(1, 2, 3, 4, 5, 6))),
      (" 1/0 ", "site", Seq("A", "G"), Some(20), Some(Seq(9, 2, 3, 4, 5, 6))),
      ("+1/0", "site", Seq("A", "G"), Some(20), Some(Seq(9, 2, 3, 4, 5, 6))),
      ("007/2147483648", "site", Seq("A", "G"), Some(20), Some(Seq(9, 2, 3, 4, 5, 6))),
      ("1//2", "site", Seq("A", "G"), Some(20), Some(Seq(9, 2, 3, 4, 5, 6))),
      ("1/", "site", Seq("A", "G"), Some(20), Some(Seq(9, 2, 3, 4, 5, 6))),
      // blocks: null PL (banded likelihoods), incl. null GQ
      ("0/0", "block", Seq("A"), Some(25), None),
      ("0/0", "block", Seq("C"), None, None),
      // site with null PL (degrades to banded branch)
      ("0/1", "site", Seq("A", "C"), Some(17), None),
      // null element inside PL (coalesce -> 999999)
      ("0/1", "site", Seq("A", "C"), Some(17), Some(Seq(10, 0, 20)))
    ).toDF("gt", "kind", "alleles", "gq", "pl")
      .withColumn("pl",
        when(col("gt") === "0/1" && col("gq") === 17 && col("pl").isNotNull,
          expr("array(10, CAST(NULL AS INT), 20, 30, 40, 50)"))
          .otherwise(col("pl")))
      .withColumn("alts", expr("concat(array('C','G'), array('<NON_REF>'))"))
      .withColumn("malleles", expr("concat(array('A'), alts)"))
      .withColumn("lall", expr("concat(alleles, array('<NON_REF>'))"))
  }

  /** r21 interpreted chain, verbatim (see Gvcf.scala history). */
  private def hofRegenotype(df: DataFrame): DataFrame = df
    .withColumn("limap", expr(
      """transform(malleles, m ->
        |  CASE WHEN array_position(lall, m) > 0
        |       THEN CAST(array_position(lall, m) - 1 AS INT)
        |       ELSE size(lall) - 1 END)""".stripMargin))
    .withColumn("pairs", expr(
      "flatten(transform(sequence(0, size(malleles) - 1), " +
        "b -> transform(sequence(0, b), a -> array(a, b))))"))
    .withColumn("mpl", expr(
      """CASE WHEN kind = 'block' OR pl IS NULL THEN
        |  transform(pairs, p -> coalesce(gq, 0) * (CAST(p[0] > 0 AS INT) + CAST(p[1] > 0 AS INT)))
        |ELSE
        |  transform(pairs, p -> coalesce(try_element_at(pl, CAST(
        |    (greatest(limap[p[0]], limap[p[1]]) * (greatest(limap[p[0]], limap[p[1]]) + 1)) div 2
        |      + least(limap[p[0]], limap[p[1]]) + 1 AS INT)), 999999))
        |END""".stripMargin))
    .withColumn("g", expr("CAST(array_position(mpl, array_min(mpl)) - 1 AS INT)"))
    .withColumn("hof_gt", expr("concat(pairs[g][0], '/', pairs[g][1])"))
    .withColumn("spl", array_sort(col("mpl")))
    .withColumn("hof_gq", expr("least(try_element_at(spl, 2) - try_element_at(spl, 1), 99)"))

  private def nativeRegenotype(df: DataFrame): DataFrame = df
    .withColumn("pk", GvcfExpressions.plRegenotype(
      col("malleles"), col("lall"), col("pl"), col("kind"), col("gq")))
    .withColumn("nat_gt", expr(
      "concat(CAST(pk & 1048575 AS STRING), '/', " +
        "CAST(shiftright(pk, 20) & 1048575 AS STRING))"))
    .withColumn("nat_gq", expr("CAST(shiftright(pk, 40) AS INT)"))

  private def assertParity(kernel: String, mk: DataFrame => DataFrame,
      cols: Seq[(String, String)], input: => DataFrame = cov): Unit =
    onBothEvalPaths(kernel) {
      val out = mk(input)
      // each side in its own query: a projection that also holds an
      // interpreted HOF chain is never fused into a codegen stage
      for ((a, b) <- cols) {
        val bad = out.select(a).collect().zip(out.select(b).collect())
          .filter { case (x, y) => x != y }
        assert(bad.isEmpty, s"$a != $b on ${bad.take(3).mkString("; ")}")
      }
    }

  test("graft_pl_regenotype matches the r21 HOF chain (codegen + interpreted)") {
    assertParity("graft_pl_regenotype",
      df => nativeRegenotype(hofRegenotype(df)),
      Seq("nat_gt" -> "hof_gt", "nat_gq" -> "hof_gq"))
  }

  test("graft_merged_alts matches the sort/distinct/flatten chain") {
    import spark.implicits._
    val df = Seq(
      Seq(Seq("C", "A"), Seq("A"), Seq("T", "C")),
      Seq(Seq.empty[String]),
      Seq(Seq("G"))
    ).toDF("x")
    assertParity("graft_merged_alts",
      d => d
        .withColumn("hof", concat(
          array_sort(array_distinct(flatten(col("x")))), array(lit("<NON_REF>"))))
        .withColumn("nat", GvcfExpressions.mergedAlts(col("x"), "<NON_REF>")),
      Seq("nat" -> "hof"),
      input = df)
  }

  test("graft_remap_gt matches the r21 CASE chain on adversarial tokens") {
    assertParity("graft_remap_gt",
      df => df
        .withColumn("hof", expr(
          """CASE WHEN kind = 'block' THEN replace(gt, '|', '/') ELSE
            |  array_join(transform(split(replace(gt, '|', '/'), '/'), g ->
            |    CASE WHEN g = '.' OR try_cast(g AS INT) IS NULL
            |           OR try_cast(g AS INT) < 0 THEN '.'
            |         WHEN CAST(g AS INT) = 0 THEN '0'
            |         ELSE CAST(array_position(alts,
            |                CASE WHEN CAST(g AS INT) < size(alleles)
            |                     THEN element_at(alleles, CAST(g AS INT) + 1)
            |                     ELSE '<NON_REF>' END) AS STRING)
            |    END), '/')
            |END""".stripMargin))
        .withColumn("nat", GvcfExpressions.remapGt(
          col("gt"), col("kind"), col("alleles"), col("alts"), "<NON_REF>")),
      Seq("nat" -> "hof"),
      // a NULL kind / alleles / alts is data, not a NULL result
      input = cov
        .withColumn("kind", when(col("gt") =!= "./1", col("kind")))
        .withColumn("alleles", when(col("gt") =!= "5/0", col("alleles")))
        .withColumn("alts", when(col("gt") =!= "1//2", col("alts"))))
  }

  test("graft_sorted_call_vals matches transform(sort_array(...)) on ties/nulls") {
    import spark.implicits._
    val df = Seq(
      Seq((3L, "c"), (1L, "a"), (2L, "b")),
      Seq((1L, "x"), (1L, "a")), // tie on i -> c breaks it
      Seq.empty[(Long, String)],
      Seq((5L, "only"))
    ).toDF("x")
      .withColumn("x", col("x").cast("array<struct<i: bigint, c: string>>"))
      // null c field + null struct element corners
      .withColumn("x", expr(
        "concat(x, array(named_struct('i', 0L, 'c', CAST(NULL AS STRING))))"))
    assertParity("graft_sorted_call_vals",
      d => d
        .withColumn("hof", expr("transform(sort_array(x), s -> s.c)"))
        .withColumn("nat", GvcfExpressions.sortedCallVals(col("x"))),
      Seq("nat" -> "hof"),
      input = df)
  }

  test("graft_export_cells matches the transform/array_except/sort_array chain") {
    import spark.implicits._
    val df = Seq(
      // covered subset, missing samples fill in
      (Seq(("s2", 30, "0/1:30"), ("s4", 99, "1/1:99")), Seq("s1", "s2", "s3", "s4")),
      // fully covered
      (Seq(("s1", 1, "0/0:1"), ("s2", 2, "0/0:2")), Seq("s1", "s2")),
      // nothing covered
      (Seq.empty[(String, Int, String)], Seq("a", "b")),
      // duplicate sample in the cohort list (array_except dedups)
      (Seq(("s1", 5, "0/1:5")), Seq("s1", "s2", "s2")),
      // empty cohort
      (Seq(("s1", 5, "0/1:5")), Seq.empty[String])
    ).toDF("esd", "samples")
      .withColumn("esd", col("esd").cast("array<struct<k: string, g: int, call: string>>"))
    assertParity("graft_export_cells",
      d => d
        .withColumn("hof", expr(
          """transform(sort_array(concat(
            |  transform(esd, x -> struct(x.k AS k, x.call AS v)),
            |  transform(array_except(samples, transform(esd, x -> x.k)),
            |    n -> struct(n AS k, './.:.' AS v)))), x -> x.v)""".stripMargin))
        .withColumn("nat", GvcfExpressions.exportCells(
          col("esd"), col("samples"), "./.:.")),
      Seq("nat" -> "hof"),
      input = df)
  }

  test("remap token cast parity on whitespace/sign/overflow corners") {
    import spark.implicits._
    val toks = Seq(".", "", "0", "1", "007", " 1", "1 ", "\t2\n", "+2", "-1",
      "-0", "2147483648", "99999999999999999999", "1.5", "x", "١", "0x1", " ")
    val df = toks.map(t => (s"$t/1", "site")).toDF("gt", "kind")
      .withColumn("alleles", expr("array('A','C')"))
      .withColumn("alts", expr("array('C','<NON_REF>')"))
    assertParity("graft_remap_gt",
      d => d
        .withColumn("hof", expr(
          """array_join(transform(split(replace(gt, '|', '/'), '/'), g ->
            |    CASE WHEN g = '.' OR try_cast(g AS INT) IS NULL
            |           OR try_cast(g AS INT) < 0 THEN '.'
            |         WHEN CAST(g AS INT) = 0 THEN '0'
            |         ELSE CAST(array_position(alts,
            |                CASE WHEN CAST(g AS INT) < size(alleles)
            |                     THEN element_at(alleles, CAST(g AS INT) + 1)
            |                     ELSE '<NON_REF>' END) AS STRING)
            |    END), '/')""".stripMargin))
        .withColumn("nat", GvcfExpressions.remapGt(
          col("gt"), col("kind"), col("alleles"), col("alts"), "<NON_REF>")),
      Seq("nat" -> "hof"),
      input = df)
  }
}
