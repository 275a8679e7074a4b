package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions._

/** Codegen'd vector expressions: value parity with the interpreted
  * higher-order fold they replaced, SQL registration, and edge cases. */
class VectorExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
    (2L, Seq(0.5f, -0.5f), Seq(2.0f, 2.0f)),
    (3L, Seq.empty[Float], Seq.empty[Float])
  ).toDF("id", "a", "b")

  test("dot and norm2 match the interpreted sequential fold bit-for-bit") {
    val fold = aggregate(zip_with($"a", $"b", (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val rows = df.select(dotp($"a", $"b").as("fast"), fold.as("slow"))
      .as[(Double, Double)].collect()
    assert(rows.forall { case (f, s) => f == s })
    val n = df.select(norm2($"a").as("n")).as[Double].collect()
    assert(n.toSeq == Seq(14.0, 0.5, 0.0))
  }

  test("expressions survive both codegen and interpreted paths") {
    val expected = Seq(32.0, 0.0, 0.0)
    val out = df.select(dotp($"a", $"b")).as[Double].collect().toSeq
    assert(out == expected)
    withClue("interpreted fallback") {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      try assert(df.select(dotp($"a", $"b")).as[Double].collect().toSeq == expected)
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("integer dotl matches the fold on both codegen paths; SQL works") {
    val d = Seq(
      (Seq(1L, -2L, 127L), Seq(3L, 4L, 127L)),
      (Seq.empty[Long], Seq.empty[Long])
    ).toDF("a", "b")
    val expected = Seq(1L * 3 - 2 * 4 + 127L * 127, 0L)
    assert(d.select(dotl($"a", $"b")).as[Long].collect().toSeq == expected)
    withClue("interpreted fallback") {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      try assert(d.select(dotl($"a", $"b")).as[Long].collect().toSeq == expected)
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    GraftExtensions.register(spark)
    d.limit(1).createOrReplaceTempView("lvecs")
    assert(spark.sql("SELECT graft_dotl(a, b) FROM lvecs").as[Long].head() == expected.head)
  }

  test("optimizer rule rewrites self-dot to norm2") {
    GraftExtensions.register(spark)
    // parquet-backed source so constant folding can't collapse the plan
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val p = emb.select(dotp($"embedding", $"embedding").as("s"))
      .queryExecution.optimizedPlan.toString
    assert(p.contains("graft_norm2") && !p.contains("graft_dot"),
      s"self-dot not rewritten:\n$p")
    // and the rewrite preserves values (norm2 == self-dot by definition)
    val both = emb.limit(5).select(dotp($"embedding", $"embedding").as("d"),
      norm2($"embedding").as("n")).as[(Double, Double)].collect()
    assert(both.forall { case (d, n) => d == n })
  }

  test("mismatched lengths use the shorter prefix; SQL surface works") {
    val d = Seq((Seq(1.0, 2.0, 3.0), Seq(10.0, 10.0))).toDF("a", "b")
    assert(d.select(dotp($"a", $"b")).as[Double].head() == 30.0)
    GraftExtensions.register(spark)
    d.createOrReplaceTempView("vecs")
    assert(spark.sql("SELECT graft_dot(a, b) FROM vecs").as[Double].head() == 30.0)
    assert(spark.sql("SELECT graft_norm2(a) FROM vecs").as[Double].head() == 14.0)
  }

  test("zvalue matches a reference interleave on both eval paths; SQL works") {
    import org.apache.spark.sql.functions.{col, expr}
    def ref(x: Long, y: Long, bits: Int): Long =
      (0 until bits).foldLeft(0L)((z, k) =>
        z | ((x >> k) & 1L) << (2 * k) | ((y >> k) & 1L) << (2 * k + 1))
    val d = spark.range(0, 256)
      .select((col("id") % 16).as("x"), (col("id") / 16).as("y"))
    val expected = (0L until 256L).map(i => ref(i % 16, i / 16, 4)).sorted
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      val got = d.select(zvalue(col("x"), col("y"), 4).as("z"))
        .as[Long].collect().sorted.toSeq
      assert(got == expected, s"zvalue mismatch under $cg")
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
    // z-order locality: consecutive z quads share the same 2×2 cell
    d.createOrReplaceTempView("pts")
    val viaSql = spark.sql("SELECT graft_zvalue(x, y, 4) FROM pts ORDER BY 1")
      .as[Long].collect().toSeq
    assert(viaSql == expected)
  }

  test("zvalue rejects out-of-domain coordinates on both eval paths") {
    // silent low-bit truncation would collide distinct points (1024 and
    // 0 at bits=10) and poison min/max pruning built on the code — the
    // expression is SQL-exposed, so the domain is enforced loudly
    import org.apache.spark.sql.functions.{col, lit}
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      val boom = intercept[Exception] {
        spark.range(1).select(zvalue(lit(1024L), lit(0L), 10).as("z"))
          .collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
      assert(msgs(boom).exists(_.contains("inputs must be in [0, 2^10)")),
        s"expected a domain error under $cg, got: $boom")
      // in-domain still works
      val ok = spark.range(1).select(zvalue(lit(1023L), lit(0L), 10).as("z"))
        .as[Long].collect()
      assert(ok.head == (0 until 10).foldLeft(0L)((z, k) =>
        z | ((1023L >> k) & 1L) << (2 * k)))
    }
    spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("fixed-point vector sum fails fast on ragged vectors") {
    // zero-padding a short row would silently deflate the tail dims of
    // any mean computed as sum/count — raggedness is corruption, not a
    // shape to absorb
    import org.apache.spark.sql.functions.col
    import graft.functions.VectorAggregates.vecFixedSum
    val ragged = Seq(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)).toDF("v")
      .coalesce(1) // one partition: the mismatch must surface in update()
    val boom = intercept[Exception] {
      ragged.select(vecFixedSum(col("v"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(boom).exists(_.contains("ragged vector")),
      s"expected a ragged-vector error, got: $boom")
    // uniform vectors still aggregate exactly
    val ok = Seq(Seq(1.5, 2.5), Seq(0.5, 0.5)).toDF("v")
      .select(vecFixedSum(col("v")).as("s"))
      .selectExpr("transform(s, x -> cast(x as double) / cast(16777216 as double)) AS dims")
      .as[Seq[Double]].collect().head
    assert(ok == Seq(2.0, 3.0), s"fixed-point sum drifted: $ok")
  }
}
