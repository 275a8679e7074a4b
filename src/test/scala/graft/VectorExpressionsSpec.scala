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
    onBothEvalPaths("graft_dot") {
      // separate queries: the interpreted fold would keep the kernel's
      // projection out of the codegen stage
      val fast = df.select(dotp($"a", $"b")).as[Double].collect().toSeq
      assert(fast == df.select(fold).as[Double].collect().toSeq)
    }
    onBothEvalPaths("graft_norm2") {
      val n = df.select(norm2($"a").as("n")).as[Double].collect()
      assert(n.toSeq == Seq(14.0, 0.5, 0.0))
    }
  }

  test("expressions survive both codegen and interpreted paths") {
    val expected = Seq(32.0, 0.0, 0.0)
    onBothEvalPaths("graft_dot") {
      assert(df.select(dotp($"a", $"b")).as[Double].collect().toSeq == expected)
    }
  }

  test("integer dotl matches the fold on both codegen paths; SQL works") {
    val d = Seq(
      (Seq(1L, -2L, 127L), Seq(3L, 4L, 127L)),
      (Seq.empty[Long], Seq.empty[Long])
    ).toDF("a", "b")
    val expected = Seq(1L * 3 - 2 * 4 + 127L * 127, 0L)
    onBothEvalPaths("graft_dotl") {
      assert(d.select(dotl($"a", $"b")).as[Long].collect().toSeq == expected)
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

  test("register is a no-op on a session that has every graft function") {
    // q_bloom_prefilter registers on every build: a second registration
    // must neither replace the functions nor add a strategy or rule
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    GraftExtensions.register(spark)
    def info = spark.sessionState.functionRegistry
      .lookupFunction(FunctionIdentifier("graft_bloom_agg")).get
    val (registered, strategies, rules) =
      (info, spark.experimental.extraStrategies, spark.experimental.extraOptimizations)
    for (_ <- 1 to 2) SparkEntry.queries("q_bloom_prefilter")(spark, "/root/testdata/sf0.001")
    assert(info eq registered, "graft_bloom_agg was registered again")
    assert(spark.experimental.extraStrategies == strategies)
    assert(spark.experimental.extraOptimizations == rules)
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
    // column inputs, not literals: an all-literal call is constant-folded
    // at plan time and would never reach the generated code
    import org.apache.spark.sql.functions.col
    onBothEvalPaths("graft_zvalue") {
      val boom = intercept[Exception] {
        spark.range(1).select(zvalue(col("id") + 1024L, col("id"), 10).as("z"))
          .collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
      assert(msgs(boom).exists(_.contains("inputs must be in [0, 2^10)")),
        s"expected a domain error, got: $boom")
      // in-domain still works
      val ok = spark.range(1).select(zvalue(col("id") + 1023L, col("id"), 10).as("z"))
        .as[Long].collect()
      assert(ok.head == (0 until 10).foldLeft(0L)((z, k) =>
        z | ((1023L >> k) & 1L) << (2 * k)))
    }
  }

  test("zvalue rejects bits outside 1..32 and non-literal bits at analysis") {
    // every rejection must come from analysis (spark.sql / select analyze
    // eagerly, nothing here runs a job), never as a run-time cast error
    import org.apache.spark.sql.functions.col
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    def rejected(hint: String)(analyze: => Any): Unit = {
      val e = intercept[Exception](analyze)
      assert(!e.isInstanceOf[ClassCastException] && msgs(e).exists(_.contains(hint)),
        s"expected an analysis-time '$hint' rejection, got: $e")
    }
    GraftExtensions.register(spark)
    spark.range(4).selectExpr("id AS x", "id AS y").createOrReplaceTempView("zpts")
    for (bits <- Seq(0, 33)) {
      rejected("1..32")(spark.sql(s"SELECT graft_zvalue(x, y, $bits) FROM zpts"))
      rejected("1..32")(spark.range(1).select(zvalue(col("id"), col("id"), bits)))
    }
    rejected("literal")(spark.sql("SELECT graft_zvalue(x, y, x) FROM zpts"))
    rejected("literal")(spark.sql("SELECT graft_zvalue(x, y, CAST(NULL AS INT)) FROM zpts"))
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
