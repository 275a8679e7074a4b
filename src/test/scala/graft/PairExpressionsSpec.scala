package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.PairExpressions

/** Parity pins for the r22b bucket-pair expansion kernel: each mode must
  * reproduce the lambda chain + post-projection metric it replaced —
  * same pair domain (strict b.doc_id > a.doc_id over the sliced sorted
  * bucket), same metric values, same null propagation — on BOTH codegen
  * paths. */
class PairExpressionsSpec extends SparkSpec {
  import spark.implicits._

  // the pre-r22b chain, verbatim: interpreted expansion carrying both
  // sigs, metric as a later projection
  private def oldPairs(bucketed: DataFrame, keys: Seq[String],
      maxWidth: Int): DataFrame =
    bucketed.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("ds0"))
      .filter(size(col("ds0")) > 1)
      .select(slice(col("ds0"), 1, maxWidth).as("ds"))
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
      .select(explode(expr(
        """transform(filter(ds, b -> b.doc_id > a.doc_id),
          |  b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b,
          |              a.sig AS sa, b.sig AS sb))""".stripMargin)).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.sa").as("sa"), col("p.sb").as("sb"))

  private def newPairs(bucketed: DataFrame, keys: Seq[String], mode: String,
      maxWidth: Int): DataFrame = {
    val expanded = bucketed.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("ds0"))
      .filter(size(col("ds0")) > 1)
      .select(slice(col("ds0"), 1, maxWidth).as("ds"))
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "a")))
      .select(explode(PairExpressions.bucketPairs(col("ds"), col("a"), mode)).as("p"))
    if (mode == "ids")
      expanded.select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
    else
      expanded.select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.m").as("m"))
  }

  private def eachCodegen(body: => Unit): Unit =
    for (cg <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.factoryMode", cg)
      try body finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }

  test("match32 mode: pair set and match counts equal the chain + matchCount") {
    // The reference matchCount is the zip_with/filter chain (the rule the
    // retired graft_match_count kernel was pinned against).
    // Buckets with ragged sigs, null elements inside sigs, a NULL sig,
    // a hot bucket hitting the width cap, and multi-bucket collisions
    val rows: Seq[(java.lang.Long, Seq[Integer], Int, String)] = Seq(
      (1L: java.lang.Long, Seq[Integer](1, 2, 3), 0, "b1"),
      (2L: java.lang.Long, Seq[Integer](1, 9, 3), 0, "b1"),
      (3L: java.lang.Long, Seq[Integer](1, 2), 0, "b1"),        // ragged
      (4L: java.lang.Long, Seq[Integer](1, null, 3), 0, "b1"),  // null element
      (5L: java.lang.Long, null, 0, "b1"),                      // null sig
      (1L: java.lang.Long, Seq[Integer](1, 2, 3), 1, "b2"),     // multi-bucket pair
      (2L: java.lang.Long, Seq[Integer](1, 9, 3), 1, "b2"),
      (null.asInstanceOf[java.lang.Long], Seq[Integer](7), 0, "b1")) // null doc_id
    val df = rows.toDF("doc_id", "sig", "band", "bh")
    eachCodegen {
      val old = oldPairs(df, Seq("band", "bh"), 4)
        .select(col("doc_a"), col("doc_b"),
          expr("size(filter(zip_with(sa, sb, (x, y) -> x = y), p -> p))").as("m"))
        .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSeq.sorted(ord)
      val neu = newPairs(df, Seq("band", "bh"), "match32", 4)
        .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSeq.sorted(ord)
      assert(old == neu, s"match32 drift:\nold=$old\nnew=$neu")
      assert(old.nonEmpty)
    }
  }

  test("hamming mode: pair set and distances equal the chain + xor/bit_count") {
    val rows: Seq[(java.lang.Long, (java.lang.Long, java.lang.Long), Int, String)] = Seq(
      (1L: java.lang.Long, (255L: java.lang.Long, 0L: java.lang.Long), 0, "c1"),
      (2L: java.lang.Long, (15L: java.lang.Long, 1L: java.lang.Long), 0, "c1"),
      (3L: java.lang.Long, (255L: java.lang.Long, 0L: java.lang.Long), 0, "c1"),
      (4L: java.lang.Long, (null.asInstanceOf[java.lang.Long],
        7L: java.lang.Long), 0, "c1")) // null hi field
    val df = rows.toDF("doc_id", "sig", "c", "chunk")
      .select(col("doc_id"),
        struct(col("sig._1").as("hi"), col("sig._2").as("lo")).as("sig"),
        col("c"), col("chunk"))
    eachCodegen {
      val old = oldPairs(df, Seq("c", "chunk"), 4096)
        .select(col("doc_a"), col("doc_b"),
          expr("bit_count(sa.hi ^ sb.hi) + bit_count(sa.lo ^ sb.lo)").as("m"))
        .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSeq.sorted(ord)
      val neu = newPairs(df, Seq("c", "chunk"), "hamming", 4096)
        .collect().map(r => (r.get(0), r.get(1),
          if (r.isNullAt(2)) null else r.getInt(2).toLong)).toSeq.sorted(ord)
      // the chain's bit_count over BIGINT yields int in Spark; normalize
      val oldN = old.map { case (a, b, m) =>
        (a, b, if (m == null) null else m.asInstanceOf[Number].longValue: Any) }
      assert(oldN == neu, s"hamming drift:\nold=$oldN\nnew=$neu")
      assert(neu.nonEmpty)
    }
  }

  test("ids mode: pair set equals the chain's id projection (cap included)") {
    val hot = (0L until 20L).map(i => (i, Seq(1L), 0, "hot"))
    val df = hot.toDF("doc_id", "sig", "band", "bh")
    eachCodegen {
      val old = oldPairs(df, Seq("band", "bh"), 8)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val neu = newPairs(df, Seq("band", "bh"), "ids", 8)
        .as[(Long, Long)].collect().toSet
      assert(old == neu && old.size == 8 * 7 / 2)
    }
  }

  test("mode/signature mismatches and unknown modes are rejected at analysis") {
    // select analyzes eagerly and nothing here runs a job: a mismatch must
    // never surface as a run-time cast error inside the kernel
    val ints = Seq((Seq((1L, Seq(1, 2)), (2L, Seq(1, 3))), (1L, Seq(1, 2))))
      .toDF("ds", "a")
    val longs = Seq((Seq((1L, Seq(1L, 2L))), (1L, Seq(1L, 2L)))).toDF("ds", "a")
    val hilo = Seq((Seq((1L, (1L, 2L))), (1L, (1L, 2L)))).toDF("ds", "a")
    val mixed = Seq((Seq((1L, Seq(1, 2))), (1L, Seq(1L, 2L)))).toDF("ds", "a")
    for ((df, mode) <- Seq(ints -> "hamming", longs -> "match32",
        hilo -> "match32", longs -> "hamming", mixed -> "ids")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(PairExpressions.bucketPairs(col("ds"), col("a"), mode))
      }
      assert(e.getMessage.contains(s"graft_bucket_pairs_$mode"), e.getMessage)
    }
    // and the accepted shapes still analyze
    ints.select(PairExpressions.bucketPairs(col("ds"), col("a"), "match32"))
    hilo.select(PairExpressions.bucketPairs(col("ds"), col("a"), "hamming"))
    longs.select(PairExpressions.bucketPairs(col("ds"), col("a"), "ids"))
    val unknown = intercept[IllegalArgumentException] {
      ints.select(PairExpressions.bucketPairs(col("ds"), col("a"), "jaccard"))
    }
    assert(unknown.getMessage.contains("unknown mode 'jaccard'"), unknown.getMessage)
  }

  private def ord: Ordering[(Any, Any, Any)] =
    Ordering.by(t => (String.valueOf(t._1), String.valueOf(t._2), String.valueOf(t._3)))
}
