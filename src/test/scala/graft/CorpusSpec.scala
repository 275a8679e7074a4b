package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The derived corpora of [[Corpus]] at sf0.001: every source table is
  * present, untouched tables are symlinks, copied tables have the copy
  * count's rows, each spec's planted property holds, and a ready
  * destination is never rebuilt. */
class CorpusSpec extends SparkSpec {

  private val src = "/root/testdata/sf0.001"

  /** (kind, spec, copies of each rewritten table) at test scale. */
  private val kinds: Seq[(String, Corpus.Spec, Int)] = Seq(
    ("decade", Corpus.decade, 10), ("century", Corpus.century(3), 3),
    ("dup10", Corpus.dup10, 10), ("skew10", Corpus.skew10, 10),
    ("skewc", Corpus.skewCentury(3), 3), ("poison", Corpus.nullPoison, 1))

  private lazy val dirs: Map[String, String] = kinds.map { case (kind, spec, _) =>
    kind -> Corpus.build(spark, src, s"${scratchDir(s"graft_corpus_$kind")}/c", spec)
  }.toMap

  private def tbl(kind: String, t: String): DataFrame = api.tbl(spark, dirs(kind), t)

  private val sourceTables: Seq[String] =
    new java.io.File(src).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted.toSeq

  test("every source table is present and each untouched one links to its source file") {
    for ((kind, spec, _) <- kinds; t <- sourceTables) {
      val p = Paths.get(s"${dirs(kind)}/$t.parquet")
      if (spec.tables.contains(t)) assert(Files.isDirectory(p) && !Files.isSymbolicLink(p), s"$kind $t")
      else assert(Files.isSymbolicLink(p) &&
        Files.readSymbolicLink(p) == Paths.get(s"$src/$t.parquet"), s"$kind $t")
    }
  }

  test("each rewritten table has copies × the source rows") {
    for ((kind, spec, n) <- kinds; t <- spec.tables.keys)
      assert(tbl(kind, t).count() == n * api.tbl(spark, src, t).count(), s"$kind $t")
  }

  test("the decade keeps parent keys unique and every foreign key resolvable") {
    for ((t, k) <- Seq("customer" -> "c_custkey", "orders" -> "o_orderkey",
        "part" -> "p_partkey", "supplier" -> "s_suppkey", "events" -> "event_id",
        "documents" -> "doc_id", "embeddings" -> "vec_id"))
      assert(tbl("decade", t).select(k).distinct().count() == tbl("decade", t).count(), s"$t.$k")
    assert(orphans("decade", "lineitem", "l_orderkey", "orders", "o_orderkey") == 0L)
    assert(orphans("decade", "orders", "o_custkey", "customer", "c_custkey") == 0L)
  }

  /** Rows of `fact` in corpus `kind` whose `fk` matches no `dim.pk`. */
  private def orphans(kind: String, fact: String, fk: String, dim: String, pk: String): Long =
    tbl(kind, fact).join(tbl(kind, dim), col(fk) === col(pk), "left_anti").count()

  test("the century resolves every copy's order, customer, part and supplier keys") {
    for ((fact, fk, dim, pk) <- Seq(("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey")))
      assert(orphans("century", fact, fk, dim, pk) == 0L, s"$fact.$fk")
  }

  test("skew10 puts 27–33% of orders on its hot customer") {
    val o = tbl("skew10", "orders")
    val hot = o.groupBy("o_custkey").count().agg(max("count")).head.getLong(0)
    val share = hot.toDouble / o.count()
    assert(share >= 0.27 && share <= 0.33, s"hot share $share")
  }

  test("the poison corpus NULLs each target column exactly on its hash residue") {
    for ((t, (key, targets)) <- Corpus.PoisonResidues; (c, r) <- targets) {
      val onResidue = pmod(xxhash64(col(key)), lit(97)) === r
      assert(tbl("poison", t).filter(col(c).isNull =!= onResidue).count() == 0L, s"$t.$c")
      assert(tbl("poison", t).filter(onResidue).count() > 0L, s"$t.$c: empty residue")
    }
  }

  test("a second build over a ready destination writes nothing") {
    def listing(dir: String): Seq[(String, Long)] = {
      val walk = Files.walk(Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toSeq.sorted
      } finally walk.close()
    }
    val before = listing(dirs("skew10"))
    val failing = Corpus.skew10.copy(tables = Corpus.skew10.tables.map { case (t, _) =>
      t -> ((_: org.apache.spark.sql.SparkSession, _: String) => fail(s"rebuilt $t"))
    })
    assert(Corpus.build(spark, src, dirs("skew10"), failing) == dirs("skew10"))
    assert(listing(dirs("skew10")) == before)
  }
}
