package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.ops.{Dedup, Gvcf}

/** Randomized properties (SURVEY §5.2.3): MinHash estimates track true
  * shingle Jaccard, and the combine is invariant under arbitrary stride
  * splits of arbitrary block layouts. Each case runs real Spark jobs,
  * so the case count is kept small. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = TestSpark.spark
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")

  private def shingleSet(tokens: Seq[String]): Set[String] =
    if (tokens.length < 3) Set(tokens.mkString(" "))
    else tokens.sliding(3).map(_.mkString(" ")).toSet

  private val genDocPair: Gen[(Seq[String], Seq[String])] = for {
    n <- Gen.choose(12, 40)
    base <- Gen.listOfN(n, Gen.oneOf(vocab))
    nEdits <- Gen.choose(0, n / 2)
    editPos <- Gen.listOfN(nEdits, Gen.choose(0, n - 1))
    editTok <- Gen.listOfN(nEdits, Gen.oneOf(vocab))
  } yield {
    val edited = editPos.zip(editTok).foldLeft(base.toVector) {
      case (acc, (i, t)) => acc.updated(i, t)
    }
    (base, edited)
  }

  property("minhash estimate tracks true shingle jaccard") =
    forAll(genDocPair) { case (da, db) =>
      import spark.implicits._
      spark.sparkContext.setLogLevel("ERROR")
      val docs = Seq((0L, da.mkString(" ")), (1L, db.mkString(" "))).toDF("doc_id", "text")
      val sigs = Dedup.minhashSignatures(docs).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[scala.collection.Seq[Long]]("sig")).toMap
      val est = sigs(0L).zip(sigs(1L)).count { case (x, y) => x == y }.toDouble / Dedup.NumPerms
      val sa = shingleSet(da); val sb = shingleSet(db)
      val truth = (sa & sb).size.toDouble / (sa | sb).size
      // 32 permutations → σ ≈ sqrt(J(1-J)/32) ≤ 0.09; allow ~4σ
      math.abs(est - truth) <= 0.37
    }

  private val genBlocks: Gen[Seq[(String, Long, Long, String)]] = for {
    nSites <- Gen.choose(1, 4)
    sites <- Gen.listOfN(nSites, Gen.choose(2L, 95L))
  } yield {
    // one sample: non-overlapping blocks covering [1,100] minus the sites
    val cuts = sites.distinct.sorted
    val blocks = (Seq(0L) ++ cuts).zip(cuts ++ Seq(101L)).collect {
      case (lo, hi) if lo + 1 <= hi - 1 => ("s", lo + 1, hi - 1, "block")
    }
    blocks ++ cuts.map(p => ("s", p, p, "site"))
  }

  property("combine invariant under arbitrary stride splits") =
    forAll(genBlocks, Gen.choose(2L, 33L)) { (rows, stride) =>
      import spark.implicits._
      spark.sparkContext.setLogLevel("ERROR")
      val df = rows.map { case (s, lo, hi, kind) =>
        (s, "chr1", lo, hi, kind, Seq(if (kind == "site") "ALT" else "REF"), 50)
      }.toDF("sample", "contig", "start", "end", "kind", "alleles", "gq")
      val direct = Gvcf.combineSites(df).collect().toSeq
      val split = Gvcf.combineSites(Gvcf.splitBlocks(df, stride)).collect().toSeq
      direct == split
    }

  private val genGraph: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(4, 16)            // node ids 0..n-1
    m <- Gen.choose(3, 40)
    edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
  } yield edges

  property("degree-ordered triangle count equals brute force") =
    forAll(genGraph) { rawEdges =>
      import spark.implicits._
      spark.sparkContext.setLogLevel("ERROR")
      val und = rawEdges.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = und.flatMap { case (u, v) => Seq(u, v) }.toSeq.sorted
      def adj(a: Long, b: Long) = und((math.min(a, b), math.max(a, b)))
      val brute = (for {
        i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
        if adj(nodes(i), nodes(j)) && adj(nodes(j), nodes(k)) && adj(nodes(i), nodes(k))
      } yield 1).size.toLong
      val got = graft.ops.Extras.triangleSummary(rawEdges.toDF("a", "b"))
        .select("n_triangles").collect().headOption.map(_.getLong(0)).getOrElse(0L)
      // empty undirected edge set (all self-loops) → empty summary frame
      und.isEmpty || got == brute
    }

  property("fixed-point ewma equals the reference weighted sum") =
    forAll(Gen.choose(1, 12), Gen.listOfN(12, Gen.choose(0, 99999))) { (n, centsAll) =>
      import spark.implicits._
      spark.sparkContext.setLogLevel("ERROR")
      val cents = centsAll.take(n)
      val rows = cents.zipWithIndex.map { case (c, i) =>
        ("t", 1L, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i / 60}%02d:${i % 60}%02d"),
          i.toLong, c / 100.0)
      }
      val df = rows.toDF("event_type", "user_id", "ts", "event_id", "value")
      val got = graft.ops.Extras.ewmaOf(df)
        .select("n_events", "ewma").as[(Long, Double)].head()
      // reference: last up-to-8 micro-units, weight 2^j oldest→newest
      val win = cents.takeRight(8).map(_ * 100L)
      val numer = win.zipWithIndex.map { case (u, j) => u << j }.sum
      val denom = (1L << win.size) - 1
      val want = BigDecimal(numer.toDouble / denom / 10000)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      got == ((n.toLong, want))
    }

  private val genVec: Gen[Seq[Option[Float]]] = for {
    n <- Gen.choose(0, 12)
    v <- Gen.listOfN(n, Gen.frequency(
      9 -> Gen.choose(-100, 100).map(i => Some(i / 7.0f)),
      1 -> Gen.const(Option.empty[Float])))
  } yield v

  property("graft_dot codegen == interpreted == driver fold, nulls included") =
    forAll(genVec, genVec) { (a, b) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      spark.sparkContext.setLogLevel("ERROR")
      val df = Seq((a, b)).toDF("a", "b")
      // reference: shorter-prefix fold, null elements contribute nothing
      val want = a.zip(b).collect {
        case (Some(x), Some(y)) => x.toDouble * y.toDouble
      }.foldLeft(0.0)(_ + _)
      val cg = df.select(
        graft.functions.VectorExpressions.dotp(col("a"), col("b"))).as[Double].head()
      val interp =
        try {
          spark.conf.set("spark.sql.codegen.wholeStage", "false")
          df.select(graft.functions.VectorExpressions.dotp(col("a"), col("b")))
            .as[Double].head()
        } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
      // bit-equality across all three: the determinism claim every
      // similarity oracle rests on
      cg == want && interp == want
    }
}
