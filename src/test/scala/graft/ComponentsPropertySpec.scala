package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAllNoShrink, propBoolean}
import org.scalacheck.rng.Seed
import graft.ops.Dedup

/** `Dedup.connectedComponents` ≡ a driver-side union-find on generated
  * graphs: min-centred stars (settled at the seed, so no round may run),
  * ascending paths long enough to need two or more rounds, messy graphs
  * (cycles, self-edges, duplicate and reversed edges, isolated nodes) and
  * the empty node set. Each case runs real Spark jobs: a fixed seed and a
  * small case count. */
object ComponentsPropertySpec extends Properties("components") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withInitialSeed(Seed(20261018L))

  private lazy val spark = TestSpark.spark

  private type Graph = (Seq[Long], Seq[(Long, Long)])

  /** Reference labels: every node → the minimum id of its union-find set. */
  private def unionFind(g: Graph): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    g._1.foreach(find)
    for ((a, b) <- g._2) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  /** Runs the Spark labelling; its labels and round count. */
  private def label(g: Graph): (Map[Long, Long], Int) = {
    val s = spark
    import s.implicits._
    s.sparkContext.setLogLevel("ERROR")
    val (lab, rounds) = Dedup.labelComponents(
      g._1.toDF("doc_id"), g._2.toDF("doc_a", "doc_b"))
    (lab.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  private def matchesReference(g: Graph, rounds: Int => Boolean): Prop = {
    val (got, n) = label(g)
    val want = unionFind(g)
    (got == want) :| s"labels differ from union-find: got $got, want $want" &&
      rounds(n) :| s"unexpected round count $n"
  }

  /** Every edge kept, reversed, doubled or doubled reversed; shuffled. */
  private def scramble(edges: Seq[(Long, Long)]): Gen[Seq[(Long, Long)]] = for {
    kinds <- Gen.listOfN(edges.length, Gen.frequency(4 -> 0, 1 -> 1, 1 -> 2, 1 -> 3))
    order <- Gen.long
  } yield new scala.util.Random(order).shuffle(edges.zip(kinds).flatMap {
    case ((a, b), 0) => Seq((a, b))
    case ((a, b), 1) => Seq((b, a))
    case ((a, b), 2) => Seq((a, b), (a, b))
    case ((a, b), _) => Seq((a, b), (b, a))
  })

  /** 1–4 disjoint stars, each centred at its smallest id (leaves sit
    * 3..75 above their centre, centres at least 101 apart). */
  private val stars: Gen[Graph] = for {
    sizes <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.choose(0, 25)))
    gaps <- Gen.listOfN(sizes.length, Gen.choose(101L, 1000L))
    centres = gaps.scanLeft(0L)(_ + _).tail
    edges <- scramble(centres.zip(sizes).flatMap { case (c, n) =>
      (1 to n).map(i => (c, c + i * 3L)) })
  } yield ((centres ++ edges.flatMap(e => Seq(e._1, e._2))).distinct, edges)

  /** One path whose ids ascend from one end. The seed labels node k with
    * k−1 and a round moves labels at most 8 hops, so 10 or more nodes
    * need at least two rounds. */
  private val paths: Gen[Graph] = for {
    n <- Gen.choose(10, 60)
    start <- Gen.choose(0L, 1L << 40)
    step <- Gen.choose(1L, 5L)
    ids = (0 until n).map(i => start + i * step)
    edges <- scramble(ids.zip(ids.tail))
  } yield (ids, edges)

  /** Random ids and edges plus a cycle, self-edges and isolated nodes. */
  private val messy: Gen[Graph] = for {
    n <- Gen.choose(1, 50)
    ids <- Gen.pick(n, 0L until 200L).map(_.toSeq)
    m <- Gen.choose(0, 40)
    random <- Gen.listOfN(m, Gen.zip(Gen.oneOf(ids), Gen.oneOf(ids)))
    cycleLen <- Gen.choose(0, math.min(n, 8))
    cycle <- Gen.pick(cycleLen, ids).map(_.toSeq)
    selfs <- Gen.listOfN(3, Gen.oneOf(ids)).map(_.map(x => (x, x)))
    ring = if (cycle.length < 2) Nil else cycle.zip(cycle.tail :+ cycle.head)
    edges <- scramble(random ++ ring ++ selfs)
  } yield (ids, edges)

  property("min-centred stars are settled at the seed (0 rounds)") =
    forAllNoShrink(stars)(g => matchesReference(g, _ == 0))

  property("ascending paths of 10+ nodes need 2+ rounds") =
    forAllNoShrink(paths)(g => matchesReference(g, _ >= 2))

  property("cycles, self-edges, duplicate/reversed edges, isolated nodes") =
    forAllNoShrink(messy)(g => matchesReference(g, _ => true))

  property("the empty node set labels nothing in 0 rounds") =
    Prop.secure(matchesReference((Nil, Nil), _ == 0))
}
