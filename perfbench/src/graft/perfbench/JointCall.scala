package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.Gvcf

/** One gVCF record, in the cohort schema `Gvcf` consumes. */
final case class GvcfRecord(sample: String, contig: String, start: Long, end: Long,
    kind: String, alleles: Seq[String], gq: Int, gt: String)

/** `joint_call`: the paper's computation — CombineGVCFs, GenotypeGVCFs and
  * export over a whole wide cohort, through the width-dispatching
  * `Gvcf.*Auto` routes. Never touches the store. */
final class JointCall(spark: SparkSession, seed: Long) extends Workload {
  import JointCall._

  val name = "joint_call"
  val layer = "gvcf"
  val warmupPasses = 3
  val refs = mutable.Map[String, Digest]()
  override val decisions = mutable.LinkedHashMap[String, String]()
  private var path = ""
  private var records = 0L
  private var cohort: DataFrame = _

  def setup(dir: java.nio.file.Path): Unit = {
    val rows = generate(seed, Samples, Positions)
    path = dir.resolve("cohort.parquet").toString
    Gvcf.annotateWidth(Gvcf.withPl(spark.createDataFrame(rows)), Samples)
      .write.parquet(path)
    records = rows.size
  }

  def sizes: Seq[(String, Long)] =
    Seq("records" -> records, "samples" -> Samples, "positions" -> Positions)

  /** The same three results through the long/chunked routes and their
    * dense reassembly — the second public path. */
  def reference(): Unit = {
    cohort = spark.read.parquet(path)
    refs("combine") = Digest.of(Gvcf.denseFromLong(Gvcf.combineLong(cohort)))
    refs("genotype") = Digest.of(Gvcf.genotypeFromLong(Gvcf.genotypeLong(cohort)))
    refs("export") = Digest.of(Gvcf.linesFromChunks(
      Gvcf.exportChunks(cohort, chunkSamples = ChunkSamples)))
  }

  /** One joint call of the cohort: combine → genotype → export. The
    * joint call is the user's operation, so the pass gives one latency
    * sample; each stage is checked on its own. */
  def pass(r: Recorder): Unit = {
    val t0 = System.nanoTime()
    def run(op: String)(auto: => Gvcf.AutoCombine): Unit =
      r.op(op, layer, latency = false) {
        val a = r.build(auto)
        decisions(s"${op}Auto") = s"${a.format} (width ${a.width})"
        r.action(Digest.of(a.df)) == refs(op)
      }
    run("combine")(Gvcf.combineAuto(cohort))
    run("genotype")(Gvcf.genotypeAuto(cohort))
    run("export")(Gvcf.exportAuto(cohort))
    val sec = (System.nanoTime() - t0) / 1e9
    r.latencyMs += sec * 1e3
    r.throughput += records / sec
  }
}

object JointCall {
  val Samples = 500
  val Positions = 120
  /** Chunk width of the reference export: several chunks per line, so
    * the stitch in `linesFromChunks` is exercised. */
  val ChunkSamples = 256

  private val Bases = Vector("A", "C", "G", "T")

  /** A seeded wide cohort on two contigs of `positions / 2` candidate
    * positions each, 10 bp apart. Per position: a seeded ref base, one to
    * three seeded alt bases and a site frequency (stratified, see below).
    * Per sample and contig the positions are walked in order: a site
    * record where the sample varies (one of the position's alts, GT 0/1
    * or 1/1), else a reference block that runs on over the following
    * non-variant positions until a site or a seeded GQ-band break — so
    * block lengths, and with them the bucket fan-out of the coverage
    * join, vary. A sample's records never overlap (the gVCF invariant). */
  def generate(seed: Long, samples: Int, positions: Int): Seq[GvcfRecord] = {
    val rnd = new java.util.SplittableRandom(seed)
    val perContig = positions / 2
    val ref = Vector.fill(positions)(rnd.nextInt(4))
    val alts = Vector.tabulate(positions) { j =>
      val others = (0 until 4).filter(_ != ref(j))
      val shuffled = others.map(b => (rnd.nextInt(), b)).sortBy(_._1).map(_._2)
      shuffled.take(1 + rnd.nextInt(3)).map(Bases)
    }
    // site frequencies stratified over [0.02, 0.52) and dealt to positions
    // in seeded order: the seed moves which positions vary, not how many
    // records the cohort has, so every seed asks for about the same work
    val freq = Vector.tabulate(positions)(j => 0.02 + 0.5 * (j + rnd.nextDouble()) / positions)
      .map(f => (rnd.nextLong(), f)).sortBy(_._1).map(_._2)
    val out = mutable.ArrayBuffer[GvcfRecord]()
    for (k <- 0 until samples; c <- 0 until 2) {
      val sample = f"s$k%05d"
      val contig = s"chr${c + 1}"
      var block: Option[(Int, Int)] = None // (first, last) position index
      def flush(): Unit = block.foreach { case (f, l) =>
        out += GvcfRecord(sample, contig, 10L * (f - c * perContig) + 1,
          10L * (l - c * perContig) + 10, "block", Seq(Bases(ref(f))),
          10 + rnd.nextInt(90), "0/0")
        block = None
      }
      for (j <- c * perContig until (c + 1) * perContig) {
        if (rnd.nextDouble() < freq(j)) {
          flush()
          val pos = 10L * (j - c * perContig) + 1
          out += GvcfRecord(sample, contig, pos, pos, "site",
            Seq(Bases(ref(j)), alts(j)(rnd.nextInt(alts(j).size))),
            10 + rnd.nextInt(90), if (rnd.nextBoolean()) "0/1" else "1/1")
        } else block = block match {
          case Some((f, _)) if rnd.nextDouble() >= BandBreak => Some((f, j))
          case _ => flush(); Some((j, j))
        }
      }
      flush()
    }
    out.toSeq
  }

  /** Chance that a reference block ends at a non-variant position (a GQ
    * band change), which sets the block-length distribution. */
  private val BandBreak = 0.2
}
