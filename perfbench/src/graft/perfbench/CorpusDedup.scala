package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import graft.ops.Dedup

/** One corpus document, in the `documents` table schema. */
final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** `corpus_dedup`: the LLM-pipeline side — MinHash, SimHash and word-3-gram
  * near-duplicate queries over a corpus with planted duplicates, then
  * the corpus-cleaning verdict whose connected-components loop labels
  * every document. */
final class CorpusDedup(spark: SparkSession, seed: Long) extends Workload {
  import CorpusDedup._

  val name = "corpus_dedup"
  val layer = "dedup"
  val warmupPasses = 1
  val refs = mutable.Map[String, Digest]()
  private val (docs, copies) = generate(seed)
  private var dir = ""
  private var expectedRecall = 0.0
  /** `planted_dup_recall` of every pass. */
  val recall = mutable.ArrayBuffer[Double]()

  def setup(d: java.nio.file.Path): Unit = {
    dir = d.resolve("corpus").toString
    spark.createDataFrame(docs).write.parquet(s"$dir/documents.parquet")
  }

  def sizes: Seq[(String, Long)] = Seq(
    "documents" -> docs.size.toLong, "base_documents" -> BaseDocs.toLong,
    "planted_pairs" -> copies.toLong)

  /** The cleaning verdict of every document, computed from the generated
    * text by the documented rules (length and stopword filters, exact
    * duplicates on normalized text, near-duplicate components over
    * shared word-3-grams within a (lang, source) block), digested by
    * Spark. The three candidate queries have no second path here; every
    * pass must reproduce the first pass's digests. */
  def reference(): Unit = {
    val verdicts = expectedVerdicts(docs)
    val dup = Set("exact_dup", "near_dup")
    expectedRecall =
      docs.drop(BaseDocs).count(d => dup(verdicts(d.doc_id)._2)).toDouble / copies
    val rows = docs.map(d => Row(d.doc_id, d.lang, verdicts(d.doc_id)._1, verdicts(d.doc_id)._2))
    refs("clean") = Digest.of(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType.fromDDL("doc_id LONG, lang STRING, n_tokens LONG, reason STRING")))
  }

  def pass(r: Recorder): Unit = {
    val t0 = System.nanoTime()
    for (q <- Queries)
      r.op(q, layer) {
        val df = r.build(SparkEntry.queries(q)(spark, dir))
        val d = r.action(Digest.of(df))
        refs.getOrElseUpdate(q, d) == d
      }
    r.op("cleanReasons", layer) {
      val df = r.build(Dedup.cleanReasons(graft.api.tbl(spark, dir, "documents")))
      val isDup = col("reason").isin("exact_dup", "near_dup")
      val (d, row) = r.action(Digest.withExtras(df,
        sum(when(isDup && col("doc_id") >= BaseDocs, 1L).otherwise(0L)),
        sum(when(isDup, 1L).otherwise(0L))))
      val got = row.getLong(3).toDouble / copies
      recall += got
      r.tracer.note("dedup_pairs", row.getLong(4).toDouble)
      d == refs("clean") && got == expectedRecall
    }
    r.throughput += docs.size / ((System.nanoTime() - t0) / 1e9)
  }
}

object CorpusDedup {
  val Queries = Seq("q_dedup_near", "q_dedup_simhash", "q_dedup_ngram")
  val BaseDocs = 4000
  /** Planted duplicate copies per base document. */
  val PlantedRate = 0.1
  val Vocabulary = 4000
  val StopwordRate = 0.05

  private val Langs = Vector("en", "en", "en", "zh", "es", "fr", "de")
  private val Syllables = Vector("ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo",
    "mu", "na", "pe", "qi", "ro", "su", "ta", "ve", "wi", "xo", "yu")

  /** A seeded corpus shaped like the `documents` fixture (10–100 space-
    * separated tokens, five languages, ten sources) over a vocabulary
    * large enough that unrelated documents rarely share a word-3-gram,
    * plus planted duplicate copies at [[PlantedRate]] of distinct base
    * documents (so the duplicate clusters, and with them the component
    * rounds, have the same shape on every seed): each copy keeps its
    * original's lang and source and applies 0–3 token edits (substitute,
    * delete, insert); an unedited copy is sometimes upper-cased, so exact
    * duplicates must match on normalized text. Copies take doc_ids from
    * [[BaseDocs]] up. Returns the documents and the number of copies. */
  def generate(seed: Long): (Seq[Doc], Int) = {
    val rnd = new java.util.SplittableRandom(seed)
    val words = (for (a <- Syllables; b <- Syllables; c <- "" +: Syllables) yield a + b + c)
      .map(w => (rnd.nextLong(), w)).sortBy(_._1).map(_._2).take(Vocabulary)
    def word(): String =
      if (rnd.nextDouble() < StopwordRate) (if (rnd.nextBoolean()) "the" else "a")
      else words(rnd.nextInt(Vocabulary))
    def doc(id: Long, tokens: Seq[String], lang: String, source: String): Doc = {
      val text = tokens.mkString(" ")
      Doc(id, text, lang, source, text.length.toLong)
    }
    val base = (0 until BaseDocs).map { i =>
      doc(i, Seq.fill(10 + rnd.nextInt(91))(word()), Langs(rnd.nextInt(Langs.size)),
        s"src${rnd.nextInt(10)}")
    }
    val copies = math.round(BaseDocs * PlantedRate).toInt
    val originals = (0 until BaseDocs).map(i => (rnd.nextLong(), i)).sortBy(_._1).take(copies)
    val planted = originals.zipWithIndex.map { case ((_, o), i) =>
      val orig = base(o)
      val edits = rnd.nextInt(4)
      var toks = orig.text.split(" ").toVector
      for (_ <- 0 until edits) {
        val at = rnd.nextInt(toks.size)
        toks = rnd.nextInt(3) match {
          case 0 => toks.updated(at, word())
          case 1 if toks.size > 1 => toks.patch(at, Nil, 1)
          case _ => toks.patch(at, Seq(word()), 0)
        }
      }
      val copy = doc(BaseDocs.toLong + i, toks, orig.lang, orig.source)
      if (edits == 0 && rnd.nextBoolean())
        copy.copy(text = copy.text.toUpperCase(java.util.Locale.ROOT))
      else copy
    }
    (base ++ planted, copies)
  }

  /** (n_tokens, reason) per doc_id, by the cleaning rules in priority
    * order: too_short (< 20 tokens) > low_quality (stopwords "the"/"a"
    * over 10%) > exact_dup (not the lowest doc_id of its lower-cased,
    * trimmed text) > near_dup (not the lowest doc_id of its component,
    * where documents of one (lang, source) sharing a word-3-gram are
    * connected) > kept. */
  def expectedVerdicts(docs: Seq[Doc]): Map[Long, (Long, String)] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    val firstWith = mutable.Map[(String, String, String), Long]()
    for (d <- docs) {
      val toks = d.text.split(" ")
      val shingles = if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
        else Set(toks.mkString(" "))
      for (s <- shingles) firstWith.get((d.lang, d.source, s)) match {
        case Some(o) => union(o, d.doc_id)
        case None => firstWith((d.lang, d.source, s)) = d.doc_id
      }
    }
    val firstOfText = docs.groupBy(_.text.trim.toLowerCase(java.util.Locale.ROOT))
      .map { case (k, ds) => k -> ds.map(_.doc_id).min }
    docs.map { d =>
      val toks = d.text.split(" ", -1)
      val n = toks.length.toLong
      val stops = toks.count(t => t == "the" || t == "a")
      val reason =
        if (n < 20) "too_short"
        else if (stops * 10 > n) "low_quality"
        else if (firstOfText(d.text.trim.toLowerCase(java.util.Locale.ROOT)) != d.doc_id) "exact_dup"
        else if (find(d.doc_id) != d.doc_id) "near_dup"
        else "kept"
      d.doc_id -> (n, reason)
    }.toMap
  }
}
