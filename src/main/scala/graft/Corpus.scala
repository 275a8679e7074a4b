package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The corpora derived from a fixture directory: each rewrites a
  * few tables of a source sf directory and symlinks the rest. A
  * [[Corpus.Spec]] names the ready marker and the rewrite of each
  * rewritten table; [[Corpus.build]] is the one build path.
  *
  *   sbt "runMain graft.Corpus <decade|century|dup10|skew10|skewc|poison> <srcSfDir> <destDir> [copies]"
  *
  * `copies` (default 100) applies to `century` and `skewc` only. The
  * destination is published atomically through [[api.buildOnce]], so a
  * re-run over a ready destination writes nothing. */
object Corpus {

  /** A derived corpus: the marker file that makes its directory ready,
    * the marker's description line, and table name → rewrite of that
    * table from the source directory. Tables it does not name are
    * symlinked. */
  final case class Spec(marker: String, note: String, tables: Map[String, Rewrite])

  /** A rewritten table from the session and the source directory. */
  type Rewrite = (SparkSession, String) => DataFrame

  /** Builds `spec` from `src` into `dest` unless `dest` is ready: writes
    * each rewritten table, symlinks every other `<table>.parquet` of
    * `src`, then the marker. Returns `dest`. */
  def build(spark: SparkSession, src: String, dest: String, spec: Spec): String = {
    val srcDir = Paths.get(src).toAbsolutePath
    val files = Option(srcDir.toFile.listFiles())
      .getOrElse(throw new IllegalArgumentException(s"source corpus not found: $src"))
    val tables = files.map(_.getName).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    val missing = spec.tables.keySet -- tables
    require(missing.isEmpty, s"$src lacks ${missing.mkString(", ")}")
    Files.createDirectories(Paths.get(dest).toAbsolutePath.getParent)
    api.buildOnce(dest, Some(spec.marker)) { tmp =>
      for (t <- tables) spec.tables.get(t) match {
        case Some(rewrite) => rewrite(spark, src).write.parquet(s"$tmp/$t.parquet")
        case None => Files.createSymbolicLink(
          Paths.get(s"$tmp/$t.parquet"), srcDir.resolve(s"$t.parquet"))
      }
      Files.write(Paths.get(s"$tmp/${spec.marker}"), s"src=$src ${spec.note}\n".getBytes(UTF_8))
      ()
    }
  }

  /** max(`key`) + 1: offsetting copy k by k × stride keeps keys unique. */
  def stride(df: DataFrame, key: String): Long =
    df.agg(max(expr(s"cast($key as bigint)"))).head.getLong(0) + 1L

  /** `n` copies of `table` unioned: copy k adds k × stride to each key
    * column in `strides` (copy 0 too, so every copy has one schema), and
    * `alter` then changes each copy k > 0. */
  def copies(n: Int, table: DataFrame, strides: Map[String, Long],
      alter: (DataFrame, Int) => DataFrame = (df, _) => df): DataFrame =
    (0 until n).map { k =>
      val keyed = table.columns.filter(strides.contains).foldLeft(table) { (df, c) =>
        df.withColumn(c, col(c) + lit(k * strides(c)))
      }
      if (k > 0) alter(keyed, k) else keyed
    }.reduce(_ unionByName _)

  /** Reassigns `key` to `hot` on the rows whose xxhash64 of `hashOf`
    * falls in `tenths` of 10 residues. */
  def heat(df: DataFrame, key: String, hashOf: Column, tenths: Int, hot: Long): DataFrame =
    df.withColumn(key, when(pmod(xxhash64(hashOf), lit(10)).lt(lit(tenths)), lit(hot))
      .otherwise(col(key)))

  private def minOf(df: DataFrame, c: String): Long = df.agg(min(col(c))).head.getLong(0)

  /** Key column → the (table, column) whose stride offsets it. Both sides
    * of a foreign key share a stride, so every copy's joins stay inside
    * the copy. */
  private val keyOwners: Map[String, (String, String)] = Map(
    "c_custkey" -> ("customer", "c_custkey"), "o_custkey" -> ("customer", "c_custkey"),
    "o_orderkey" -> ("orders", "o_orderkey"), "l_orderkey" -> ("orders", "o_orderkey"),
    "p_partkey" -> ("part", "p_partkey"), "l_partkey" -> ("part", "p_partkey"),
    "s_suppkey" -> ("supplier", "s_suppkey"), "l_suppkey" -> ("supplier", "s_suppkey"),
    "event_id" -> ("events", "event_id"), "user_id" -> ("events", "user_id"))

  /** The [[keyOwners]] strides of `table`'s key columns. doc_id and
    * vec_id share ONE stride, because q_hybrid_rrf equi-joins them. */
  private def keyStrides(spark: SparkSession, src: String, table: DataFrame): Map[String, Long] =
    table.columns.toSeq.collect {
      case c if keyOwners.contains(c) =>
        val (t, k) = keyOwners(c)
        c -> stride(api.tbl(spark, src, t), k)
      case c @ ("doc_id" | "vec_id") =>
        c -> math.max(stride(api.tbl(spark, src, "documents"), "doc_id"),
          stride(api.tbl(spark, src, "embeddings"), "vec_id"))
    }.toMap

  /** Table `t` as `n` copies offset by its [[keyStrides]], `alter`ed. */
  private def keyed(n: Int, alter: (DataFrame, Int) => DataFrame = (df, _) => df)(
      t: String): (String, Rewrite) = t -> { (s, src) =>
    val base = api.tbl(s, src, t)
    copies(n, base, keyStrides(s, src, base), alter)
  }

  /** The sf1-equivalent decade of an sf0.1 source: ten key-offset copies
    * of every table but the fixed-cardinality region and nation, with
    * non-key attributes unchanged, so each copy has the source's value
    * distributions and the Verify + DuckDB gate runs on it. Strings that
    * embed a key (c_name) repeat across copies, and every document gains
    * nine byte-identical twins. */
  val decade: Spec = Spec("_DECADE_READY", "copies=10", Seq("customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings").map(keyed(10)).toMap)

  /** The 100× step (sf10-equivalent of an sf0.1 source) for the heavy
    * movers `Audit @century` measures: `n` decade-style copies of
    * lineitem, orders, documents and embeddings, and of the customer,
    * part and supplier they reference, so every copy's foreign keys
    * resolve inside the copy (the marker changed with them, so a corpus
    * built without them is rebuilt). Document text is perturbed per copy
    * (every token gets a copy suffix, `n_chars` recomputed), so
    * duplication density stays at the source's while the corpus grows;
    * at n = 10 it is the density-constant 10× point. */
  def century(n: Int): Spec = Spec("_CENTURY_FK_READY", s"copies=$n perturbed=documents",
    (Seq("customer", "part", "supplier", "orders", "lineitem", "embeddings").map(keyed(n)) :+
      keyed(n, (df, k) => df
      .withColumn("text", array_join(
        transform(split(col("text"), " "), w => concat(w, lit(s"_$k"))), " "))
      .withColumn("n_chars", length(col("text")).cast("long")))("documents")).toMap)

  /** The duplication decade: documents and embeddings ×10, doc_id and
    * vec_id offset by their own strides, and each text copy k > 0
    * carrying one extra token ` copytok<k>`, so every document gains nine
    * NEAR duplicates and near-dedup candidate pairs grow quadratically
    * in cluster size (`Audit <dir> @dup`, SCALE.md r15c). */
  val dup10: Spec = Spec("_DUP10_READY", "copies=10", Map(
    "documents" -> { (s, src) =>
      val d = api.tbl(s, src, "documents")
      copies(10, d, Map("doc_id" -> stride(d, "doc_id")),
        (df, k) => df.withColumn("text", concat(col("text"), lit(s" copytok$k"))))
    },
    "embeddings" -> { (s, src) =>
      val e = api.tbl(s, src, "embeddings")
      copies(10, e, Map("vec_id" -> stride(e, "vec_id")))
    }))

  /** The hot-key decade of `Audit @skew` ([[SkewProbes.decade]]):
    * orders ×10 with offset o_orderkey and o_custkey left in the
    * uncopied customer range, then 30% of rows, chosen by a hash of the
    * PRE-offset key (so copies of one source row are hot together),
    * reassigned to the smallest customer. */
  val skew10: Spec = Spec("_SKEW_READY", "copies=10 hotTenths=3", Map(
    "orders" -> { (s, src) =>
      val o = api.tbl(s, src, "orders")
      val st = stride(o, "o_orderkey")
      heat(copies(10, o, Map("o_orderkey" -> st)), "o_custkey",
        pmod(col("o_orderkey"), lit(st)), 3, minOf(o, "o_custkey"))
    }))

  /** The hot-key century of `Audit @skewc` ([[SkewProbes.century]]):
    * events and orders ×`n` with offset event_id / o_orderkey, user_id /
    * o_custkey in the base range, then 10% of rows, chosen by a hash of
    * the POST-offset key (independent across copies), reassigned to the
    * smallest user / customer. */
  def skewCentury(n: Int): Spec = Spec("_SKEWC_READY", s"copies=$n hotTenths=1", Seq(
    "events" -> ("event_id", "user_id"), "orders" -> ("o_orderkey", "o_custkey")).map {
    case (t, (key, hotCol)) => t -> { (s: SparkSession, src: String) =>
      val base = api.tbl(s, src, t)
      heat(copies(n, base, Map(key -> stride(base, key))), hotCol, col(key), 1, minOf(base, hotCol))
    }
  }.toMap)

  /** Residue of `pmod(xxhash64(key), 97)` each poisoned column is NULL on. */
  val PoisonResidues: Map[String, (String, Map[String, Long])] = Map(
    "events" -> ("event_id",
      Map("ts" -> 3L, "user_id" -> 13L, "event_type" -> 23L, "value" -> 33L)),
    "documents" -> ("doc_id",
      Map("text" -> 5L, "lang" -> 15L, "source" -> 25L, "n_chars" -> 35L)))

  /** The NULL-poison corpus: four columns each of events and documents
    * NULLed on their own 1-in-97 hash residue of the key (~4% of rows
    * carry one NULL); every other column rides through. `graft.Audit`
    * over it runs every declared query to completion: a poison record in
    * a petabyte corpus must degrade a result (NULL out, filter away,
    * group separately), never kill the pipeline. */
  val nullPoison: Spec = Spec("_POISON_READY", "poison_mod=97",
    PoisonResidues.map { case (t, (key, targets)) =>
      t -> { (s: SparkSession, src: String) =>
        targets.foldLeft(api.tbl(s, src, t)) { case (df, (c, r)) =>
          df.withColumn(c, when(pmod(xxhash64(col(key)), lit(97)) === r, lit(null))
            .otherwise(col(c)))
        }
      }
    })

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Corpus <decade|century|dup10|skew10|skewc|poison> " +
      "<srcSfDir> <destDir> [copies]"
    require(args.length == 3 || args.length == 4, usage)
    val spec = (args(0), args.lift(3).map(_.toInt)) match {
      case ("century", n) => century(n.getOrElse(100))
      case ("skewc", n) => skewCentury(n.getOrElse(100))
      case ("decade", None) => decade
      case ("dup10", None) => dup10
      case ("skew10", None) => skew10
      case ("poison", None) => nullPoison
      case _ => throw new IllegalArgumentException(usage)
    }
    val spark = Tools.session(Tools.envCpus)
    try println(s"${args(0).toUpperCase} READY: ${build(spark, args(1), args(2), spec)}")
    finally spark.stop()
  }
}
