package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.io.Source

import org.apache.spark.sql.SparkSession

import graft.dict.TitleDictionary
import graft.functions.TitleStandardizer
import graft.text.{EnglishStemmer, Tokenize}

/** One checked-in TSV snapshot: its repo `path` (loaded as a classpath
  * resource from `src/main/resources` or `src/test/resources`), the
  * straight-line `recompute` that produces it, the row codec (`decode`
  * reads one split line; a row is written as its fields joined by tabs)
  * and the column spec of its DuckDB `VALUES` oracle.
  *
  * `columns` reads like a schema, `"title, rnk INTEGER, score_e6 BIGINT"`:
  * a bare name is selected as-is, a typed one as `CAST(c AS T) AS c`.
  * `recompute` takes its session by name; only `sketch` forces it.
  *
  * Every entry is listed in [[Golden.all]]; `GoldenSpec` checks each
  * `recompute` against its snapshot and that every `*_snapshot.tsv` has
  * exactly one entry, and `runMain graft.tools.Golden <name>…|all`
  * rewrites snapshots after an intended change. */
final class Golden[R <: Product](
    val name: String,
    val path: String,
    columns: String,
    orderBy: String,
    decode: Array[String] => R,
    val recompute: (=> SparkSession) => Seq[R]) {

  private val cols: Seq[(String, Option[String])] =
    columns.split(", ").toSeq.map(_.split(" ") match {
      case Array(c) => (c, None)
      case Array(c, t) => (c, Some(t))
    })

  /** The snapshot's rows, in file order. */
  lazy val rows: Seq[R] = {
    val resource = path.substring(path.indexOf("resources/") + "resources/".length)
    val src = Source.fromResource(resource)(scala.io.Codec.UTF8)
    try src.getLines().filter(_.nonEmpty).map { line =>
      val a = line.split("\t", -1)
      require(a.length == cols.length, s"bad $name golden row: $line")
      decode(a)
    }.toVector
    finally src.close()
  }

  /** Rewrites the snapshot from `recompute` (one tab-joined line per
    * row, no trailing newline); returns the row count. */
  def write(spark: => SparkSession): Int = {
    val rs = recompute(spark)
    Files.write(Paths.get(path),
      rs.map(_.productIterator.mkString("\t")).mkString("\n").getBytes(UTF_8))
    rs.size
  }

  /** DuckDB-runnable oracle: the pinned rows as a VALUES table. */
  lazy val oracleValuesSql: String = {
    val select = cols.map {
      case (c, None) => c
      case (c, Some(t)) => s"CAST($c AS $t) AS $c"
    }.mkString(", ")
    rows.map(_.productIterator.map {
      case s: String => Golden.lit(s)
      case v => v.toString
    }.mkString("(", ", ", ")")).mkString(
      s"SELECT $select FROM (VALUES ",
      ", ",
      s") AS g(${cols.map(_._1).mkString(", ")}) ORDER BY $orderBy")
  }
}

object Golden {

  /** SQL string literal (single quotes doubled). */
  def lit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** q52: the reference's example corpus with `standardize_title` of each
    * title; recomputed over the snapshot's own title column. */
  val exampleCorpus: Golden[(String, String)] = new Golden(
    "example_corpus", "src/main/resources/example_corpus_snapshot.tsv",
    "title, std", "title",
    a => (a(0), a(1)),
    _ => exampleCorpus.rows.map { case (t, _) => (t, TitleStandardizer.standardize(t)) })

  /** The stem of every distinct token of the dictionary corpus — the
    * complete input domain that determines matching. */
  val corpusStems: Golden[(String, String)] = new Golden(
    "corpus_stems", "src/test/resources/corpus_stems_snapshot.tsv",
    "token, stem", "token",
    a => (a(0), a(1)),
    _ => TitleDictionary.corpus.iterator.flatMap(Tokenize.tokenize)
      .toVector.distinct.sorted.map(t => (t, EnglishStemmer.stem(t))))

  /** q121, see [[TextUdfsGolden]]. */
  val textUdfs: Golden[(String, Int, String, String, Int, Long)] = new Golden(
    "text_udfs", "src/main/resources/text_udfs_golden_snapshot.tsv",
    "title, n_stems INTEGER, stems_str, first_stem, tfidf_card INTEGER, w_e9 BIGINT",
    "title",
    a => (a(0), a(1).toInt, a(2), a(3), a(4).toInt, a(5).toLong),
    _ => TextUdfsGolden.recompute)

  /** q125, see [[DedupGolden]]. */
  val dedup: Golden[(Long, Long)] = new Golden(
    "dedup", "src/main/resources/dedup_golden_snapshot.tsv",
    "doc_id BIGINT, cluster_id BIGINT", "doc_id",
    a => (a(0).toLong, a(1).toLong),
    _ => DedupGolden.recompute)

  /** q127, see [[SimJoinGolden]]. */
  val simjoin: Golden[(String, Int, Int, String, String, Long)] = new Golden(
    "simjoin", "src/main/resources/simjoin_golden_snapshot.tsv",
    "title, rnk INTEGER, match_doc_id INTEGER, alias, category, score_e6 BIGINT",
    "title, rnk",
    a => (a(0), a(1).toInt, a(2).toInt, a(3), a(4), a(5).toLong),
    _ => SimJoinGolden.recompute)

  /** q128, see [[SimJoinGenericGolden]]. */
  val simjoinGeneric: Golden[(String, Long, Int, Long, Long)] = new Golden(
    "simjoin_generic", "src/main/resources/simjoin_generic_golden_snapshot.tsv",
    "method, qid BIGINT, rnk INTEGER, rid BIGINT, score_e6 BIGINT",
    "method, qid, rnk",
    a => (a(0), a(1).toLong, a(2).toInt, a(3).toLong, a(4).toLong),
    _ => SimJoinGenericGolden.recompute)

  /** q129, see [[SimhashGolden]]. */
  val simhash: Golden[(Long, Long, Int)] = new Golden(
    "simhash", "src/main/resources/simhash_golden_snapshot.tsv",
    "id_a BIGINT, id_b BIGINT, hamming INTEGER", "id_a, id_b",
    a => (a(0).toLong, a(1).toLong, a(2).toInt),
    _ => SimhashGolden.recompute)

  /** q130, see [[SketchGolden]]: the approximate columns characterize the
    * engine's own sketches, so this recompute runs the Spark query. */
  val sketch: Golden[(String, Long, Long, Long, Boolean)] = new Golden(
    "sketch", "src/main/resources/sketch_golden_snapshot.tsv",
    "grp, exact_users BIGINT, hll_users BIGINT, acd_users BIGINT, " +
      "p50_in_window BOOLEAN",
    "grp",
    a => (a(0), a(1).toLong, a(2).toLong, a(3).toLong, a(4).toBoolean),
    spark => Queries.sketchGolden(spark, "").collect().toSeq.map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))
    })

  val all: Seq[Golden[_ <: Product]] = Seq(exampleCorpus, corpusStems,
    textUdfs, dedup, simjoin, simjoinGeneric, simhash, sketch)
}
