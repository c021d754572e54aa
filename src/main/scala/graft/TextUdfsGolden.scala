package graft

import graft.functions.TitleStandardizer
import graft.text.Tokenize

/** Pinned outputs of the text-UDF family (tokenize+stem, sparse TF-IDF
  * vector cardinality and first-stem weight) over the 104-title example
  * corpus — the q52 pattern applied to the UDFs DuckDB cannot evaluate.
  * Fixture `text_udfs_golden_snapshot.tsv` is regenerated with
  * `runMain graft.tools.Golden text_udfs` and drift-guarded by
  * `GoldenSpec`; [[Golden.textUdfs]]'s `oracleValuesSql` replays it as an
  * engine-independent VALUES oracle for q121.
  */
object TextUdfsGolden {

  /** (title, n_stems, stems_str, first_stem, tfidf_card, w_e9) per title,
    * in pure JVM (the Spark query applies the same per-row pure
    * functions); the w_e9 rounding replicates Spark's `round(double)`
    * (BigDecimal HALF_UP). */
  def recompute: Seq[(String, Int, String, String, Int, Long)] = {
    val idx = TitleStandardizer.index
    val inv = idx.idxToTerm
    GoldenCorpus.titles.map { title =>
      val stems = Tokenize.tokenizeAndStem(title)
      val firstStem = stems.headOption.getOrElse("")
      val (ti, tv) = idx.queryVector(stems)
      val vec = ti.indices.map(k => inv(ti(k)) -> tv(k)).toMap
      val wE9 = java.math.BigDecimal.valueOf(vec.getOrElse(firstStem, 0.0) * 1e9)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      (title, stems.length, stems.mkString("|"), firstStem, vec.size, wE9)
    }
  }
}
