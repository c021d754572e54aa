package graft

import graft.dict.TitleDictionary
import graft.functions.TitleStandardizer
import graft.text.Tokenize

/** Pinned expected output of the dictionary similarity JOIN (q34 family)
  * over the 104-title example corpus — the q52 pattern extended from
  * top-1 (q52 pins `standardize_title`'s argmax) to the full top-3
  * ranking with scores, putting `SimilarityJoin.topK`'s distributed
  * explode → broadcast-postings join → group-agg → windowed rank pipeline
  * on the driver's DuckDB-checked oracle surface (q127).
  *
  * [[recompute]] re-derives every row in straight-line JVM code from the
  * same scalar contract the reference defines (tokenize+stem → TF-IDF
  * query vector → cosine vs every dictionary doc sharing a term → rank by
  * (score desc, doc id asc); all-OOV falls back to doc 0 per the
  * reference's strict-`>` vs −0.0 argmax) — independent of the
  * DataFrame machinery under test. Scores are pinned as e6 integers:
  * candidate score gaps on this corpus dwarf the ≤1-ulp summation-order
  * difference between the JVM loop and the shuffled Spark aggregate.
  *
  * Fixture `simjoin_golden_snapshot.tsv` is regenerated with
  * `runMain graft.tools.Golden simjoin`, drift-guarded by
  * `GoldenSpec`; [[Golden.simjoin]]'s `oracleValuesSql` replays it for q127.
  */
object SimJoinGolden {

  val K = 3

  /** (title, rnk, match_doc_id, alias, category, score_e6) */
  def recompute: Seq[(String, Int, Int, String, String, Long)] = {
    val idx = TitleStandardizer.index
    val corpus = TitleDictionary.corpus
    def e6(v: Double): Long = java.math.BigDecimal.valueOf(v * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    GoldenCorpus.titles.sorted.flatMap { title =>
      val stems = Tokenize.tokenizeAndStem(title)
      val (ti, tv) = idx.queryVector(stems)
      if (ti.isEmpty) {
        // all-OOV/empty: reference argmax keeps doc 0 under strict > vs -0.0
        Seq((title, 1, 0, corpus(0), TitleDictionary.categoryOf(corpus(0)), 0L))
      } else {
        val qnorm = math.sqrt(tv.map(v => v * v).sum)
        val qw = ti.indices.map(k => ti(k) -> tv(k)).toMap
        val cands = (0 until idx.numDocs).iterator.flatMap { d =>
          val terms = idx.docIdx(d)
          var dot = 0.0
          var shares = false
          var k = 0
          while (k < terms.length) {
            qw.get(terms(k)).foreach { w => shares = true; dot += w * idx.docVal(d)(k) }
            k += 1
          }
          if (!shares) None
          else {
            val s = if (idx.docNorms(d) > 0.0 && qnorm > 0.0) dot / (idx.docNorms(d) * qnorm) else 0.0
            Some((d, s))
          }
        }.toVector
        cands.sortBy { case (d, s) => (-s, d) }.take(K).zipWithIndex.map {
          case ((d, s), i) =>
            (title, i + 1, d, corpus(d), TitleDictionary.categoryOf(corpus(d)), e6(s))
        }
      }
    }
  }
}
