package graft

import graft.text.Tokenize

/** Pinned expected output of the GENERIC (no-driver-index) similarity-join
  * family — `SimilarityJoin.topKAgainst` (q46) and
  * `SimilarityJoin.thresholdJoin` (q49) — over a constructed two-sided
  * corpus, putting both distributed pipelines (right-side distributed
  * idf/weights/norms; prefix-filter candidate pruning) on the driver's
  * DuckDB-checked oracle surface (q128).
  *
  * [[recompute]] re-derives every row in straight-line JVM code from the
  * published numeric contract: tokenize+stem both sides; right-side
  * df → idf = ln(N/df) with N counting EVERY right row (the empty doc
  * included); weights w = (cnt/len)·idf; cosine over shared terms with
  * full norms; rank by (score desc, rid asc). For the threshold path the
  * prefix filter is lossless by construction (a pair sharing only terms
  * outside the prefix cannot reach τ), so the independent truth is simply
  * "exact score ≥ τ" — the recompute never reimplements the pruning under
  * test. Scores are pinned as e6 integers (score gaps on this corpus
  * dwarf summation-order ulps).
  *
  * Corpus edge cases exercised: a near-zero-idf stopword present in every
  * non-empty right doc (idf = ln(10/9) because the EMPTY doc still counts
  * in N), tf > 1 within a doc on both sides, an all-OOV query (no
  * candidates ⇒ no rows), and a token-reordered copy of a right doc
  * (identical weight vector ⇒ score_e6 = 1000000).
  *
  * Fixture `simjoin_generic_golden_snapshot.tsv` is regenerated with
  * `runMain graft.tools.Golden simjoin_generic`, drift-guarded by
  * `GoldenSpec`; [[Golden.simjoinGeneric]]'s `oracleValuesSql` replays it
  * for q128.
  */
object SimJoinGenericGolden {

  val TopK = 2
  val ThrK = 5
  val Tau = 0.35

  /** (rid, text) — 10 right docs. "common" appears in every non-empty doc
    * (and the empty doc keeps N at 10, making idf("common") = ln(10/9)). */
  lazy val rightDocs: Seq[(Long, String)] = Seq(
    0L -> "common data engineer builds spark pipelines",
    1L -> "common data scientist trains models",
    2L -> "common machine learning engineer ships models",
    3L -> "common database administrator tunes postgres",
    4L -> "common frontend developer writes typescript",
    5L -> "common backend developer writes scala services",
    6L -> "common devops engineer automates deploys deploys", // tf(deploys)=2
    7L -> "common security analyst audits access",
    8L -> "common product manager writes roadmaps",
    9L -> "" // empty: zero tokens, still counted in N
  )

  /** (qid, text) — 8 queries. */
  lazy val leftDocs: Seq[(Long, String)] = Seq(
    100L -> "data engineer builds spark pipelines common", // = right 0 reordered
    101L -> "machine learning models",
    102L -> "developer writes scala",
    103L -> "zzqx vvbnm kkjhg", // all-OOV: no candidates, no rows
    104L -> "database tunes deploys",
    105L -> "common", // single idf-weighted term shared with every doc
    106L -> "security access audits analyst",
    107L -> "product roadmaps common common" // tf(common)=2
  )

  /** (method, qid, rnk, rid, score_e6): method ∈ {topk, thr}. */
  def recompute: Seq[(String, Long, Int, Long, Long)] = {
    def e6(v: Double): Long = java.math.BigDecimal.valueOf(v * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
    val rTok = rightDocs.map { case (id, t) => id -> Tokenize.tokenizeAndStem(t) }
    val n = rTok.length.toDouble
    val df = rTok.flatMap(_._2.distinct).groupBy(identity).view.mapValues(_.size).toMap
    val idf = df.map { case (t, d) => t -> math.log(n / d) }
    def weights(toks: Array[String]): Map[String, Double] = {
      val len = toks.length.toDouble
      toks.groupBy(identity).collect {
        case (t, occ) if idf.contains(t) => t -> (occ.length / len) * idf(t)
      }
    }
    def norm(w: Map[String, Double]): Double = math.sqrt(w.valuesIterator.map(v => v * v).sum)
    val rW = rTok.map { case (id, toks) => (id, weights(toks)) }
    val scored = leftDocs.map { case (qid, text) =>
      val toks = Tokenize.tokenizeAndStem(text)
      val qw = weights(toks)
      val qTerms = toks.distinct.filter(idf.contains).toSet
      val qn = norm(qw)
      val cands = rW.collect {
        case (rid, dw) if rTok.toMap.apply(rid).exists(qTerms) =>
          val dn = norm(dw)
          val dot = qw.iterator.map { case (t, w) => w * dw.getOrElse(t, 0.0) }.sum
          val s = if (dn > 0.0 && qn > 0.0) dot / (dn * qn) else 0.0
          (rid, s)
      }.sortBy { case (rid, s) => (-s, rid) }
      qid -> cands
    }
    val topk = scored.flatMap { case (qid, cands) =>
      cands.take(TopK).zipWithIndex.map { case ((rid, s), i) =>
        ("topk", qid, i + 1, rid, e6(s))
      }
    }
    val thr = scored.flatMap { case (qid, cands) =>
      cands.filter(_._2 >= Tau).take(ThrK).zipWithIndex.map { case ((rid, s), i) =>
        ("thr", qid, i + 1, rid, e6(s))
      }
    }
    (topk ++ thr).sortBy { case (m, q, r, _, _) => (m, q, r) }
  }
}
