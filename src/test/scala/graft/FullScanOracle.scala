package graft

import graft.index.TfidfIndex

/** Straight-line full-scan `bestMatch`, written from the semantics in the
  * [[TfidfIndex]] doc comment; the differential oracle for the index's
  * inverted-index fast path. Query weights are tf · idf, with tf over every
  * token (out-of-vocabulary ones included) and idf = ln(numDocs / df). Every
  * doc is then scored in corpus order by a sparse–sparse merge dot over
  * ascending term ids, and the argmax starts at -0.0 with strict `>`.
  */
object FullScanOracle {

  def bestMatch(idx: TfidfIndex, tokens: Array[String]): Int = {
    val ids = tokens.flatMap(idx.termToIdx.get).sorted
    val qIdx = ids.distinct
    val qVal = qIdx.map { t =>
      val tf = ids.count(_ == t).toDouble / tokens.length.toDouble
      tf * math.log(idx.numDocs.toDouble / idx.docFreqByIdx(t).toDouble)
    }
    var sq = 0.0
    qVal.foreach(w => sq += w * w)
    val qNorm = math.sqrt(sq)

    var best = -0.0
    var bestIdx = 0
    var d = 0
    while (d < idx.numDocs) {
      val di = idx.docIdx(d)
      val dv = idx.docVal(d)
      var dot = 0.0
      var i = 0
      var j = 0
      while (i < qIdx.length && j < di.length) {
        if (qIdx(i) < di(j)) i += 1
        else if (qIdx(i) > di(j)) j += 1
        else { dot += qVal(i) * dv(j); i += 1; j += 1 }
      }
      val dn = idx.docNorms(d)
      val score = if (dn > 0.0) dot / (dn * qNorm) else 0.0
      if (score > best) { best = score; bestIdx = d }
      d += 1
    }
    bestIdx
  }
}
