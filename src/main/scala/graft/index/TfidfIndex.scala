package graft.index

import scala.collection.mutable

/** Exact TF-IDF index + top-1 cosine matcher.
  *
  * Numeric parity with the reference (`/root/reference/src/utils.rs:62-117,
  * 146-192`):
  *  - vocabulary ids assigned in first-seen order over the corpus, scanned
  *    sequentially (`utils.rs:65-78`);
  *  - document frequency counts each term once per doc;
  *  - weight = tf · idf with tf = count / docTokenCount (denominator includes
  *    out-of-vocab tokens for queries) and idf = ln(numDocs / df) — **no
  *    smoothing** (`utils.rs:102-103`; this is why we cannot use Spark ML's
  *    `IDF`, which computes ln((n+1)/(df+1))+1);
  *  - sparse rows store ascending term ids (CSR order) so dot products and
  *    norms accumulate in the same order as the reference's `sprs` CSR math —
  *    results are bit-identical;
  *  - argmax: initial best = -0.0 with strict `>` over docs in corpus order
  *    (`utils.rs:173-181`) ⇒ all-zero scores fall back to doc 0, ties resolve
  *    to the lowest corpus index.
  *
  * Inverted-index fast path: `bestMatch` walks the postings of the query's
  * terms only, so it visits docs sharing ≥1 query term; non-candidates score
  * exactly 0.0 and can never win under strict `>` vs -0.0. Partial dot
  * products go into a dense `double[numDocs]` accumulator: a doc's slot starts
  * at 0.0 on its first posting and adds `qw · pv` in ascending query-term
  * order, and the touched docs are then sorted and scored in ascending doc id
  * — same adds, same order, same bits as the reference's full scan. The
  * accumulator, a touched-doc list and a generation stamp per doc are
  * per-thread scratch (Spark tasks share the executor JVM and this index),
  * sized to this index. A slot is live only while its stamp equals the
  * current call's generation, so a call that throws leaves nothing for the
  * next one to clean up.
  *
  * The index is small (17,772 docs × ~6k terms, ~KBs of sparse data): built
  * once per JVM and shared by every task in that executor.
  */
final class TfidfIndex(
    val termToIdx: Map[String, Int],
    val docFreqByIdx: Array[Int],
    val numDocs: Int,
    val docIdx: Array[Array[Int]],    // per doc: ascending term ids
    val docVal: Array[Array[Double]], // per doc: weights, parallel to docIdx
    val docNorms: Array[Double]
) extends Serializable {

  val numTerms: Int = docFreqByIdx.length

  /** term id → term string, inverse of `termToIdx`. Built once per JVM —
    * never rebuild this inside a per-row code path. */
  @transient lazy val idxToTerm: Array[String] = {
    val arr = new Array[String](numTerms)
    termToIdx.foreach { case (t, i) => arr(i) = t }
    arr
  }

  /** term id → (doc ids ascending, weights). Rebuilt lazily per JVM. */
  @transient lazy val postings: (Array[Array[Int]], Array[Array[Double]]) = {
    val counts = new Array[Int](numTerms)
    var d = 0
    while (d < docIdx.length) {
      val ti = docIdx(d); var k = 0
      while (k < ti.length) { counts(ti(k)) += 1; k += 1 }
      d += 1
    }
    val pDocs = new Array[Array[Int]](numTerms)
    val pVals = new Array[Array[Double]](numTerms)
    var t = 0
    while (t < numTerms) { pDocs(t) = new Array[Int](counts(t)); pVals(t) = new Array[Double](counts(t)); t += 1 }
    val fill = new Array[Int](numTerms)
    d = 0
    while (d < docIdx.length) { // ascending d ⇒ postings sorted by doc id
      val ti = docIdx(d); val tv = docVal(d); var k = 0
      while (k < ti.length) {
        val term = ti(k); val p = fill(term)
        pDocs(term)(p) = d; pVals(term)(p) = tv(k); fill(term) = p + 1
        k += 1
      }
      d += 1
    }
    (pDocs, pVals)
  }

  /** Sparse query vector over the dictionary vocabulary; OOV tokens dropped
    * from the vector but counted in the tf denominator (`utils.rs:101-103`). */
  def queryVector(tokens: Array[String]): (Array[Int], Array[Double]) = {
    if (tokens.isEmpty) return (Array.emptyIntArray, Array.emptyDoubleArray)
    val counts = mutable.HashMap.empty[Int, Int]
    var i = 0
    while (i < tokens.length) {
      termToIdx.get(tokens(i)) match {
        case Some(t) => counts.update(t, counts.getOrElse(t, 0) + 1)
        case None =>
      }
      i += 1
    }
    if (counts.isEmpty) return (Array.emptyIntArray, Array.emptyDoubleArray)
    val idx = counts.keysIterator.toArray
    java.util.Arrays.sort(idx)
    val len = tokens.length.toDouble
    val vals = new Array[Double](idx.length)
    var k = 0
    while (k < idx.length) {
      val t = idx(k)
      val tf = counts(t).toDouble / len
      val idf = math.log(numDocs.toDouble / docFreqByIdx(t).toDouble)
      vals(k) = tf * idf
      k += 1
    }
    (idx, vals)
  }

  @transient private lazy val scratch: ThreadLocal[TfidfIndex.Scratch] =
    ThreadLocal.withInitial(() => new TfidfIndex.Scratch(numDocs))

  /** Index of the best-matching corpus doc for the stemmed query tokens. */
  def bestMatch(tokens: Array[String]): Int = {
    val (qIdx, qVal) = queryVector(tokens)
    if (qIdx.isEmpty) return 0
    var sq = 0.0
    var k = 0
    while (k < qVal.length) { sq += qVal(k) * qVal(k); k += 1 }
    val qNorm = math.sqrt(sq)
    if (!(qNorm > 0.0)) return 0 // all scores 0.0 ⇒ reference keeps doc 0

    // accumulate per-candidate dot products in ascending query-term order
    val post = postings
    val pDocs = post._1
    val pVals = post._2
    val s = scratch.get()
    val gen = s.nextGeneration()
    val acc = s.acc
    val stamp = s.stamp
    val touched = s.touched
    var n = 0
    k = 0
    while (k < qIdx.length) {
      val pd = pDocs(qIdx(k))
      val pv = pVals(qIdx(k))
      val qw = qVal(k)
      var p = 0
      while (p < pd.length) {
        val d = pd(p)
        if (stamp(d) != gen) { stamp(d) = gen; acc(d) = 0.0; touched(n) = d; n += 1 }
        acc(d) += qw * pv(p)
        p += 1
      }
      k += 1
    }
    java.util.Arrays.sort(touched, 0, n)
    var bestScore = -0.0
    var bestIdx = 0
    var c = 0
    while (c < n) {
      val d = touched(c)
      val dn = docNorms(d)
      val score = if (dn > 0.0) acc(d) / (dn * qNorm) else 0.0
      if (score > bestScore) { bestScore = score; bestIdx = d }
      c += 1
    }
    bestIdx
  }
}

object TfidfIndex {

  /** Build from already tokenized+stemmed docs, reproducing
    * `build_tfidf_index` (`/root/reference/src/utils.rs:62-117`). */
  def build(stemmedDocs: Array[Array[String]]): TfidfIndex = {
    val termToIdx = mutable.HashMap.empty[String, Int]
    val dfByIdx = mutable.ArrayBuffer.empty[Int]
    // pass 1: vocab in first-seen order + doc frequency
    val seen = mutable.HashSet.empty[Int]
    var d = 0
    while (d < stemmedDocs.length) {
      seen.clear()
      val doc = stemmedDocs(d)
      var i = 0
      while (i < doc.length) {
        val t = doc(i)
        val id = termToIdx.getOrElseUpdate(t, { dfByIdx += 0; termToIdx.size })
        seen += id
        i += 1
      }
      seen.foreach(id => dfByIdx(id) += 1)
      d += 1
    }
    val numDocs = stemmedDocs.length
    val docFreq = dfByIdx.toArray

    // pass 2: weights per doc, CSR (ascending term id) order
    val docIdx = new Array[Array[Int]](numDocs)
    val docVal = new Array[Array[Double]](numDocs)
    val docNorms = new Array[Double](numDocs)
    val counts = mutable.HashMap.empty[Int, Int]
    d = 0
    while (d < numDocs) {
      counts.clear()
      val doc = stemmedDocs(d)
      var i = 0
      while (i < doc.length) {
        val t = termToIdx(doc(i))
        counts.update(t, counts.getOrElse(t, 0) + 1)
        i += 1
      }
      val idx = counts.keysIterator.toArray
      java.util.Arrays.sort(idx)
      val vals = new Array[Double](idx.length)
      val len = doc.length.toDouble
      var k = 0
      var sq = 0.0
      while (k < idx.length) {
        val tf = counts(idx(k)).toDouble / len
        val idf = math.log(numDocs.toDouble / docFreq(idx(k)).toDouble)
        vals(k) = tf * idf
        sq += vals(k) * vals(k)
        k += 1
      }
      docIdx(d) = idx
      docVal(d) = vals
      docNorms(d) = math.sqrt(sq)
      d += 1
    }
    new TfidfIndex(termToIdx.toMap, docFreq, numDocs, docIdx, docVal, docNorms)
  }

  /** One thread's `bestMatch` scratch for an index of `numDocs` docs. */
  private[index] final class Scratch(numDocs: Int) {
    val acc = new Array[Double](numDocs)
    val stamp = new Array[Int](numDocs)
    val touched = new Array[Int](numDocs)
    private var gen = 0

    /** A generation no slot carries yet; on wrap-around every stamp is
      * cleared first, so a stale slot can never look live. */
    def nextGeneration(): Int = {
      if (gen == Int.MaxValue) { java.util.Arrays.fill(stamp, 0); gen = 0 }
      gen += 1
      gen
    }
  }
}
