package graft

import scala.util.hashing.MurmurHash3

/** Pinned expected output of the MinHash+LSH fuzzy-dedup operator family
  * (q35) over a constructed 15-doc corpus — the q52/q121 VALUES-golden
  * pattern applied to distributed dedup, putting `Dedup.fuzzyClusters` on
  * the driver's DuckDB-checked oracle surface (q125).
  *
  * The corpus is built so the expected clustering is derivable WITHOUT the
  * Spark operator: [[recompute]] re-derives signatures, band collisions,
  * estimated Jaccard and connected components in ~40 lines of straight-line
  * JVM code from the operator's published contract (word-3-gram shingles,
  * 64 double-hashed minhash positions — h1 + i·h2 from two murmur3 passes,
  * h2 odd — 16 bands × 4 rows, est-jaccard ≥ 0.8, smallest-member cluster
  * id). The distributed plan (signature UDF → band
  * explode → bucket self-join → distinct → verify → label propagation) must
  * reproduce it exactly. A band-hash criterion difference is immaterial:
  * the JVM criterion is "all 4 slice positions equal", and a spurious
  * catalyst-hash collision on differing slices would only ADD a candidate
  * pair that the est-jaccard filter then removes (cross-group texts share
  * no vocabulary, so their est-jaccard is ≈ 0).
  *
  * Corpus shape (disjoint word pools per group ⇒ no cross-group shingles):
  *  - ids 0,1: identical 12-word texts — est-jaccard 1.0, always merged
  *  - ids 2,3,4: 50-word base; one word substituted (id 3), two words
  *    substituted (id 4) — high overlap, merges directly or transitively
  *  - ids 5,6: 50-word base, one substitution — a second fuzzy cluster
  *  - ids 7,8: 50-word base with EIGHT substitutions — genuinely similar
  *    text the 0.8 threshold must REJECT (negative case: separate
  *    singleton clusters)
  *  - ids 9–14: six singletons over private vocabularies
  *
  * Fixture `dedup_golden_snapshot.tsv` is regenerated with
  * `runMain graft.tools.Golden dedup` and drift-guarded by
  * `GoldenSpec`; [[Golden.dedup]]'s `oracleValuesSql` replays it as an
  * engine-independent VALUES oracle for q125.
  */
object DedupGolden {

  private def pool(group: String, n: Int): IndexedSeq[String] =
    (0 until n).map(i => s"${group}w$i")

  /** `base` with the word at each index in `subs` replaced by a
    * substitute drawn from a vocabulary private to (group, index). */
  private def variant(group: String, base: IndexedSeq[String], subs: Seq[Int]): String =
    subs.foldLeft(base) { (ws, i) => ws.updated(i, s"${group}x$i") }.mkString(" ")

  /** (doc_id, text) — fixed 15-doc corpus. */
  lazy val docs: Seq[(Long, String)] = {
    val a = pool("a", 12)
    val b = pool("b", 50)
    val c = pool("c", 50)
    val d = pool("d", 50)
    Seq(
      0L -> a.mkString(" "),
      1L -> a.mkString(" "),
      2L -> b.mkString(" "),
      3L -> variant("b", b, Seq(25)),
      4L -> variant("b", b, Seq(10, 40)),
      5L -> c.mkString(" "),
      6L -> variant("c", c, Seq(7)),
      7L -> d.mkString(" "),
      8L -> variant("d", d, Seq(3, 9, 15, 21, 27, 33, 39, 45))
    ) ++ (9L to 14L).map(i => i -> pool(s"s$i", 20).mkString(" "))
  }

  private val ShingleSize = 3
  private val NumHashes = 64
  private val Bands = 16
  private val RowsPerBand = NumHashes / Bands
  private val Threshold = 0.8

  /** Straight-line JVM re-derivation of the expected clustering (see class
    * doc); shares NOTHING with `graft.operators.Dedup` but the published
    * contract. */
  def recompute: Seq[(Long, Long)] = recomputeFor(docs)

  /** [[recompute]] generalized to ANY (doc_id, text) corpus — also the
    * derivation path for the q35 SF-scale oracle ([[SfOracles]]), where the
    * same contract is re-derived over the live `documents` table and the
    * distributed plan must reproduce it at scale. All-pairs is fine here:
    * this runs driver-side at the verification SF (≤5k docs → ≤12.5M pair
    * probes with first-position early exit), never on the cluster path. */
  def recomputeFor(input: Seq[(Long, String)]): Seq[(Long, Long)] = {
    val edges = estCandidatePairsFor(input, ShingleSize, Threshold)
    // union-find, label = smallest member id
    val ids = input.map(_._1)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i).toSeq: _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (i, j, _) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    ids.map(i => i -> find(i)).sortBy(_._1)
  }

  /** Word n-gram shingles per the published contract (lowercase,
    * whitespace split; short docs collapse to one shingle). */
  private[graft] def shinglesOf(text: String, n: Int): Array[String] = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) {
      if (toks.isEmpty) Array.empty else Array(toks.mkString(" "))
    } else toks.sliding(n).map(_.mkString(" ")).toArray
  }

  /** MinHash signature per the published double-hashing contract
    * (Kirsch–Mitzenmacher: position i hashes to h1 + i·h2, h2 odd). */
  private[graft] def minhashSigOf(text: String, shingleSize: Int): Array[Int] = {
    val out = Array.fill(NumHashes)(Int.MaxValue)
    shinglesOf(text, shingleSize).foreach { s =>
      val h1 = MurmurHash3.stringHash(s, 0)
      val h2 = MurmurHash3.stringHash(s, 1) | 1
      var h = 0
      var v = h1
      while (h < NumHashes) {
        if (v < out(h)) out(h) = v
        v += h2
        h += 1
      }
    }
    out
  }

  /** Candidate pairs (id_a < id_b, est ≥ threshold) by straight-line
    * all-pairs banding — the parameterized core shared by [[recomputeFor]]
    * (3-gram, 0.8) and the q37 SF-scale oracle (2-gram, 0.2 candidate
    * threshold). Driver-side oracle tooling only (early-exit probes). */
  private[graft] def estCandidatePairsFor(
      input: Seq[(Long, String)], shingleSize: Int,
      threshold: Double): Seq[(Long, Long, Double)] = {
    val ids = input.map(_._1).toArray
    val sigArr = input.map { case (_, t) => minhashSigOf(t, shingleSize) }.toArray
    val out = Seq.newBuilder[(Long, Long, Double)]
    val n = ids.length
    var a = 0
    while (a < n) {
      var b = a + 1
      while (b < n) {
        val si = sigArr(a); val sj = sigArr(b)
        var collides = false
        var bnd = 0
        while (!collides && bnd < Bands) {
          var r = 0
          while (r < RowsPerBand && si(bnd * RowsPerBand + r) == sj(bnd * RowsPerBand + r)) r += 1
          collides = r == RowsPerBand
          bnd += 1
        }
        if (collides) {
          var eq = 0
          var k = 0
          while (k < NumHashes) { if (si(k) == sj(k)) eq += 1; k += 1 }
          val est = eq.toDouble / NumHashes
          if (est >= threshold) {
            val (i, j) = if (ids(a) < ids(b)) (ids(a), ids(b)) else (ids(b), ids(a))
            out += ((i, j, est))
          }
        }
        b += 1
      }
      a += 1
    }
    out.result()
  }

  /** Straight-line mirror of the q153 incremental fuzzy-dedup contract
    * (`Dedup.minhashIncremental`): per incoming doc, count history docs
    * with a fully-agreeing band AND estimated Jaccard ≥ 0.8, and check
    * for an earlier (smaller-id) in-batch match; status precedence
    * dup_history > dup_batch > new. Exact-slice banding equals the
    * operator's hash-bucketing at this threshold (≥ 52/64 agreements
    * leave ≤ 12 disagreeing positions over 16 bands — some band must
    * agree fully, the q35 argument). */
  def recomputeIncrementalFor(incoming: Seq[(Long, String)],
      history: Seq[(Long, String)]): Seq[(Long, String, Long)] = {
    def sigsOf(d: Seq[(Long, String)]) =
      d.map { case (id, t) =>
        (id, minhashSigOf(if (t == null) "" else t, ShingleSize)) }
    val inc = sigsOf(incoming).sortBy(_._1)
    val hist = sigsOf(history)
    def bandAgrees(si: Array[Int], sj: Array[Int]): Boolean = {
      var bnd = 0
      while (bnd < Bands) {
        var r = 0
        while (r < RowsPerBand &&
          si(bnd * RowsPerBand + r) == sj(bnd * RowsPerBand + r)) r += 1
        if (r == RowsPerBand) return true
        bnd += 1
      }
      false
    }
    def matches(si: Array[Int], sj: Array[Int]): Boolean =
      bandAgrees(si, sj) && {
        var eq = 0; var k = 0
        while (k < NumHashes) { if (si(k) == sj(k)) eq += 1; k += 1 }
        eq.toDouble / NumHashes >= Threshold
      }
    inc.map { case (id, si) =>
      val nHist = hist.count { case (_, sj) => matches(si, sj) }.toLong
      val dupB = nHist == 0L && inc.exists { case (a, sa) =>
        a < id && matches(sa, si) }
      val status =
        if (nHist > 0L) "dup_history" else if (dupB) "dup_batch" else "new"
      (id, status, nHist)
    }
  }
}
