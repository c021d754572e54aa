package graft

import scala.util.hashing.MurmurHash3

/** Pinned expected output of the SimHash near-dup family (q36) over a
  * constructed corpus — a sibling of the q125 pattern: the expected
  * pair set is re-derived by straight-line JVM code from the operator's
  * published contract (64-bit tf-weighted sign-sum simhash over lowercased
  * whitespace tokens, pairs at Hamming distance ≤ 3), and the truth is
  * computed by BRUTE-FORCE hamming over all pairs — the pigeonhole
  * banding under test is mathematically complete (a pair within distance
  * d must agree on ≥1 of d+1 blocks), so banding can only be wrong by
  * missing or inventing pairs, exactly what the oracle detects (q129).
  *
  * Corpus: identical pairs (distance 0), token-REORDERED pairs (the bag
  * -of-words invariance: same multiset ⇒ identical fingerprint), small
  * token substitutions (distance small but possibly > 3 — whatever the
  * recompute says is the truth), and unrelated texts (far apart).
  *
  * Fixture `simhash_golden_snapshot.tsv` is regenerated with
  * `runMain graft.tools.Golden simhash`, drift-guarded by
  * `GoldenSpec`; [[Golden.simhash]]'s `oracleValuesSql` replays it for
  * q129.
  */
object SimhashGolden {

  val MaxDistance = 3

  /** (doc_id, text) — 12 docs. */
  lazy val docs: Seq[(Long, String)] = {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " +
      "kilo lima mike november oscar papa quebec romeo sierra tango"
    val words = base.split(" ")
    Seq(
      0L -> base,
      1L -> base, // identical
      2L -> words.reverse.mkString(" "), // reordered: same multiset
      3L -> words.updated(5, "uniform").mkString(" "), // 1 substitution
      4L -> words.updated(2, "victor").updated(11, "whiskey").mkString(" "), // 2 subs
      5L -> "whiskey xray yankee zulu one two three four five six",
      6L -> "seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen",
      7L -> ("Alpha BRAVO charlie DELTA echo foxtrot golf hotel india juliet " +
        "kilo lima mike november oscar papa quebec romeo sierra tango"), // case-folded dup of 0
      // 40-token base whose single-token substitutions land INSIDE the
      // (0, 3] hamming band (probed offline): 8-9 and 8-10 at distance 2
      // exercise the banding on genuinely-near (not identical) pairs
      8L -> (1 to 40).map(i => s"word$i").mkString(" "),
      9L -> ((1 to 40).map(i => s"word$i").updated(0, "revised")).mkString(" "),
      10L -> ((1 to 40).map(i => s"word$i").updated(11, "changed")).mkString(" "),
      11L -> "" // empty: fingerprint 0
    )
  }

  /** Straight-line JVM re-derivation of one 64-bit fingerprint from the
    * published contract (tf-weighted sign sum over lowercased whitespace
    * tokens, two murmur3 passes per token) — shared with the q36 SF-scale
    * oracle ([[SfOracles]]), which replays it per live-corpus doc. */
  def simhashOf(text: String): Long = {
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val acc = new Array[Int](64)
    toks.foreach { t =>
      val h = (MurmurHash3.stringHash(t, 0).toLong << 32) |
        (MurmurHash3.stringHash(t, 1).toLong & 0xffffffffL)
      (0 until 64).foreach { b =>
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
      }
    }
    (0 until 64).foldLeft(0L)((out, b) => if (acc(b) > 0) out | (1L << b) else out)
  }

  /** JVM re-derivation: brute-force hamming over all pairs of
    * independently recomputed fingerprints. */
  def recompute: Seq[(Long, Long, Int)] = {
    val hs = docs.map { case (id, t) => id -> simhashOf(t) }
    (for {
      (ia, ha) <- hs; (ib, hb) <- hs if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= MaxDistance
    } yield (ia, ib, d)).sortBy { case (a, b, _) => (a, b) }
  }
}
