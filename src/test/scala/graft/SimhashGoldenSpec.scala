package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Distributed-vs-brute-force cross-check for the q129 golden (simhash
  * near-dup pairs; its drift guard is `GoldenSpec`). */
class SimhashGoldenSpec extends AnyFunSuite {
  import SparkSuiteBase.spark

  test("fixture encodes bag-of-words invariance: all twins of doc 0 at distance 0") {
    val zero = Golden.simhash.rows.filter(_._3 == 0).map { case (a, b, _) => (a, b) }.toSet
    Seq((0L, 1L), (0L, 2L), (0L, 7L), (1L, 2L), (1L, 7L), (2L, 7L))
      .foreach(p => assert(zero.contains(p), s"twin pair $p at distance 0"))
  }

  test("distributed pigeonhole banding reproduces brute-force hamming") {
    import spark.implicits._
    val got = Dedup.simhashCandidatePairs(
        SimhashGolden.docs.toDF("doc_id", "text"), "doc_id", "text",
        maxDistance = SimhashGolden.MaxDistance)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sortBy { case (a, b, _) => (a, b) }.toSeq
    assert(got == SimhashGolden.recompute)
  }
}
