package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Distributed-vs-straight-line cross-check for the q125 golden (its
  * drift guard is `GoldenSpec`): the fixture encodes the constructed
  * clusters, and the DISTRIBUTED `Dedup.fuzzyClusters` plan must
  * reproduce the pure-JVM clustering over the same corpus. */
class DedupGoldenSpec extends AnyFunSuite {
  import SparkSuiteBase.spark

  test("fixture encodes the constructed cluster structure") {
    val cl = Golden.dedup.rows.toMap
    assert(cl(0L) == 0L && cl(1L) == 0L, "identical pair merges")
    assert(cl(2L) == 2L && cl(3L) == 2L && cl(4L) == 2L, "fuzzy triple merges")
    assert(cl(5L) == 5L && cl(6L) == 5L, "fuzzy pair merges")
    assert(cl(7L) == 7L && cl(8L) == 8L,
      "8-substitution pair must stay split (threshold negative case)")
    (9L to 14L).foreach(i => assert(cl(i) == i, s"singleton $i alone"))
  }

  test("distributed fuzzyClusters reproduces the recomputed clustering") {
    import spark.implicits._
    val got = Dedup.fuzzyClusters(
        DedupGolden.docs.toDF("doc_id", "text"), "doc_id", "text", threshold = 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    assert(got == DedupGolden.recompute)
  }
}
