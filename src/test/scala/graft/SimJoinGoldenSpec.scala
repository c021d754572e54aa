package graft

import org.scalatest.funsuite.AnyFunSuite

/** Distributed-vs-straight-line cross-check for the q127 golden (its
  * drift guard is `GoldenSpec`): the DISTRIBUTED SimilarityJoin.topK plan
  * must reproduce the pinned ranked rows (ranks, ids, aliases, categories
  * AND e6 scores). */
class SimJoinGoldenSpec extends AnyFunSuite {
  import SparkSuiteBase.spark

  test("fixture shape: each title carries contiguous ranks, fallbacks score 0") {
    val byTitle = Golden.simjoin.rows.groupBy(_._1)
    assert(byTitle.size == GoldenCorpus.titles.size)
    byTitle.foreach { case (t, rs) =>
      assert(rs.map(_._2).sorted == (1 to rs.length), s"rank gap for '$t'")
      if (rs.length == 1 && rs.head._6 == 0L)
        assert(rs.head._3 == 0, s"fallback row for '$t' must match doc 0")
    }
  }

  test("distributed topK reproduces the recomputed ranking") {
    val got = Queries.simJoinGolden(spark, SparkSuiteBase.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3),
        r.getString(4), r.getLong(5))).toSeq
    assert(got == Golden.simjoin.rows)
  }
}
